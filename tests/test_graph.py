"""Graph operator tests on hand-computed micro-graphs (FIXTURES.md §3):
degrees, triangles, connected components, and PageRank under both standard
and reference (Q3-Q5) semantics."""

from __future__ import annotations

import pytest

from analyzing_big_data_in_scala_spark.operators import graph as G


@pytest.fixture(scope="module")
def tri_graph(spark):
    # Triangle 1-2-3 plus pendant 3->4 (FIXTURES.md §3).
    return spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )


def test_degrees(spark, tri_graph):
    out = {r.id: r.out_degree for r in G.out_degrees(tri_graph).collect()}
    inn = {r.id: r.in_degree for r in G.in_degrees(tri_graph).collect()}
    assert out == {1: 2, 2: 1, 3: 1}
    assert inn == {2: 1, 3: 2, 4: 1}
    # Σ out-degree == Σ in-degree == |E| (SURVEY.md §5.4 invariant)
    assert sum(out.values()) == sum(inn.values()) == 4


def test_triangle_counts(spark, tri_graph):
    tri = {r.id: r.triangles for r in G.triangle_counts(tri_graph).collect()}
    assert tri == {1: 1, 2: 1, 3: 1}  # vertex 4 in no triangle


def test_triangle_counts_ignores_direction_and_parallel_edges(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    tri = {r.id: r.triangles for r in G.triangle_counts(edges).collect()}
    assert tri == {1: 1, 2: 1, 3: 1}


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src long, dst long"
    )
    comp = {r.id: r.component for r in G.connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_pagerank_standard_sums_below_one_and_ranks_hub(spark):
    # 4-node graph: 1->2, 2->3, 3->1, 1->3 — vertex 3 has two in-links.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    pr = {r.id: r.pagerank for r in G.pagerank(edges, max_iterations=20).collect()}
    assert set(pr) == {1, 2, 3}
    assert pr[3] == max(pr.values())  # most in-mass
    assert sum(pr.values()) == pytest.approx(1.0, abs=0.05)


def test_pagerank_reference_quirks(spark):
    """Q3: init 10.0; Q4: inner joins drop no-in-link vertices; Q5: parallel
    edges count in out-degree but dedup in flow (SURVEY.md §2.11.9)."""
    # Vertex 4 has out-links only — must DROP OUT under reference semantics.
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (4, 1), (4, 1)], "src long, dst long"
    )
    ref = {r.id: r.pagerank for r in G.pagerank(edges, max_iterations=3, reference_semantics=True).collect()}
    assert 4 not in ref  # Q4 dropout
    std = {r.id: r.pagerank for r in G.pagerank(edges, max_iterations=3).collect()}
    assert 4 in std  # standard mode keeps it via left join

    # Q3+Q5 exact first-iteration value: contribs to 2 come only from 1
    # (dedup'd), rank0=10, out_deg(1)=1 -> mass=10;
    # pr(2) = 0.15/3 + 0.85*10 = 8.55
    one_iter = {
        r.id: r.pagerank
        for r in G.pagerank(edges, max_iterations=1, reference_semantics=True).collect()
    }
    assert one_iter[2] == pytest.approx(0.15 / 3 + 0.85 * 10.0)
    # Q5: vertex 1 receives from 2 (10/1) and from 4 (10/2 — out_deg counts
    # BOTH parallel edges, flow dedup'd to one edge):
    assert one_iter[1] == pytest.approx(0.15 / 3 + 0.85 * (10.0 + 5.0))


def test_edges_from_events_deterministic(spark):
    from analyzing_big_data_in_scala_spark.sources.catalog import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    e1 = G.edges_from_events(ev).collect()
    e2 = G.edges_from_events(ev).collect()
    assert sorted(map(tuple, e1)) == sorted(map(tuple, e2))
    assert len(e1) > 0


def test_pagerank_tol_converges_early_and_matches_long_run(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    converged = {
        r.id: r.pagerank
        for r in G.pagerank(edges, max_iterations=100, tol=1e-9).collect()
    }
    long_run = {
        r.id: r.pagerank for r in G.pagerank(edges, max_iterations=60).collect()
    }
    for v in long_run:
        assert converged[v] == pytest.approx(long_run[v], abs=1e-6)


def test_two_phase_cc_matches_label_propagation(spark):
    cases = [
        [(1, 2), (2, 3), (5, 6)],                     # two components
        [(1, 2), (3, 4), (5, 6), (6, 1)],             # chain merge
        [(10, 9), (9, 8), (8, 7), (7, 6), (6, 5)],    # long path (high diameter)
        [(1, 1), (2, 3)],                             # self loop + isolated-ish
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "src long, dst long")
        lp = {r.id: r.component for r in G.connected_components(df).collect()}
        tp = {r.id: r.component for r in G.connected_components_two_phase(df).collect()}
        assert tp == lp, (edges, tp, lp)


def test_two_phase_cc_on_fixture_graph(spark):
    from analyzing_big_data_in_scala_spark.sources.catalog import load_events

    edges = G.edges_from_events(load_events(spark, "/root/testdata/sf0.001"))
    lp = {r.id: r.component for r in G.connected_components(edges).collect()}
    tp = {r.id: r.component for r in G.connected_components_two_phase(edges).collect()}
    assert tp == lp


def test_bfs_hops_micro_graph(spark):
    # Path 1-2-3-4 plus chord 1-3: hops from min id (1) are 0,1,1,2.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    got = {r.id: r.hops for r in G.bfs_hops(edges).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}


def test_bfs_hops_unreachable_absent_and_custom_seed(spark):
    # Two components: {1,2} and {10,11}. Seeding at 10 must not reach 1/2.
    edges = spark.createDataFrame(
        [(1, 2), (10, 11)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(10,)], "id long")
    got = {r.id: r.hops for r in G.bfs_hops(edges, seeds=seeds).collect()}
    assert got == {10: 0, 11: 1}


def test_sssp_weighted_micro_graph(spark):
    from pyspark.sql import functions as F

    # Square 1-2-4-3-1 with a heavy direct edge 1-4: unit weights on the
    # rim, weight 10 on the chord -> shortest 1->4 goes around (dist 2).
    edges = spark.createDataFrame(
        [(1, 2), (2, 4), (1, 3), (3, 4), (1, 4)], "src long, dst long"
    )
    w = F.when((F.col("a") == 1) & (F.col("b") == 4), F.lit(10)).otherwise(F.lit(1))
    got = {r.id: r.dist for r in G.sssp_weighted(edges, weight=w).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}


def test_sssp_hop_cap_truncates(spark):
    from pyspark.sql import functions as F

    # Chain 1-2-3-4 with unit weights: a 2-hop cap cannot reach vertex 4.
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    got = {
        r.id: r.dist
        for r in G.sssp_weighted(edges, weight=F.lit(1), max_hops=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}


def test_bfs_default_seed_skips_self_loop_only_min_vertex(spark):
    # Vertex 0 exists ONLY as a self-loop; the traversal graph
    # (canonical_undirected) drops self-loops, so the default seed must be
    # the min vertex OF THE TRAVERSAL EDGE SET (1), matching the SQL
    # oracle's MIN(u) FROM sym — not the raw min vertex (0) whose BFS
    # would be a single isolated row (ADVICE r2).
    edges = spark.createDataFrame([(0, 0), (1, 2), (2, 3)], "src long, dst long")
    got = {r.id: r.hops for r in G.bfs_hops(edges).collect()}
    assert got == {1: 0, 2: 1, 3: 2}
    from pyspark.sql import functions as F

    dist = {r.id: r.dist for r in G.sssp_weighted(edges, weight=F.lit(1)).collect()}
    assert dist == {1: 0, 2: 1, 3: 2}


def test_kcore_peeling_cascades(spark):
    import pytest

    # Square 1-2-3-4 with diagonal 1-3, plus a chain 4-5-6 hanging off:
    # 2-core = {1,2,3,4} (the chain peels in cascade: 6 first, then 5),
    # 3-core = {} (even 1 and 3 have degree 3 only before the square peels:
    # removing 2 or 4 drops them below 3 -> full collapse).
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (4, 5), (5, 6)],
        "src long, dst long",
    )
    core2 = {r.id: r.core_degree for r in G.kcore_vertices(edges, k=2).collect()}
    assert set(core2) == {1, 2, 3, 4}
    assert core2[1] == core2[3] == 3 and core2[2] == core2[4] == 2
    assert G.kcore_vertices(edges, k=3).count() == 0
    # k=1 keeps everything (no isolated vertices in an edge-derived graph)
    assert G.kcore_vertices(edges, k=1).count() == 6
    with pytest.raises(ValueError, match="k >= 1"):
        G.kcore_vertices(edges, k=0)


def test_label_propagation_two_cliques_bridge(spark):
    """Two 4-cliques joined by one bridge edge: labels converge to the
    min id of each clique; the bridge endpoints stay with their cliques
    (3 in-clique neighbors outvote 1 bridge neighbor every round)."""
    from analyzing_big_data_in_scala_spark.operators.graph import label_propagation

    def clique(ids):
        return [(a, b) for a in ids for b in ids if a < b]

    edges = spark.createDataFrame(
        clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10)],
        "src long, dst long",
    )
    out = {r.id: r.label for r in label_propagation(edges, rounds=4).collect()}
    assert {out[i] for i in (1, 2, 3, 4)} == {1}
    assert {out[i] for i in (10, 11, 12, 13)} == {10}


def test_label_propagation_tie_breaks_to_smallest_label(spark):
    """A path 1-2-3 after one round: vertex 2 sees labels {1, 3} tied at
    one vote each -> takes 1; endpoints adopt their single neighbor."""
    from analyzing_big_data_in_scala_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    out = {r.id: r.label for r in label_propagation(edges, rounds=1).collect()}
    assert out == {1: 2, 2: 1, 3: 2}


def test_personalized_pagerank_hand_computed_chain(spark):
    """Seeds {1} on chain 1->2->3 plus a seedless component 4->5: two
    iterations hand-computed; seedless vertices stay at exactly 0 (no
    teleport mass ever reaches them)."""
    import pytest as _pytest

    from analyzing_big_data_in_scala_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "id long")
    out = {
        r.id: r.ppr
        for r in personalized_pagerank(edges, seeds, alpha=0.15, iterations=2).collect()
    }
    # r1: ppr(1)=0.15, ppr(2)=0.85*1.0, ppr(3)=0
    # r2: ppr(1)=0.15, ppr(2)=0.85*0.15, ppr(3)=0.85*0.85
    assert out[1] == _pytest.approx(0.15)
    assert out[2] == _pytest.approx(0.85 * 0.15)
    assert out[3] == _pytest.approx(0.85 * 0.85)
    assert out[4] == 0.0 and out[5] == 0.0


def test_hits_hand_computed_star_and_chain(spark):
    from analyzing_big_data_in_scala_spark.operators.graph import hits

    # Star: 1->3, 2->3. Fixpoint after one iteration:
    # auth = (0, 0, 1); hub = (1/sqrt2, 1/sqrt2, 0).
    star = spark.createDataFrame([(1, 3), (2, 3)], "src long, dst long")
    got = {r.id: r for r in hits(star, iterations=3).collect()}
    assert got[3].auth == pytest.approx(1.0)
    assert got[1].auth == 0.0 and got[2].auth == 0.0
    assert got[1].hub == pytest.approx(2 ** -0.5)
    assert got[2].hub == pytest.approx(2 ** -0.5)
    assert got[3].hub == 0.0

    # Chain 1->2->3: converges to auth=(0, 1/sqrt2, 1/sqrt2),
    # hub=(1/sqrt2, 1/sqrt2, 0) — stable from iteration 1 on.
    chain = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {r.id: r for r in hits(chain, iterations=4).collect()}
    assert got[2].auth == pytest.approx(2 ** -0.5)
    assert got[3].auth == pytest.approx(2 ** -0.5)
    assert got[1].auth == 0.0
    assert got[1].hub == pytest.approx(2 ** -0.5)
    assert got[2].hub == pytest.approx(2 ** -0.5)
    assert got[3].hub == 0.0

    with pytest.raises(ValueError, match="iterations"):
        hits(chain, iterations=0)


def test_adamic_adar_hand_computed(spark):
    """Path + square graph with hand-computed scores: in a-b-c-d, the
    non-adjacent pairs are (a,c)/(b,d) via degree-2 centers (score
    1e6/ln2 = 1442695) and (a,d) with NO common neighbor (absent).
    Adding edge a-c removes (a,c) from the candidates (existing edges
    are never 'predicted')."""
    from analyzing_big_data_in_scala_spark.operators.graph import adamic_adar_topk

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {(r.u, r.v): (r.common_neighbors, r.score_ppm)
           for r in adamic_adar_topk(path, k=10).collect()}
    assert got == {(1, 3): (1, 1442695), (2, 4): (1, 1442695)}

    with_ac = path.union(spark.createDataFrame([(1, 3)], "src long, dst long"))
    got2 = {(r.u, r.v) for r in adamic_adar_topk(with_ac, k=10).collect()}
    assert (1, 3) not in got2 and (2, 4) in got2


def test_adamic_adar_center_degree_cap(spark):
    """max_center_degree skips ONLY hub centers: a star center with
    degree 4 stops contributing wedges under cap=3, while a degree-2
    center's contribution is untouched — and capped == uncapped when
    the cap exceeds every degree."""
    from analyzing_big_data_in_scala_spark.operators.graph import adamic_adar_topk

    # Star: 0-{1,2,3,4} (deg(0)=4) plus path 5-6-7 (deg(6)=2).
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (5, 6), (6, 7)],
        "src long, dst long",
    )
    uncapped = {(r.u, r.v): (r.common_neighbors, r.score_ppm)
                for r in adamic_adar_topk(edges, k=100).collect()}
    # Star leaves pair through center 0: score 1e6/ln4 = 721348.
    assert uncapped[(1, 2)] == (1, 721348)
    assert uncapped[(5, 7)] == (1, 1442695)

    capped = {(r.u, r.v): (r.common_neighbors, r.score_ppm)
              for r in adamic_adar_topk(
                  edges, k=100, max_center_degree=3).collect()}
    assert (1, 2) not in capped            # hub center skipped
    assert capped[(5, 7)] == (1, 1442695)  # low-degree center untouched

    wide_cap = {(r.u, r.v): (r.common_neighbors, r.score_ppm)
                for r in adamic_adar_topk(
                    edges, k=100, max_center_degree=10).collect()}
    assert wide_cap == uncapped


# Brute-force differentials: one small graph with every edge case the
# fixpoint loops special-case. Vertex 5 has no in-links, 4 is dangling (no
# out-links), 1->2 is a parallel edge, 2->2 and 10->10 are self-loops (10
# has no other edge), and 7-8-9 is a second component.
DIFF_EDGES = [
    (5, 1), (1, 2), (1, 2), (2, 2), (2, 3), (3, 1), (3, 4),
    (7, 8), (9, 8), (10, 10),
]


def _power_iteration(edges, iterations, alpha, init, tele=None, reference=False):
    """Pure-Python PageRank rounds with the operators' semantics: out-degree
    counts every parallel edge; default mode keeps every vertex and flows
    over every edge, reference mode (Q3-Q5) flows over distinct edges and
    keeps only vertices reached by an inner join; `tele` switches to the
    personalized teleport (alpha * tele(v) in place of alpha / n)."""
    vertices = {v for e in edges for v in e}
    n = len(vertices)
    out_deg: dict[int, int] = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    flow = sorted(set(edges)) if reference else edges
    ranks = {v: init(v) for v in vertices}
    for _ in range(iterations):
        mass: dict[int, float] = {}
        for s, d in flow:
            if s in ranks:
                mass[d] = mass.get(d, 0.0) + ranks[s] / out_deg[s]
        keep = mass if reference else vertices
        if tele is None:
            ranks = {v: alpha / n + (1 - alpha) * mass.get(v, 0.0) for v in keep}
        else:
            ranks = {v: alpha * tele(v) + (1 - alpha) * mass.get(v, 0.0) for v in keep}
    return ranks


@pytest.mark.parametrize("reference", [False, True])
def test_pagerank_equals_power_iteration(spark, reference):
    edges = spark.createDataFrame(DIFF_EDGES, "src long, dst long")
    n = len({v for e in DIFF_EDGES for v in e})
    init = (lambda v: 10.0) if reference else (lambda v: 1.0 / n)
    want = _power_iteration(DIFF_EDGES, 7, 0.15, init, reference=reference)
    got = {
        r.id: r.pagerank
        for r in G.pagerank(
            edges, alpha=0.15, max_iterations=7, reference_semantics=reference
        ).collect()
    }
    assert set(got) == set(want)
    for v, rank in want.items():
        assert got[v] == pytest.approx(rank, abs=1e-9), v


def test_personalized_pagerank_equals_power_iteration(spark):
    edges = spark.createDataFrame(DIFF_EDGES, "src long, dst long")
    seeds = {4, 5}

    def tele(v):
        return 1.0 / len(seeds) if v in seeds else 0.0

    want = _power_iteration(DIFF_EDGES, 7, 0.15, tele, tele=tele)
    seed_df = spark.createDataFrame([(s,) for s in sorted(seeds)], "id long")
    got = {
        r.id: r.ppr
        for r in G.personalized_pagerank(edges, seed_df, alpha=0.15, iterations=7).collect()
    }
    assert set(got) == set(want)
    for v, rank in want.items():
        assert got[v] == pytest.approx(rank, abs=1e-9), v


def test_connected_components_equals_union_find(spark):
    parent = {v: v for e in DIFF_EDGES for v in e}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in DIFF_EDGES:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # the root is the component's min id
    want = {v: find(v) for v in parent}
    edges = spark.createDataFrame(DIFF_EDGES, "src long, dst long")
    got = {r.id: r.component for r in G.connected_components(edges).collect()}
    assert got == want


# Jobs per registry call (call + a noop write) on the sf0.001 fixtures. The
# fixpoint loops are bound by their job chain: under AQE every exchange is
# its own job, so each bound below is the count the one-aggregate-per-round
# loops run. A per-round join added back raises the count by one job or
# more per round and fails here. The trustrank seeds are flagged and
# counted on personalized_pagerank's checkpointed vertex set; deriving the
# seed frame a second time costs two more jobs.
MAX_JOBS_PER_CALL = {
    "graph_pagerank": 24,
    "graph_component_sizes": 12,
    "graph_label_propagation": 12,
    "graph_trustrank_from_seeds": 26,
}


def test_fixpoint_queries_job_counts(spark):
    from analyzing_big_data_in_scala_spark.plans import QUERIES

    from .conftest import SF_SMALL

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    got = {}
    for name in MAX_JOBS_PER_CALL:
        before = int(dag.nextJobId())
        QUERIES[name].fn(spark, SF_SMALL).write.format("noop").mode("overwrite").save()
        got[name] = int(dag.nextJobId()) - before
    assert all(got[q] <= MAX_JOBS_PER_CALL[q] for q in got), got


def test_get_spark_sizes_the_codegen_cache(spark):
    # One warm pass of the fixpoint queries needs ~150 generated classes;
    # Spark's default cache holds 100, so a smaller cache recompiles them.
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
