"""Graph-analytics queries (SURVEY.md §2.10) over an edge list derived
deterministically from the `events` fixture: consecutive events within each
(event_type, day) partition contribute user->user edges (FIXTURES.md §2).

Degrees and triangle counts are SQL-expressible -> full DuckDB oracles.
The iterative queries are value-checked too: fixed-iteration PageRank by
UNROLLING the fixpoint into generated CTE stages (`_pagerank_sql`),
connected components by a recursive-CTE transitive closure
(`_CC_SIZES_SQL`). Only run-to-convergence PageRank (`tol=`) stays
rows-only — its iteration count is decided by driver-side deltas. Unit
tests additionally pin numerics on hand-computed micro-graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graph as G
from ..operators.sequence import CORR_PPM_SQL as _CORR_PPM
from ..sources.catalog import load_table
from .registry import query, shared

# DuckDB twin of operators.graph.edges_from_events.
_SQL_EDGES = """
edges AS (
    SELECT src, dst FROM (
        SELECT user_id AS src,
               LEAD(user_id) OVER (PARTITION BY event_type, CAST(FLOOR(epoch(ts)/86400) AS BIGINT)
                                   ORDER BY event_id) AS dst
        FROM events
    )
    WHERE dst IS NOT NULL AND src <> dst
)
"""

_SQL_CANON = _SQL_EDGES + """,
canon AS (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM edges WHERE src <> dst
)
"""


# Shared inputs (registry `shared`): the events edge list, and the
# link-prediction trio's 2-hop candidate scaffold. Queries that declare
# `uses=` finalize over them, so bench.py builds each once for all of
# its consumers; other graph queries derive `_edges` inline.
@shared("graph_edges")
def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.edges_from_events(load_table(spark, sf_dir, "events"))


@shared("graph_wedge_scaffold", uses=("graph_edges",))
def _wedge_scaffold(spark: SparkSession, sf_dir: str, graph_edges: DataFrame) -> DataFrame:
    """The superset scaffold of AA, Jaccard and PA: AA's per-center ppm
    weights and both endpoint degrees on every candidate pair."""
    return G._wedge_candidate_pairs(
        graph_edges,
        center_weight_sql=G.AA_CONTRIB_PPM_SQL,
        with_endpoint_degrees=True,
    )


def _pagerank_sql(iterations: int = 10, reference: bool = False) -> str:
    """DuckDB oracle for the iterative PageRank queries, built by UNROLLING
    the fixpoint: one generated CTE stage per iteration (r1..rN), each the
    SQL twin of one loop body in `operators.graph.pagerank`. Recursive CTEs
    can't aggregate in the recursive term, but an unrolled chain has no such
    limit — this turns the 'iterative, therefore rows-only' queries into
    fully value-checked ones.

    Float-safety: alpha/n and (1-alpha) are emitted via Python float repr so
    both engines multiply by bit-identical doubles; both sides round to 6
    decimals and SORT BY THE ROUNDED value, leaving ~1e-13 cross-engine
    reassociation noise 7 orders of magnitude below the comparator's
    resolution."""
    alpha, beta = 0.15, 1 - 0.15
    if reference:
        # Q5: flow over deduped edges; Q3: init 10.0; Q4: inner join -> a
        # vertex keeps a rank only while it has in-links.
        flow = "SELECT DISTINCT src, dst FROM edges"
        init = "CAST(10.0 AS DOUBLE)"
    else:
        flow = "SELECT src, dst FROM edges"
        init = "CAST(1.0 AS DOUBLE) / (SELECT t FROM nv)"
    stages = [f"r0 AS (SELECT id, {init} AS pr FROM vertices)"]
    for i in range(1, iterations + 1):
        mass = f"""
            SELECT f.dst AS id, SUM(r.pr / o.od) AS mass
            FROM flow f
            JOIN r{i - 1} r ON r.id = f.src
            JOIN outd o ON o.src = f.src
            GROUP BY f.dst"""
        if reference:
            stages.append(
                f"r{i} AS (SELECT id, CAST({alpha!r} AS DOUBLE) / (SELECT t FROM nv)"
                f" + CAST({beta!r} AS DOUBLE) * mass AS pr FROM ({mass}))"
            )
        else:
            stages.append(
                f"""r{i} AS (
                SELECT v.id, CAST({alpha!r} AS DOUBLE) / (SELECT t FROM nv)
                       + CAST({beta!r} AS DOUBLE) * COALESCE(m.mass, CAST(0.0 AS DOUBLE)) AS pr
                FROM vertices v LEFT JOIN ({mass}) m ON m.id = v.id)"""
            )
    chain = ",\n".join(stages)
    return f"""
        WITH {_SQL_EDGES},
        vertices AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        nv AS (SELECT COUNT(*) AS t FROM vertices),
        outd AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
        flow AS ({flow}),
        {chain}
        SELECT id, ROUND(pr, 6) AS pagerank FROM r{iterations}
        ORDER BY pagerank DESC, id ASC LIMIT 20
    """


# Connected components as a recursive CTE: transitive closure over the
# symmetrized edge set, component label = MIN reachable vertex id (the same
# convention as `operators.graph.connected_components`). Closure size is
# sum(component_size^2) — bounded and checked at oracle scale (sf<=0.01),
# where the events graph is ~150 vertices.
_CC_SIZES_SQL = f"""
    WITH RECURSIVE {_SQL_EDGES},
    sym AS (
        SELECT src AS a, dst AS b FROM edges
        UNION
        SELECT dst AS a, src AS b FROM edges
    ),
    walk(id, label) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM sym)
        UNION
        SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.id
    ),
    comp AS (SELECT id, MIN(label) AS component FROM walk GROUP BY id)
    SELECT component, COUNT(*) AS size FROM comp
    GROUP BY component
    ORDER BY size DESC, component ASC
    LIMIT 20
"""


@query(
    "graph_out_degrees",
    uses=("graph_edges",),
    oracle=f"""
        WITH {_SQL_EDGES}
        SELECT src AS id, COUNT(*) AS out_degree FROM edges GROUP BY src
        ORDER BY out_degree DESC, id ASC
        LIMIT 20
    """,
    description="G2 outDegrees top-20 (EpinionsGraphFrameAnalysis.scala:64-75)",
)
def graph_out_degrees(spark: SparkSession, sf_dir: str, graph_edges: DataFrame) -> DataFrame:
    return (
        G.out_degrees(graph_edges)
        .orderBy(F.desc("out_degree"), F.asc("id"))
        .limit(20)
    )


@query(
    "graph_in_degrees",
    oracle=f"""
        WITH {_SQL_EDGES}
        SELECT dst AS id, COUNT(*) AS in_degree FROM edges GROUP BY dst
        ORDER BY in_degree DESC, id ASC
        LIMIT 20
    """,
    description="G3 inDegrees top-20 (EpinionsGraphFrameAnalysis.scala:77-88)",
)
def graph_in_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        G.in_degrees(_edges(spark, sf_dir))
        .orderBy(F.desc("in_degree"), F.asc("id"))
        .limit(20)
    )


@query(
    "graph_triangle_counts",
    uses=("graph_edges",),
    oracle=f"""
        WITH {_SQL_CANON},
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM canon e1
            JOIN canon e2 ON e1.b = e2.a
            JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        corners AS (
            SELECT x AS id FROM tri UNION ALL
            SELECT y FROM tri UNION ALL
            SELECT z FROM tri
        )
        SELECT id, COUNT(*) AS triangles FROM corners GROUP BY id
        ORDER BY triangles DESC, id ASC
        LIMIT 20
    """,
    description="G6 triangleCount top-20 (EpinionsGraphFrameAnalysis.scala:119-131)",
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str, graph_edges: DataFrame) -> DataFrame:
    return (
        G.triangle_counts(graph_edges)
        .orderBy(F.desc("triangles"), F.asc("id"))
        .limit(20)
    )


@query(
    "graph_pagerank",
    uses=("graph_edges",),
    oracle=_pagerank_sql(iterations=10, reference=False),
    description="G4 PageRank (damping 0.15, 10 iters) top-20 (EpinionsGraphFrameAnalysis.scala:91-103); oracle = the fixpoint UNROLLED into 10 generated CTE stages, value-checked",
)
def graph_pagerank(spark: SparkSession, sf_dir: str, graph_edges: DataFrame) -> DataFrame:
    pr = G.pagerank(graph_edges, alpha=0.15, max_iterations=10)
    return pr.select("id", F.round("pagerank", 6).alias("pagerank")).orderBy(
        F.desc("pagerank"), F.asc("id")
    ).limit(20)


@query(
    "graph_pagerank_tol",
    # r6 upgrade from rows-only: the convergence depth is a DETERMINISTIC
    # function of the fixture (the loop checks max |delta| < tol at even
    # checkpoint boundaries), measured at iteration 2 on BOTH sf0.001 and
    # sf0.01 — so the unrolled 2-stage oracle re-derives the converged
    # ranks exactly. If the fixtures ever change, re-measure the depth
    # (a wrong depth fails loudly as a value mismatch, never silently).
    oracle=_pagerank_sql(iterations=2),
    description="G4 PageRank run-to-convergence (tol=0.01, GraphFrames parity: EpinionsGraphFrameAnalysis.scala:93); converges at iteration 2 on the fixtures, value-checked against the 2-stage unrolled oracle",
)
def graph_pagerank_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    pr = G.pagerank(_edges(spark, sf_dir), alpha=0.15, max_iterations=40, tol=0.01)
    return pr.select("id", F.round("pagerank", 6).alias("pagerank")).orderBy(
        F.desc("pagerank"), F.asc("id")
    ).limit(20)


@query(
    "graph_pagerank_reference",
    oracle=_pagerank_sql(iterations=10, reference=True),
    description="G7 hand-rolled PageRank with quirks Q3-Q5 (StandaloneScala/PageRank.scala:24-77); oracle unrolls the same quirky fixpoint (init 10.0, deduped flow edges, inner-join dropout) into CTE stages",
)
def graph_pagerank_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    pr = G.pagerank(
        _edges(spark, sf_dir), alpha=0.15, max_iterations=10, reference_semantics=True
    )
    return pr.select("id", F.round("pagerank", 6).alias("pagerank")).orderBy(
        F.desc("pagerank"), F.asc("id")
    ).limit(20)


@query(
    "graph_component_sizes",
    oracle=_CC_SIZES_SQL,
    description="G5 connected components -> top-20 component sizes (EpinionsGraphFrameAnalysis.scala:105-117); oracle = recursive-CTE transitive closure with min-reachable-id labels",
)
def graph_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    comps = G.connected_components(_edges(spark, sf_dir))
    return (
        G.component_sizes(comps)
        .orderBy(F.desc("size"), F.asc("component"))
        .limit(20)
    )


@query(
    "graph_components_two_phase",
    oracle=_CC_SIZES_SQL,
    description="G5 scale path: large-star/small-star CC in O(log n) rounds -> top-20 sizes; same recursive-CTE closure oracle as the label-propagation variant",
)
def graph_components_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    comps = G.connected_components_two_phase(_edges(spark, sf_dir))
    return (
        G.component_sizes(comps)
        .orderBy(F.desc("size"), F.asc("component"))
        .limit(20)
    )


@query(
    "graph_bfs_hops",
    uses=("graph_edges",),
    # Iterative != unverifiable: BFS layers are exactly the recursive-CTE
    # closure with MIN(depth) labels, depth-capped to the operator's
    # iteration cap so both sides terminate identically.
    oracle=f"""
        WITH RECURSIVE {_SQL_CANON},
        sym AS (
            SELECT a AS u, b AS v FROM canon
            UNION ALL
            SELECT b AS u, a AS v FROM canon
        ),
        seed AS (SELECT MIN(u) AS id FROM sym),
        walk(id, d) AS (
            SELECT id, 0 FROM seed
            UNION
            SELECT s.v, w.d + 1 FROM walk w JOIN sym s ON s.u = w.id WHERE w.d < 30
        )
        SELECT id, CAST(MIN(d) AS INT) AS hops FROM walk GROUP BY id
    """,
    description="Unweighted shortest hops (BFS frontier expansion, Pregel shape) from the min-id vertex; oracle = depth-capped recursive-CTE closure with MIN(depth) labels",
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str, graph_edges: DataFrame) -> DataFrame:
    hops = G.bfs_hops(graph_edges, max_iterations=30)
    return hops.select("id", F.col("hops").cast("int").alias("hops"))


_HASH64 = "CAST(concat('0x', substr(md5(CAST({x} AS VARCHAR)), 1, 15)) AS BIGINT)"


@query(
    "graph_sssp_weighted",
    uses=("graph_edges",),
    # Weighted companion of graph_bfs_hops: deterministic per-edge weights
    # (1 + portable-hash % 9) re-derived identically in DuckDB; both sides
    # compute "min distance over paths of <= 15 edges" (the Spark operator
    # by capped Bellman-Ford rounds, the CTE by capped recursion depth).
    oracle=f"""
        WITH RECURSIVE {_SQL_CANON},
        wedges AS (
            SELECT a, b, ({_HASH64.format(x="concat(a, ':', b)")}) % 9 + 1 AS w
            FROM canon
        ),
        sym AS (
            SELECT a AS u, b AS v, w FROM wedges
            UNION ALL
            SELECT b AS u, a AS v, w FROM wedges
        ),
        seed AS (SELECT MIN(u) AS id FROM sym),
        walk(id, d, steps) AS (
            SELECT id, CAST(0 AS BIGINT), 0 FROM seed
            UNION
            SELECT s.v, w.d + s.w, w.steps + 1
            FROM walk w JOIN sym s ON s.u = w.id WHERE w.steps < 15
        )
        SELECT id, CAST(MIN(d) AS BIGINT) AS dist FROM walk GROUP BY id
    """,
    description="Weighted SSSP (frontier-pruned Bellman-Ford, <=15-edge paths) from the min-id vertex; deterministic hash-derived weights; oracle = depth-capped recursive CTE with MIN(total weight)",
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str, graph_edges: DataFrame) -> DataFrame:
    dist = G.sssp_weighted(graph_edges, max_hops=15)
    return dist.select("id", F.col("dist").cast("long").alias("dist"))


def _kcore_sql(k: int = 3, stages: int = 30) -> str:
    """Unrolled peeling oracle (same pattern as _pagerank_sql): one CTE per
    peel round. Peeling is monotone and idempotent once stable, so any
    stage count >= the convergence round count yields the fixpoint — and
    `kcore_vertices` RAISES if it hasn't converged within its
    max_iterations (default 30), so keeping stages == that cap guarantees
    the two sides can never silently disagree."""
    # AS MATERIALIZED is load-bearing: every stage references its
    # predecessor twice (degree filter + edge join), so DuckDB's default
    # CTE inlining would expand the chain exponentially (2^stages scans of
    # the events parquet — observed as 'Too many open files').
    parts = [
        "s0 AS MATERIALIZED (SELECT a AS u, b AS v FROM canon UNION ALL SELECT b AS u, a AS v FROM canon)"
    ]
    for i in range(1, stages + 1):
        prev = f"s{i - 1}"
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT u FROM (SELECT u, COUNT(*) AS d FROM {prev} GROUP BY u) WHERE d >= {k})"
        )
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT e.u, e.v FROM {prev} e "
            f"JOIN k{i} x ON x.u = e.u JOIN k{i} y ON y.u = e.v)"
        )
    body = ",\n".join(parts)
    return f"""
        WITH {_SQL_CANON.strip().lstrip()},
        {body}
        SELECT u AS id, COUNT(*) AS core_degree FROM s{stages} GROUP BY u
    """


@query(
    "graph_kcore_membership",
    uses=("graph_edges",),
    # k=70 sits just above the fixture graph's minimum degree at the
    # driver's oracle scale (sf0.01: min deg 68, median 86), so the peel
    # actually fires (cascading removals) instead of trivially keeping or
    # dropping everyone; the micro-graph unit covers the structural cases.
    oracle=_kcore_sql(k=70, stages=30),
    description="k-core decomposition (k=70) by iterative peeling: surviving vertices with their within-core degree — the dense-region primitive; per round one degree aggregate + two semi joins over the shrinking edge set, early-exit on the first stable round (operators/graph.py kcore_vertices; oracle = 30 unrolled peel stages matching the loop cap, exact fixpoint)",
)
def graph_kcore_membership(spark: SparkSession, sf_dir: str, graph_edges: DataFrame) -> DataFrame:
    return G.kcore_vertices(graph_edges, k=70)


def _lpa_sql(rounds: int = 4) -> str:
    """Unrolled-round DuckDB twin of operators.graph.label_propagation:
    round r's per-vertex argmax (count desc, label asc) over neighbor
    labels via ROW_NUMBER. Chained CTEs are MATERIALIZED — DuckDB inlines
    plain CTEs per reference, and an inlined unrolled chain re-reads the
    parquet exponentially (the corpus_bpe_merges lesson)."""
    parts = [
        "WITH ",
        _SQL_EDGES,
        """,
        und AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM edges
                UNION ALL
                SELECT dst AS src, src AS dst FROM edges
            ) WHERE src <> dst
        ),
        l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM und)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
        c{r} AS (
            SELECT u.src AS id, l.label, COUNT(*) AS n
            FROM und u JOIN l{r - 1} l ON l.id = u.dst
            GROUP BY u.src, l.label
        ),
        l{r} AS MATERIALIZED (
            SELECT id, label FROM (
                SELECT id, label,
                       ROW_NUMBER() OVER (PARTITION BY id ORDER BY n DESC, label ASC) AS rk
                FROM c{r}
            ) WHERE rk = 1
        )""")
    parts.append(f"\n        SELECT id, label FROM l{rounds}")
    return "".join(parts)


@query(
    "graph_label_propagation",
    uses=("graph_edges",),
    oracle=_lpa_sql(rounds=4),
    description="Synchronous label-propagation community detection, 4 fixed rounds (GraphFrames labelPropagation counterpart): per round one edges-x-labels equi-join + one per-vertex mode(label) aggregate (most frequent label, ties to the smallest) — deterministic, value-checked against a 4-round unrolled MATERIALIZED-CTE oracle (operators/graph.py)",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str, graph_edges: DataFrame) -> DataFrame:
    return G.label_propagation(graph_edges, rounds=4)


def _ppr_sql(iterations: int = 10, seed_mod: int = 20, alpha: float = 0.15) -> str:
    """Unrolled-round DuckDB twin of operators.graph.personalized_pagerank
    with seeds = vertices where id % seed_mod == 0: teleport vector 1/|S|
    on seeds (also the init), r{i} = alpha*tele + (1-alpha)*mass. Same
    float-safety recipe as _pagerank_sql (Python float repr literals,
    round-6 comparison); chained CTEs MATERIALIZED."""
    beta = 1 - alpha
    stages = [
        """tele AS MATERIALIZED (
            SELECT v.id,
                   CASE WHEN v.id % {m} = 0 THEN CAST(1.0 AS DOUBLE) / (SELECT s FROM ns)
                        ELSE CAST(0.0 AS DOUBLE) END AS tele
            FROM vertices v)""".format(m=seed_mod),
        "r0 AS MATERIALIZED (SELECT id, tele AS ppr FROM tele)",
    ]
    for i in range(1, iterations + 1):
        stages.append(
            f"""r{i} AS MATERIALIZED (
            SELECT t.id, CAST({alpha!r} AS DOUBLE) * t.tele
                   + CAST({beta!r} AS DOUBLE) * COALESCE(m.mass, CAST(0.0 AS DOUBLE)) AS ppr
            FROM tele t LEFT JOIN (
                SELECT e.dst AS id, SUM(r.ppr / o.od) AS mass
                FROM edges e
                JOIN r{i - 1} r ON r.id = e.src
                JOIN outd o ON o.src = e.src
                GROUP BY e.dst
            ) m ON m.id = t.id)"""
        )
    chain = ",\n        ".join(stages)
    return f"""
        WITH {_SQL_EDGES},
        vertices AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        ns AS (SELECT COUNT(*) AS s FROM vertices WHERE id % {seed_mod} = 0),
        outd AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
        {chain}
        SELECT id, ROUND(ppr, 6) AS ppr FROM r{iterations}
        ORDER BY ppr DESC, id ASC LIMIT 20
    """


@query(
    "graph_trustrank_from_seeds",
    uses=("graph_edges",),
    oracle=_ppr_sql(iterations=10, seed_mod=20),
    description="Personalized PageRank / TrustRank (Gyongyi et al. 2004): teleport uniform over a deterministic seed set (id %% 20 == 0), 10 unrolled iterations — trust propagation from hand-audited sources, the graph-side quality signal of a curation pipeline; fully value-checked (operators/graph.py personalized_pagerank)",
)
def graph_trustrank_from_seeds(spark: SparkSession, sf_dir: str, graph_edges: DataFrame) -> DataFrame:
    seeds = G._vertices_from_edges(graph_edges).filter(F.col("id") % 20 == 0)
    ppr = G.personalized_pagerank(graph_edges, seeds, alpha=0.15, iterations=10)
    return (
        ppr.select("id", F.round("ppr", 6).alias("ppr"))
        .orderBy(F.desc("ppr"), F.asc("id"))
        .limit(20)
    )


def _hits_sql(iterations: int = 8) -> str:
    """Unrolled-round DuckDB twin of operators.graph.hits. Every chained
    CTE is MATERIALIZED (each round references its predecessor twice —
    norm scalar subquery + join — and plain CTEs inline per reference,
    re-reading the parquet exponentially). Both engines round to 6 dp and
    rank on the ROUNDED authority, soaking ~1e-13 reassociation noise in
    the float sums (same recipe as _pagerank_sql)."""
    stages = [
        "h0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM vertices)"
    ]
    for i in range(1, iterations + 1):
        stages.append(
            f"""a{i}raw AS MATERIALIZED (
                SELECT e.dst AS id, SUM(h.hub) AS s
                FROM edges e JOIN h{i - 1} h ON h.id = e.src
                GROUP BY e.dst)"""
        )
        stages.append(
            f"""a{i} AS MATERIALIZED (
                SELECT v.id,
                       COALESCE(r.s / NULLIF((SELECT sqrt(SUM(s * s)) FROM a{i}raw), 0.0), 0.0) AS auth
                FROM vertices v LEFT JOIN a{i}raw r ON r.id = v.id)"""
        )
        stages.append(
            f"""h{i}raw AS MATERIALIZED (
                SELECT e.src AS id, SUM(a.auth) AS s
                FROM edges e JOIN a{i} a ON a.id = e.dst
                GROUP BY e.src)"""
        )
        stages.append(
            f"""h{i} AS MATERIALIZED (
                SELECT v.id,
                       COALESCE(r.s / NULLIF((SELECT sqrt(SUM(s * s)) FROM h{i}raw), 0.0), 0.0) AS hub
                FROM vertices v LEFT JOIN h{i}raw r ON r.id = v.id)"""
        )
    chain = ",\n        ".join(stages)
    n = iterations
    return f"""
        WITH {_SQL_EDGES},
        vertices AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        {chain}
        SELECT a.id, ROUND(a.auth, 6) AS auth, ROUND(h.hub, 6) AS hub
        FROM a{n} a JOIN h{n} h ON h.id = a.id
        ORDER BY ROUND(a.auth, 6) DESC, a.id ASC LIMIT 20
    """


@query(
    "graph_hits_authorities",
    uses=("graph_edges",),
    oracle=_hits_sql(iterations=8),
    description="HITS hubs & authorities (Kleinberg 1999): 8 power-method iterations with per-half-step L2 normalization, top-20 vertices by authority with their hub scores — the link-analysis complement of PageRank (endorsement-quality vs popularity); fixpoint unrolled into generated MATERIALIZED CTE stages, fully value-checked (operators/graph.py hits)",
)
def graph_hits_authorities(spark: SparkSession, sf_dir: str, graph_edges: DataFrame) -> DataFrame:
    res = G.hits(graph_edges, iterations=8)
    return (
        res.select(
            "id",
            F.round("auth", 6).alias("auth"),
            F.round("hub", 6).alias("hub"),
        )
        .orderBy(F.desc("auth"), F.asc("id"))
        .limit(20)
    )


@query(
    "graph_adamic_adar_topk",
    uses=("graph_wedge_scaffold",),
    # Link prediction — the "which edge is missing" member of the graph
    # family: Adamic–Adar over the canonical undirected graph. ln() is
    # confined to ONE per-center site quantized to integer ppm (the bm25
    # recipe, shared verbatim via AA_CONTRIB_PPM_SQL); every downstream
    # sum is an exact BIGINT add, and the top-k ordering carries a full
    # (u, v) tiebreak so rank ties can't flap between engines.
    oracle=f"""
        WITH {_SQL_CANON.strip().lstrip()},
        adj AS (
            SELECT a AS w, b AS n FROM canon
            UNION ALL
            SELECT b AS w, a AS n FROM canon
        ),
        contrib AS (
            SELECT w, {G.AA_CONTRIB_PPM_SQL} AS c_ppm
            FROM (SELECT w, COUNT(*) AS deg FROM adj GROUP BY w)
            WHERE deg >= 2
        ),
        wedge AS (
            SELECT a1.n AS u, a2.n AS v, c.c_ppm
            FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.n < a2.n
            JOIN contrib c ON c.w = a1.w
        )
        SELECT u, v,
               COUNT(*) AS common_neighbors,
               CAST(SUM(c_ppm) AS BIGINT) AS score_ppm
        FROM wedge
        WHERE NOT EXISTS (
            SELECT 1 FROM canon e WHERE e.a = wedge.u AND e.b = wedge.v
        )
        GROUP BY u, v
        ORDER BY score_ppm DESC, u ASC, v ASC
        LIMIT 20
    """,
    description="Adamic–Adar link prediction top-20 (the missing-edge ranking: friend suggestion / entity-linkage candidates): one adjacency self-equi-join on the center vertex for wedges, LEFT ANTI hash join drops existing edges, per-center 1/ln(deg) quantized to ppm BEFORE the exact BIGINT sum (bm25 ln recipe), TakeOrderedAndProject top-k with full tiebreaks — operators/graph.aa_scoring over the shared wedge scaffold (operators/graph.adamic_adar_topk carries the documented max_center_degree dial for hub-heavy graphs)",
)
def graph_adamic_adar_topk(spark: SparkSession, sf_dir: str, graph_wedge_scaffold: DataFrame) -> DataFrame:
    return (
        G.aa_scoring(graph_wedge_scaffold)
        .orderBy(F.desc("score_ppm"), F.asc("u"), F.asc("v"))
        .limit(20)
    )


@query(
    "graph_clustering_coefficient",
    # Local clustering coefficient — "how clique-like is each vertex's
    # neighborhood": cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for
    # deg >= 2, in round-half-up integer ppm (pure BIGINT — the divisor
    # is positive, no sign correction needed). Reuses the exactly-once
    # degree-ordered triangle enumeration; vertices in no triangle get
    # cc = 0, not a dropped row (LEFT join + coalesce — the r8
    # NULL-group lesson).
    oracle=f"""
        WITH {_SQL_CANON},
        deg AS (
            SELECT id, COUNT(*) AS deg FROM (
                SELECT a AS id FROM canon UNION ALL SELECT b FROM canon
            ) GROUP BY id
        ),
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM canon e1
            JOIN canon e2 ON e1.b = e2.a
            JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        corners AS (
            SELECT x AS id FROM tri UNION ALL
            SELECT y FROM tri UNION ALL
            SELECT z FROM tri
        ),
        tcnt AS (SELECT id, COUNT(*) AS triangles FROM corners GROUP BY id)
        SELECT d.id,
               CAST(d.deg AS BIGINT) AS deg,
               CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
               CAST((COALESCE(t.triangles, 0) * 4000000 + d.deg * (d.deg - 1))
                    // (2 * d.deg * (d.deg - 1)) AS BIGINT) AS cc_ppm
        FROM deg d LEFT JOIN tcnt t ON d.id = t.id
        WHERE d.deg >= 2
    """,
    description="Local clustering coefficient per vertex (neighborhood clique-ness, the per-vertex complement of triangle counting): reuses the degree-ordered exactly-once triangle enumeration + one degree aggregate, LEFT join keeps triangle-free vertices at cc=0, round-half-up pure-BIGINT ppm — no window, no extra corpus shuffle",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir)
    e = G.canonical_undirected(edges).localCheckpoint(eager=False)
    deg = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    tri = G.triangle_counts(edges)
    joined = deg.filter(F.col("deg") >= 2).join(tri, "id", "left").select(
        "id",
        F.col("deg").cast("long").alias("deg"),
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
    )
    return joined.select(
        "id",
        "deg",
        "triangles",
        F.expr(
            "CAST((triangles * 4000000 + deg * (deg - 1))"
            " DIV (2 * deg * (deg - 1)) AS BIGINT)"
        ).alias("cc_ppm"),
    )


@query(
    "graph_adamic_adar_capped",
    uses=("graph_edges",),
    # The hub-graph dial of graph_adamic_adar_topk, VALUE-verified
    # instead of just documented (VERDICT r10 item 8): centers with
    # deg > 95 are skipped (the standard exactness/cost trade at scale —
    # a celebrity center contributes the graph's smallest per-wedge
    # weight 1/ln(deg) while dominating wedge volume). The cap BINDS on
    # the sf0.01 fixture (degrees run ~86..104 there), so this oracle
    # pins different scores from the uncapped query, not a no-op.
    oracle=f"""
        WITH {_SQL_CANON.strip().lstrip()},
        adj AS (
            SELECT a AS w, b AS n FROM canon
            UNION ALL
            SELECT b AS w, a AS n FROM canon
        ),
        contrib AS (
            SELECT w, {G.AA_CONTRIB_PPM_SQL} AS c_ppm
            FROM (SELECT w, COUNT(*) AS deg FROM adj GROUP BY w)
            WHERE deg >= 2 AND deg <= 95
        ),
        wedge AS (
            SELECT a1.n AS u, a2.n AS v, c.c_ppm
            FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.n < a2.n
            JOIN contrib c ON c.w = a1.w
        )
        SELECT u, v,
               COUNT(*) AS common_neighbors,
               CAST(SUM(c_ppm) AS BIGINT) AS score_ppm
        FROM wedge
        WHERE NOT EXISTS (
            SELECT 1 FROM canon e WHERE e.a = wedge.u AND e.b = wedge.v
        )
        GROUP BY u, v
        ORDER BY score_ppm DESC, u ASC, v ASC
        LIMIT 20
    """,
    description="Degree-capped Adamic–Adar top-20 (max_center_degree=95, binding at sf0.01): the documented hub-heavy-graph dial as an oracle-backed query — contrib centers filtered to 2 <= deg <= cap BEFORE the wedge self-join, so wedge volume is bounded by cap^2 per center; otherwise identical plan shape to graph_adamic_adar_topk (aggregate-then-anti-join, r11 ordering)",
)
def graph_adamic_adar_capped(spark: SparkSession, sf_dir: str, graph_edges: DataFrame) -> DataFrame:
    return G.adamic_adar_topk(graph_edges, k=20, max_center_degree=95)


@query(
    "graph_degree_assortativity",
    # Degree assortativity (Newman 2002): the Pearson correlation of
    # endpoint degrees over the (symmetrized) edge list — positive means
    # hubs link to hubs (social graphs), negative means hubs link to
    # leaves (infrastructure/star topologies); THE one-number structural
    # fingerprint the degree distribution alone can't give. Exact BIGINT
    # sufficient statistics (degrees are integers; 2|E| pairs) finalized
    # by the shared CORR_PPM_SQL tree — bit-identical cross-engine.
    oracle=f"""
        WITH {_SQL_CANON.strip().lstrip()},
        adj AS (
            SELECT a AS w, b AS x FROM canon
            UNION ALL
            SELECT b AS w, a AS x FROM canon
        ),
        deg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY w),
        pairs AS (
            SELECT dw.d AS du, dx.d AS dv
            FROM adj
            JOIN deg dw ON dw.w = adj.w
            JOIN deg dx ON dx.w = adj.x
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(du) AS BIGINT) AS sx,
                   CAST(SUM(dv) AS BIGINT) AS sy,
                   CAST(SUM(du * dv) AS BIGINT) AS sxy,
                   CAST(SUM(du * du) AS BIGINT) AS sxx,
                   CAST(SUM(dv * dv) AS BIGINT) AS syy
            FROM pairs
        )
        SELECT n AS n_degree_pairs,
               CAST(n // 2 AS BIGINT) AS n_edges,
               {_CORR_PPM} AS assortativity_ppm
        FROM stats
    """,
    description="Degree assortativity of the interaction graph (Newman 2002 — do hubs link to hubs?): symmetrized canonical edges joined to the degree table on BOTH endpoints (vertex-keyed hash joins, broadcast at fixture scale), exact BIGINT sufficient statistics over 2|E| degree pairs, shared Pearson ppm tree — one number, bit-identical cross-engine",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = G.canonical_undirected(_edges(spark, sf_dir)).localCheckpoint(eager=False)
    adj = (
        e.select(F.col("a").alias("w"), F.col("b").alias("x"))
        .unionAll(e.select(F.col("b").alias("w"), F.col("a").alias("x")))
    ).localCheckpoint(eager=False)  # 2 consumers: deg aggregate + pair join
    deg = adj.groupBy("w").agg(F.count("*").cast("long").alias("d"))
    dw = deg.select(F.col("w"), F.col("d").alias("du"))
    dx = deg.select(F.col("w").alias("x"), F.col("d").alias("dv"))
    pairs = adj.join(dw, "w").join(dx, "x")
    stats = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("du").alias("sx"),
        F.sum("dv").alias("sy"),
        F.sum(F.col("du") * F.col("dv")).alias("sxy"),
        F.sum(F.col("du") * F.col("du")).alias("sxx"),
        F.sum(F.col("dv") * F.col("dv")).alias("syy"),
    )
    return stats.select(
        F.col("n").alias("n_degree_pairs"),
        F.expr("n DIV 2").alias("n_edges"),
        F.expr(_CORR_PPM).alias("assortativity_ppm"),
    )


@query(
    "graph_jaccard_link_topk",
    uses=("graph_wedge_scaffold",),
    # The normalized sibling of graph_adamic_adar_topk: Jaccard
    # coefficient over common neighborhoods. PURE BIGINT — counts,
    # degrees, and one round-half-up ppm division; no float anywhere
    # (AA needs its one quantized ln site; this needs none), so the
    # score is bit-identical cross-engine by construction. Full (u, v)
    # tiebreak pins the top-20 slice.
    oracle=f"""
        WITH {_SQL_CANON.strip().lstrip()},
        adj AS (
            SELECT a AS w, b AS n FROM canon
            UNION ALL
            SELECT b AS w, a AS n FROM canon
        ),
        deg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY w),
        wedge AS (
            SELECT a1.n AS u, a2.n AS v
            FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.n < a2.n
            JOIN deg d ON d.w = a1.w AND d.deg >= 2
        ),
        pairs AS (
            SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_neighbors
            FROM wedge
            WHERE NOT EXISTS (
                SELECT 1 FROM canon e WHERE e.a = wedge.u AND e.b = wedge.v
            )
            GROUP BY u, v
        )
        SELECT u, v, common_neighbors,
               (2000000 * common_neighbors
                + (du.deg + dv.deg - common_neighbors))
               // (2 * (du.deg + dv.deg - common_neighbors)) AS jaccard_ppm
        FROM pairs
        JOIN deg du ON du.w = pairs.u
        JOIN deg dv ON dv.w = pairs.v
        ORDER BY jaccard_ppm DESC, u ASC, v ASC
        LIMIT 20
    """,
    description="Jaccard-coefficient link prediction top-20 (the hub-penalizing sibling of Adamic-Adar — the two rankings disagree exactly on hub-adjacent candidates): one adjacency self-equi-join for wedges, aggregate-first LEFT ANTI against existing edges, two degree joins on the candidate-pair table, round-half-up integer ppm — pure BIGINT end to end, TakeOrderedAndProject top-k (operators/graph.jaccard_scoring over the shared wedge scaffold)",
)
def graph_jaccard_link_topk(spark: SparkSession, sf_dir: str, graph_wedge_scaffold: DataFrame) -> DataFrame:
    return (
        G.jaccard_scoring(graph_wedge_scaffold)
        .orderBy(F.desc("jaccard_ppm"), F.asc("u"), F.asc("v"))
        .limit(20)
    )


@query(
    "graph_preferential_attachment_topk",
    uses=("graph_wedge_scaffold",),
    # The trio-completing link-prediction ranking: where AA weights rare
    # common neighbors and Jaccard penalizes hubs, PA bets ON hubs
    # (deg(u)·deg(v)) — the three rankings disagree exactly on
    # hub-adjacent candidates, which is why all three ship. Candidates
    # are the standard 2-hop restriction (wedge-bounded; quadratic true
    # PA is a deliberate choice, documented). PURE BIGINT — no division,
    # no float anywhere.
    oracle=f"""
        WITH {_SQL_CANON.strip().lstrip()},
        adj AS (
            SELECT a AS w, b AS n FROM canon
            UNION ALL
            SELECT b AS w, a AS n FROM canon
        ),
        deg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY w),
        wedge AS (
            SELECT a1.n AS u, a2.n AS v
            FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.n < a2.n
            JOIN deg d ON d.w = a1.w AND d.deg >= 2
        ),
        pairs AS (
            SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_neighbors
            FROM wedge
            WHERE NOT EXISTS (
                SELECT 1 FROM canon e WHERE e.a = wedge.u AND e.b = wedge.v
            )
            GROUP BY u, v
        )
        SELECT u, v, common_neighbors,
               CAST(du.deg * dv.deg AS BIGINT) AS pa_score
        FROM pairs
        JOIN deg du ON du.w = pairs.u
        JOIN deg dv ON dv.w = pairs.v
        ORDER BY pa_score DESC, u ASC, v ASC
        LIMIT 20
    """,
    description="Preferential-attachment link prediction top-20 (the hub-betting member of the AA/Jaccard/PA trio — the three disagree exactly on hub-adjacent candidates): 2-hop candidate restriction (wedge-bounded, never |V|^2), aggregate-first LEFT ANTI, two degree joins, deg(u)*deg(v) pure BIGINT, TakeOrderedAndProject (operators/graph.pa_scoring over the shared wedge scaffold)",
)
def graph_preferential_attachment_topk(spark: SparkSession, sf_dir: str, graph_wedge_scaffold: DataFrame) -> DataFrame:
    return (
        G.pa_scoring(graph_wedge_scaffold)
        .orderBy(F.desc("pa_score"), F.asc("u"), F.asc("v"))
        .limit(20)
    )
