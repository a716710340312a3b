"""DataFrame-native graph analytics (SURVEY.md §2.10 G1-G7).

The reference uses GraphFrames (StandaloneScala/EpinionsGraphFrameAnalysis.scala)
plus a hand-rolled DataFrame PageRank (StandaloneScala/PageRank.scala).
GraphFrames is not available here, and the hand-rolled loop grows an
unbounded lineage (SURVEY.md §4.3.2) — so every algorithm below is a plain
DataFrame program with `localCheckpoint()` lineage cuts per iteration.

A graph is just `(vertices_df, edges_df)` — edges have `src`/`dst` columns
(StandaloneScala/EpinionsGraphFrameAnalysis.scala:56-61).

Scale posture: degrees are single hash aggregations; triangle counting
canonicalizes + dedups edges first (halves the join input) and joins on
vertex keys — AQE's skew-join handles hot vertices; the iterative loops
run one aggregate per round on the vertex key and cut lineage with
`localCheckpoint` to keep the plan O(1) deep regardless of iteration
count.

What a round costs under AQE (on for the whole session, see session.py):
every exchange is its own job, and `localCheckpoint(eager=False)` is lazy
only about the frame's final stage. The call itself runs every shuffle
and broadcast stage below it, one blocking job each; the final stage runs
inside whichever job first reads the checkpoint. The checkpointed frame
reports `UnknownPartitioning(0)`, so a groupBy or join on the same key in
the next round shuffles again. A loop's job count is therefore its
exchange count, and the fixpoint loops below keep it at one aggregate per
round plus the join side: the vertex set rides into the round's aggregate
as a union of zero-mass rows (`_rank_rounds`, the one PageRank loop), and
the previous label comes out of the same aggregate as the new one
(connected_components).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# Fan-out widening lives in _util.fan_out_ready (rationale + the r14
# probe-safety measurement are documented THERE, once — ADVICE r14: the
# module-local wrapper duplicated the ~20-line docstring).
from ._util import fan_out_ready as _fan_out_ready


def edges_from_events(events: DataFrame) -> DataFrame:
    """Derive a deterministic directed edge list from the `events` fixture
    (FIXTURES.md §2): consecutive events inside each (event_type, day)
    partition, ordered by event_id, contribute edge
    user_id(i) -> user_id(i+1). Self-loops dropped.

    Partitioning by (event_type, day) keeps window partitions bounded as
    data grows — no global single-partition sort at 100 TB. The day key is
    floor(epoch/86400), not to_date(), so it is session-timezone-independent
    (matches DuckDB's epoch() on the same parquet instants).
    """
    day = F.floor(F.unix_timestamp("ts") / 86400)
    w = Window.partitionBy("event_type", day).orderBy("event_id")
    return (
        events.select(
            F.col("user_id").alias("src"),
            F.lead("user_id").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )


def out_degrees(edges: DataFrame) -> DataFrame:
    """G2 (EpinionsGraphFrameAnalysis.scala:66): edge count per src."""
    return edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_degree"))


def in_degrees(edges: DataFrame) -> DataFrame:
    """G3 (EpinionsGraphFrameAnalysis.scala:79): edge count per dst."""
    return edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_degree"))


def canonical_undirected(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges with src < dst (prep for triangles/CC)."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """G6 (EpinionsGraphFrameAnalysis.scala:121): triangles per vertex.

    Degree-ordered enumeration (the MapReduce triangle-counting standard,
    Suri & Vassilvitskii WWW'11): orient every undirected edge from the
    (degree, id)-SMALLER endpoint to the larger, build wedges by
    self-joining on the center's OUT-edges, close them against the
    oriented edge set. Each triangle is found exactly once, and wedge
    fan-out per vertex is bounded by its oriented out-degree — O(sqrt(m))
    even for celebrity vertices — so the intermediate wedge relation stays
    near-linear on skewed graphs where id-ordered enumeration explodes
    quadratically. Output is identical to any other exactly-once
    enumeration: (id, triangles) for vertices in >= 1 triangle.

    The oriented edge list (4 consumers), the canonical edge set (3) and
    the degree table (2: both sides of the degree join) are materialized
    by lazy localCheckpoints (reclaimed when the DataFrame is GC'd — no
    session-lifetime cache leak): without them, Catalyst re-plans the
    full edges-from-source derivation per consumer (observed 20 source
    scans in the composed plan).
    """
    e = canonical_undirected(edges).localCheckpoint(eager=False)
    deg = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    ).localCheckpoint(eager=False)
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    # NOT _fan_out_ready (r14): the degree-ordered orientation bounds
    # wedge fan-out by sqrt(m), so the fixture's wedge volume is small
    # enough that the extra exchange + 32-way task scheduling across
    # this plan's 4 consumers measured SLOWER (5.2 s vs 2.2 s) than
    # the coalesced 2-task compute. The link-prediction scaffold's
    # unbounded deg(w)^2 fan-out is the shape that needs it.
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    ).localCheckpoint(eager=False)
    w1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    # Wedges centered at u over its out-neighbors; x<y dedups the pair.
    wedges = w1.join(w2, "u").filter(F.col("x") < F.col("y"))
    # Close the wedge: the third edge is oriented (x,y) or (y,x).
    c1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    c2 = oriented.select(F.col("v").alias("x"), F.col("u").alias("y"))
    closing = c1.union(c2)
    tri = wedges.join(closing, ["x", "y"])
    return (
        tri.select(F.explode(F.array("u", "x", "y")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )


def _vertices_from_edges(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


# Lineage-cut cadence of the rank, label and HITS loops: cut after every
# `_LINEAGE_CUT_EVERY`-th round and after the last. The frames cut there
# have one consumer, so the cut only bounds plan depth; every second round
# persists half the block sets for bit-identical values (OPTIMIZATION_r15.md
# §3b, sf0.1 warm: personalized_pagerank 2.92 -> 2.53 s, hits 4.09 -> 3.33 s).
_LINEAGE_CUT_EVERY = 2


def _cut_after(i: int, rounds: int) -> bool:
    return (i + 1) % _LINEAGE_CUT_EVERY == 0 or (i + 1) == rounds


def _rank_rounds(
    edges: DataFrame,
    flow: DataFrame,
    ranks: DataFrame,
    rows: DataFrame | None,
    teleport: Column,
    alpha: float,
    rounds: int,
    tol: float | None = None,
) -> DataFrame:
    """The PageRank power iteration of :func:`pagerank` and
    :func:`personalized_pagerank`:

        rank(v) = teleport + (1 - alpha) * Σ_{u→v over flow} rank(u) / out_deg(u)

    One round is one join of `ranks` (id, rank) against the loop-invariant
    (src, dst, out_deg) edges and one aggregate on `id`; `out_deg` counts
    every edge of `edges`, parallel ones included (Q5). `rows` are unioned
    by name into every round's aggregate: an (id, contrib=0.0) row per
    vertex keeps the vertices without in-links, and a column they add
    (`tele`) is there for `teleport`, an aggregate Column. With no rows a
    vertex drops out once no rank flows into it (Q4). `tol` stops at a
    lineage cut once max |Δrank| < tol (one 1-row aggregate on the
    materialized ranks). Returns (id, rank)."""
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    contrib_edges = flow.join(out_deg, "src").localCheckpoint(eager=False)
    for i in range(rounds):
        contribs = contrib_edges.join(ranks, contrib_edges.src == ranks.id, "inner").select(
            F.col("dst").alias("id"),
            (F.col("rank") / F.col("out_deg")).alias("contrib"),
        )
        if rows is not None:
            contribs = contribs.unionByName(rows, allowMissingColumns=True)
        updated = contribs.groupBy("id").agg(
            (teleport + F.lit(1 - alpha) * F.sum("contrib")).alias("rank")
        )
        if not _cut_after(i, rounds):
            ranks = updated
            continue
        updated = updated.localCheckpoint(eager=False)
        if tol is not None:
            delta = (
                updated.join(ranks.select("id", F.col("rank").alias("prev")), "id", "left")
                .agg(F.max(F.abs(F.col("rank") - F.coalesce("prev", F.lit(0.0)))).alias("d"))
                .first()["d"]
            )
            if delta is not None and delta < tol:
                return updated
        ranks = updated
    return ranks


def pagerank(
    edges: DataFrame,
    alpha: float = 0.15,
    max_iterations: int = 10,
    reference_semantics: bool = False,
    tol: float | None = None,
) -> DataFrame:
    """Iterative PageRank (the rounds are :func:`_rank_rounds`).

    Default mode (GraphFrames-style damping,
    EpinionsGraphFrameAnalysis.scala:93): init 1/N, mass flows over every
    edge, and every vertex keeps at least the teleport term alpha/N.

    `reference_semantics=True` reproduces StandaloneScala/PageRank.scala
    exactly, including its quirks (SURVEY.md Q3-Q5):
      Q3 init rank = 10.0 (:17,42), not 1/N;
      Q4 inner joins (:54,63) so vertices without in-links drop out after
         iteration 1 and dangling mass vanishes;
      Q5 in-links dedup parallel edges via collect_set (:33) while
         out-degree `count` (:30) does not.

    `tol`: GraphFrames-style convergence (EpinionsGraphFrameAnalysis.scala:93
    `.tol(0.01)`): stop when max |Δrank| < tol, checked at lineage cuts.

    Returns (id, pagerank).
    """
    # The edge list feeds the vertex set, the out-degrees and the flow;
    # without the cut each re-derives the edges (for the events edge list,
    # its window shuffle).
    edges = edges.localCheckpoint(eager=False)
    vertices = _vertices_from_edges(edges).localCheckpoint(eager=False)
    n = vertices.count()
    if reference_semantics:
        # Q5: flow over DEDUPED edges (collect_set at :33 == distinct src
        # per dst once exploded at :48); Q3 init; Q4 no per-vertex rows.
        flow, init_rank, rows = edges.select("src", "dst").distinct(), 10.0, None
    else:
        flow, init_rank = edges.select("src", "dst"), 1.0 / n
        rows = vertices.select("id", F.lit(0.0).alias("contrib"))
    init = vertices.select("id", F.lit(float(init_rank)).alias("rank"))
    ranks = _rank_rounds(edges, flow, init, rows, F.lit(alpha / n), alpha, max_iterations, tol)
    return ranks.withColumnRenamed("rank", "pagerank")


def connected_components(edges: DataFrame, max_iterations: int = 50) -> DataFrame:
    """G5 (EpinionsGraphFrameAnalysis.scala:107): undirected connected
    components via min-label propagation to fixpoint.

    Each iteration: every vertex takes min(own label, neighbors' labels)
    over symmetrized edges; stop when no label changes. O(diameter)
    iterations; `localCheckpoint()` per iteration cuts lineage exactly
    where GraphFrames needed its checkpoint dir (:45).

    Returns (id, component) with component = min vertex id in component.
    """
    edges = edges.localCheckpoint(eager=False)  # feeds sym and the vertex set
    und = canonical_undirected(edges)
    sym = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b"))).localCheckpoint(eager=False)

    labels = _vertices_from_edges(edges).select("id", F.col("id").alias("component")).localCheckpoint(eager=False)
    no_label = F.lit(None).cast(labels.schema["component"].dataType)

    for _ in range(max_iterations):
        # One aggregate per round: the neighbors' labels and the vertex's
        # own row (which alone carries `prev`) meet in the same groupBy,
        # so the round yields the new label and the previous one together.
        step = (
            sym.join(labels, sym.a == labels.id)
            .select(F.col("b").alias("id"), "component", no_label.alias("prev"))
            .union(labels.select("id", "component", F.col("component").alias("prev")))
            .groupBy("id")
            .agg(F.min("component").alias("component"), F.max("prev").alias("prev"))
            .localCheckpoint(eager=False)
        )
        labels = step.select("id", "component")
        # The change check reads the checkpointed round: no join back
        # against the previous labels.
        if step.filter(F.col("component") != F.col("prev")).isEmpty():
            break
    return labels


def connected_components_two_phase(edges: DataFrame, max_iterations: int = 25) -> DataFrame:
    """G5 via alternating large-star / small-star (the 'Connected
    Components in MapReduce and Beyond' algorithm): converges in O(log n)
    rounds vs. O(graph diameter) for plain label propagation — the scale
    path for high-diameter graphs (long chains, road networks).

    large-star: every node links its LARGER neighbors to the minimum of
    its neighborhood; small-star: every node links its smaller-or-equal
    neighbors to that minimum. Alternating the two contracts every
    component to a star rooted at its minimum vertex id.

    Returns (id, component) — identical output contract to
    :func:`connected_components` (tested equal).
    """
    # Lazy checkpoint: its final stage runs inside the first round's
    # signature job rather than a job of its own (module docstring).
    e = canonical_undirected(edges).select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).localCheckpoint(eager=False)
    vertices = _vertices_from_edges(edges)

    def large_star(ed: DataFrame) -> DataFrame:
        sym = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        grouped = sym.groupBy("u").agg(
            F.min("v").alias("min_nbr"), F.collect_set("v").alias("nbrs")
        )
        out = grouped.select(
            "u",
            F.least("min_nbr", F.col("u")).alias("m"),
            F.explode("nbrs").alias("v"),
        ).filter(F.col("v") > F.col("u"))
        return out.select(F.col("v").alias("u"), F.col("m").alias("v")).filter(
            F.col("u") != F.col("v")
        ).distinct()

    def small_star(ed: DataFrame) -> DataFrame:
        # point every edge at the smaller endpoint: (u, v) with v < u
        pointed = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        grouped = pointed.groupBy("u").agg(
            F.min("v").alias("m"), F.collect_set("v").alias("nbrs")
        )
        nbr_edges = grouped.select("u", "m", F.explode("nbrs").alias("v")).filter(
            F.col("v") != F.col("m")
        ).select(F.col("v").alias("u"), F.col("m").alias("v"))
        self_edges = grouped.select("u", F.col("m").alias("v"))
        return nbr_edges.union(self_edges).filter(F.col("u") != F.col("v")).distinct()

    prev_sig = None
    for _ in range(max_iterations):
        # eager=False: the round's shuffle stages run here; its final
        # stage runs inside the signature .first() right below.
        e = small_star(large_star(e)).localCheckpoint(eager=False)
        # Overflow-safe content signature (ANSI mode: bigint sums can
        # throw): sum of 30-bit hash residues stays far below 2^63.
        sig = e.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1 << 30))), F.lit(0)
            ).alias("s"),
        ).first()
        sig = (sig["n"], sig["s"])
        if sig == prev_sig:
            break
        prev_sig = sig

    # e is now a star forest: (child, root). Roots appear only as targets.
    child_root = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = vertices.join(child_root, "id", "left_anti").select(
        "id", F.col("id").alias("component")
    )
    return child_root.union(roots)


def component_sizes(components: DataFrame) -> DataFrame:
    """Community sizes (EpinionsGraphFrameAnalysis.scala:108)."""
    return components.groupBy("component").agg(F.count("*").alias("size"))


def bfs_hops(
    edges: DataFrame, seeds: DataFrame | None = None, max_iterations: int = 30
) -> DataFrame:
    """Unweighted single/multi-source shortest hop counts over the
    UNDIRECTED graph: (id, hops) for every vertex reachable from the seed
    set within `max_iterations` hops (unreachable vertices are absent).

    `seeds` is a 1-column (id) frame; default = the global min vertex id
    (deterministic, so the query layer can oracle it with a recursive
    CTE). Distributed frontier expansion, the Pregel BFS shape:

    - per round, ONLY the frontier joins the (checkpointed, symmetric)
      edge list — work per round is O(edges incident to the frontier),
      not O(E);
    - newly-discovered vertices = candidates anti-joined against the
      settled set; rounds end when the frontier empties (≤ graph
      diameter, the `while` has a hard cap);
    - `localCheckpoint` per round cuts the growing lineage exactly like
      the other iterative operators here.
    """
    sym = (
        canonical_undirected(edges)
        .select(F.col("a").alias("u"), F.col("b").alias("v"))
    )
    # Lazy checkpoints throughout this loop: each call still runs its
    # frame's shuffle stages at once (module docstring); only the final
    # stage waits for the round's frontier-emptiness probe (or the next
    # round's), which persists the blocks inside its own job.
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v"))).localCheckpoint(eager=False)
    if seeds is None:
        # Seed from the TRAVERSAL edge set (sym excludes self-loops via
        # canonical_undirected), not the raw vertex set: a global-min vertex
        # with only self-loop edges exists in _vertices_from_edges but not in
        # sym, and seeding it would diverge from the min(u)-over-sym
        # definition the SQL oracles use.
        seeds = sym.agg(F.min("u").alias("id"))

    settled = seeds.select("id", F.lit(0).cast("int").alias("hops")).localCheckpoint(eager=False)
    frontier = settled
    for _ in range(max_iterations):
        candidates = (
            sym.join(frontier.select(F.col("id").alias("u"), "hops"), "u")
            .select(F.col("v").alias("id"), (F.col("hops") + 1).alias("hops"))
            .groupBy("id")
            .agg(F.min("hops").alias("hops"))
        )
        new = candidates.join(settled.select("id"), "id", "left_anti").localCheckpoint(eager=False)
        if new.isEmpty():
            break
        settled = settled.union(new).localCheckpoint(eager=False)
        frontier = new
    return settled


def sssp_weighted(
    edges: DataFrame,
    weight: Column | None = None,
    seeds: DataFrame | None = None,
    max_hops: int = 15,
) -> DataFrame:
    """Single/multi-source shortest WEIGHTED distances over the undirected
    graph: frontier-pruned Bellman-Ford. Returns (id, dist) — the minimum
    total weight over paths of at most `max_hops` edges (at convergence,
    the true shortest distance; the explicit cap makes the semantics
    engine-independent and oracle-expressible as a depth-capped recursive
    CTE).

    `weight` is an expression over the canonical undirected edge columns
    (a, b); default = 1 + portable_hash64("a:b") % 9, a deterministic
    per-edge weight both engines can re-derive. Round k relaxes exactly
    the paths with k edges (improvements cascade through the frontier),
    so running `min(max_hops, until-frontier-empty)` rounds equals full
    Bellman-Ford truncated at `max_hops` — and each round joins ONLY the
    improved vertices against the (checkpointed) edge list, the same
    work-bound-by-frontier shape as :func:`bfs_hops`.
    """
    from ..functions.text import portable_hash64

    und = canonical_undirected(edges)
    if weight is None:
        weight = (
            F.pmod(portable_hash64(F.concat_ws(":", F.col("a"), F.col("b"))), F.lit(9))
            + 1
        )
    w_edges = und.select("a", "b", weight.cast("long").alias("w"))
    # Lazy checkpoints: the per-round emptiness probe runs their final
    # stage — see bfs_hops.
    sym = w_edges.select(
        F.col("a").alias("u"), F.col("b").alias("v"), "w"
    ).union(
        w_edges.select(F.col("b").alias("u"), F.col("a").alias("v"), "w")
    ).localCheckpoint(eager=False)

    if seeds is None:
        # Same seed definition as bfs_hops: min vertex of the self-loop-free
        # symmetric edge set, matching the oracle's MIN(u) FROM sym.
        seeds = sym.agg(F.min("u").alias("id"))
    settled = seeds.select("id", F.lit(0).cast("long").alias("dist")).localCheckpoint(eager=False)
    frontier = settled
    for _ in range(max_hops):
        cand = (
            sym.join(frontier.select(F.col("id").alias("u"), "dist"), "u")
            .select(F.col("v").alias("id"), (F.col("dist") + F.col("w")).alias("nd"))
            .groupBy("id")
            .agg(F.min("nd").alias("nd"))
        )
        improved = (
            cand.join(settled, "id", "left")
            .filter(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("id", F.col("nd").alias("dist"))
            .localCheckpoint(eager=False)
        )
        if improved.isEmpty():
            break
        settled = (
            settled.union(improved)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
        frontier = improved
    return settled


def kcore_vertices(
    edges: DataFrame, k: int = 3, max_iterations: int = 30
) -> DataFrame:
    """k-core decomposition (Seidman 1983) by iterative peeling: drop every
    vertex whose degree in the REMAINING subgraph is < k, repeat until
    stable. Returns (id, core_degree) for the surviving vertices — the
    maximal subgraph where everyone has >= k neighbors (the standard
    dense-region / spam-ring / influential-community primitive).

    Distributed shape per round: one degree aggregate + two semi joins to
    drop edges incident to peeled vertices — work is O(remaining edges),
    monotonically shrinking; `localCheckpoint` cuts lineage exactly like
    the other iterative operators here. Peeling converges in at most
    |V| rounds but practically in a handful; the cap bounds the loop and
    the early-exit fires on the first stable round. Self-loops are
    excluded (canonical_undirected), matching the SQL oracle's edge set.
    """
    if k < 1:
        raise ValueError(f"kcore_vertices: need k >= 1, got {k}")
    und = canonical_undirected(edges)
    # Lazy checkpoints: each round's convergence count runs their final
    # stage — see bfs_hops.
    cur = (
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .localCheckpoint(eager=False)
    )
    prev_edges = cur.count()
    converged = prev_edges == 0
    for _ in range(max_iterations):
        if converged:
            break
        keep = (
            cur.groupBy("u")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= k)
            .select("u")
        )
        nxt = (
            cur.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
        n = nxt.count()
        cur = nxt
        converged = n == prev_edges
        prev_edges = n
    if not converged:
        # Returning a partially-peeled subgraph would be a silently-wrong
        # k-core (vertices with degree < k still present) AND diverge from
        # the fixed-stage SQL oracle — refuse loudly instead.
        raise RuntimeError(
            f"kcore_vertices: peeling did not converge within {max_iterations} "
            f"rounds ({prev_edges} directed edges remain) — raise max_iterations "
            f"(and keep the oracle's unrolled stage count >= it)"
        )
    return (
        cur.groupBy("u")
        .agg(F.count("*").alias("core_degree"))
        .select(F.col("u").alias("id"), "core_degree")
    )


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label propagation community detection (Raghavan et al.
    2007; the GraphFrames `labelPropagation` counterpart) made fully
    DETERMINISTIC: every vertex starts labeled with its own id; each round
    every vertex simultaneously adopts the most frequent label among its
    UNDIRECTED neighbors, ties broken by SMALLEST label. Returns
    (id, label) after exactly `rounds` rounds.

    Fixed horizon, not convergence: synchronous LPA can oscillate forever
    between two colorings (any bipartite-ish region), so "run until
    stable" is not well-defined — a fixed round count keeps the result an
    engine-independent pure function of the graph, which is what lets an
    unrolled-CTE oracle re-derive it value-for-value (the pagerank
    precedent applied to community detection).

    Scale shape per round: ONE equi-join (undirected edges x labels) + ONE
    aggregate on id, so one exchange: `mode(label, deterministic=True)` is
    the most frequent neighbor label with ties to the smallest, with
    map-side partials (no window, no second (id, label) count exchange).
    Labels are lineage-cut at the module's `_LINEAGE_CUT_EVERY` cadence."""
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        und.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False)
    )
    for i in range(rounds):
        nbr = und.join(
            labels.select(F.col("id").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("id"), "label")
        labels = nbr.groupBy("id").agg(F.mode("label", deterministic=True).alias("label"))
        if _cut_after(i, rounds):
            labels = labels.localCheckpoint(eager=False)
    return labels


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.15,
    iterations: int = 10,
) -> DataFrame:
    """Personalized PageRank / TrustRank (Gyongyi et al. 2004): the
    teleport distribution is uniform over `seeds` (a 1-column id frame)
    instead of uniform over all vertices, so score mass flows outward
    from the seed set — the trust/quality-propagation primitive a
    curation pipeline runs with a hand-audited seed list (trusted
    domains, vetted sources). Returns (id, ppr) for EVERY vertex
    (non-seeds reachable only via teleport score 0 — kept, because "has
    zero trust" is the signal).

    The rounds are :func:`_rank_rounds` with the teleport vector
    tele = 1/|S| on the seeds that are vertices of the graph, 0 elsewhere,
    as the init and as each round's teleport term alpha * tele. Seed ids
    outside the graph are ignored. Deterministic for a fixed seed set,
    so the whole fixpoint value-checks against an unrolled-CTE oracle."""
    edges = edges.localCheckpoint(eager=False)  # feeds the vertex set, out_deg and flow
    # The seeds are flagged on the vertex set once and counted from that
    # checkpoint, so the seed frame is derived once.
    flagged = (
        _vertices_from_edges(edges)
        .join(
            seeds.select(F.col(seeds.columns[0]).alias("id"), F.lit(True).alias("seed")).distinct(),
            "id",
            "left",
        )
        .select("id", F.col("seed").isNotNull().alias("seed"))
        .localCheckpoint(eager=False)
    )
    n_seeds = flagged.filter("seed").count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: no seed is a vertex of the graph")
    tele = flagged.select(
        "id", F.when(F.col("seed"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0)).alias("tele")
    )
    init, rows = tele.select("id", F.col("tele").alias("rank")), tele.withColumn("contrib", F.lit(0.0))
    teleport = F.lit(alpha) * F.sum("tele")
    ranks = _rank_rounds(edges, edges.select("src", "dst"), init, rows, teleport, alpha, iterations)
    return ranks.withColumnRenamed("rank", "ppr")


def hits(edges: DataFrame, iterations: int = 8) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999), fixed-iteration power
    method with L2 normalization each half-step:

        auth_i(v) = Σ_{u→v} hub_{i-1}(u)   then auth_i /= ‖auth_i‖₂
        hub_i(u)  = Σ_{u→v} auth_i(v)      then hub_i  /= ‖hub_i‖₂

    Returns (id, auth, hub) for EVERY vertex (vertices with no in-links
    have auth 0, no out-links hub 0 — kept, absence of endorsement is the
    signal). Fixed iterations, so the result is deterministic and
    value-checkable by an unrolled-CTE oracle. Each half-step is one
    equi-join + one hash aggregate; the L2 norm is a 1-row aggregate
    broadcast back, so nothing is collected to the driver. Each raw
    half-step sum feeds its norm AND the divide, so it is lineage-cut every
    half-step; auth and hub are cut at the module's `_LINEAGE_CUT_EVERY`
    cadence.
    """
    if iterations < 1:
        raise ValueError("hits: iterations must be >= 1")
    # vertices is consumed by the init AND the final zero-fill; the edge
    # list by both half-steps of every iteration — lineage cuts on both.
    vertices = _vertices_from_edges(edges).localCheckpoint(eager=False)
    e = edges.select("src", "dst").localCheckpoint(eager=False)
    # The loop iterates on NONZERO-support frames only: a zero score
    # contributes nothing to the next half-step's sums and nothing to the
    # L2 norm, so carrying the full vertex set through every iteration
    # (a per-half-step left join) is pure overhead — zeros are filled in
    # ONCE at the end. After iteration 1 the auth support is exactly the
    # in-link'd vertices and the hub support the out-link'd ones.
    hub = vertices.select("id", F.lit(1.0).alias("hub"))
    auth = None
    for i in range(iterations):
        araw = (
            e.join(hub.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("hub").alias("s"))
            .localCheckpoint(eager=False)  # consumed by norm AND divide
        )
        an = araw.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("n"))
        # try_divide: an all-zero iterate (edgeless graph) yields NULL
        # -> dropped support, matching DuckDB's x/0.0 contract.
        auth = (
            araw.crossJoin(F.broadcast(an))
            .select(
                F.col("dst").alias("id"),
                F.try_divide("s", "n").alias("auth"),
            )
        )
        hraw = (
            e.join(auth.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("auth").alias("s"))
            .localCheckpoint(eager=False)
        )
        hn = hraw.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("n"))
        hub = (
            hraw.crossJoin(F.broadcast(hn))
            .select(
                F.col("src").alias("id"),
                F.try_divide("s", "n").alias("hub"),
            )
        )
        if _cut_after(i, iterations):
            auth = auth.localCheckpoint(eager=False)
            hub = hub.localCheckpoint(eager=False)
    return (
        vertices.join(auth, "id", "left")
        .join(hub, "id", "left")
        .select(
            "id",
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
        )
    )


# Per-center Adamic–Adar contribution in integer ppm, shared VERBATIM by
# the Spark plan and the DuckDB oracle. ln() is not a correctly-rounded
# IEEE op, so the quantization happens at the per-CENTER site (one ln per
# vertex — the bm25 recipe): downstream sums are exact BIGINT adds in any
# order. Centers need >= 2 neighbors to form a wedge, so deg >= 2 and
# LN(deg) > 0 wherever this evaluates.
AA_CONTRIB_PPM_SQL = (
    "CAST(ROUND(1000000.0 / LN(CAST(deg AS DOUBLE))) AS BIGINT)"
)


def _wedge_candidate_pairs(
    edges: DataFrame,
    max_center_degree: int | None = None,
    center_weight_sql: str | None = None,
    with_endpoint_degrees: bool = False,
) -> DataFrame:
    """Shared 2-hop candidate scaffold for the link-prediction trio
    (r13 factor-out of the ~40-line chain the three scorers previously
    triplicated — ADVICE r12): canonical undirected edges → adjacency in
    both directions → one degree aggregate → wedge-center filter
    (deg >= 2, optional `max_center_degree` hub cap) → wedges from ONE
    adjacency self-equi-join on the center vertex → aggregate-FIRST to
    candidate pairs → LEFT ANTI against the existing edge set. Returns

        (u, v, common_neighbors [, weight_sum] [, _du, _dv])   u < v

    - `center_weight_sql`: SQL over the center's `deg` evaluated ONCE
      per center and BIGINT-summed per pair into `weight_sum`
      (Adamic–Adar's quantized 1/ln(deg) rides here; siblings skip it
      and pay only a LEFT SEMI against the center set).
    - `with_endpoint_degrees`: join deg onto both candidate endpoints as
      `_du`/`_dv` (Jaccard/PA need them; AA doesn't, so it skips the two
      joins — the helper must not cost a scorer anything the hand-rolled
      form didn't).

    The scale argument lives here once: the scoring aggregate runs
    BEFORE the anti join so the LEFT ANTI sees candidate-PAIR volume,
    not wedge volume (the anti join commutes with the groupBy — it drops
    whole (u, v) groups) and reuses the aggregate's (u, v) hash
    partitioning; multi-consumer frames are lineage-cut (the
    triangle_counts lesson)."""
    e = canonical_undirected(edges).localCheckpoint(eager=False)
    # The adjacency feeds the wedge SELF-JOIN, whose emit is deg(w) rows
    # per input row — a fan-out stage that must not inherit the 1-2
    # AQE-coalesced partitions of the distinct() above (r14: measured 2
    # tasks / 6.5 s on local[32] vs 32 tasks / ~1 s; no-op at scale).
    adj = _fan_out_ready(
        e.select(F.col("a").alias("w"), F.col("b").alias("n"))
        .union(e.select(F.col("b").alias("w"), F.col("a").alias("n")))
    )
    deg = adj.groupBy("w").agg(F.count("*").alias("deg"))
    if with_endpoint_degrees:
        # center filter + both endpoint joins consume it
        deg = deg.localCheckpoint(eager=False)
    centers = deg.filter(F.col("deg") >= 2)
    if max_center_degree is not None:
        centers = centers.filter(F.col("deg") <= max_center_degree)
    a1 = adj.select("w", F.col("n").alias("u"))
    a2 = adj.select("w", F.col("n").alias("v"))
    wedges = a1.join(a2, "w").filter(F.col("u") < F.col("v"))
    if center_weight_sql is not None:
        contrib = centers.select("w", F.expr(center_weight_sql).alias("_cw"))
        wedges = wedges.join(contrib, "w").select("u", "v", "_cw")
        pairs = wedges.groupBy("u", "v").agg(
            F.count("*").alias("common_neighbors"),
            F.sum("_cw").alias("weight_sum"),
        )
    else:
        wedges = wedges.join(
            centers.select("w"), "w", "left_semi"
        ).select("u", "v")
        pairs = wedges.groupBy("u", "v").agg(
            F.count("*").alias("common_neighbors")
        )
    cand = pairs.join(e, (pairs.u == e.a) & (pairs.v == e.b), "left_anti")
    if with_endpoint_degrees:
        du = deg.select(F.col("w").alias("u"), F.col("deg").alias("_du"))
        dv = deg.select(F.col("w").alias("v"), F.col("deg").alias("_dv"))
        cand = cand.join(du, "u").join(dv, "v")
    return cand


def adamic_adar_topk(
    edges: DataFrame, k: int | None = 20, max_center_degree: int | None = None
) -> DataFrame:
    """Adamic–Adar link prediction over the undirected canonical graph:
    for every NON-adjacent pair (u, v), score = Σ over common neighbors
    w of 1/ln(deg(w)) — the classic "which edges are missing" ranking
    (friend suggestion, entity-linkage candidates). Returns the top-k:

        (u, v, common_neighbors, score_ppm)   with u < v

    deterministically (score DESC, then u, v — rank ties can't flap).

    Scale shape: adjacency (both directions) + one degree aggregate;
    wedges come from ONE self-equi-join of the adjacency on the center
    vertex (fan-out deg(w)² per center — the inherent cost of exact
    common-neighbor enumeration); the scoring aggregate (two-phase,
    map-side partials) runs FIRST so the LEFT ANTI hash join against the
    canonical edge set sees candidate-PAIR volume, not wedge volume —
    on dense graphs pairs ≪ wedges, and the anti join reuses the
    aggregate's (u, v) hash partitioning (the anti join commutes with
    the groupBy: it drops whole (u, v) groups); top-k compiles to
    TakeOrderedAndProject. On hub-heavy graphs pass
    `max_center_degree` to skip celebrity centers (their per-wedge
    contribution 1/ln(deg) is the smallest in the graph, and the cap is
    the standard exactness/cost dial at scale — an UNCAPPED run on a
    100 TB social graph is a deliberate choice, not a default).

    Scaffold (wedges, aggregate-first anti-join, lineage cuts) is the
    shared :func:`_wedge_candidate_pairs`; AA is the weighted member
    (per-center ppm contribution summed in the candidate aggregate) and
    skips the endpoint-degree joins its siblings need."""
    scored = aa_scoring(
        _wedge_candidate_pairs(edges, max_center_degree, center_weight_sql=AA_CONTRIB_PPM_SQL)
    )
    if k is None:
        # Full scored candidate set, unordered — the probe/analysis form
        # (tools/decomposition_probe.py counts it to decompose the wall
        # into wedge volume vs per-wedge cost).
        return scored
    return scored.orderBy(
        F.desc("score_ppm"), F.asc("u"), F.asc("v")
    ).limit(k)


# Scoring projections over a _wedge_candidate_pairs scaffold, shared by
# adamic_adar_topk and the link-prediction queries that finalize over the
# plans' `graph_wedge_scaffold` shared input. AA reads weight_sum;
# Jaccard/PA need with_endpoint_degrees=True. Each returns
# (u, v, common_neighbors, <score>) for u < v, pure BIGINT except AA's one
# quantized ln site; the three rankings disagree exactly on hub-adjacent
# candidates, which is why all three ship.


def aa_scoring(scaffold: DataFrame) -> DataFrame:
    return scaffold.select(
        "u", "v", "common_neighbors", F.col("weight_sum").alias("score_ppm")
    )


def jaccard_scoring(scaffold: DataFrame) -> DataFrame:
    """|N(u)∩N(v)| / |N(u)∪N(v)| = common / (deg(u)+deg(v)−common), as
    round-half-up ppm — the normalized sibling of AA that penalizes hub
    endpoints."""
    return scaffold.select(
        "u",
        "v",
        "common_neighbors",
        F.expr(
            "(2000000 * common_neighbors + (_du + _dv - common_neighbors))"
            " DIV (2 * (_du + _dv - common_neighbors))"
        ).alias("jaccard_ppm"),
    )


def pa_scoring(scaffold: DataFrame) -> DataFrame:
    """deg(u)·deg(v): preferential attachment bets ON hubs. Candidates are
    the scaffold's 2-hop pairs — true PA over all non-adjacent pairs is
    |V|²-quadratic by definition, a deliberate choice and not a default."""
    return scaffold.select(
        "u",
        "v",
        "common_neighbors",
        (F.col("_du") * F.col("_dv")).cast("long").alias("pa_score"),
    )
