"""Count-min sketch (Cormode & Muthukrishnan 2005): fixed-memory frequency
estimation for heavy-hitter queries over unbounded key cardinality.

At 100 TB an exact per-term count table has vocabulary-sized cardinality
(hundreds of millions of keys); the CMS is a constant `depth × width`
integer grid that (a) builds in one explode + one map-side-combined hash
aggregate, (b) merges across partitions/batches by cell-wise addition (the
aggregate IS the merge), and (c) answers point queries with
`min_i grid[i][h_i(key)]`, guaranteed >= the true count and over by at
most ~2N/width with high probability.

Every hash is the md5-derived portable hash, so the ENTIRE sketch — every
cell, every estimate — is bit-reproducible in DuckDB and the operator is
fully value-checkable (not assertion-checked like the HLL/GK profile: CMS
arithmetic is pure integers, so the oracle can rebuild the grid exactly).
Production swap: xxhash64 rows (JVM-intrinsic) once cross-engine parity
isn't needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import portable_hash64

CMS_DEPTH = 4
CMS_WIDTH = 256


def _bucket(key, row: int, width: int):
    # Row-salted portable hash -> bucket. The salt prefix ("cms<row>:")
    # gives depth independent hash functions from one base hash.
    return F.pmod(
        portable_hash64(F.concat(F.lit(f"cms{row}:"), key)), F.lit(width)
    ).cast("int")


def _cells(key, depth: int, width: int):
    """Exploded (row, bucket) cells for one key — the SINGLE definition of
    cell derivation, used by both the build and the probe side (divergent
    copies would silently hash build and probe to different buckets)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).cast("int").alias("row"),
                    _bucket(key, i, width).alias("bucket"),
                )
                for i in range(depth)
            ]
        )
    )


def cms_build(
    keys: DataFrame,
    key_col: str = "term",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(row, bucket, cnt) — the sketch grid from one pass over the key
    stream. depth×width rows regardless of input size; partial aggregation
    does the per-partition sketching, the shuffle merges depth×width cells."""
    cells = keys.select(_cells(F.col(key_col), depth, width).alias("rb"))
    return cells.groupBy(
        F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    ).agg(F.count("*").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str = "term",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(key_col, cms_est) for each probe key: min over the key's depth
    cells. The sketch is depth×width rows — always broadcast.

    LEFT join from the probe cells: a probe key the stream never touched
    hashes to cells absent from the grouped sketch (count 0), and an inner
    join would silently drop it from the output instead of estimating 0
    (ADVICE r3). COALESCE(cnt, 0) restores the true CMS semantics
    `min_i grid[i][h_i(key)]` with empty cells reading 0."""
    pb = probes.select(
        key_col, _cells(F.col(key_col), depth, width).alias("rb")
    ).select(key_col, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    return (
        pb.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


def cms_heavy_hitters(
    keys: DataFrame,
    key_col: str = "term",
    k: int = 20,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Exact top-k keys with their CMS estimates side by side:
    (key_col, exact_cnt, cms_est, overcount). overcount = cms_est −
    exact_cnt is always >= 0 (the CMS one-sided error guarantee, now a
    value-checked column). Ties in the top-k cut break on ascending key."""
    exact = (
        keys.groupBy(key_col)
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc(key_col))
        .limit(k)
    )
    sketch = cms_build(keys, key_col, depth, width)
    est = cms_estimate(sketch, exact.select(key_col), key_col, depth, width)
    return exact.join(est, key_col).select(
        key_col,
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    )


def hll_daily_rollup(
    events: DataFrame,
    group_col: str = "event_type",
    key_col: str = "user_id",
    ts_col: str = "ts",
    rel_err_bound_pct: int = 5,
) -> DataFrame:
    """Mergeable-sketch rollup: per-(group, epoch-day) Apache DataSketches
    HLL partials (`hll_sketch_agg`) unioned per group (`hll_union_agg`) —
    the pre-aggregation pattern that answers "distinct users over ANY day
    range" at 100 TB by merging kilobyte sketches instead of re-scanning
    the fact table (exact COUNT(DISTINCT) shuffles every distinct value,
    and exact partials are NOT mergeable — 3 dedups/day don't sum to the
    cross-day dedup).

    Sketch bits are implementation-specific, so (like
    `lineitem_approx_profile`) the output carries the exact distinct
    count, the exact day count, and ONE integer assertion: the merged
    estimate is within `rel_err_bound_pct` of the exact count (HLL
    default lgK=12 ≈ 1.6% rsd, so 5% is a stable contract). The exact
    pass exists only to judge the sketches; a production rollup drops it.

    Output: (group_col, exact_users, n_days, hll_merge_ok)."""
    day = F.floor(F.unix_timestamp(ts_col) / F.lit(86400)).cast("long")
    daily = (
        events.select(group_col, day.alias("_day"), key_col)
        .groupBy(group_col, "_day")
        .agg(F.hll_sketch_agg(key_col).alias("_sk"))
    )
    merged = daily.groupBy(group_col).agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est"),
        F.count("*").alias("n_days"),
    )
    exact = events.groupBy(group_col).agg(
        F.count_distinct(key_col).alias("exact_users")
    )
    return exact.join(merged, group_col).select(
        group_col,
        "exact_users",
        "n_days",
        (
            F.abs(F.col("_est") - F.col("exact_users")) * F.lit(100)
            <= F.col("exact_users") * F.lit(rel_err_bound_pct)
        )
        .cast("int")
        .alias("hll_merge_ok"),
    )


def kll_value_rollup(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    k: int = 400,
    rank_tol: float = 0.03,
) -> DataFrame:
    """Mergeable QUANTILE rollup — the percentile twin of
    `hll_daily_rollup`: per-(group, epoch-day) Apache DataSketches KLL
    partials (`kll_sketch_agg_bigint`) merged per group
    (`kll_merge_agg_bigint`). At 100 TB this is how "p50/p95/p99 over ANY
    day range" stays interactive: kilobyte sketches merge in
    milliseconds, where exact percentiles re-sort the fact table per
    query (and exact per-day percentiles are NOT mergeable — a median of
    daily medians is not the median).

    Values integerize per row (1e-4 units, the repo recipe) so the
    sketch ingests exact BIGINTs. Sketch internals are implementation-
    specific, so (lineitem_approx_profile pattern) the output carries
    exact judge columns plus integer assertions computed IN-PLAN:

    - n_match: the merged sketch saw EXACTLY every row once (stream
      length == exact count — the mergeability witness: days partition
      the stream);
    - pXX_rank_ok: the merged sketch's quantile ESTIMATE lands between
      the exact discrete quantiles at p-rank_tol and p+rank_tol — the
      KLL rank-error guarantee restated in value space (the rank lookup
      itself needs a foldable argument, so the check runs this
      direction). k=400 gives ~0.8% one-sided normalized rank error at
      99% confidence, so 3% is a stable contract.

    Output: (group_col, n_events, n_match, p50_rank_ok, p95_rank_ok,
    p99_rank_ok) — all BIGINT, flags pinned 1 in the oracle."""
    base = kll_value_base(events, group_col, value_col, ts_col)
    daily = base.groupBy(group_col, "_day").agg(
        F.expr(f"kll_sketch_agg_bigint(_ve4, {k})").alias("_sk")
    )
    return kll_rollup_finalize(daily, base, group_col, rank_tol=rank_tol)


def kll_value_base(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """(group_col, _day, _ve4): the shared integerized input both the
    one-shot rollup and the streaming maintenance fold ingest — per-row
    1e-4 units (exact BIGINTs into the sketch) and the epoch day the
    partials key on."""
    ve4 = F.round(F.col(value_col) * 10000).cast("long")
    day = F.floor(F.unix_timestamp(ts_col) / F.lit(86400)).cast("long")
    return events.select(group_col, day.alias("_day"), ve4.alias("_ve4"))


def kll_rollup_finalize(
    daily_sketches: DataFrame,
    base: DataFrame,
    group_col: str = "event_type",
    rank_tol: float = 0.03,
) -> DataFrame:
    """Finalize the KLL rollup CONTRACT from a per-(group, _day) sketch
    table (column `_sk`) plus the exact base rows — shared by the
    one-shot `kll_value_rollup` and the STREAMING maintenance fold (r12:
    the drained per-day sketch state drops into the identical merge +
    judge-column tree, so the streaming twin's contract is
    value-identical by construction): merge per group, assert the merged
    sketch saw exactly every row once (n_match — for the streaming fold
    this is ALSO the exactly-once witness: a double-delivered batch
    double-counts the stream length), and assert each pXX estimate lands
    between the exact discrete quantiles at p±rank_tol."""
    merged = daily_sketches.groupBy(group_col).agg(
        F.expr("kll_merge_agg_bigint(_sk)").alias("_mg")
    )
    targets = {"p50": 0.5, "p95": 0.95, "p99": 0.99}
    bound_cols = []
    for label, p in targets.items():
        lo, hi = max(p - rank_tol, 0.0), min(p + rank_tol, 1.0)
        bound_cols += [
            F.expr(f"percentile_disc({lo}) WITHIN GROUP (ORDER BY _ve4)").alias(f"_{label}_lo"),
            F.expr(f"percentile_disc({hi}) WITHIN GROUP (ORDER BY _ve4)").alias(f"_{label}_hi"),
        ]
    exact = base.groupBy(group_col).agg(F.count("*").alias("n_events"), *bound_cols)
    flags = [
        F.expr(f"kll_sketch_get_quantile_bigint(_mg, CAST({p} AS DOUBLE))")
        .between(F.col(f"_{label}_lo"), F.col(f"_{label}_hi"))
        .cast("long")
        .alias(f"{label}_rank_ok")
        for label, p in targets.items()
    ]
    return exact.join(merged, group_col).select(
        group_col,
        "n_events",
        (F.expr("kll_sketch_get_n_bigint(_mg)") == F.col("n_events")).cast("long").alias("n_match"),
        *flags,
    )


def merge_sketch_cells(
    standing: DataFrame, delta: DataFrame, keys: list[str], union: str
) -> DataFrame:
    """Merge a delta of per-cell sketches into a standing sketch table,
    both keyed by `keys` with the sketch in `_sk`: a full-outer join on
    the keys, cells present on one side pass through, colliding cells
    merge with the binary SQL sketch function `union` (`hll_union`,
    `kll_sketch_merge_bigint`). Sketch merge is associative and
    order-independent, so the streaming maintenance folds apply it per
    micro-batch in any delivery order."""
    return standing.join(
        delta.withColumnRenamed("_sk", "_skb"), keys, "full_outer"
    ).select(
        *keys,
        F.expr(
            "CASE WHEN _sk IS NULL THEN _skb WHEN _skb IS NULL THEN _sk "
            f"ELSE {union}(_sk, _skb) END"
        ).alias("_sk"),
    )


def theta_audience_overlap(
    events: DataFrame,
    group_col: str = "event_type",
    key_col: str = "user_id",
    rel_err_bound_pct: int = 5,
) -> DataFrame:
    """Audience set algebra via Theta sketches: per-group distinct-key
    sketches (`theta_sketch_agg`), pairwise |A∩B| and |A∪B| estimated by
    `theta_intersection`/`theta_union` — the 100 TB answer to "how many
    users do segments A and B share?" across ANY segment combination
    without re-shuffling raw ids per pair (HLL can union but cannot
    intersect; exact pairwise COUNT(DISTINCT) is a per-pair shuffle).

    The pair table is the GROUP catalog squared (tiny); each cell is a
    kilobyte-sketch set operation. Judge columns (exact overlap/union
    from one distinct + one bounded self-join) ride along with integer
    in-plan assertions that both estimates land within
    `rel_err_bound_pct` (default nominal entries 4096 -> sketches are in
    EXACT mode until ~4k keys per group, so 5% is conservative).

    Output: (type_a, type_b, exact_overlap, exact_union, overlap_ok,
    union_ok) for every unordered group pair, zero-overlap pairs
    included."""
    per_group = events.groupBy(group_col).agg(
        F.expr(f"theta_sketch_agg({key_col})").alias("_tsk"),
        F.count_distinct(key_col).alias("_dk"),
    )
    pairs = (
        per_group.alias("a")
        .crossJoin(F.broadcast(per_group.alias("b")))
        .filter(F.expr(f"a.{group_col} < b.{group_col}"))
        .select(
            F.expr(f"a.{group_col}").alias("type_a"),
            F.expr(f"b.{group_col}").alias("type_b"),
            F.expr("a._dk").alias("_da"),
            F.expr("b._dk").alias("_db"),
            F.expr("CAST(ROUND(theta_sketch_estimate(theta_intersection(a._tsk, b._tsk))) AS BIGINT)").alias("_est_i"),
            F.expr("CAST(ROUND(theta_sketch_estimate(theta_union(a._tsk, b._tsk))) AS BIGINT)").alias("_est_u"),
        )
    )
    bi = events.select(group_col, key_col).distinct()
    overlap = (
        bi.alias("x")
        .join(bi.alias("y"), F.expr(f"x.{key_col} = y.{key_col} AND x.{group_col} < y.{group_col}"))
        .groupBy(
            F.expr(f"x.{group_col}").alias("type_a"),
            F.expr(f"y.{group_col}").alias("type_b"),
        )
        .agg(F.count("*").alias("_ov"))
    )
    slack = lambda exact: F.greatest(F.lit(1).cast("long"), (exact * rel_err_bound_pct / 100).cast("long"))  # noqa: E731
    return (
        pairs.join(F.broadcast(overlap), ["type_a", "type_b"], "left")
        .withColumn("exact_overlap", F.coalesce(F.col("_ov"), F.lit(0).cast("long")))
        .withColumn("exact_union", F.col("_da") + F.col("_db") - F.col("exact_overlap"))
        .select(
            "type_a",
            "type_b",
            "exact_overlap",
            "exact_union",
            (F.abs(F.col("_est_i") - F.col("exact_overlap")) <= slack(F.col("exact_overlap"))).cast("long").alias("overlap_ok"),
            (F.abs(F.col("_est_u") - F.col("exact_union")) <= slack(F.col("exact_union"))).cast("long").alias("union_ok"),
        )
    )


def theta_join_key_profile(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    rel_err_bound_pct: int = 5,
) -> DataFrame:
    """Pre-join key profiling from two 1-row Theta sketches — the
    query-planning use of sketch set algebra: before shuffling two fact
    tables, estimate how many DISTINCT join keys they share (and each
    side's key count) from kilobyte summaries. |shared| ~ 0 means the
    join is a filter (bloom-prune it); |shared| ~ |left keys| means it
    is an enrichment; either way the decision costs two scans' worth of
    map-side sketching and no shuffle of the keys themselves.

    Output (1 row): (left_keys, right_keys, exact_shared, shared_ok) —
    exact judge columns plus the in-plan flag that the theta
    intersection estimate lands within `rel_err_bound_pct` (sketches are
    exact below ~4k keys/side at default nominal entries).

    Scale shape: each side is ONE aggregate to a single sketch row
    (map-side partials merge sketches); the exact judge column is a
    distinct-project + broadcast-able self-contained count used only to
    grade the estimate."""
    ls = left.agg(
        F.expr(f"theta_sketch_agg({left_key})").alias("_lsk"),
        F.count_distinct(left_key).alias("left_keys"),
    )
    rs = right.agg(
        F.expr(f"theta_sketch_agg({right_key})").alias("_rsk"),
        F.count_distinct(right_key).alias("right_keys"),
    )
    exact = (
        left.select(F.col(left_key).alias("_k"))
        .distinct()
        .join(right.select(F.col(right_key).alias("_k")).distinct(), "_k")
        .agg(F.count("*").alias("exact_shared"))
    )
    est = F.expr("CAST(ROUND(theta_sketch_estimate(theta_intersection(_lsk, _rsk))) AS BIGINT)")
    slack = F.greatest(
        F.lit(1).cast("long"), (F.col("exact_shared") * rel_err_bound_pct / 100).cast("long")
    )
    return (
        ls.crossJoin(rs)
        .crossJoin(exact)
        .select(
            "left_keys",
            "right_keys",
            "exact_shared",
            (F.abs(est - F.col("exact_shared")) <= slack).cast("long").alias("shared_ok"),
        )
    )
