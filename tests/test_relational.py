"""Relational-core operator tests + DuckDB-oracle parity for every
SQL-expressible query (the driver's sf0.01 gate, run here at sf0.001 for
speed — SURVEY.md §5.1)."""

from __future__ import annotations

import pytest

import bench
from analyzing_big_data_in_scala_spark.plans.registry import QUERIES, shared_order
import analyzing_big_data_in_scala_spark.plans  # noqa: F401

from .conftest import SF_ORACLE, SF_SMALL
from .oracle_check import PINNED_SF, compare, duckdb_conn

ORACLE_QUERIES = sorted(
    name
    for name, spec in QUERIES.items()
    if spec.oracle is not None and name not in PINNED_SF
)


@pytest.fixture(scope="module")
def con():
    return duckdb_conn(SF_SMALL)


@pytest.mark.parametrize(
    "name, bench_path",
    [pytest.param(name, False, id=name) for name in ORACLE_QUERIES]
    # bench.py times a `uses=` query as its finalize over shared inputs
    # built once and materialized by the bench's rule: grade that path too.
    + [
        pytest.param(name, True, id=f"bench-{name}")
        for name in ORACLE_QUERIES
        if QUERIES[name].uses
    ],
)
def test_oracle_parity(spark, con, name, bench_path):
    spec = QUERIES[name]
    if bench_path:
        inputs: dict = {}
        for shared_name in shared_order(spec.uses):
            inputs[shared_name] = bench.build_input(spark, SF_SMALL, shared_name, inputs)
        df = bench.query_frame(spark, SF_SMALL, name, inputs)
    else:
        df = spec.fn(spark, SF_SMALL)
    result = compare(df, con, spec.oracle)
    assert result["values_match"], result


def test_entry_smoke(spark):
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "custkey" in df.columns

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30


def test_sql_surface_matches_dataframe_api(spark):
    """The SQL surface (spark.sql over registered views) and the DataFrame
    API compile to the same engine — same results."""
    from analyzing_big_data_in_scala_spark.sources.views import sql

    got = sql(
        spark,
        SF_SMALL,
        """
        SELECT o_orderpriority, COUNT(*) AS order_cnt,
               COUNT(DISTINCT o_custkey) AS distinct_customers
        FROM orders WHERE o_orderstatus <> 'F'
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
    ).collect()
    want = QUERIES["order_priority_counts"].fn(spark, SF_SMALL).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_sql_surface_reads_events_with_nanos_fix(spark):
    from analyzing_big_data_in_scala_spark.sources.views import sql

    row = sql(spark, SF_SMALL, "SELECT COUNT(*) AS n, MIN(ts) AS mn FROM events").first()
    assert row.n == 1000 and row.mn is not None


def test_asof_join_backward_semantics(spark):
    from analyzing_big_data_in_scala_spark.operators.asof import asof_join_backward

    quotes = spark.createDataFrame(
        [
            ("A", 10, 1.0),
            ("A", 20, 2.0),
            ("A", 30, 3.0),
            ("B", 15, 9.0),
        ],
        "sym string, qt long, px double",
    )
    trades = spark.createDataFrame(
        [
            (1, "A", 5),    # before any quote -> NULL
            (2, "A", 20),   # tie -> matches the quote AT 20 (at-or-before)
            (3, "A", 25),   # between -> quote at 20
            (4, "A", 99),   # after all -> quote at 30
            (5, "B", 14),   # before B's only quote -> NULL
            (6, "C", 50),   # key with no quotes -> NULL
        ],
        "trade_id long, sym string, tt long",
    )
    out = {
        r.trade_id: r.px
        for r in asof_join_backward(
            trades, quotes, "sym", "sym", "tt", "qt", ["px"]
        ).collect()
    }
    assert out == {1: None, 2: 2.0, 3: 2.0, 4: 3.0, 5: None, 6: None}


def test_range_join_matches_naive_and_handles_column_collisions(spark):
    from pyspark.sql import functions as F

    from analyzing_big_data_in_scala_spark.operators.asof import (
        range_join_points_in_intervals,
    )

    # `user_id` exists on BOTH sides (pins the ambiguous-column fix);
    # intervals span multiple buckets, sit inside one bucket, touch the
    # end-exclusive boundary, and include an inverted (e <= s) row that
    # must be dropped, not explode into a descending bucket sequence.
    points = spark.createDataFrame(
        [(1, "u1", 5), (2, "u1", 10), (3, "u1", 27), (4, "u2", 10), (5, "u3", 10)],
        "pid long, user_id string, t long",
    )
    intervals = spark.createDataFrame(
        [
            ("u1", 0, 10, "w1"),    # [0,10): pid 1 only (10 excluded)
            ("u1", 8, 30, "w2"),    # [8,30) spans buckets 0..2: pids 2,3
            ("u2", 9, 11, "w3"),    # within one bucket: pid 4
            ("u3", 20, 20, "w4"),   # empty interval -> no matches
            ("u3", 15, 5, "w5"),    # inverted -> dropped
        ],
        "user_id string, s long, e long, win string",
    )
    got = sorted(
        (r.pid, r.win)
        for r in range_join_points_in_intervals(
            points, intervals, "user_id", "user_id", "t", "s", "e", bucket_size=10
        ).collect()
    )
    naive = sorted(
        (r.pid, r.win)
        for r in points.alias("p")
        .join(
            intervals.alias("i"),
            (F.col("p.user_id") == F.col("i.user_id"))
            & (F.col("p.t") >= F.col("i.s"))
            & (F.col("p.t") < F.col("i.e")),
        )
        .collect()
    )
    assert got == naive == [(1, "w1"), (2, "w2"), (3, "w2"), (4, "w3")]


def test_approx_profile_within_tolerance_of_exact(spark):
    from pyspark.sql import functions as F

    from analyzing_big_data_in_scala_spark.plans.relational_queries import (
        lineitem_approx_profile,
    )
    from analyzing_big_data_in_scala_spark.sources.catalog import load_table

    # The query evaluates its own accuracy contracts distributedly (HLL
    # rel-err <= 10%, GK percentiles inside the exact ±0.01-rank quantile
    # bracket) and emits one integer assertion per sketch — the same row
    # the driver value-checks against the constant-1 oracle.
    row = lineitem_approx_profile(spark, SF_SMALL).first()
    l = load_table(spark, SF_SMALL, "lineitem")
    assert row.n_rows == l.count()
    for c in (
        "orders_hll_ok",
        "parts_hll_ok",
        "suppliers_hll_ok",
        "price_p50_ok",
        "price_p90_ok",
        "price_p99_ok",
        "qty_p50_ok",
    ):
        assert getattr(row, c) == 1, c


def test_asof_nearest_semantics_and_plan(spark):
    """Nearest as-of: closer side wins, equidistant ties go backward,
    tolerance bounds both directions; the plan keeps ONE hash exchange
    (the two direction carries are two sorts over the same key
    partitioning, not two shuffles)."""
    from analyzing_big_data_in_scala_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame(
        [(1, 1, 10), (2, 1, 14), (3, 1, 100), (4, 2, 5)],
        "lid long, k long, t long",
    )
    right = spark.createDataFrame(
        [(1, 8, "a"), (1, 13, "b"), (1, 18, "c")], "k long, rt long, v string"
    )
    out = asof_join_nearest(left, right, "k", "k", "t", "rt", ["v", "rt"], tolerance=50)
    # Plan asserted BEFORE execution: the post-collect AQE final-plan
    # string renders the same logical exchange twice (initial + adaptive
    # copy), which double-counts.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    got = {r.lid: (r.v, r.rt) for r in out.collect()}
    assert got == {
        1: ("a", 8),      # |10-8|=2 beats |10-13|=3
        2: ("b", 13),     # |14-13|=1
        3: (None, None),  # nearest (18) is 82 away > tol 50
        4: (None, None),  # key 2 has no right rows
    }


def test_asof_nearest_tie_goes_backward(spark):
    from analyzing_big_data_in_scala_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame([(1, 1, 4)], "lid long, k long, t long")
    right = spark.createDataFrame(
        [(1, 2, "before"), (1, 6, "after")], "k long, rt long, v string"
    )
    rows = asof_join_nearest(left, right, "k", "k", "t", "rt", ["v"]).collect()
    assert rows[0]["v"] == "before"


def test_asof_join_rejects_column_collisions(spark):
    import pytest

    from analyzing_big_data_in_scala_spark.operators.asof import asof_join_backward

    right = spark.createDataFrame([("A", 1, 1.0)], "sym string, qt long, px double")
    # Left column shadowing an internal scratch name would silently corrupt
    # the union-with-shared-names construction.
    bad_left = spark.createDataFrame([(1, "A", 5)], "_side long, sym string, tt long")
    with pytest.raises(ValueError, match="internal names"):
        asof_join_backward(bad_left, right, "sym", "sym", "tt", "qt", ["px"])
    # right_vals already present on the left -> ambiguous output.
    px_left = spark.createDataFrame([(1.0, "A", 5)], "px double, sym string, tt long")
    with pytest.raises(ValueError, match="already exist"):
        asof_join_backward(px_left, right, "sym", "sym", "tt", "qt", ["px"])
    with pytest.raises(ValueError, match="not in right"):
        asof_join_backward(
            spark.createDataFrame([(1, "A", 5)], "trade_id long, sym string, tt long"),
            right, "sym", "sym", "tt", "qt", ["nope"],
        )
    # Duplicate or case-colliding right_vals (Spark resolves struct fields
    # case-insensitively by default) would otherwise surface as an
    # ambiguous-field AnalysisException at execution time (ADVICE r7).
    ok_left = spark.createDataFrame([(1, "A", 5)], "trade_id long, sym string, tt long")
    with pytest.raises(ValueError, match="duplicate/case-colliding"):
        asof_join_backward(ok_left, right, "sym", "sym", "tt", "qt", ["px", "px"])
    right_cased = spark.createDataFrame([("A", 1, 1.0, 2.0)], "sym string, qt long, px double, PX double")
    with pytest.raises(ValueError, match="duplicate/case-colliding"):
        asof_join_backward(ok_left, right_cased, "sym", "sym", "tt", "qt", ["px", "PX"])


def test_hash_sample_threshold_rounds_not_truncates(spark):
    from analyzing_big_data_in_scala_spark.operators.sampling import hash_sample

    df = spark.range(0, 1)
    # 0.29 * 100 = 28.999999999999996 under binary floats; int() would give
    # threshold 28, round() the intended 29.
    assert round(0.29 * 100) == 29 and int(0.29 * 100) == 28
    # The predicate must embed the rounded literal.
    explained = (
        hash_sample(df, "id", 0.29, buckets=100)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "< cast(29 as bigint)" in explained


def test_hash_sampling_is_stable_and_contamination_proof(spark):
    from pyspark.sql import functions as F

    from analyzing_big_data_in_scala_spark.operators.sampling import (
        hash_sample,
        split_by_hash,
        stratified_sample,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")

    # Assignment is a pure function of the key: re-running and re-splitting
    # a SUBSET (an older corpus version) must agree row-for-row.
    full = {r.doc_id: r.split for r in split_by_hash(df, "doc_id").collect()}
    subset = {
        r.doc_id: r.split
        for r in split_by_hash(df.filter("doc_id < 500"), "doc_id").collect()
    }
    assert subset == {k: v for k, v in full.items() if k < 500}
    assert 0.05 < sum(v == "test" for v in full.values()) / 2000 < 0.15

    sampled = {r.doc_id for r in hash_sample(df, "doc_id", 0.25).collect()}
    assert 0.20 < len(sampled) / 2000 < 0.30
    assert sampled == {r.doc_id for r in hash_sample(df, "doc_id", 0.25).collect()}
    # Different salts decorrelate decisions: the test split inside the
    # sample must not be systematically the sample's own low buckets.
    test_in_sample = {k for k, v in full.items() if v == "test"} & sampled
    assert 0 < len(test_in_sample) < len(sampled)

    strat = df.withColumn("bin", (F.col("doc_id") % 2).cast("string"))
    s1 = sorted(r.doc_id for r in stratified_sample(strat, "bin", {"0": 0.5, "1": 0.1}).collect())
    s2 = sorted(r.doc_id for r in stratified_sample(strat, "bin", {"0": 0.5, "1": 0.1}).collect())
    assert s1 == s2 and 0 < len(s1) < 2000


def test_json_and_orc_round_trip(spark, tmp_path):
    from analyzing_big_data_in_scala_spark.sources import catalog as C

    df = C.load_table(spark, SF_SMALL, "nation")
    want = sorted(tuple(r) for r in df.collect())

    jp = str(tmp_path / "nation_json")
    C.write_json(df, jp, partition_by=["n_regionkey"])
    back_j = C.read_json(
        spark, jp, schema="n_nationkey bigint, n_name string, n_comment string"
    )
    # partitionBy moves n_regionkey into the directory layout; it comes
    # back as a partition column on read.
    got_j = sorted(tuple(r) for r in back_j.select(*df.columns).collect())
    assert got_j == want

    op = str(tmp_path / "nation_orc")
    C.write_orc(df, op)
    got_o = sorted(tuple(r) for r in C.read_orc(spark, op).select(*df.columns).collect())
    assert got_o == want


def test_compact_parquet_reduces_files_and_preserves_data(spark, tmp_path):
    from pyspark.sql import functions as F

    from analyzing_big_data_in_scala_spark.sources.compaction import (
        compact_parquet,
        dataset_file_stats,
        plan_compaction,
    )

    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(path)
    n_before, total = dataset_file_stats(path)
    assert n_before == 64

    # Target sized so the plan wants a handful of files, not 64.
    target = max(1, total // 4)
    result = compact_parquet(spark, path, target_file_bytes=target)
    assert result["skipped"] is False
    assert result["files_before"] == 64
    assert result["files_after"] == plan_compaction(total, target) <= 8

    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]

    # Already compact -> no-op, no rewrite.
    again = compact_parquet(spark, path, target_file_bytes=target)
    assert again["skipped"] is True and again["files_after"] == result["files_after"]


def test_distributed_running_sum_matches_global_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from analyzing_big_data_in_scala_spark.operators.packing import (
        distributed_running_sum,
        pack_token_shards,
    )

    df = spark.range(0, 5_000).select(
        F.col("id").alias("doc_id"), (F.pmod(F.col("id") * 37, 100) + 1).alias("v")
    )
    got = {
        r.doc_id: r.running_sum
        for r in distributed_running_sum(
            df, "doc_id", "v", F.floor(F.col("doc_id") / 128)
        ).collect()
    }
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.doc_id: r.rs
        for r in df.withColumn("rs", F.sum("v").over(w)).collect()
    }
    assert got == want

    # The big-side window partitions by the bucket key — the dataset-wide
    # frame never passes through a single window partition.
    plan = (
        distributed_running_sum(df, "doc_id", "v", F.floor(F.col("doc_id") / 128))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "_bkt" in plan

    shards = pack_token_shards(df.withColumnRenamed("v", "n_tokens"), "n_tokens", 5_000)
    rows = sorted((r.doc_id, r.n_tokens, r.running_tokens, r.shard) for r in shards.collect())
    # Shard ids start at 0 and step monotonically by at most 1 in doc order;
    # each doc's shard is exactly floor(start_offset / budget).
    assert rows[0][3] == 0
    prev_shard = 0
    for _doc_id, n_tokens, run, shard in rows:
        assert shard in (prev_shard, prev_shard + 1)
        prev_shard = shard
        assert shard == (run - n_tokens) // 5_000


def test_mixture_keep_rates_downsample_only():
    from analyzing_big_data_in_scala_spark.operators.sampling import mixture_keep_rates

    # Binding source is c: its observed share (100/1600) falls shortest of
    # its 0.2 target, so it keeps rate 1.0 and the others thin around it.
    rates = mixture_keep_rates(
        {"a": 1000, "b": 500, "c": 100}, {"a": 0.5, "b": 0.3, "c": 0.2}
    )
    assert rates == pytest.approx({"a": 0.25, "b": 0.3, "c": 1.0})
    # Resulting kept counts 250/150/100 hit the 0.5/0.3/0.2 mixture exactly.
    kept = {s: rates[s] * n for s, n in {"a": 1000, "b": 500, "c": 100}.items()}
    total = sum(kept.values())
    assert {s: k / total for s, k in kept.items()} == pytest.approx(
        {"a": 0.5, "b": 0.3, "c": 0.2}
    )

    with pytest.raises(ValueError, match="unknown sources"):
        mixture_keep_rates({"a": 10}, {"a": 0.5, "b": 0.5})
    with pytest.raises(ValueError, match="sum to 1"):
        mixture_keep_rates({"a": 10}, {"a": 0.7})


def test_source_mixture_sample_deterministic(spark):
    from pyspark.sql import functions as F

    from analyzing_big_data_in_scala_spark.operators.sampling import (
        source_mixture_sample,
    )

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 4).cast("string")).alias("source"),
    )
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    out = source_mixture_sample(df, rates, key="doc_id")
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts["src0"] == 500              # rate 1.0 keeps every row
    assert "src2" not in counts               # explicit rate 0 drops all
    assert "src3" not in counts               # unlisted source drops all
    assert 150 <= counts["src1"] <= 350       # ~250 expected, hash-decided
    # Exact membership is a pure function of (doc_id, source): reruns agree.
    again = source_mixture_sample(df, rates, key="doc_id")
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_conversion_funnel_strict_ordering(spark):
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [
            # user 1: the canonical path, strictly ordered.
            (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
            # user 2: purchase happens BEFORE the first click-after-view —
            # reaches stage 2 but must NOT count as converted.
            (2, "view", 10), (2, "purchase", 20), (2, "click", 30),
            # user 3: views only.
            (3, "view", 10), (3, "click", 5),  # click precedes the view
        ],
        "user_id long, event_type string, off long",
    ).select(
        "user_id", "event_type",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("off")).alias("ts"),
    )

    t1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    t2 = (
        ev.filter(F.col("event_type") == "click").join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1")).groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase").join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2")).groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    assert sorted(r.user_id for r in t1.collect()) == [1, 2, 3]
    assert sorted(r.user_id for r in t2.collect()) == [1, 2]  # user 3's click was pre-view
    assert sorted(r.user_id for r in t3.collect()) == [1]     # user 2's purchase pre-click


def test_ml_pinned_constants(spark):
    """Re-derive the ml_sentiment_metrics pinned constants oracle at its
    pinned scale (sf0.01): the hash split + fixed CV seed make the
    confusion matrix a constant there, and this is the one place the
    constant is re-checked outside the external driver."""
    spec = QUERIES["ml_sentiment_metrics"]
    con = duckdb_conn(SF_ORACLE)
    result = compare(spec.fn(spark, SF_ORACLE), con, spec.oracle)
    assert result["values_match"], result


def test_entity_clusters_transitive_and_singletons(spark):
    """A~B and B~C (distance 1 each) must land in ONE entity even when
    A~C is distance 2; unmatched records are singleton entities."""
    from pyspark.sql import functions as F

    from analyzing_big_data_in_scala_spark.operators.linkage import entity_clusters

    df = spark.createDataFrame(
        [(1, "smith"), (2, "smithy"), (3, "smithys"), (9, "unrelated")],
        "id long, name string",
    )
    got = {
        r.id: (r.entity_id, r.cluster_size)
        for r in entity_clusters(df, "id", "name", block=F.substring("name", 1, 3)).collect()
    }
    assert got == {1: (1, 3), 2: (1, 3), 3: (1, 3), 9: (9, 1)}


def test_revenue_cube_lattice_consistency(spark):
    """The CUBE's four grouping sets must be internally consistent: the
    grand-total row equals the direct aggregate, and each rolled-up level
    sums to the same total (additivity of the lattice)."""
    from analyzing_big_data_in_scala_spark.plans.relational_queries import revenue_cube

    sf_dir = "/root/testdata/sf0.001"
    out = revenue_cube(spark, sf_dir).collect()
    flags = {(r["g_nation"], r["g_year"]) for r in out}
    assert flags == {(0, 0), (0, 1), (1, 0), (1, 1)}

    grand = [r for r in out if (r["g_nation"], r["g_year"]) == (1, 1)]
    assert len(grand) == 1
    base = [r for r in out if (r["g_nation"], r["g_year"]) == (0, 0)]
    assert sum(r["rev_e2"] for r in base) == grand[0]["rev_e2"]
    assert sum(r["n_orders"] for r in base) == grand[0]["n_orders"]
    per_nation = [r for r in out if (r["g_nation"], r["g_year"]) == (0, 1)]
    assert sum(r["rev_e2"] for r in per_nation) == grand[0]["rev_e2"]
    # rolled-up level NULLs carry flag=1, real keys are non-null at flag=0
    assert all(r["nation"] is not None for r in base)
    assert all(r["o_year"] is None for r in per_nation)


def _overlap_fixture(spark):
    # Intervals engineered to exercise: multi-bucket spans (bucket=10),
    # touching endpoints, containment, disjoint, inverted (dropped),
    # degenerate point intervals, and a key that never matches.
    left = spark.createDataFrame(
        [
            (1, 0, 35),    # spans buckets 0..3
            (1, 50, 50),   # degenerate point
            (1, 80, 70),   # inverted -> dropped
            (2, 10, 20),
            (3, 0, 5),     # key with no right rows
        ],
        "k long, s long, e long",
    )
    right = spark.createDataFrame(
        [
            (1, 30, 90),   # overlaps [0,35] on [30,35]; [50,50] inside
            (1, 35, 35),   # touches [0,35] at the endpoint exactly
            (1, 36, 40),   # disjoint from [0,35]
            (2, 21, 30),   # disjoint (touch fails: 20 < 21)
            (2, 5, 10),    # touches [10,20] at 10
        ],
        "k long, rs long, re long",
    )
    return left, right


def test_interval_overlap_join_matches_naive_join(spark):
    from analyzing_big_data_in_scala_spark.operators.asof import interval_overlap_join

    left, right = _overlap_fixture(spark)
    got = sorted(
        (r["k"], r["s"], r["e"], r["rs"], r["re"], r["overlap_start"],
         r["overlap_end"], r["overlap_len"])
        for r in interval_overlap_join(
            left, right, "k", "k", "s", "e", "rs", "re", bucket_size=10
        ).collect()
    )
    naive = sorted(
        (l["k"], l["s"], l["e"], r["rs"], r["re"], max(l["s"], r["rs"]),
         min(l["e"], r["re"]), min(l["e"], r["re"]) - max(l["s"], r["rs"]))
        for l in left.collect() if l["e"] >= l["s"]
        for r in right.collect()
        if l["k"] == r["k"] and l["s"] <= r["re"] and r["rs"] <= l["e"]
    )
    assert got == naive
    # the multi-bucket pair ([0,35] x [30,90] shares buckets 3..3 only via
    # greatest-start, but [0,35] x [35,35] shares bucket 3 too) is emitted
    # exactly once each — guaranteed by the equality with naive, which has
    # no duplicates by construction
    assert len(got) == len(set(got))
    # touching endpoints included, inverted dropped, lonely key absent
    assert (1, 0, 35, 35, 35, 35, 35, 0) in got
    assert not any(row[1] == 80 for row in got)
    assert not any(row[0] == 3 for row in got)


def test_interval_join_reserved_name_guards(spark):
    """`_b` (internal bucket) and the overlap output names must be
    refused up front — withColumn/select would silently clobber or
    shadow them (r9 ADVICE)."""
    import pytest

    from analyzing_big_data_in_scala_spark.operators.asof import (
        interval_overlap_join,
        range_join_points_in_intervals,
    )

    plain = spark.createDataFrame([(1, 0, 10)], "k long, s long, e long")
    with_b = spark.createDataFrame([(1, 0, 10, 9)], "k long, s long, e long, _b long")
    with_out = spark.createDataFrame(
        [(1, 0, 10, 9)], "k long, s long, e long, overlap_len long"
    )
    for bad_left, bad_right in ((with_b, plain), (plain, with_b)):
        with pytest.raises(ValueError, match="_b"):
            interval_overlap_join(
                bad_left, bad_right, "k", "k", "s", "e", "s", "e", bucket_size=10
            )
    with pytest.raises(ValueError, match="overlap_len"):
        interval_overlap_join(
            plain, with_out, "k", "k", "s", "e", "s", "e", bucket_size=10
        )
    pts = spark.createDataFrame([(1, 5, 7)], "k long, v long, _b long")
    with pytest.raises(ValueError, match="_b"):
        range_join_points_in_intervals(
            pts, plain, "k", "k", "v", "s", "e", bucket_size=10
        )


def test_interval_coalesce_hand_computed(spark):
    """[0,10]+[5,20]+[20,25] chain into one [0,25] segment (touching
    endpoints coalesce); [40,50] opens segment 2 after the gap; the
    inverted [9,3] is dropped; key 2's lone point [7,7] is a
    zero-length segment."""
    from analyzing_big_data_in_scala_spark.operators.asof import interval_coalesce

    df = spark.createDataFrame(
        [(1, 0, 10), (1, 5, 20), (1, 20, 25), (1, 40, 50), (1, 9, 3), (2, 7, 7)],
        "k long, s long, e long",
    )
    got = sorted(
        (r["k"], r["segment_id"], r["seg_start"], r["seg_end"],
         r["seg_len"], r["n_merged"])
        for r in interval_coalesce(df, "k", "s", "e").collect()
    )
    assert got == [
        (1, 1, 0, 25, 25, 3),
        (1, 2, 40, 50, 10, 1),
        (2, 1, 7, 7, 0, 1),
    ]


def test_interval_coalesce_single_exchange(spark):
    """Gaps-and-islands must plan as ONE hash exchange: both window
    passes and the closing (key, island) aggregate share the key
    partitioning (the run_length_encode shape)."""
    from analyzing_big_data_in_scala_spark.operators.asof import interval_coalesce

    df = spark.createDataFrame(
        [(i % 5, i * 3 % 97, i * 3 % 97 + i % 11) for i in range(200)],
        "k long, s long, e long",
    )
    plan = (
        interval_coalesce(df, "k", "s", "e")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_interval_coalesce_max_gap(spark):
    """max_gap=5 merges a 3-gap, splits a 6-gap; negative gap rejected."""
    import pytest

    from analyzing_big_data_in_scala_spark.operators.asof import interval_coalesce

    df = spark.createDataFrame(
        [(1, 0, 10), (1, 13, 20), (1, 26, 30)], "k long, s long, e long"
    )
    got = sorted(
        (r["segment_id"], r["seg_start"], r["seg_end"], r["n_merged"])
        for r in interval_coalesce(df, "k", "s", "e", max_gap=5).collect()
    )
    assert got == [(1, 0, 20, 2), (2, 26, 30, 1)]
    with pytest.raises(ValueError, match="max_gap"):
        interval_coalesce(df, "k", "s", "e", max_gap=-1)


def test_interval_coalesce_rejects_reserved_names(spark):
    import pytest

    from analyzing_big_data_in_scala_spark.operators.asof import interval_coalesce

    df = spark.createDataFrame([(1, 0, 1, 9)], "k long, s long, e long, seg_len long")
    with pytest.raises(ValueError, match="seg_len"):
        interval_coalesce(df, "k", "s", "e")


def test_interval_overlap_join_exactly_once_across_many_buckets(spark):
    """A pair overlapping across MANY shared buckets must still emit one
    row (the greatest-start bucket rule, not a dedup pass)."""
    from analyzing_big_data_in_scala_spark.operators.asof import interval_overlap_join

    left = spark.createDataFrame([(1, 0, 1000)], "k long, s long, e long")
    right = spark.createDataFrame([(1, 5, 995)], "k long, rs long, re long")
    rows = interval_overlap_join(
        left, right, "k", "k", "s", "e", "rs", "re", bucket_size=10
    ).collect()
    assert len(rows) == 1
    assert (rows[0]["overlap_start"], rows[0]["overlap_end"], rows[0]["overlap_len"]) == (5, 995, 990)


def test_bucketed_operator_guards(spark):
    """The r10-s2 skew-resistant variants refuse bad bucket sizes and
    scratch-name collisions up front (the same hardening contract as the
    interval family): a `_bk`/`_rvl`/`_ci` column on the as-of left side
    or a `_bk`/`run_id` column on the RLE input would be silently
    clobbered mid-plan otherwise."""
    import pytest

    from analyzing_big_data_in_scala_spark.operators.asof import (
        asof_join_backward_bucketed,
    )
    from analyzing_big_data_in_scala_spark.operators.sequence import (
        run_length_encode_bucketed,
    )

    left = spark.createDataFrame([(1, 5)], "k long, t long")
    right = spark.createDataFrame([(1, 3, 9)], "k long, t long, v long")
    with pytest.raises(ValueError, match="bucket_size"):
        asof_join_backward_bucketed(left, right, "k", "k", "t", "t", ["v"], bucket_size=0)
    bad_left = spark.createDataFrame([(1, 5, 0)], "k long, t long, _bk long")
    with pytest.raises(ValueError, match="_bk"):
        asof_join_backward_bucketed(
            bad_left, right, "k", "k", "t", "t", ["v"], bucket_size=10
        )

    ev = spark.createDataFrame(
        [(1, 5, "a", 1)], "user_id long, ts long, event_type string, event_id long"
    )
    with pytest.raises(ValueError, match="bucket_size"):
        run_length_encode_bucketed(ev, bucket_size=-1)
    bad_ev = spark.createDataFrame(
        [(1, 5, "a", 1, 2)],
        "user_id long, ts long, event_type string, event_id long, run_id long",
    )
    with pytest.raises(ValueError, match="run_id"):
        run_length_encode_bucketed(bad_ev, bucket_size=10)
