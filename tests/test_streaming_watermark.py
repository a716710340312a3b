"""Watermark semantics under real multi-batch streaming: a record arriving
AFTER the watermark has passed its window is dropped — behavior that
`availableNow`-drained single-batch tests can't exercise (SURVEY.md §7.5
extension surface).

Empirical Spark subtlety this test respects: the watermark computed from
batch N's data becomes EFFECTIVE for filtering in batch N+2 (it is
committed at the end of batch N and first applied to input in the batch
after next), so the late row ships in a third file, two batches after the
events that advanced the watermark.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import functions as F

BASE = 1_700_000_400  # 600-aligned epoch so window starts land on offsets


def _rows(spark, *offsets_minutes):
    return spark.createDataFrame(
        [(i, o) for i, o in enumerate(offsets_minutes)], "id long, off long"
    ).select("id", F.timestamp_seconds(F.lit(BASE) + F.col("off") * 60).alias("ts"))


def _write_one_parquet(df, tmpdir: str, name: str, mtime: float) -> None:
    staging = os.path.join(tmpdir, f"_stage_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
    dest = os.path.join(tmpdir, "stream", name)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    shutil.move(part, dest)
    os.utime(dest, (mtime, mtime))


def test_watermark_drops_late_event(spark, tmp_path):
    tmpdir = str(tmp_path)
    now = time.time()
    # batch 1: window [0,10) gets minutes 2 and 5; minute 59 will push the
    # watermark to 29 once committed.
    _write_one_parquet(_rows(spark, 2, 5, 59), tmpdir, "b1.parquet", now - 300)
    # batch 2: fresh minute-90 event; advances the watermark further (to 60
    # after commit) and makes batch 1's watermark effective downstream.
    _write_one_parquet(_rows(spark, 90), tmpdir, "b2.parquet", now - 200)
    # batch 3: the LATE event — minute 5 again, far behind the effective
    # watermark (>= 29) -> must be dropped; minute 120 keeps things moving.
    _write_one_parquet(_rows(spark, 5, 120), tmpdir, "b3.parquet", now - 100)

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(os.path.join(tmpdir, "stream"))
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(((F.unix_timestamp("w.start") - BASE) / 60).cast("int").alias("start_min"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_watermark_drop")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = {r.start_min: r.n for r in spark.table("t_watermark_drop").collect()}
    # window [0,10): exactly the 2 batch-1 events; the batch-3 late
    # duplicate at minute 5 was behind the watermark and NOT counted.
    assert out[0] == 2, out
    # the minute-59 window finalized as the watermark passed it.
    assert out.get(50) == 1, out
    # the minute-90/120 windows are NOT here: the watermark only passed
    # them at the end of the final batch, and append-mode emission needs a
    # subsequent batch — also correct semantics.
    assert 90 not in out and 120 not in out, out


def test_drop_duplicates_within_watermark_across_batches(spark, tmp_path):
    """Cross-batch dedup state: a key seen in batch 1 suppresses its batch-2
    duplicate (within the watermark delay), while a fresh key passes."""
    from analyzing_big_data_in_scala_spark.streaming.stream import run_available_now

    tmpdir = str(tmp_path)
    now = time.time()

    def _kv(*pairs):
        return spark.createDataFrame(
            [(k, o) for k, o in pairs], "k string, off long"
        ).select(
            "k", F.timestamp_seconds(F.lit(BASE) + F.col("off") * 60).alias("ts")
        )

    # batch 1: key a (twice in-batch), key b.
    _write_one_parquet(_kv(("a", 0), ("a", 1), ("b", 2)), tmpdir, "b1.parquet", now - 300)
    # batch 2: key a AGAIN (cross-batch dup, 3 min later — inside the 1h
    # delay) and fresh key c.
    _write_one_parquet(_kv(("a", 4), ("c", 5)), tmpdir, "b2.parquet", now - 200)

    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(os.path.join(tmpdir, "stream"))
    )
    dedup = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["k"])
    mat = run_available_now(dedup, output_mode="append")
    kept = sorted(r.k for r in mat.select("k").collect())
    assert kept == ["a", "b", "c"]  # one survivor per key, across batches


def test_streaming_incremental_rollup_folds_multiple_batches(spark):
    """The staged multi-file source must deliver MULTIPLE micro-batches
    (a single batch would make the incremental fold vacuous), and the
    folded standing aggregate must equal the one-shot batch rollup."""
    from pyspark.sql import functions as F

    from analyzing_big_data_in_scala_spark.plans.registry import QUERIES
    import analyzing_big_data_in_scala_spark.plans  # noqa: F401
    from analyzing_big_data_in_scala_spark.sources.catalog import load_events

    sf = "/root/testdata/sf0.001"
    out = QUERIES["streaming_incremental_rollup"].fn(spark, sf)
    batch = (
        load_events(spark, sf)
        .groupBy(
            F.floor(F.unix_timestamp("ts") / 600).cast("long").alias("bucket"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias("sum_value_e4"),
        )
    )
    got = {(r.bucket, r.event_type): (r.n, r.sum_value_e4) for r in out.collect()}
    want = {(r.bucket, r.event_type): (r.n, r.sum_value_e4) for r in batch.collect()}
    assert got == want
    # A multi-file staged source under maxFilesPerTrigger=1 must have folded
    # at least twice — i.e. some groups were merged across batches, which
    # only happens via apply_agg_delta (event_id ranges don't align with
    # time buckets, so buckets straddle file splits). The query surfaces
    # its micro-batch count precisely so this isn't vacuously green when
    # everything arrives in one batch.
    from analyzing_big_data_in_scala_spark.streaming import stream as ST

    assert len(got) > 0
    assert ST.LAST_DRAIN_BATCHES is not None and ST.LAST_DRAIN_BATCHES >= 2, (
        f"expected >= 2 micro-batches, got {ST.LAST_DRAIN_BATCHES}"
    )


def test_streaming_session_windows_match_batch_across_batches(spark):
    """STREAMING session_window drain == batch sessionization, and the
    staged multi-file source actually delivered multiple micro-batches (so the
    state store really extended/merged open sessions across batches)."""
    from analyzing_big_data_in_scala_spark.plans import QUERIES
    from analyzing_big_data_in_scala_spark.streaming import stream as ST

    sf = "/root/testdata/sf0.001"
    out = QUERIES["streaming_session_windows"].fn(spark, sf)
    batch = QUERIES["events_session_window_native"].fn(spark, sf)
    got = {(r.user_id, r.session_start): (r.n_events, r.sum_value) for r in out.collect()}
    want = {(r.user_id, r.session_start): (r.n_events, r.sum_value) for r in batch.collect()}
    assert got == want and len(got) > 0
    assert ST.LAST_DRAIN_BATCHES is not None and ST.LAST_DRAIN_BATCHES >= 2, (
        f"expected >= 2 micro-batches, got {ST.LAST_DRAIN_BATCHES}"
    )


def test_streaming_user_totals_match_batch_group_by(spark):
    """The stateful running-totals drain (last emission per user) must
    equal the batch GROUP BY."""
    from analyzing_big_data_in_scala_spark.plans import QUERIES
    from analyzing_big_data_in_scala_spark.sources.catalog import load_events

    sf = "/root/testdata/sf0.001"
    out = QUERIES["streaming_user_totals"].fn(spark, sf)
    batch = (
        load_events(spark, sf)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias("sum_value_e4"),
        )
    )
    got = {(r.user_id): (r.n_events, r.sum_value_e4) for r in out.collect()}
    want = {(r.user_id): (r.n_events, r.sum_value_e4) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_streaming_hll_sketch_maintenance_incremental_and_accurate(spark):
    """The sketch fold must run over >= 2 real micro-batches (staged
    multi-file source), and the drained per-type estimates must meet the 5% contract —
    including cross-BATCH user dedup (the same user arrives in several
    micro-batches; sketch union must count them once, which the exact
    judge columns verify)."""
    from analyzing_big_data_in_scala_spark.plans.registry import QUERIES
    from analyzing_big_data_in_scala_spark.streaming import stream as ST

    from .conftest import SF_SMALL

    rows = QUERIES["streaming_hll_sketch_maintenance"].fn(spark, SF_SMALL).collect()
    assert ST.LAST_DRAIN_BATCHES is not None and ST.LAST_DRAIN_BATCHES >= 2
    assert rows and all(r.hll_stream_ok == 1 for r in rows)
    assert all(r.n_days >= 1 and r.exact_users >= 1 for r in rows)


def test_streaming_cms_fold_value_identical_to_batch(spark):
    """The drained per-batch CMS fold must reproduce the one-shot batch
    sketch BIT-FOR-BIT (integer cell addition is order-independent), and
    it must have run over >= 2 real micro-batches."""
    from analyzing_big_data_in_scala_spark.plans.registry import QUERIES
    from analyzing_big_data_in_scala_spark.streaming import stream as ST

    from .conftest import SF_SMALL

    streamed = {
        r.term: (r.exact_cnt, r.cms_est, r.overcount)
        for r in QUERIES["streaming_cms_heavy_hitters"].fn(spark, SF_SMALL).collect()
    }
    assert ST.LAST_DRAIN_BATCHES is not None and ST.LAST_DRAIN_BATCHES >= 2
    batch = {
        r.term: (r.exact_cnt, r.cms_est, r.overcount)
        for r in QUERIES["terms_cms_heavy_hitters"].fn(spark, SF_SMALL).collect()
    }
    assert streamed == batch
    assert all(over >= 0 for (_, _, over) in streamed.values())


def test_drains_leave_no_tables_behind(spark):
    """Every drain removes what it registered: three calls each of two
    memory-sink queries and the staged stateful query leave the session
    catalog exactly as they found it."""
    from analyzing_big_data_in_scala_spark.plans import QUERIES

    from .conftest import SF_SMALL

    before = sorted(t.name for t in spark.catalog.listTables())
    for name in (
        "streaming_sentiment_counts",
        "streaming_user_totals",
        "streaming_tumbling_counts",
    ):
        for _ in range(3):
            assert QUERIES[name].fn(spark, SF_SMALL).count() > 0
    assert sorted(t.name for t in spark.catalog.listTables()) == before


def test_fold_deltas_standing_frame_equals_one_shot_aggregate(spark):
    """fold_deltas over a two-file staged stream: the standing frame equals
    the one-shot aggregate over the whole input, and `merge` ran once for
    every micro-batch after the first."""
    from analyzing_big_data_in_scala_spark.operators.merge import apply_agg_delta
    from analyzing_big_data_in_scala_spark.sources.catalog import load_events
    from analyzing_big_data_in_scala_spark.streaming import stream as ST

    from .conftest import SF_SMALL

    ev = load_events(spark, SF_SMALL).select("event_id", "event_type", "value")

    def delta(df):
        return df.groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum("event_id").alias("s")
        )

    merges = []

    def merge(standing, d):
        merges.append(d)
        return apply_agg_delta(
            standing, d, keys=["event_type"], measures=["n", "s"], count_col="n"
        )

    with ST.staged_stream(spark, ev, "event_id") as stream:
        got = ST.fold_deltas(stream, delta, merge)
    assert ST.LAST_DRAIN_BATCHES is not None and ST.LAST_DRAIN_BATCHES >= 2
    assert len(merges) == ST.LAST_DRAIN_BATCHES - 1
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, delta(ev).collect()))


def test_drain_timeout_raises_and_cleans_up(spark, monkeypatch):
    """A drain that outlives DRAIN_TIMEOUT_S raises instead of returning a
    partial result, and leaves neither a running query nor a sink view."""
    import pytest

    from analyzing_big_data_in_scala_spark.sources.catalog import load_events
    from analyzing_big_data_in_scala_spark.streaming import stream as ST

    from .conftest import SF_SMALL

    monkeypatch.setattr(ST, "DRAIN_TIMEOUT_S", 0.1)
    before = sorted(t.name for t in spark.catalog.listTables())
    ev = load_events(spark, SF_SMALL).select("event_id", "event_type")
    with ST.staged_stream(spark, ev, "event_id") as stream:
        with pytest.raises(RuntimeError, match="did not terminate"):
            ST.fold_available_now(stream, lambda df, batch_id: df.count())
        with pytest.raises(RuntimeError, match="did not terminate"):
            ST.run_available_now(stream.groupBy("event_type").count())
    assert spark.streams.active == []
    assert ST.LAST_DRAIN_BATCHES is None
    assert sorted(t.name for t in spark.catalog.listTables()) == before
