"""Structured Streaming equivalents of the reference's DStream workload
(SURVEY.md §2.10 T1-T6; StandaloneScala/TwitterStreaming.scala).

The reference: 10s micro-batches over a Twitter receiver (:104-105),
stateless map/flatMap sentiment transform (:108-110), driver-side
collect-then-Kafka sink (:116-120). DStreams are gone in Spark 4, and the
driver-side sink is the anti-pattern SURVEY.md §4.3.5 flags — so here:

- source: file stream over the `events`/`documents` parquet (standing in
  for the receiver), or a fixture staged as two range-partitioned files
  (`staged_stream`) so a drain sees more than one micro-batch;
- transform: sentiment as a pure column expression (per-batch, no
  per-record heavyweight init — fixing §4.3.4);
- sink: an exactly-once `foreachBatch` fold (`fold_available_now`,
  executor-side) or an in-memory table (`run_available_now`);
  `fold_deltas` builds on the fold to keep one standing frame current:
  each micro-batch's delta merged into it and checkpointed.

Every query is drained with the `availableNow` trigger, which processes
what is present and stops, so results are batch-comparable. This module is
the only place a stream is started or awaited. Both drains wait at most
`DRAIN_TIMEOUT_S`; on timeout they stop the query, remove what they
created and raise `RuntimeError` instead of returning a partial drain.

Beyond-reference (flagged per SURVEY.md §2.10): event-time tumbling
windows + watermark over `events.ts`.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators.merge import idempotent_foreach_batch

# Both drains wait this long for an availableNow query before stopping it
# and raising.
DRAIN_TIMEOUT_S = 120
# A streaming query pins `spark.sql.shuffle.partitions` as its state-store
# partition count at start, and every micro-batch pays a per-partition
# state-store open/commit — so it tracks the stateful KEY cardinality, not
# the batch engine's shuffle default (measured: a stream-stream join over
# the fixtures runs 3.5x faster at 8 state partitions than at 32; a real
# cluster with millions of keys would size it ≈ executors × cores).
STATE_PARTITIONS = 8
# Micro-batches that carried rows in the most recent drain (None while a
# drain runs or after one failed). Tests assert >= 2 on staged sources:
# a multi-batch property (fold merging, cross-batch state) is vacuous
# when everything arrives in one batch.
LAST_DRAIN_BATCHES: int | None = None

# Tiny deterministic sentiment lexicon: the contract of the reference's
# CoreNLP scorer (TwitterStreaming.scala:66-86) — 3 labels {NEGATIVE,
# NEUTRAL, POSITIVE} per text — not its model weights.
POSITIVE_WORDS = ("fast", "small", "big")
NEGATIVE_WORDS = ("slow", "error",)


def sentiment_label(text_col) -> F.Column:
    """T3/N10: label = sign of (positive hits - negative hits). Pure
    expression — evaluated JVM-side per row with zero init cost."""
    toks = tokens(text_col)
    pos = F.size(F.filter(toks, lambda t: t.isin(*POSITIVE_WORDS)))
    neg = F.size(F.filter(toks, lambda t: t.isin(*NEGATIVE_WORDS)))
    return (
        F.when(pos > neg, "POSITIVE").when(neg > pos, "NEGATIVE").otherwise("NEUTRAL")
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: file-source stream over the events fixture (schema from the
    batch read — streaming sources need an explicit schema). The fixture's
    nanos timestamps are read as long and rebuilt at micros precision
    (see sources.catalog.load_events)."""
    from ..sources.catalog import normalize_nanos_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    # File streams need a directory source: stream the sf_dir with a glob
    # filter selecting just the events file.
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return utc_ts(normalize_nanos_ts(stream))


def utc_ts(stream: DataFrame) -> DataFrame:
    """Cast a TIMESTAMP_NTZ `ts` column to TIMESTAMP read as UTC.

    Watermarks/stateful ops require TIMESTAMP (with local tz); a fixture
    written as plain TIMESTAMP arrives as TIMESTAMP_NTZ. The NTZ->LTZ cast
    interprets the wall clock in the session timezone, so pin UTC first —
    that makes the instant equal to the naive value read as UTC, matching
    DuckDB's epoch() on the same column regardless of host timezone."""
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def windowed_counts(stream: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Beyond-reference: event-time tumbling window + watermark for late
    data. Output keyed by (window_start, event_type)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.floor(F.unix_timestamp("w.start") / 600).cast("long").alias("bucket"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_window_counts(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Watermarked STREAMING session-window aggregation — the one
    structured-streaming stateful surface tumbling/sliding windows don't
    cover: session boundaries are data-driven (close after `gap` of
    per-key silence), so the state store must EXTEND and MERGE open
    sessions as micro-batches arrive (a session fragment in batch k
    merges with its continuation in batch k+1). Output keyed by
    (key, session_start) with the same shape as the batch
    `events_session_window_native` query, so stream==batch equivalence
    is directly checkable.

    ts is truncated to whole seconds first (timestamp_seconds of
    unix_timestamp) — session_window closes when the NEXT event is
    >= gap after the previous, and the batch oracle measures the gap on
    whole-second deltas; truncating makes both sides measure the same
    gap. State eviction: the watermark lets Spark finalize sessions whose
    end + gap is past the watermark; sizing `watermark` to the fixture's
    staging order (time-ordered files => nothing ever arrives late) keeps
    the drain exactly batch-equivalent."""
    sec = F.timestamp_seconds(F.unix_timestamp("ts"))
    return (
        stream.select(F.col(key), sec.alias("ts"), F.col("value"))
        .withWatermark("ts", watermark)
        .groupBy(key, F.session_window("ts", gap).alias("sw"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            key,
            F.unix_timestamp("sw.start").cast("long").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


@contextlib.contextmanager
def staged_stream(spark: SparkSession, frame: DataFrame, by: str):
    """Stage `frame` as two parquet files range-partitioned on `by` and
    yield a file stream over them that delivers one file per micro-batch;
    the files are removed on exit.

    A single-file source is one availableNow batch, which would make any
    incremental fold or cross-batch state vacuous. Two files is the
    minimum multi-batch evidence (the drain's wall is the batch COUNT), so
    it is ASSERTED here: if repartitionByRange's sampling ever produced an
    empty partition, Spark would write one file and the multi-batch
    property would collapse flakily downstream instead of loudly here."""
    stage = tempfile.mkdtemp(prefix="stream_stage_")
    try:
        frame.repartitionByRange(2, by).write.mode("overwrite").parquet(stage)
        reader = spark.read.parquet(stage)
        n = len(reader.inputFiles())
        if n < 2:
            raise AssertionError(
                f"staged stream fixture at {stage} has {n} file(s); the "
                "multi-batch contract needs >= 2 — repartitionByRange "
                "produced an empty partition"
            )
        yield (
            spark.readStream.schema(reader.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _await_drain(q) -> int:
    """Wait for an availableNow query; stop it and raise on timeout. Sets
    and returns LAST_DRAIN_BATCHES."""
    global LAST_DRAIN_BATCHES
    LAST_DRAIN_BATCHES = None
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise RuntimeError(
            f"availableNow drain did not terminate within {DRAIN_TIMEOUT_S}s"
        )
    LAST_DRAIN_BATCHES = sum(1 for p in q.recentProgress if p.numInputRows > 0)
    return LAST_DRAIN_BATCHES


def fold_available_now(stream: DataFrame, fold) -> int:
    """Drain `stream` into `fold(batch_df, batch_id)` through an
    exactly-once foreachBatch: foreachBatch is at-least-once, and a crash
    between a fold's side effect and the checkpoint commit redelivers the
    same batch, which a += fold would double-count — the batch-id dedup
    wrapper (merge.idempotent_foreach_batch) skips the replay. The
    checkpoint lives in a temp dir removed afterwards. Returns the number
    of micro-batches that carried rows."""
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    try:
        q = (
            stream.writeStream.foreachBatch(idempotent_foreach_batch(fold))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        return _await_drain(q)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


class StandingFold:
    """The foreachBatch fold behind `fold_deltas`: per micro-batch,
    `frame` becomes `delta(batch_df)` on the first batch and
    `merge(frame, delta(batch_df))` after that, checkpointed eagerly so
    the standing frame never re-reads earlier batches (or the staged
    files, which are removed after the drain)."""

    def __init__(self, delta, merge):
        self.delta = delta
        self.merge = merge
        self.frame: DataFrame | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        d = self.delta(batch_df)
        if self.frame is not None:
            d = self.merge(self.frame, d)
        self.frame = d.localCheckpoint()


def fold_deltas(stream: DataFrame, delta, merge) -> DataFrame:
    """Drain `stream` through `fold_available_now` into a standing frame
    kept by `StandingFold(delta, merge)` and return it: the incremental
    maintenance shape, where per-batch cost tracks the batch and the
    standing state is never recomputed from raw history. `merge` must be
    associative and commutative over deltas (file-source delivery order is
    not deterministic)."""
    fold = StandingFold(delta, merge)
    fold_available_now(stream, fold)
    return fold.frame


def run_available_now(result: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drain the stream into an in-memory table (T5-style sink) and return
    it as a DataFrame. Aggregations drain in `complete` mode; joins and
    row-wise transforms in `append`; running state in `update`.

    The stateful operators' store is pinned to STATE_PARTITIONS (the
    session conf is restored once the query has started). The sink's temp
    view is dropped before returning: the returned frame is already bound
    to the sink's data, so nothing stays registered in the session
    catalog."""
    spark = result.sparkSession
    name = f"drain_{uuid.uuid4().hex}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        q = (
            result.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        _await_drain(q)
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_gap: str = "6 hours",
    watermark: str = "12 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join with an event-time interval
    condition: rows pair when keys match and `right_ts` falls in
    [left_ts, left_ts + max_gap] (both inclusive).

    The scale contract of Spark's stateful join: BOTH sides carry a
    watermark and the join condition bounds event time on both sides, so
    each side's buffered state is evicted once the other side's watermark
    passes `ts + max_gap` — state stays proportional to the time window,
    not the stream history. Without the time bound the state store grows
    unboundedly; this helper makes the bound impossible to forget.

    `how="left_outer"` additionally emits each unmatched left row ONCE
    (right columns NULL) — but only after the watermark passes
    `left_ts + max_gap`, because until then a matching right row could
    still arrive. Consequence for bounded drains: a left row younger
    than (final watermark - max_gap) is still pending when an
    availableNow drain stops, so its NULL row is NOT emitted — consumers
    needing determinism must restrict to left rows older than
    max(right_ts) - watermark - max_gap (see
    streaming_click_attribution_outer).

    Column names must be disjoint apart from `key` (pre-project with
    aliases); the right side's key column is dropped from the output.
    """
    l = left.withWatermark(left_ts, watermark)
    # Rename the right key BEFORE joining: left and right usually derive
    # from the same stream (a self-join), where dropping `r[key]` by
    # Column reference is ambiguous — measured under left_outer, the
    # surviving key column was the RIGHT side's (NULL on unmatched rows).
    # An unambiguous name makes the surviving key provably the left one.
    r = right.withColumnRenamed(key, "_ss_right_key").withWatermark(
        right_ts, watermark
    )
    cond = (
        (l[key] == r["_ss_right_key"])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {max_gap}"))
    )
    return l.join(r, cond, how).drop("_ss_right_key")


def sentiment_stream(stream: DataFrame, text_col: str = "event_type") -> DataFrame:
    """T2/T3: project text, attach sentiment label (stateless transform)."""
    return stream.select(
        F.col(text_col).alias("text"), sentiment_label(F.col(text_col)).alias("sentiment")
    )


def foreach_batch_collector(result: DataFrame, sink: list) -> None:
    """T5 foreachBatch sink: executor-side computation, tiny summarized
    per-batch payload appended to `sink` (replaces the reference's
    collect-then-Kafka driver loop, TwitterStreaming.scala:116-120)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sink.append((batch_id, batch_df.count()))

    fold_available_now(result, handle)


def to_kafka_frame(
    df: DataFrame, topic: str, key_col: str | None = None, value_cols: list[str] | None = None
) -> DataFrame:
    """Shape any DataFrame to the Kafka sink contract (S10,
    TwitterStreaming.scala:93-101): columns `topic: string`,
    `key: binary|string`, `value: string` where value is the row as JSON
    (`to_json(struct(...))` — JVM-side, codegen-friendly). This is the
    half of the Kafka producer path that needs no broker, so it is fully
    testable here; `kafka_sink` bolts it onto `format("kafka")`."""
    cols = value_cols or df.columns
    out = df.select(
        F.lit(topic).alias("topic"),
        (F.col(key_col).cast("string") if key_col else F.lit(None).cast("string")).alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in cols])).alias("value"),
    )
    return out


def kafka_sink(
    result: DataFrame,
    topic: str,
    bootstrap_servers: str,
    checkpoint_dir: str,
    key_col: str | None = None,
):
    """S10 the scale-correct way: executor-side `writeStream.format("kafka")`
    — every partition produces in parallel, no driver collect (fixes the
    anti-pattern at TwitterStreaming.scala:116-120 / SURVEY.md §4.3.5).

    Requires the spark-sql-kafka connector on the classpath; this
    container ships without it, so callers get a clear error and tests use
    `kafka_sink_via_foreach_batch`, which exercises the identical frame
    contract through an executor-side foreachBatch producer stub."""
    frame = to_kafka_frame(result, topic, key_col=key_col)
    try:
        return (
            frame.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
    except Exception as e:  # pragma: no cover - connector absent in container
        raise NotImplementedError(
            "spark-sql-kafka connector not on the classpath; use "
            "kafka_sink_via_foreach_batch for a broker-free run"
        ) from e


def kafka_sink_via_foreach_batch(result: DataFrame, topic: str, records: list, key_col: str | None = None) -> None:
    """Broker-free S10 twin — TEST-ONLY, not the 100 TB path: the
    per-batch `collect()` funnels every produced record through the
    driver, which is exactly the anti-pattern `kafka_sink` exists to
    avoid. Use it solely to assert the (topic, key, value-JSON) frame
    contract in environments without the kafka connector; production
    streams go through `kafka_sink` (executor-side format("kafka")).
    The JSON serialization still runs executor-side in
    `to_kafka_frame`, so the contract under test is identical."""
    frame = to_kafka_frame(result, topic, key_col=key_col)

    def produce(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.collect():
            records.append((row.topic, row.key, row.value))

    fold_available_now(frame, produce)
