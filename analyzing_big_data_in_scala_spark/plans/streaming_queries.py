"""Streaming queries (SURVEY.md §2.10 T1-T6), drained deterministically via
`availableNow` so they are batch-comparable — the windowed aggregate's
oracle is the SAME SQL as the batch tumbling-window query, proving
stream/batch equivalence (SURVEY.md §5.6).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import stream as ST
from .registry import query


@query(
    "streaming_tumbling_counts",
    oracle="""
        SELECT CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS bucket,
               event_type,
               COUNT(*) AS n,
               ROUND(SUM(value), 4) AS sum_value
        FROM events
        GROUP BY bucket, event_type
    """,
    description="Structured Streaming tumbling window + watermark == batch result (T1-T5 + extension)",
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ST.events_stream(spark, sf_dir)
    result = ST.windowed_counts(stream)
    return ST.run_available_now(result)


@query(
    "streaming_first_seen_per_user",
    oracle="""
        SELECT user_id, MIN(event_id) AS first_event_id
        FROM events
        GROUP BY user_id
    """,
    description="Streaming first-seen per user via the JVM-native min() streaming aggregate (whole-stage codegen state store; per-key state = one long). The scale default — no Python worker in the loop.",
)
def streaming_first_seen_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JVM-native plan (VERDICT r2 item 4): a streaming min() aggregate keeps
    # one long of state per key inside the HDFS-backed state store, entirely
    # in the JVM — at 10^8 users nothing ever crosses into Python. The
    # applyInPandasWithState variant lives on as
    # `streaming_first_seen_custom_state` (the custom-stateful-op demo).
    stream = ST.events_stream(spark, sf_dir)
    result = (
        stream.select("user_id", "event_id")
        .groupBy("user_id")
        .agg(F.min("event_id").alias("first_event_id"))
    )
    return ST.run_available_now(result, output_mode="update")


@query(
    "streaming_first_seen_custom_state",
    oracle="""
        SELECT user_id, MIN(event_id) AS first_event_id
        FROM events
        GROUP BY user_id
    """,
    description="Custom stateful streaming dedup via applyInPandasWithState: first event per user (T-ext demonstration of arbitrary per-key Python state; prefer streaming_first_seen_per_user's JVM aggregate at scale)",
)
def streaming_first_seen_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import first_seen_per_user

    stream = ST.events_stream(spark, sf_dir)
    result = first_seen_per_user(stream)
    return ST.run_available_now(result, output_mode="update")


@query(
    "streaming_sentiment_counts",
    oracle="""
        SELECT CASE WHEN event_type IN ('error') THEN 'NEGATIVE'
                    ELSE 'NEUTRAL' END AS sentiment,
               COUNT(*) AS n
        FROM events
        GROUP BY sentiment
        ORDER BY sentiment
    """,
    description="T2/T3 stateless sentiment transform over the stream, counted per label",
)
def streaming_sentiment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ST.events_stream(spark, sf_dir)
    labeled = ST.sentiment_stream(stream, text_col="event_type")
    result = labeled.groupBy("sentiment").agg(F.count("*").alias("n"))
    return ST.run_available_now(result).orderBy("sentiment")


@query(
    "streaming_click_purchase_join",
    # Batch-equivalence oracle: the watermarked stream-stream interval join
    # must produce exactly the pairs a batch self-join yields.
    oracle="""
        SELECT a.event_id AS click_id, b.event_id AS purchase_id,
               a.user_id AS user_id,
               CAST(FLOOR(epoch(b.ts)) - FLOOR(epoch(a.ts)) AS BIGINT) AS gap_sec
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'purchase'
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
    """,
    description="Stream-stream interval join (watermarked both sides, bounded state): purchases attributed to same-user clicks within 6h == batch self-join",
)
def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ST.events_stream(spark, sf_dir)
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        "user_id",
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "user_id",
    )
    joined = ST.stream_stream_interval_join(
        clicks, purchases, key="user_id", left_ts="click_ts", right_ts="purchase_ts",
        max_gap="6 hours", watermark="12 hours",
    )
    result = joined.select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts"))
        .cast("long")
        .alias("gap_sec"),
    )
    return ST.run_available_now(result, output_mode="append")


@query(
    "streaming_click_attribution_outer",
    # Batch-equivalence oracle with the SAME watermark-safe cutoff the
    # stream applies: a LEFT-OUTER stream-stream join emits an unmatched
    # click's NULL row only after the watermark passes click_ts + 6h.
    # With a watermark on EACH side, the query's global watermark is the
    # MIN of the two (multipleWatermarkPolicy=min), whose final value is
    # LEAST(max click ts, max purchase ts) - 12h — NOT global max(ts):
    # measured, a global-max cutoff left the 2 youngest unmatched clicks
    # pending. Both sides therefore restrict to click_ts <= least - 19h
    # (1h margin); inside that region stream == batch left join exactly.
    oracle="""
        WITH mx AS (
            SELECT LEAST(
                (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
                (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
            ) - INTERVAL 19 HOUR AS cutoff
        )
        SELECT a.event_id AS click_id, a.user_id AS user_id,
               b.event_id AS purchase_id,
               CAST(FLOOR(epoch(b.ts)) - FLOOR(epoch(a.ts)) AS BIGINT) AS gap_sec,
               CAST(b.event_id IS NOT NULL AS INT) AS matched
        FROM events a LEFT JOIN events b
          ON a.user_id = b.user_id
         AND b.event_type = 'purchase'
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
        WHERE a.event_type = 'click'
          AND a.ts <= (SELECT cutoff FROM mx)
    """,
    description="LEFT-OUTER stream-stream interval join: every click emits — with its attributed purchase(s) within 6h, or once with NULLs after the watermark proves no purchase can still arrive; output restricted to the watermark-safe region (clicks older than max ts - 19h) so the bounded drain is exactly batch-equivalent",
)
def streaming_click_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_events

    # 1-row driver probe for the safe-region cutoff (tiny, deliberate):
    # min over the two join sides' max event times, mirroring the
    # engine's min-of-watermarks policy.
    ev = load_events(spark, sf_dir)
    cutoff = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .agg((F.min("mx") - F.expr("INTERVAL 19 hours")).alias("c"))
        .first()["c"]
    )
    stream = ST.events_stream(spark, sf_dir)
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        "user_id",
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "user_id",
    )
    joined = ST.stream_stream_interval_join(
        clicks, purchases, key="user_id", left_ts="click_ts",
        right_ts="purchase_ts", max_gap="6 hours", watermark="12 hours",
        how="left_outer",
    )
    result = joined.filter(F.col("click_ts") <= F.lit(cutoff)).select(
        "click_id",
        "user_id",
        "purchase_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts"))
        .cast("long")
        .alias("gap_sec"),
        F.col("purchase_id").isNotNull().cast("int").alias("matched"),
    )
    return ST.run_available_now(result, output_mode="append")


@query(
    "streaming_kafka_feed",
    # The producer contract is deterministic (to_json of a 2-field struct,
    # constant topic, NULL key), so the Kafka path is VALUE-checked, not
    # rows-only: the oracle rebuilds the exact JSON payload per event.
    oracle="""
        SELECT 'sentiments' AS topic,
               CAST(NULL AS VARCHAR) AS key,
               '{"text":"' || event_type || '","sentiment":"' ||
                   CASE WHEN event_type IN ('fast', 'small', 'big') THEN 'POSITIVE'
                        WHEN event_type IN ('slow', 'error') THEN 'NEGATIVE'
                        ELSE 'NEUTRAL' END || '"}' AS value
        FROM events
    """,
    description="T5/S10: sentiment stream -> Kafka producer records (topic, key, value-JSON) via executor-side foreachBatch",
)
def streaming_kafka_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ST.events_stream(spark, sf_dir)
    labeled = ST.sentiment_stream(stream, text_col="event_type")
    records: list = []
    ST.kafka_sink_via_foreach_batch(labeled, "sentiments", records)
    # records were serialized executor-side; this materialization exists
    # only to hand the driver a comparable DataFrame.
    return spark.createDataFrame(records, "topic string, key string, value string")


@query(
    "streaming_dedup_distinct_users",
    # COUNT(*) over the drained sink vs batch COUNT(DISTINCT): the counts
    # only agree if the streaming dedup actually dropped every duplicate
    # pair — the dedup is load-bearing, not decorative. (In an availableNow
    # drain the watermark stays at its initial value during the batch, so
    # in-batch dedup is exact regardless of the event-time span; at
    # steady state the 1h delay bounds state just like any watermark.)
    oracle="""
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
    """,
    description="Streaming dedup via dropDuplicatesWithinWatermark on (user_id, event_type): bounded state (watermark-evicted keys), batch-equivalent distinct counts",
)
def streaming_dedup_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ST.events_stream(spark, sf_dir)
    dedup = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    mat = ST.run_available_now(dedup, output_mode="append")
    return mat.groupBy("event_type").agg(F.count("*").alias("n_users"))


@query(
    "streaming_static_enrichment",
    # Batch-equivalence oracle; the per-row integerized value sum is the
    # order-independent cross-engine recipe (events_json_by_type).
    oracle="""
        SELECT c.c_mktsegment AS segment,
               COUNT(*) AS n_events,
               -- CAST the SUM: DuckDB SUM(BIGINT) is HUGEINT -> float64 under
               -- pandas canonicalization -> driver hash mismatch vs int64.
               CAST(SUM(CAST(ROUND(e.value * 10000) AS BIGINT)) AS BIGINT) AS sum_value_e4
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY segment
    """,
    description="Stream-static join (the standard enrichment pattern): the events stream joined per micro-batch to a BROADCAST static customer dimension — stateless, no watermark, dimension re-resolvable between batches; aggregated per market segment == batch join",
)
def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table

    stream = ST.events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream.join(F.broadcast(dim), "user_id")
    result = enriched.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias("sum_value_e4"),
    )
    return ST.run_available_now(result)


@query(
    "streaming_incremental_rollup",
    # Batch-equivalence oracle: after draining every micro-batch, the
    # incrementally-maintained aggregate must equal a one-shot GROUP BY
    # over the whole fixture. Integer sums (per-row integerized) make the
    # fold order-independent; CAST around the SUM keeps DuckDB off HUGEINT.
    oracle="""
        SELECT CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS bucket,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS sum_value_e4
        FROM events
        GROUP BY bucket, event_type
    """,
    description="Streaming continuous-aggregate maintenance (the ingest half of the hypertable rollup): per-micro-batch 10-min partial deltas folded into the standing aggregate via foreachBatch + apply_agg_delta — refresh cost tracks each BATCH, the standing aggregate is never recomputed from raw history; fixture staged as two files so availableNow delivers two real micro-batches",
)
def streaming_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import apply_agg_delta
    from ..sources.catalog import load_events

    ev = load_events(spark, sf_dir).select("event_id", "ts", "event_type", "value")

    def delta(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(
            F.floor(F.unix_timestamp("ts") / 600).cast("long").alias("bucket"),
            "event_type",
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias(
                "sum_value_e4"
            ),
        )

    merge = partial(
        apply_agg_delta,
        keys=["bucket", "event_type"],
        measures=["n", "sum_value_e4"],
        count_col="n",
    )
    with ST.staged_stream(spark, ev, "event_id") as stream:
        # The fold's eager checkpoints materialize the standing aggregate,
        # so the result survives the staged files' removal.
        return ST.fold_deltas(stream, delta, merge)


@query(
    "streaming_session_windows",
    # Batch-equivalence oracle: the SAME SQL as the green batch query
    # events_session_window_native — the watermarked streaming
    # session_window drain over the staged time-ordered 2-file stream
    # must produce exactly the sessions the batch sessionization yields.
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, value, event_id,
                   CASE WHEN FLOOR(epoch(ts)) - FLOOR(epoch(LAG(ts) OVER w)) >= 1800
                             OR LAG(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, value,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id,
               CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value
        FROM sess
        GROUP BY user_id, session_id
    """,
    description="STREAMING session windows (watermarked F.session_window, 30-min gap): data-driven session state extended/merged across micro-batches — fixture staged as two time-ordered files so sessions genuinely span batch boundaries; drain == batch sessionization",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_events

    # Stage the fixture as TWO TIME-RANGED files (range on ts): session
    # fragments of the same user land in DIFFERENT batches whenever a
    # session spans the files' time boundary — the state-merge path. NOTE
    # the file SOURCE does not promise to deliver the ranged files in time
    # order (it orders by modification time with arbitrary ties), so the
    # watermark below is sized past the fixture's whole span: a 30-min
    # watermark measurably dropped a nondeterministic fraction of rows
    # when a later-range file arrived first. The watermarked operator path
    # is still exercised; eviction simply never fires during the bounded
    # drain, keeping it exactly batch-equivalent.
    ev = load_events(spark, sf_dir).select("user_id", "ts", "value")
    with ST.staged_stream(spark, ev, "ts") as stream:
        result = ST.session_window_counts(
            ST.utc_ts(stream), gap="30 minutes", watermark="3650 days"
        )
        # Materialize before the staged files are removed.
        return ST.run_available_now(result).localCheckpoint()


@query(
    "streaming_user_totals",
    # Batch-equivalence oracle: after the update-mode drain, the LAST
    # emission per user (the one with the highest running n_events —
    # strictly increasing, so unique) must equal a one-shot GROUP BY.
    # Per-row integerized sums keep the totals exact in any batch order.
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS sum_value_e4
        FROM events
        GROUP BY user_id
    """,
    description="Custom stateful running totals per user via applyInPandasWithState (two longs of state per key), staged 2-file source (r14: the minimum multi-batch evidence, per-batch job-chain cost halved) so state genuinely accumulates across micro-batches",
)
def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..sources.catalog import load_events
    from ..streaming.stateful import user_event_totals

    # Staged range by event_id — no event-time semantics here — so
    # update-mode state genuinely accumulates across micro-batches rather
    # than one vacuous batch.
    ev = load_events(spark, sf_dir).select("user_id", "event_id", "value")
    with ST.staged_stream(spark, ev, "event_id") as stream:
        drained = ST.run_available_now(
            user_event_totals(stream), output_mode="update"
        )
        # Update mode re-emits a user's RUNNING total each batch they
        # appear in; the final total is the emission with the highest
        # n_events (strictly increasing per key). Materialize before the
        # staged files are removed.
        w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
        return (
            drained.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
            .localCheckpoint()
        )


@query(
    "streaming_ann_index_ingest",
    # Constant oracle: after the drain, a query against the incrementally-
    # built index must agree row-for-row with the on-the-fly multi-probe
    # LSH over the full corpus. LSH signatures have no fitted state, so
    # the appended index == a from-scratch rebuild REGARDLESS of micro-
    # batch arrival order — which is exactly what makes this streaming
    # ingest deterministic enough to value-check (a fitted-state index
    # like IVF would depend on which batch arrived first).
    oracle="""
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(n_indexed AS BIGINT) AS n_indexed,
               CAST(n_agree AS BIGINT) AS n_agree
        FROM (VALUES (0, 10, 10), (1, 10, 10), (2, 10, 10))
             t(query_id, n_indexed, n_agree)
    """,
    description="Streaming ANN index ingest: embedding micro-batches folded into the persisted LSH index via exactly-once foreachBatch (batch 1 builds, later batches append — per-batch cost tracks the batch); drained index agrees row-for-row with on-the-fly LSH over the full corpus",
)
def streaming_ann_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as S
    from ..sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    prefix = "lshs_index"
    state = {"built": False}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        # localCheckpoint: the file-source batch frame is re-read twice
        # inside build/append (signatures + vectors). LAZY (r15): the
        # take(1) emptiness probe right below materializes the blocks
        # inside its own job — eager paid one extra blocking job per
        # micro-batch for the same blocks (the fixpoint-loop pattern
        # applied to the drain's fold chain).
        batch = batch_df.localCheckpoint(eager=False)
        if not batch.take(1):
            return
        if not state["built"]:
            S.build_lsh_index(batch, prefix=prefix)
            state["built"] = True
        else:
            S.lsh_index_append(batch, prefix=prefix)

    # 2 staged files = 2 micro-batches: batch 1 exercises BUILD, batch 2
    # APPEND — the full contract at half the per-batch fold job-chain cost
    # (the streaming_ivfpq_index_ingest r10 lesson: batch COUNT, not batch
    # size, is the drain's wall).
    with ST.staged_stream(spark, emb.select("vec_id", "embedding"), "vec_id") as stream:
        ST.fold_available_now(stream, fold)
    # foreachBatch runs `fold` in a CLONED SparkSession: the DROP +
    # saveAsTable inside build/append invalidate the CLONE's relation
    # cache, not this session's — without a refresh, a prior invocation's
    # cached file listing for these tables serves deleted part files
    # (FAILED_READ_FILE.FILE_NOT_EXIST, seen in bench re-runs within one
    # JVM).
    for t in ("sig", "vecs", "meta"):
        spark.catalog.refreshTable(f"{prefix}_{t}")
    probes = emb.filter(F.col("vec_id") < 3)
    indexed = S.lsh_topk_indexed(spark, probes, prefix=prefix, k=10)
    live = S.lsh_topk(emb, probes, k=10)
    both = indexed.join(live, ["query_id", "vec_id", "cosine", "rank"], "left_semi")
    n_idx = indexed.groupBy("query_id").agg(F.count("*").alias("n_indexed"))
    n_agr = both.groupBy("query_id").agg(F.count("*").alias("n_agree"))
    return n_idx.join(n_agr, "query_id", "left").select(
        "query_id",
        F.col("n_indexed").cast("long").alias("n_indexed"),
        F.coalesce("n_agree", F.lit(0)).cast("long").alias("n_agree"),
    ).localCheckpoint()


@query(
    "streaming_ivfpq_index_ingest",
    # Constant oracle. IVF-PQ has FITTED state (codebooks, coarse cells),
    # so — unlike the LSH ingest above — a geometry trained on whichever
    # micro-batch arrived first would make the drained index depend on
    # the file source's nondeterministic delivery order. The
    # deterministic (and production-standard) shape: train the geometry
    # OFFLINE on a fixed sample (vec_id < 400), persist it with the
    # sample's codes, then the stream only APPENDS the remaining vectors
    # — every append encodes with the STORED geometry, so appends commute
    # and the drained index is a pure function of the corpus. Agreement:
    # the post-drain indexed search must match an on-the-fly search whose
    # codes are recomputed inline over the FULL corpus with the same
    # stored geometry.
    oracle="""
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(n_indexed AS BIGINT) AS n_indexed,
               CAST(n_agree AS BIGINT) AS n_agree
        FROM (VALUES (0, 10, 10), (1, 10, 10), (2, 10, 10))
             t(query_id, n_indexed, n_agree)
    """,
    description="Streaming IVF-PQ index ingest: geometry trained offline on a fixed sample (fitted-state indexes cannot train on a nondeterministically-ordered stream — documented), embedding micro-batches appended with the STORED codebooks/centroids via exactly-once foreachBatch; drained index agrees row-for-row with an on-the-fly search over inline-recomputed full-corpus codes",
)
def streaming_ivfpq_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pq as PQ
    from ..operators.similarity import spherical_assign
    from ..sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    sample = emb.filter(F.col("vec_id") < 400)
    rest = emb.filter(F.col("vec_id") >= 400)
    prefix = "ivfpqs_index"
    PQ.build_ivfpq_index(sample, prefix=prefix)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        # Lazy checkpoint + take(1) = one job per batch (r15) — see the
        # LSH ingest fold above; append consumers then read the persisted
        # blocks.
        batch = batch_df.localCheckpoint(eager=False)
        if not batch.take(1):
            return
        PQ.ivfpq_index_append(batch, prefix=prefix)

    # 2 staged files = 2 micro-batches: the minimum that still proves
    # appends COMMUTE across batches (the contract), at half the drain's
    # per-batch fixed cost — r9 bench decomposition measured ~1.8 s/batch
    # of job overhead (localCheckpoint + anti-join + encode + bucketed
    # append) against microseconds of actual compute, so batch COUNT, not
    # batch size, was the wall (VERDICT r9 item 3: 23.3 s, the most
    # expensive recurring bench entry). Single-batch would be cheaper
    # still but degenerates the query to "build twice".
    with ST.staged_stream(spark, rest.select("vec_id", "embedding"), "vec_id") as stream:
        ST.fold_available_now(stream, fold)
    # Same cloned-session relation-cache hazard as the LSH ingest:
    # refresh the appended/stored tables in THIS session.
    for t in ("codes", "centroids", "codebook"):
        spark.catalog.refreshTable(f"{prefix}_{t}")
    probes = emb.filter(F.col("vec_id") < 3)
    # The 30-row indexed result feeds TWO consumers (the left-semi
    # agreement probe and the n_indexed aggregate): without the lineage
    # cut the whole ADC-scan + rerank chain executes once per consumer
    # (multi-consumer re-plan; r10 A/B measured the chain ~2 s warm per
    # execution at sf0.1).
    indexed = PQ.ivfpq_topk_indexed(
        spark, emb, probes, prefix=prefix, k=10, nprobe=4
    ).localCheckpoint(eager=False)
    # On-the-fly twin: SAME stored geometry, codes recomputed inline over
    # the full corpus — agreement proves the streamed appends encoded
    # exactly what a batch encode would have.
    cents = spark.table(f"{prefix}_centroids")
    cb = spark.table(f"{prefix}_codebook")
    cells = spherical_assign(emb, cents).select(
        "vec_id", F.col("centroid_id").alias("cell")
    )
    live_codes = PQ.pq_encode(emb, cb, m=16).join(cells, "vec_id")
    live = PQ.ivfpq_topk(
        emb, probes, k=10, nprobe=4,
        index={"centroids": cents, "codebook": cb, "codes": live_codes},
    )
    both = indexed.join(live, ["query_id", "vec_id", "cosine", "rank"], "left_semi")
    n_idx = indexed.groupBy("query_id").agg(F.count("*").alias("n_indexed"))
    n_agr = both.groupBy("query_id").agg(F.count("*").alias("n_agree"))
    return n_idx.join(n_agr, "query_id", "left").select(
        "query_id",
        F.col("n_indexed").cast("long").alias("n_indexed"),
        F.coalesce("n_agree", F.lit(0)).cast("long").alias("n_agree"),
    ).localCheckpoint()


def _streaming_trend_oracle() -> str:
    from ..operators.sequence import CORR_PPM_SQL, SLOPE_PPM_SQL

    return """
        WITH base AS (
            SELECT event_type,
                   (CAST(FLOOR(epoch(ts)) AS BIGINT) - 1600000000) // 60 AS _x,
                   CAST(ROUND(value * 100) AS BIGINT) AS _y
            FROM events
            WHERE ts IS NOT NULL AND value IS NOT NULL
        ),
        stats AS (
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(_x) AS BIGINT) AS sx,
                   CAST(SUM(_y) AS BIGINT) AS sy,
                   CAST(SUM(_x * _y) AS BIGINT) AS sxy,
                   CAST(SUM(_x * _x) AS BIGINT) AS sxx,
                   CAST(SUM(_y * _y) AS BIGINT) AS syy
            FROM base GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               {slope} AS slope_ppm, {corr} AS corr_ppm
        FROM stats
    """.format(slope=SLOPE_PPM_SQL, corr=CORR_PPM_SQL)


@query(
    "streaming_value_trend",
    # Batch-equivalence oracle: the drained fold of per-micro-batch
    # sufficient-statistic DELTAS must equal a one-shot computation over
    # the whole fixture. Fixed-epoch-base centering (NOT the per-group
    # min of events_value_trend) is what makes the six statistics purely
    # additive; integer sums are order-independent, and the finalize
    # step is the same shared SLOPE/CORR double trees. NOTE: the oracle's
    # `(t - base) // 60` runs on NON-NEGATIVE operands only (fixture ts >
    # 2020), where DuckDB's truncating // equals Spark's div.
    oracle=_streaming_trend_oracle(),
    description="Streaming incremental OLS trend: per-micro-batch sufficient-statistic deltas (n, sx, sy, sxy, sxx, syy — purely ADDITIVE under fixed-epoch centering) folded into a standing stats table via exactly-once foreachBatch, finalized with the shared slope/correlation expression trees — refresh cost tracks each batch, the answer equals a one-shot batch computation bit-for-bit (the mergeability claim of operators/sequence.trend_sufficient_stats, proven by the oracle)",
)
def streaming_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import apply_agg_delta
    from ..operators.sequence import trend_from_stats, trend_sufficient_stats
    from ..sources.catalog import load_events

    ev = load_events(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    merge = partial(
        apply_agg_delta,
        keys=["event_type"], measures=["n", "sx", "sy", "sxy", "sxx", "syy"],
        count_col="n",
    )
    with ST.staged_stream(spark, ev, "event_id") as stream:
        stats = ST.fold_deltas(stream, trend_sufficient_stats, merge)
    return trend_from_stats(stats).localCheckpoint()


@query(
    "streaming_hll_sketch_maintenance",
    # Batch-equivalence contract: after draining every micro-batch, the
    # per-type union of the incrementally-maintained per-(type, day)
    # sketches must estimate the fixture's exact distinct-user counts
    # within 5% (HLL lgK=12 ~ 1.6% rsd) — pinned 1. Exact judge columns
    # are plain SQL; sketch unions are order-independent, so the
    # nondeterministic file-delivery order cannot change the result.
    oracle="""
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               COUNT(DISTINCT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) AS n_days,
               1 AS hll_stream_ok
        FROM events
        GROUP BY event_type
    """,
    description="Streaming sketch maintenance (the ingest half of the HLL rollup): each micro-batch aggregates to per-(type, day) HLL partials that hll_union into the standing sketch table via an exactly-once foreachBatch fold — per-batch cost tracks the batch, the standing state is KB sketches, and cross-batch dedup is free because sketch union is idempotent-per-key and order-independent",
)
def streaming_hll_sketch_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import merge_sketch_cells
    from ..sources.catalog import load_events

    ev = load_events(spark, sf_dir).select("event_id", "ts", "event_type", "user_id")

    def delta(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        ).agg(F.hll_sketch_agg("user_id").alias("_sk"))

    merge = partial(merge_sketch_cells, keys=["event_type", "day"], union="hll_union")
    with ST.staged_stream(spark, ev, "event_id") as stream:
        sketches = ST.fold_deltas(stream, delta, merge)
    merged = sketches.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est"),
        F.count("*").alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    out = exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        "n_days",
        (
            F.abs(F.col("_est") - F.col("exact_users")) * F.lit(100)
            <= F.col("exact_users") * F.lit(5)
        )
        .cast("int")
        .alias("hll_stream_ok"),
    )
    return out.localCheckpoint()


@query(
    "streaming_user_value_hhi",
    # Streaming concentration monitor — "is one user starting to dominate
    # each signal?" (bot floods, runaway retry loops): the standing state
    # is per-(type, user) exact cents sums, which are PURELY ADDITIVE, so
    # micro-batch deltas fold via the same exactly-once apply_agg_delta
    # as the streaming trend; the finalize step computes the
    # Herfindahl index of user share per type with the shared
    # HHI_PPM_SQL tree. Batch-equivalence oracle: the drained fold must
    # equal a one-shot computation over the whole fixture bit-for-bit.
    oracle="""
        WITH s AS (
            SELECT event_type, user_id,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type,
                   COUNT(*) AS n_users,
                   CAST(SUM(s * s) AS BIGINT) AS s_sq,
                   CAST(SUM(s) AS BIGINT) AS s_tot
            FROM s GROUP BY 1
        )
        SELECT event_type, n_users, s_tot AS value_e2_total,
               CAST(FLOOR(CAST(s_sq AS DOUBLE) * 1000000.0
                    / (CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)) + 0.5)
                    AS BIGINT) AS hhi_ppm
        FROM stats WHERE s_tot > 0
    """,
    description="Streaming user-concentration HHI per event type (bot-flood / dominance monitor): per-micro-batch (type, user) cents deltas — purely additive — fold into standing state via exactly-once foreachBatch (the streaming-trend mergeability pattern); finalize is the shared HHI double tree over exact BIGINT sum-of-squares; state is bounded by active (type, user) pairs, refresh cost tracks each batch, and the drained answer equals the one-shot batch computation bit-for-bit",
)
def streaming_user_value_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import apply_agg_delta
    from ..sources.catalog import load_events
    from .relational_queries import HHI_PPM_SQL

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "user_id", "value")

    def delta(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("event_type", "user_id").agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"),
        )

    merge = partial(
        apply_agg_delta,
        keys=["event_type", "user_id"], measures=["n", "s"], count_col="n",
    )
    with ST.staged_stream(spark, ev, "event_id") as stream:
        sums = ST.fold_deltas(stream, delta, merge)
    stats = sums.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("s") * F.col("s")).alias("s_sq"),
        F.sum("s").alias("s_tot"),
    )
    return (
        stats.filter(F.col("s_tot") > 0)
        .select(
            "event_type",
            "n_users",
            F.col("s_tot").alias("value_e2_total"),
            F.expr(HHI_PPM_SQL).alias("hhi_ppm"),
        )
        .localCheckpoint()
    )


@query(
    "streaming_value_exact_quantiles",
    # Streaming EXACT order statistics — no sketch, no approximation:
    # the standing state is the per-(type, cents) COUNT table, which is
    # purely additive (micro-batch deltas merge commutatively via the
    # exactly-once apply_agg_delta fold — file-arrival order cannot
    # change a sum of counts, so the nondeterministic file order the
    # stream source delivers is harmless). The finalize step is the
    # r11 frequency-table rank decomposition over the standing counts:
    # median/p90 at rank-exact positions, min/max from the same tiny
    # table. State is bounded by the value DOMAIN (distinct cents per
    # type), not the stream length — the reason exact quantiles are
    # streamable here at all, and the honest contract: unbounded-domain
    # values need the KLL sketch path (events_kll_value_rollup).
    # Batch-equivalence oracle: the drained fold must equal a one-shot
    # ROW_NUMBER computation over the whole fixture (an INDEPENDENT
    # formulation of the same order statistics).
    oracle="""
        WITH base AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents,
                   event_id
            FROM events
        ),
        ranked AS (
            SELECT event_type, cents,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY cents, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM base
        )
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(MIN(cents) AS BIGINT) AS min_cents,
               MIN(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS median_cents,
               MIN(CASE WHEN rn = (n * 9 + 9) // 10 THEN cents END) AS p90_cents,
               CAST(MAX(cents) AS BIGINT) AS max_cents
        FROM ranked GROUP BY event_type
    """,
    description="Streaming EXACT median/p90 per event type (sketch-free): the standing state is the per-(type, cents) count table — the mergeable sufficient statistic for exact order statistics on bounded domains — folded via exactly-once apply_agg_delta (counts commute, so nondeterministic file order is harmless); finalize is the r11 frequency-table rank decomposition; state bounded by the value domain, not stream length (unbounded domains take the KLL sketch path); drained fold equals the one-shot batch bit-for-bit",
)
def streaming_value_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import apply_agg_delta
    from ..operators.quantiles import freq_table_rank_stats_from_counts
    from ..sources.catalog import load_events

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")

    def delta(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ).agg(F.count("*").alias("n"))

    merge = partial(
        apply_agg_delta, keys=["event_type", "cents"], measures=["n"], count_col="n"
    )
    with ST.staged_stream(spark, ev, "event_id") as stream:
        counts = ST.fold_deltas(stream, delta, merge)
    stats = freq_table_rank_stats_from_counts(
        counts, "event_type", "cents", "n",
        rank_exprs={
            "median_cents": "(n + 1) DIV 2",
            "p90_cents": "(n * 9 + 9) DIV 10",
        },
        extra_aggs={"min_cents": F.min("v"), "max_cents": F.max("v")},
    )
    return stats.select(
        "event_type", "n", "min_cents", "median_cents", "p90_cents",
        "max_cents",
    ).localCheckpoint()


@query(
    "streaming_kll_value_maintenance",
    # The UNBOUNDED-domain streaming quantile path the exact-quantiles
    # contract defers to (r12, VERDICT r11 item 7): per-micro-batch
    # per-(type, day) KLL partials fold into standing per-day sketches
    # via pairwise kll_sketch_merge (sketch merge is associative and
    # order-independent in RANK SEMANTICS, so nondeterministic file
    # order cannot move an estimate outside the rank-error bound); the
    # finalize is the SAME merge + judge-column tree as the one-shot
    # events_kll_value_rollup (operators/sketches.kll_rollup_finalize),
    # so the drained fold is graded by the identical contract: the
    # merged sketch saw exactly every row once (n_match — also the
    # exactly-once witness: a redelivered batch double-counts the
    # stream length) and each pXX estimate lands within the 3% rank
    # tolerance of the exact discrete quantiles. Judge columns are
    # plain SQL; flags pinned 1.
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_events,
               1 AS n_match,
               1 AS p50_rank_ok,
               1 AS p95_rank_ok,
               1 AS p99_rank_ok
        FROM events
        GROUP BY event_type
    """,
    description="Streaming KLL quantile maintenance (the unbounded-domain twin of streaming_value_exact_quantiles, per that contract): micro-batch per-(type, day) KLL partials fold into standing KB sketches via pairwise kll_sketch_merge under an exactly-once foreachBatch; finalize shares events_kll_value_rollup's merge + judge tree, asserting exact stream length (the exactly-once witness) and 3% rank accuracy in-plan; standing state is days x KB regardless of stream length or value domain",
)
def streaming_kll_value_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        kll_rollup_finalize,
        kll_value_base,
        merge_sketch_cells,
    )
    from ..sources.catalog import load_events

    ev = load_events(spark, sf_dir).select("event_id", "ts", "event_type", "value")

    def delta(batch_df: DataFrame) -> DataFrame:
        return kll_value_base(batch_df).groupBy("event_type", "_day").agg(
            F.expr("kll_sketch_agg_bigint(_ve4, 400)").alias("_sk")
        )

    merge = partial(
        merge_sketch_cells, keys=["event_type", "_day"], union="kll_sketch_merge_bigint"
    )
    # Two staged files -> two real availableNow micro-batches: the same
    # (type, day) cell arrives in both batches (files are keyed by
    # event_id, not day), so the pairwise-merge collision branch is
    # genuinely exercised, not vacuous.
    with ST.staged_stream(spark, ev, "event_id") as stream:
        sketches = ST.fold_deltas(stream, delta, merge)
    return kll_rollup_finalize(sketches, kll_value_base(ev)).localCheckpoint()
