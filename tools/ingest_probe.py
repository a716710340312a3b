"""r14 decomposition of `streaming_ivfpq_index_ingest` (VERDICT r13
item 7: the largest recurring bench entry, 18.6 s in BENCH_r13): time
each component separately at the bench SF so the entry's floor is a
measured decomposition, not an attribution guess.

    python tools/ingest_probe.py [sf_dir] [--update-scaling]

Components (the query's exact stages, same code paths):
  offline_build   — PQ.build_ivfpq_index(sample vec_id<400): geometry
                    train + 3 persisted saveAsTable writes (job-count
                    bound, not data bound)
  staging_write   — streaming.stream.staged_stream: repartitionByRange(2)
                    parquet write of the stream's source files
  drain           — streaming.stream.fold_available_now, the availableNow
                    foreachBatch drain itself (2 micro-batches,
                    localCheckpoint + encode + bucketed append per batch)
  agreement       — indexed ADC search + on-the-fly twin with inline
                    full-corpus re-encode + the left-semi compare

With --update-scaling, REPLACES the `## streaming_ivfpq_index_ingest
decomposition` section in SCALING.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from analyzing_big_data_in_scala_spark.operators import pq as PQ  # noqa: E402
from analyzing_big_data_in_scala_spark.session import get_spark  # noqa: E402
from analyzing_big_data_in_scala_spark.sources.catalog import load_table  # noqa: E402
from analyzing_big_data_in_scala_spark.streaming import stream as ST  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    update = "--update-scaling" in sys.argv
    spark = get_spark("ingest-probe")
    spark.sparkContext.setLogLevel("ERROR")

    emb = load_table(spark, sf_dir, "embeddings")
    sample = emb.filter(F.col("vec_id") < 400)
    rest = emb.filter(F.col("vec_id") >= 400)
    prefix = "ivfpqs_probe"

    # Warm pass at the smallest fixture so JIT/codegen cost doesn't land
    # on one arbitrary component of the measured run.
    from analyzing_big_data_in_scala_spark.plans import QUERIES

    QUERIES["streaming_ivfpq_index_ingest"].fn(
        spark, "/root/testdata/sf0.001"
    ).write.mode("overwrite").format("noop").save()
    spark.catalog.clearCache()

    rounds = []
    for _ in range(3):
        t: dict[str, float] = {}
        t0 = time.perf_counter()
        PQ.build_ivfpq_index(sample, prefix=prefix)
        t["offline_build"] = time.perf_counter() - t0

        def fold(batch_df: DataFrame, batch_id: int) -> None:
            batch = batch_df.localCheckpoint()
            if not batch.take(1):
                return
            PQ.ivfpq_index_append(batch, prefix=prefix)

        t0 = time.perf_counter()
        with ST.staged_stream(
            spark, rest.select("vec_id", "embedding"), "vec_id"
        ) as stream:
            t["staging_write"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            ST.fold_available_now(stream, fold)
            t["drain"] = time.perf_counter() - t0

        for tab in ("codes", "centroids", "codebook"):
            spark.catalog.refreshTable(f"{prefix}_{tab}")
        probes = emb.filter(F.col("vec_id") < 3)
        t0 = time.perf_counter()
        indexed = PQ.ivfpq_topk_indexed(
            spark, emb, probes, prefix=prefix, k=10, nprobe=4
        ).localCheckpoint(eager=False)
        cents = spark.table(f"{prefix}_centroids")
        cb = spark.table(f"{prefix}_codebook")
        from analyzing_big_data_in_scala_spark.operators.similarity import (
            spherical_assign,
        )

        cells = spherical_assign(emb, cents).select(
            "vec_id", F.col("centroid_id").alias("cell")
        )
        live_codes = PQ.pq_encode(emb, cb, m=16).join(cells, "vec_id")
        live = PQ.ivfpq_topk(
            emb, probes, k=10, nprobe=4,
            index={"centroids": cents, "codebook": cb, "codes": live_codes},
        )
        both = indexed.join(
            live, ["query_id", "vec_id", "cosine", "rank"], "left_semi"
        )
        n_idx = indexed.groupBy("query_id").agg(
            F.count("*").alias("n_indexed")
        )
        n_agr = both.groupBy("query_id").agg(F.count("*").alias("n_agree"))
        n_idx.join(n_agr, "query_id", "left").write.mode(
            "overwrite"
        ).format("noop").save()
        t["agreement"] = time.perf_counter() - t0
        t["total"] = sum(t.values())
        rounds.append({k: round(v, 2) for k, v in t.items()})
        print(rounds[-1], flush=True)
        spark.catalog.clearCache()

    med = {
        k: sorted(r[k] for r in rounds)[1] for k in rounds[0]
    }
    print("median:", med)

    if update:
        out_md = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SCALING.md",
        )
        section = "## streaming_ivfpq_index_ingest decomposition (tools/ingest_probe.py)"
        lines = [
            "",
            section,
            "",
            f"r14 (VERDICT r13 item 7), sf `{sf_dir}`, median of 3 warm rounds",
            "(seconds); components are the query's exact stages:",
            "",
            "| component | sec |",
            "|---|---|",
        ] + [
            f"| {k} | {med[k]} |"
            for k in ("offline_build", "staging_write", "drain", "agreement",
                      "total")
        ] + [
            "",
            "Reading: all three major components are the tested contract,",
            "so their sum is the entry's documented FLOOR. offline_build is",
            "the geometry train + 3 persisted saveAsTable writes (job-count",
            "bound, the same class as the similarity *_build one-shots —",
            "fitted-state indexes cannot train on a nondeterministically-",
            "ordered stream, so the offline build IS the semantics);",
            "drain is 2 micro-batches (already the minimum that proves",
            "appends commute) x the fixed per-batch fold job chain;",
            "agreement is the indexed ADC search PLUS the on-the-fly twin",
            "that re-encodes the FULL corpus inline — the verification that",
            "the streamed appends encoded exactly what a batch encode would",
            "have, i.e. the query's correctness claim. None is removable",
            "without un-testing the contract; the bench-side build/search",
            "split applied to the similarity family does not apply here",
            "because repeating the drain over prebuilt state would",
            "double-append (state mutates per sample).",
            "",
        ]
        body = "\n".join(lines)
        old = open(out_md).read() if os.path.exists(out_md) else ""
        idx = old.find("\n" + section)
        if idx >= 0:
            end = old.find("\n## ", idx + 1)
            old = old[:idx] + (old[end:] if end >= 0 else "")
        with open(out_md, "w") as f:
            f.write(old.rstrip("\n") + "\n" + body)
        print(f"SCALING.md section updated ({out_md})")


if __name__ == "__main__":
    main()
