"""Phase decomposition of streaming_ivfpq_index_ingest (r15): where do
the ~19 s go after the ANN job-chain cuts? Warm session, sf0.1, one
timed pass per phase (the query is run end-to-end, phases timed inline).

Usage: python tools/ingest_decomp_probe.py [reps=2]
"""

import os
import sys
import time

sys.path.insert(0, os.getcwd())

from pyspark.sql import functions as F  # noqa: E402

from analyzing_big_data_in_scala_spark.operators import pq as PQ  # noqa: E402
from analyzing_big_data_in_scala_spark.operators.similarity import (  # noqa: E402
    spherical_assign,
)
from analyzing_big_data_in_scala_spark.session import get_spark  # noqa: E402
from analyzing_big_data_in_scala_spark.sources.catalog import load_table  # noqa: E402
from analyzing_big_data_in_scala_spark.streaming import stream as ST  # noqa: E402


def run_once(spark, sf_dir):
    t = {}
    emb = load_table(spark, sf_dir, "embeddings")
    sample = emb.filter(F.col("vec_id") < 400)
    rest = emb.filter(F.col("vec_id") >= 400)
    prefix = "ivfpqs_index"

    t0 = time.perf_counter()
    PQ.build_ivfpq_index(sample, prefix=prefix)
    t["build_offline"] = time.perf_counter() - t0

    def fold(batch_df, batch_id):
        batch = batch_df.localCheckpoint()
        if not batch.take(1):
            return
        PQ.ivfpq_index_append(batch, prefix=prefix)

    t0 = time.perf_counter()
    with ST.staged_stream(spark, rest.select("vec_id", "embedding"), "vec_id") as stream:
        t["stage_write"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        ST.fold_available_now(stream, fold)
        t["drain"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    for tab in ("codes", "centroids", "codebook"):
        spark.catalog.refreshTable(f"{prefix}_{tab}")
    probes = emb.filter(F.col("vec_id") < 3)
    indexed = PQ.ivfpq_topk_indexed(
        spark, emb, probes, prefix=prefix, k=10, nprobe=4
    ).localCheckpoint(eager=False)
    indexed.write.format("noop").mode("overwrite").save()
    t["indexed_search"] = time.perf_counter() - t0

    t0 = time.perf_counter()
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
    out = n_idx.join(n_agr, "query_id", "left").select(
        "query_id",
        F.col("n_indexed").cast("long").alias("n_indexed"),
        F.coalesce("n_agree", F.lit(0)).cast("long").alias("n_agree"),
    ).localCheckpoint()
    t["live_twin_agree"] = time.perf_counter() - t0
    t["TOTAL"] = sum(t.values())
    return t, sorted(tuple(r) for r in out.collect())


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ingest-decomp-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for r in range(reps):
        t, rows = run_once(spark, sf_dir)
        print(f"pass {r}: " + "  ".join(f"{k}={v:.2f}s" for k, v in t.items()))
        print("rows:", rows)
    spark.stop()


if __name__ == "__main__":
    main()
