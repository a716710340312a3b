"""Bucketed tables: pre-shuffled storage for co-located joins.

At 100 TB the dominant cost of a big-big equi join is shuffling both sides
on the join key. Writing the fact tables bucketed by that key moves the
shuffle to WRITE time, once; every subsequent join on the key reads
co-located buckets and the exchange disappears from the plan entirely
(verified by tests/test_scale_layout.py asserting no Exchange operator).

Spark bucketing needs a saved table (metastore entry); in local mode the
in-memory catalog + spark-warehouse dir suffice.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def drop_table_and_location(spark: SparkSession, table_name: str) -> None:
    """Drop a managed table AND its warehouse directory. A previous session
    may have left the location behind without a catalog entry (saveAsTable
    then refuses with LOCATION_ALREADY_EXISTS)."""
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), table_name.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 8,
    sorted_within: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist `df` bucketed (and optionally sorted) by `bucket_col`.
    Sorting within buckets additionally enables merge joins without a sort
    step."""
    spark = df.sparkSession
    drop_table_and_location(spark, table_name)

    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sorted_within:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table_name)


def cocolated_join(spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner") -> DataFrame:
    """Join two tables bucketed on the SAME key with the SAME bucket count:
    Catalyst recognizes the matching output partitioning and plans the join
    with zero exchanges."""
    return spark.table(left_table).join(spark.table(right_table), on, how)
