"""SparkSession factory.

The reference creates sessions ad hoc (e.g. StandaloneScala/PageRank.scala:84,
StandaloneScala/EpinionsGraphFrameAnalysis.scala:28-43). We centralize the
factory and bake in the scale posture the reference lacks:

- AQE on (runtime partition coalescing, skew-join splitting) so the same
  logical plans survive a 100x scale-up without hand-tuned partition counts.
- shuffle partitions sized from the env (local[32] test box -> 32; a real
  cluster overrides via SPARK_GRAFT_CPUS or spark-defaults).
- Arrow enabled for the few pandas-UDF paths (multimodal stubs).
- A generated-code cache that holds a whole workload. Spark caches the
  classes whole-stage codegen compiles in a static cache of
  `spark.sql.codegen.cache.maxEntries` entries (default 100). One pass of
  the graph fixpoint queries needs ~150 distinct classes, so with the
  default every warm pass evicted and recompiled ~100 of them; 2000 holds
  it. `spark.sql.codegen.useIdInClassName=false` drops the stage id from
  generated class names, so the same code body produced under a new stage
  id is a cache hit rather than a new class. Both are static confs: they
  take effect only on the session that starts the JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "abds-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    Driver-supplied sessions (the harness passes its own) are used as-is by
    the query layer; this factory is for tests, bench.py, and standalone use.
    """
    cores = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cores
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cores}]"))
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
