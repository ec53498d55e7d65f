"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point and scaled down by env for the
sandbox: AQE on (runtime re-plan + skew-join splitting), Arrow transfer for
every pandas UDF, shuffle partitions sized to cores locally (on a real
cluster this is set to ~2-3× total cores by spark-submit conf).
"""

from __future__ import annotations

import os


def get_spark(
    app_name: str = "stractt-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
):
    from pyspark.sql import SparkSession

    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # autoBroadcastJoinThreshold default 10 MB is right for our dims
        .config("spark.ui.enabled", "false")
        # local mode = ONE shared heap for all task threads; concurrent
        # collect_list aggregations GC-thrash under a small heap (measured:
        # segment encode anti-scaled 8→32 cores at 8g)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def shuffle_partitions(spark) -> int:
    """``spark.sql.shuffle.partitions`` as an int.  A non-numeric value —
    e.g. ``"auto"`` on platforms with auto-optimized shuffle — falls back
    to ``defaultParallelism``."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism
