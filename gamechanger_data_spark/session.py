"""SparkSession factory.

Defaults are tuned for correctness-vs-oracle comparison (UTC session timezone,
Arrow enabled) and for scale-minded local execution (AQE on, skew-join on,
shuffle partitions sized to cores rather than the 200 default).

On a real cluster the same builder is used with ``master`` unset (inherited
from spark-submit) and ``shuffle_partitions`` sized to 2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gamechanger_data_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master=None`` respects spark-submit / an existing session; local test
    runs pass ``local[N]`` explicitly. ``SPARK_GRAFT_CPUS`` (driver contract)
    sets the default local parallelism.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None and not SparkSession.getActiveSession():
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")  # opt-in per read
        # INT96 (the legacy default) carries NO parquet min/max statistics,
        # which would silently disable timestamp zone maps (LakeTable file
        # skipping) AND row-group pruning on ts predicates everywhere.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Local-scale input splitting: the default 128m merges the small
        # part-files of a micro-batch into 1-2 splits, serializing the map
        # stage regardless of cores. 16m keeps map parallelism ≈ cores at
        # sandbox data sizes; on a real cluster raise it back via extra_conf.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # Tungsten sort/aggregate buffers off-heap: the merge path's map stage
    # (wide-row sort + shuffle serialize) was measured ~30% JVM GC time
    # with on-heap buffers; off-heap moves that churn out of the collector
    # (~10% wall on the CDC merge, interleaved A/B in commit ab37f55).
    # Parameterized: size via SPARK_GRAFT_OFFHEAP (bytes-ish string, e.g.
    # "6g"; set empty to disable) — on a cluster, budget it INSIDE the
    # container's memoryOverhead headroom rather than this local default.
    offheap = os.environ.get("SPARK_GRAFT_OFFHEAP", "6g")
    if offheap:
        builder = builder.config("spark.memory.offHeap.enabled", "true").config(
            "spark.memory.offHeap.size", offheap
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
