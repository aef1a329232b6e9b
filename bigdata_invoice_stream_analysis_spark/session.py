"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); production posture is a
multi-executor cluster, so every default here is chosen to survive both:
AQE on (runtime coalesce + skew-join handling), batch shuffle
partitions sized to cores locally (a cluster deployment overrides via
``extra_conf`` or spark-submit), Arrow enabled for the few pandas-UDF
operators, UTC session time zone so timestamp semantics match the
DuckDB oracle. Streaming queries do not inherit the shuffle count:
streaming.runtime.state_partitions sizes each stateful query when it
starts, from the cores and the number of concurrent queries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "bigdata-invoice-stream-analysis-spark"


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # files.maxPartitionBytes default 128m is right for the cluster
        # posture; local parquet at small SF produces few input splits
        # either way, AQE coalesces the tail.
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
