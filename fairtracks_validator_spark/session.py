"""SparkSession factory with scale-oriented defaults.

Designed for a multi-executor cluster reading ~100 TB; tested on ``local[N]``.
AQE is on (runtime re-plan, skew-join splitting, partition coalescing), Arrow
is on (all custom kernels are pandas/Arrow UDFs — no per-row Python anywhere,
per the north rule).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fairtracks_validator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` resolution: explicit argument > ``SPARK_GRAFT_MASTER`` env >
    the cluster manager's own ``spark.master`` (under spark-submit the
    gateway JVM already carries it — detected via ``PYSPARK_GATEWAY_PORT``
    — and the builder does NOT override it; code-review r4: forcing
    ``local[N]`` here silently ran submitted jobs on the driver node) >
    ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) for plain-python runs.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core keeps all cores busy
        # without tiny-task overhead at test scale; a real cluster would size
        # this to ~2-3x total cores or rely on AQE coalescing from a high cap.
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if master is not None:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def path_exists(spark: SparkSession, path: str, child: str | None = None) -> bool:
    """Whether ``path`` (or its ``child``) exists, asked of the path's
    Hadoop FileSystem: ``os.path`` sees only the driver's local disk, so on
    a file://, hdfs:// or s3a:// directory it would read as missing."""
    sc = spark.sparkContext
    fs_path = sc._jvm.org.apache.hadoop.fs.Path
    p = fs_path(path) if child is None else fs_path(path, child)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()).exists(p)
