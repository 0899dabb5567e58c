"""SparkSession factory with the engine's standard tuning.

Single place for the scale-oriented defaults: AQE (runtime re-plan + skew-join
splitting), Arrow-batched pandas UDF transfer, and a shuffle-partition count
sized to the local core count (on a real cluster this is set per job size).
The session-settable part is ``runtime.SESSION_CONFS``, which
``ensure_runtime`` also applies to sessions built elsewhere.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .runtime import SESSION_CONFS, ensure_pythonpath


def get_spark(
    cores: int | None = None,
    app_name: str = "gdal_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ensure_pythonpath()
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # large worker pipe buffer, paired with SESSION_CONFS' small
        # Arrow batches
        .config("spark.buffer.size", str(1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
    )
    for k, v in SESSION_CONFS.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
