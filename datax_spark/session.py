"""SparkSession factory with the engine's tuned defaults.

DataX sizes its runtime with channel counts and per-channel byte/record caps
(reference: core/src/main/java/com/alibaba/datax/core/job/JobContainer.java:394-449,
core/.../transport/channel/Channel.java:148-204).  On Spark the equivalents are
shuffle partitioning, AQE, and input-split sizing — set once here so every
entry point (tests, bench, driver) gets the same engine behavior.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the 100 TB design point, scaled to local mode:
#  - AQE on: runtime coalescing + skew-join splitting replaces DataX's static
#    channel planner.
#  - shuffle.partitions ≈ 3-5× cores locally; on a real cluster this is set to
#    ~2-3× total executor cores (or left to AQE's initialPartitionNum).
#  - maxPartitionBytes 128m: keeps scan partitions memory-safe at any SF.
#  - Arrow enabled: the pandas-UDF escape hatch must be vectorized.
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # At-rest integrity: parquet page-level CRC32 on write (parquet-mr
    # default, pinned explicitly) and VERIFIED on every read (not the
    # default).  This is the filesystem-independent layer — the lake
    # publishes staged files with os.rename, so Hadoop LocalFS .crc
    # sidecars do not follow them, and object stores (S3A) verify nothing
    # on read; a flipped bit in any data page fails the scan loudly
    # (ParquetDecodingException: CRC checksum verification failed)
    # instead of silently folding garbage into query results.  Cost is a
    # CRC32 per page — noise next to decompression.
    "spark.hadoop.parquet.page.write-checksum.enabled": "true",
    "spark.hadoop.parquet.page.verify-checksum.enabled": "true",
}


def get_session(
    app_name: str = "datax-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores``: int N → ``local[N]``; "*" → all cores; None → env
    ``SPARK_GRAFT_CPUS`` or all cores.  Under ``spark-submit --master ...``
    the submitted master WINS: a programmatic .master() would override
    spark-submit's (builder conf beats system properties), so the local[N]
    default is applied only when no ``spark.master`` arrived from the
    launcher — the same code runs unchanged on a multi-executor cluster
    (``spark-submit --py-files dist/datax_spark.zip submit.py job.json``).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    from pyspark import SparkConf

    if not SparkConf(loadDefaults=True).contains("spark.master"):
        builder = builder.master(f"local[{cores}]")
    conf = dict(_BASE_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

