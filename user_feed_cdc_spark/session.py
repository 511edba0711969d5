"""SparkSession factory tuned for the local test harness.

The configs mirror what a 1000-executor cluster deployment would set
(AQE on, sane shuffle partitioning, Arrow for the Python boundary);
only master/memory are local-mode specific.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Built by tools/build_localfs_jar.py from the Java sources beside it.
LOCALFS_JAR = Path(__file__).resolve().parent / "jvm" / "nio-localfs.jar"


def default_cpus() -> str:
    """SPARK_GRAFT_CPUS, or else the CPUs this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "user_feed_cdc_spark") -> SparkSession:
    if not LOCALFS_JAR.is_file():
        raise FileNotFoundError(
            f"{LOCALFS_JAR} is missing; build it with tools/build_localfs_jar.py"
        )
    cpus = default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # match local parallelism; on a real cluster AQE coalesces anyway
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Local file:// I/O. With no libhadoop (the pip PySpark ships
        # none), Hadoop's RawLocalFileSystem forks `chmod` for every
        # file, .crc and directory it creates, and `readlink` for every
        # rename: about 5 ms each, the bulk of a streaming micro-batch's
        # sink commit and of its walCommit/commitOffsets. The jar's
        # classes do both in-process (java.nio) with the same modes and
        # link results, and stay checksummed: the FileSystem API keeps
        # LocalFileSystem's .crc files, and FileContext (the streaming
        # checkpoint: offset/commit logs, state-store deltas) is a
        # ChecksumFs again, so a torn or bit-flipped checkpoint file
        # fails the query on read. Only the file:// scheme is bound;
        # HDFS/S3 keep their own implementations.
        .config("spark.driver.extraClassPath", str(LOCALFS_JAR))
        .config("spark.executor.extraClassPath", str(LOCALFS_JAR))
        .config("spark.hadoop.fs.file.impl", "userfeed.localfs.NioLocalFileSystem")
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "userfeed.localfs.NioLocalFs")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
