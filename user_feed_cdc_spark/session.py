"""SparkSession factory tuned for the local test harness.

The configs mirror what a 1000-executor cluster deployment would set
(AQE on, sane shuffle partitioning, Arrow for the Python boundary);
only master/memory are local-mode specific.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator
from contextlib import contextmanager
from pathlib import Path
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

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


def scoped_session(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A clone of `spark` with `conf` set on the clone only. The clone
    shares the SparkContext, cache and catalog of `spark` and starts
    from a copy of its conf, temp views, functions and registered
    Python data sources. Engine code overrides a conf value this way
    instead of setting it on a session that concurrent queries share;
    streams start from a clone through scoped_stream."""
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for key, value in conf.items():
        clone.conf.set(key, value)
    return clone


def rebind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """`df`'s analyzed plan as a DataFrame of `spark`: it plans and runs
    under that session's conf, batch or streaming."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, spark)


def with_conf(df: DataFrame, conf: dict[str, str]) -> DataFrame:
    """`df` bound to a scoped_session of its own session with `conf`,
    or `df` itself when its session already holds every value (a clone
    added about 17 ms to a small stream drain on 4 vCPUs). Frames
    derived from the result stay in its session; a join keeps the
    session of its left side."""
    session = df.sparkSession
    if all(session.conf.get(k, None) == v for k, v in conf.items()):
        return df
    return rebind(df, scoped_session(session, conf))


@contextmanager
def scoped_stream(df: DataFrame, conf: dict[str, str]) -> Iterator[DataFrame]:
    """with_conf(df, conf) for a frame that streams are started from,
    to be left once they have ended. A scoped clone gets the streaming
    listeners of `df`'s session, so they see its streams too. Each
    session's StreamingQueryManager puts its own listener bus on the
    SparkContext when first used, and nothing removes it, so on leaving
    the clone's bus is taken off again; queued events are delivered
    first, so the copied listeners still see the streams end. Batch
    work on a clone never touches its manager and adds no bus."""
    scoped = with_conf(df, conf)
    if scoped is df:
        yield df
        return
    manager = scoped.sparkSession._jsparkSession.streams()
    for listener in df.sparkSession._jsparkSession.streams().listListeners():
        manager.addListener(listener)
    try:
        yield scoped
    finally:
        (field,) = [
            f
            for f in manager.getClass().getDeclaredFields()
            if f.getType().getSimpleName() == "StreamingQueryListenerBus"
        ]
        field.setAccessible(True)
        context = scoped.sparkSession.sparkContext._jsc.sc()
        context.listenerBus().waitUntilEmpty()
        context.removeSparkListener(field.get(manager))


# Input-derived shuffle width for loops and streaming state. Structured
# Streaming has no AQE: a stateful operator keeps the partition count it
# starts with for the life of its checkpoint, and every micro-batch pays
# a fixed cost per state store. The driver-synced clustering loop pays
# the same per-task cost each round. Both size to their input: about
# WIDTH_BYTES of on-disk source per partition, at least WIDTH_MIN (keeps
# a small input multi-core) and at most WIDTH_MAX (a 100 TB source at
# 8 MiB per partition would otherwise ask for millions).
WIDTH_BYTES = 8 << 20
WIDTH_MIN = 4
WIDTH_MAX = 4096


def _path_bytes(path: str) -> int:
    """On-disk size of a file, `file:` URI or directory tree (links
    followed: stream-replay dirs link to the real parquet)."""
    if ":/" in path:
        path = unquote(urlparse(path).path)
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path, followlinks=True):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def input_width(*paths: str) -> int:
    """ceil(bytes under `paths` / WIDTH_BYTES), clamped to
    [WIDTH_MIN, WIDTH_MAX]."""
    size = sum(_path_bytes(p) for p in paths)
    return max(WIDTH_MIN, min(WIDTH_MAX, math.ceil(size / WIDTH_BYTES)))
