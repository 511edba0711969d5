"""Event-time streaming semantics over `events` (SURVEY.md §2.3 E6/E7):
tumbling / sliding / session windows with watermarks, and streaming
dedup. The reference has none of this (late data is inserted wherever it
lands, SURVEY.md §2.2) — these are the Spark-native operators the rebuilt
engine adds.

Every aggregation here is expressed once and runs in BOTH batch and
streaming mode (same function) — the batch run is the oracle-checkable
form; the streaming run adds watermark-driven state eviction. Batch-vs-
stream equivalence is pinned by tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from user_feed_cdc_spark.session import input_width, rebind, scoped_stream
from user_feed_cdc_spark.sources.tables import load_events

DEFAULT_WATERMARK = "10 minutes"

def events_stream_dir(sf_dir: str) -> str:
    """A directory exposing ONLY the events parquet of an sf dir, for
    file-stream replay (see table_stream_dir)."""
    return table_stream_dir(sf_dir, "events")


def table_stream_dir(sf_dir: str, table: str) -> str:
    """A directory exposing ONLY one table's parquet of an sf dir, for
    file-stream replay: FileStreamSource requires a directory (it
    reuses the path as basePath), and pointing it at the whole sf dir
    would sweep other tables into the footer sniff. Built once per
    (sf dir, table) as a symlink under the system temp dir; concurrent
    creators tolerate each other."""
    import hashlib
    import os
    import tempfile

    link_dir = os.path.join(
        tempfile.gettempdir(),
        "ufc_stream_"
        + hashlib.md5(f"{sf_dir}|{table}".encode()).hexdigest()[:10],
    )
    os.makedirs(link_dir, exist_ok=True)
    link = os.path.join(link_dir, f"{table}.parquet")
    target = os.path.join(sf_dir, f"{table}.parquet")
    try:
        os.symlink(target, link)
    except FileExistsError:
        # A pre-existing link must point where we expect: a stale link
        # (md5-prefix collision, or a dead target from a regenerated
        # testdata tree) would silently stream wrong or no data.
        # Replace atomically — symlink to a temp name, then rename over
        # the old one — so concurrent creators still tolerate each other.
        if os.path.realpath(link) != os.path.realpath(target):
            tmp = link + f".tmp{os.getpid()}"
            os.symlink(target, tmp)
            os.replace(tmp, link)
    return link_dir


def events_file_stream(spark: SparkSession, directory: str) -> DataFrame:
    """Replay an events parquet directory as a stream (test stand-in for
    Kafka; same columns as the batch table). The footer-sniffed loader
    handles both native TIMESTAMP files and legacy int64-nanos files."""
    return load_events(
        spark, directory, streaming=True, options={"maxFilesPerTrigger": "1"}
    )


def tumbling_counts(events: DataFrame, width: str = "1 hour", watermark: str | None = None) -> DataFrame:
    """Tumbling event-time window aggregation. In streaming mode the
    watermark bounds state: windows older than max(ts) - watermark are
    finalized and evicted; later-arriving rows for them are dropped."""
    if watermark and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding windows: each event lands in width/slide windows. Spark
    plans this as an Expand (one row per containing window) + hash agg —
    state scales with open windows, not events."""
    if watermark and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str | None = None
) -> DataFrame:
    """Per-user session windows: a session extends while consecutive
    events are < gap apart. In streaming append mode pass a watermark
    (session state must be finalizable); complete mode runs without."""
    if watermark and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Streaming exact dedup on (event_id, ts): the watermark bounds the
    dedup state — without it, 100 TB of stream would mean unbounded state
    (E7). Honest semantics (verified empirically on Spark 4.1.x, pinned in
    tests/test_streaming.py): duplicates arriving within the watermark
    horizon are suppressed; a duplicate arriving after its key was evicted
    is re-emitted. That is at-least-once — the same guarantee as the
    reference pipeline (README.md:4), with a tunable horizon. Watermark
    late-row FILTERING applies to windowed aggregations, not dedup:
    the state operator reports numRowsDroppedByWatermark there."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return events.dropDuplicates(["event_id", "ts"])


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "5 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the same
    user's clicks in the preceding `horizon` (click ts <= purchase ts <
    click ts + horizon) — the canonical click-attribution shape. Works
    identically on two batch DataFrames (plain interval equi-join) and
    two streaming DataFrames, where the watermarks + the time-range
    predicate are what let Spark EVICT join state: click state older
    than watermark+horizon can never match a future purchase and is
    dropped, so state is bounded by the horizon, not the stream length.
    The join key is user_id → state partitions across executors; the
    range predicate keeps per-key state at |events in horizon|."""
    c = clicks.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
        p = p.withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        (c.user_id == p.user_id)
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        c.user_id, "click_id", "purchase_id", "click_ts", "purchase_ts",
        "purchase_value",
    )


def run_to_memory(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    src_paths: tuple[str, ...] = (),
    width: int | None = None,
):
    """Drive a streaming DF to completion into an in-memory table
    (availableNow) and return the materialized batch result, bound to
    ``spark``.

    The query's shuffle and state-store width is ``width``, else
    session.input_width of ``src_paths`` (the streamed source files or
    dirs), else the session's. A stateful operator keeps the width it
    starts with, so a batch default (the core count, or a cluster's
    hundreds) would make every micro-batch pay for near-empty state
    stores: the stream-stream join entry took 12.6 s at 32 partitions
    and 3.3 s at 8 on a 2 MB source, row-identical. The width is set on
    a scoped session the query starts from; ``spark``'s conf is never
    touched."""
    if width is None and src_paths:
        width = input_width(*src_paths)
    conf = {} if width is None else {"spark.sql.shuffle.partitions": str(width)}
    with scoped_stream(df, conf) as df:
        (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    # The memory sink is DRIVER-RESIDENT by construction (its size is
    # bounded by driver memory whatever the scale), so fanning its
    # local scan into a session-width shuffle for the downstream
    # aggregate is pure scheduling overhead — measured 0.6 -> 0.2 s on
    # a 5k-row sink agg (guide §2.2: don't shuffle into more
    # partitions than the data warrants). coalesce(1) narrows the
    # local scan only; results are partition-independent. The sink's
    # table lives in the query's session; downstream batch work plans
    # under the caller's.
    return rebind(df.sparkSession.table(name), spark).coalesce(1)
