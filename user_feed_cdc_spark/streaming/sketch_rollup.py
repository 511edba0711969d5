"""Streaming sketch rollups — ingest-time HLL sketching, the 100 TB
pattern behind operators/sketches.py made continuous: each micro-batch
computes a FIXED-SIZE HLL sketch per (event_type, day) and appends it to
a lake-resident sketch table; any later distinct-count rollup — per day,
per type, per month, corpus-wide — is a union of those sketches, never a
re-scan of the events.

Why this shape at scale:
- The per-batch aggregation is map-side mergeable: each input split
  collapses to at most |types|·|days-in-batch| sketch rows (~1.5 KB
  each at lgK=12) before the shuffle.
- Sketch rows land dynamic-OVERWRITTEN by `_batch_id` partition
  through cdc_pipeline.overwrite_batch, the idempotent-replay sink the
  feed and ingest tables use too: a replayed batch replaces its own
  sketch rows, and because HLL register merges are idempotent
  max-folds, the merged estimate is EXACTLY the same whether a batch
  ran once or retried (pytest pins this).
- Reading is `hll_union_agg` over the sketch table grouped however the
  question demands — the distinct-users-last-year query touches 365
  rows per type, not a year of raw events.

The reference counts processed events in a process-global dict
(connection_state.py:4-12, reset on restart); this is the durable,
mergeable, restart-free generalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from user_feed_cdc_spark.streaming.cdc_pipeline import overwrite_batch, start_batches


def batch_sketches(batch_df: DataFrame) -> DataFrame:
    """Pure per-batch sketch step (unit-testable without a stream):
    (event_type, day, sk) — one HLL sketch of user_id per group."""
    return (
        batch_df.withColumn("day", F.to_date("ts"))
        .groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )


def write_sketch_stream(
    events: DataFrame,
    sketch_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """events stream → per-micro-batch (event_type, day) HLL sketch rows,
    idempotently partitioned by `_batch_id`."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_batch(batch_sketches(batch_df), sketch_path, batch_id)

    return start_batches(events, write_batch, checkpoint, available_now)


def read_distinct_rollup(
    spark: SparkSession, sketch_path: str, by_day: bool = False
) -> DataFrame:
    """Distinct-user estimates from the accumulated sketch table: merge
    sketches per event_type (optionally per day) with hll_union_agg.
    Register merges are per-register max — associative, commutative,
    idempotent — so estimates are independent of batch boundaries,
    merge order, and replay history."""
    keys = ["event_type", "day"] if by_day else ["event_type"]
    try:
        sk = spark.read.parquet(sketch_path)
    except AnalysisException:
        # cold start: match the REAL result schema for this by_day mode,
        # so callers can union/select identically across runs
        cols = ("event_type string, day date, approx_users long"
                if by_day else "event_type string, approx_users long")
        return spark.createDataFrame([], cols)
    return (
        sk.groupBy(*keys)
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(*keys, F.hll_sketch_estimate("sk").alias("approx_users"))
    )
