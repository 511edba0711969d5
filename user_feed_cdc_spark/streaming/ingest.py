"""Streaming corpus ingestion with incremental dedup — the continuous
form of operators/dedup.py::dedup_incremental_new_docs (crawl dumps
arrive as a stream; each micro-batch is admitted against the running
digest ledger instead of re-deduping the corpus).

Per micro-batch (foreachBatch, where the frame is batch again):
  1. digest every doc (md5 — 16 bytes; the text never joins/shuffles),
  2. anti-join against the ledger table → never-seen digests only,
  3. collapse within-batch duplicates to the smallest doc_id,
  4. append admitted docs to the corpus and their digests to the ledger,
     both dynamic-OVERWRITTEN by `_batch_id` partition — a replayed
     batch replaces its own output instead of appending duplicates
     (cdc_pipeline.overwrite_batch, the sink every `_batch_id` table
     lands through).

At 100 TB: the ledger is digests only (16 B/doc — ~1.6 TB per 100 B
docs), bucketed on digest so the anti-join co-locates; the admission
join key is a uniform hash, so no skew is possible. State lives in the
lake, not the streaming state store — restarts are free and the ledger
is queryable/compactable like any table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from user_feed_cdc_spark.streaming.cdc_pipeline import overwrite_batch, start_batches


def _ledger_digests(
    spark: SparkSession, ledger_path: str, exclude_batch_id: int | None = None
) -> DataFrame:
    """The accumulated digest set, excluding `exclude_batch_id`'s own
    partition: a REPLAYED batch must admit against the ledger as it was
    before that batch first ran, or it would see its own digests, admit
    nothing, and (on a partial retry) leave stale output behind."""
    try:
        ledger = spark.read.parquet(ledger_path)
    except AnalysisException:  # first batch: no ledger yet
        return spark.createDataFrame([], "digest string")
    if exclude_batch_id is not None:
        ledger = ledger.filter(F.col("_batch_id") != exclude_batch_id)
    return ledger.select("digest")


def admit_new_docs(batch_df: DataFrame, ledger: DataFrame) -> DataFrame:
    """Pure admission step (unit-testable without a stream): digest,
    anti-join the ledger, collapse within-batch dupes to min doc_id.
    Returns (digest, doc_id, text)."""
    batch = batch_df.select("doc_id", "text", F.md5("text").alias("digest"))
    fresh = batch.join(ledger, "digest", "left_anti")
    # identical digest ⇒ identical text, so min_by is deterministic here
    return fresh.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("text", "doc_id").alias("text"),
    )


def dedup_ingest_stream(
    docs_stream: DataFrame,
    corpus_path: str,
    ledger_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """documents stream → incrementally deduped corpus + digest ledger."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        admitted = admit_new_docs(
            batch_df, _ledger_digests(spark, ledger_path, exclude_batch_id=batch_id)
        )
        admitted.persist()  # two writes below; compute admission once
        try:
            overwrite_batch(admitted.select("doc_id", "text"), corpus_path, batch_id)
            overwrite_batch(admitted.select("digest"), ledger_path, batch_id)
        finally:
            admitted.unpersist()

    return start_batches(docs_stream, process, checkpoint, available_now)
