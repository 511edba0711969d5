"""CDC change-event pipeline: Debezium-shaped JSON → canonical activity feed.

Re-architecture of the reference's consumer loop (reference:
event_processor.py:36-113, strategy.py, main.py:25-59) as ONE Structured
Streaming query:

    source (kafka | file JSONL) → parse meta → validate (__op=='c')
    → per-table demux → canonical-record union → foreachBatch sink

Design decisions vs the reference:
- The reference's hand-rolled poll/batch loop (poll(1000), batch_size=1,
  event_processor.py:43-72) is replaced by Spark micro-batches with
  checkpointed offsets — at-least-once like the reference (README.md:4),
  but without its swallow-all error path (event_processor.py:111-113).
- The Strategy/Factory dispatch (strategy.py:137-149) becomes a
  SINGLE-PASS demux (SURVEY.md §7.3.5): one from_json with the merged
  sparse schema, then when/otherwise per canonical column — each event
  parsed exactly once. Unknown tables land in a dead-letter output
  instead of raising ValueError.
- uuid1() time-ordering (strategy.py:36) is split into a unique
  activity_id + explicit (event_timestamp, _batch_id, _seq) ordering
  (SURVEY.md §7.3.1). The id is UUID-shaped: a random per-batch token
  plus the row's _seq, so every micro-batch runs the same generated
  code (uuid() would inline a fresh seed and recompile each batch).
- The feed sink is parquet partitioned by (activity_date, user_bucket,
  _batch_id) with dynamic overwrite per batch — the Cassandra
  (user_id, ts DESC) layout re-expressed for a lake, idempotent under
  replay; the Cassandra connector is a sink_format swap. The raw
  streaming tier buckets users coarsely (RAW_USER_BUCKETS files per
  batch); compact_feed re-buckets to the serving fan-out
  (N_USER_BUCKETS).

Transforms are pure column expressions shared verbatim between batch
and streaming (same function, both paths), so the batch oracle check in
operators/cdc.py certifies the streaming semantics too.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

from user_feed_cdc_spark.schemas import CDC_TABLES, MERGED_CDC_SCHEMA

# Minimal schema to route an event before full payload parsing.
META_SCHEMA = T.StructType(
    [
        T.StructField("__op", T.StringType()),
        T.StructField("__table", T.StringType()),
        T.StructField("__source_ts_ms", T.LongType()),
        T.StructField("__source_table", T.StringType()),
    ]
)


def _meta_map(payload) -> Column:
    """Common metadata map (reference: strategy.py:39-46,67-75 — every
    transform carries source_table + primary-key provenance)."""
    return F.create_map(
        F.lit("source_table"), F.coalesce(payload["__table"], F.lit("")),
        F.lit("primary_key_value"), payload["id"].cast("string"),
        F.lit("primary_key_field"), F.lit("id"),
        F.lit("primary_key_type"), F.lit("integer"),
    )


def canonical_columns(table: str, payload) -> list[Column]:
    """The four schema-adapter transforms (reference: strategy.py:21-135),
    as pure UNALIASED column expressions over a parsed payload struct, in
    canonical order (user_id, activity_type, event_timestamp, target_id,
    target_type, metadata). The caller aliases them — they're composed
    inside when/otherwise demux branches where embedded aliases are
    illegal. activity_id is excluded (added by the caller so batch
    oracles can substitute a deterministic id)."""
    event_ts = F.timestamp_millis(payload["__source_ts_ms"])
    if table == "likes":  # reference: strategy.py:21-47
        return [
            payload["liked_by"],
            F.lit("LIKE_SHARD"),
            event_ts,
            payload["shard_id"].cast("string"),
            F.lit("shard"),
            _meta_map(payload),
        ]
    if table == "comments":  # reference: strategy.py:49-76
        return [
            payload["user_id"],
            F.lit("COMMENT_SHARD"),
            event_ts,
            payload["shard_id"].cast("string"),
            F.lit("shard"),
            F.map_concat(
                _meta_map(payload),
                F.create_map(F.lit("message"), F.coalesce(payload["message"], F.lit(""))),
            ),
        ]
    if table == "shards":  # reference: strategy.py:78-108
        return [
            payload["user_id"],
            F.lit("CREATE_SHARD"),
            event_ts,
            payload["id"].cast("string"),
            F.lit("shard"),
            F.map_concat(
                _meta_map(payload),
                F.create_map(
                    F.lit("template_type"), F.coalesce(payload["templateType"], F.lit("")),
                    F.lit("mode"), F.coalesce(payload["mode"], F.lit("")),
                    F.lit("type"), F.coalesce(payload["type"], F.lit("")),
                    F.lit("title"), F.coalesce(payload["title"], F.lit("")),
                ),
            ),
        ]
    if table == "followers":  # reference: strategy.py:110-135
        return [
            payload["follower_id"],
            F.lit("FOLLOW_USER"),
            event_ts,
            payload["following_id"],
            F.lit("user"),
            _meta_map(payload),
        ]
    raise ValueError(f"unknown CDC table {table!r}")


VALID_OP = "c"  # creates only (reference: strategy.py:14-17)


def is_valid(meta, ops: tuple[str, ...] = (VALID_OP,)) -> Column:
    """Validation predicate (reference: strategy.py:12-18): required
    metadata present and the op in `ops` (creates only by default)."""
    return (
        meta["__op"].isNotNull()
        & meta["__table"].isNotNull()
        & meta["__source_ts_ms"].isNotNull()
        & meta["__op"].isin(*ops)
    )


_CANONICAL_COL_NAMES = (
    "user_id",
    "activity_type",
    "event_timestamp",
    "target_id",
    "target_type",
    "metadata",
)


def _parsed_with_seq(raw: DataFrame, value_col: str) -> DataFrame:
    """Shared scaffold of both normalize paths: the streaming-safe _seq
    assignment (monotonically_increasing_id is illegal on streaming
    plans — there the sink assigns it per micro-batch) and acceptance of
    a pre-parsed `_p` column (parse_cdc) so batch callers parse once and
    share the frame with dead_letters."""
    seq = (
        F.lit(None).cast("long")
        if raw.isStreaming
        else F.monotonically_increasing_id()
    )
    if "_p" in raw.columns:
        return raw.select("_p", seq.alias("_seq"))
    return raw.select(
        F.from_json(F.col(value_col), MERGED_CDC_SCHEMA).alias("_p"),
        seq.alias("_seq"),
    )


def _demux_columns(p) -> list[Column]:
    """The single-pass when/otherwise demux: each canonical column picks
    its table's transform expression by __source_table. ONE definition —
    normalize_events and normalize_changes must demux identically, and a
    change here propagates to both (they diverge only in validation and
    output shape)."""
    per_table = {t: canonical_columns(t, p) for t in CDC_TABLES}
    out_cols = []
    for i, name in enumerate(_CANONICAL_COL_NAMES):
        col = F.when(
            p["__source_table"] == CDC_TABLES[0], per_table[CDC_TABLES[0]][i]
        )
        for t in CDC_TABLES[1:]:
            col = col.when(p["__source_table"] == t, per_table[t][i])
        out_cols.append(col.alias(name))
    return out_cols


def _activity_id() -> Column:
    """A UUID-shaped activity id over the frame's `_seq`: 16 hex digits
    of a fresh random token, then `_seq` as 16 hex digits, grouped
    8-4-4-4-12, so uuid.UUID() parses it. `_seq` is unique within a
    batch and the 64-bit token is drawn per call (one call per batch),
    so ids stay unique across batches, checkpoints and tables. The
    token rides in a string literal, which generated code reads from its
    references array, so every batch compiles to the same class (uuid()
    inlines its seed as a long literal: a recompile per batch). Null
    while `_seq` is (a streaming normalize, before the sink assigns
    it)."""
    token = os.urandom(8).hex()
    seq = F.lpad(F.lower(F.hex("_seq")), 16, "0")
    return F.concat(
        F.lit(f"{token[:8]}-{token[8:12]}-{token[12:]}-"),
        seq.substr(1, 4),
        F.lit("-"),
        seq.substr(5, 12),
    )


def _with_batch_seq(batch_df: DataFrame) -> DataFrame:
    """foreachBatch _seq assignment, shared by the append and upsert
    sinks: per-batch monotonically_increasing_id (legal again in
    foreachBatch where the frame is batch), coalesced under any _seq the
    batch-mode normalize already assigned; then, on frames that carry
    an activity_id, this batch's ids from that _seq (_activity_id). The
    `_batch_id` stamp is left to the sink: overwrite_batch keeps it out
    of the generated code."""
    seq = F.monotonically_increasing_id()
    if "_seq" in batch_df.columns:
        seq = F.coalesce(F.col("_seq"), seq)
    df = batch_df.withColumn("_seq", seq)
    if "activity_id" in df.columns:
        df = df.withColumn("activity_id", _activity_id())
    return df


def normalize_events(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """value (JSON string) → canonical activity records.

    SINGLE-PASS demux (SURVEY.md §7.3.5): one from_json with the merged
    sparse schema parses every event once, then each canonical column is a
    when/otherwise over __source_table picking that table's transform
    expression (reference: strategy.py:21-135 + factory dispatch
    strategy.py:137-149). Round 1 used normalize-then-union — four
    filtered branches that each re-parsed the source, so a batch run
    re-derived the input ~4-20× (the round-1 bench's dominant cost) and a
    streaming run kept per-branch source scans. One pass, all narrow
    operations, zero shuffles — at 100 TB this runs at source parallelism
    and reads each byte exactly once.

    `_seq` is the monotonic tiebreaker standing in for the reference's
    TIMEUUID clustering order (strategy.py:36 uuid1(),
    cassandra-init.cql:14-15; SURVEY.md §7.3.1): feed reads order by
    (event_timestamp DESC, _seq DESC). Kafka deployments should derive it
    from (partition, offset); file/batch sources get
    monotonically_increasing_id — monotone in source order within a
    partition, which is exactly the reference's per-consumer arrival
    order guarantee.
    """
    parsed = _parsed_with_seq(raw, value_col)
    p = F.col("_p")
    valid = parsed.filter(is_valid(p) & p["__source_table"].isin(*CDC_TABLES))
    out_cols = _demux_columns(p)
    return valid.select(
        out_cols[0],  # user_id
        _activity_id().alias("activity_id"),
        *out_cols[1:],
        "_seq",
    )


UPSERT_OPS = ("c", "u", "d")


def normalize_changes(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Upsert-mode demux: the same single-pass transform as
    normalize_events, but RETAINING the op for the full c/u/d changelog —
    the mode the reference's Debezium config anticipates (delete
    tombstones kept in rewrite mode, debezium-postgres-connector.
    config.json:17-18) but its create-only consumer never built
    (strategy.py:14-17, non-creates dropped).

    Each change carries its identity `change_key` = (source_table, pk) —
    the upsert key a lake table merges on. Debezium rewrite mode ships
    the full row image on updates AND deletes, so the canonical columns
    are populated for every op; a delete only strictly needs the key +
    ordering columns. Validation matches normalize_events except the op
    set; non-c/u/d ops (snapshot reads) and unknown tables still fall to
    dead_letters."""
    parsed = _parsed_with_seq(raw, value_col)
    p = F.col("_p")
    valid = parsed.filter(
        is_valid(p, UPSERT_OPS)
        & p["__source_table"].isin(*CDC_TABLES)
        & p["id"].isNotNull()
    )
    out_cols = _demux_columns(p)
    return valid.select(
        F.concat(p["__source_table"], F.lit(":"), p["id"].cast("string")).alias(
            "change_key"
        ),
        *out_cols,
        p["__op"].alias("op"),
        "_seq",
    )


def write_feed_upsert_stream(
    changes: DataFrame,
    state_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Upsert-mode feed materialization: each micro-batch lands its
    change rows as a `_batch_id=` partition with dynamic overwrite — the
    same idempotent-replay unit as write_feed_stream — and the CURRENT
    state is the certified upsert window over the changelog
    (read_feed_state). This is merge-on-read, the lake-native shape of
    the reference's would-be update path: writes stay append-cheap and
    conflict-free at any scale (no read-modify-write of a 100 TB state
    table inside a micro-batch), reads apply one window per key, and
    compact_feed_state folds the log into a snapshot on whatever cadence
    the read latency budget demands — exactly Delta/Iceberg
    merge-on-read semantics built from the primitives."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_batch(_with_batch_seq(batch_df), state_path, batch_id)

    return start_batches(changes, write_batch, checkpoint, available_now)


def read_feed_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Latest-state view of the upsert changelog: the certified
    cdc_upsert_state window (operators/cdc.py:235, hash-green in
    CORRECTNESS_r05) applied to the streamed log — newest change per
    change_key wins, ordered by (event_timestamp, _batch_id, _seq) DESC
    so same-millisecond changes resolve by arrival order, and a winning
    delete removes the key entirely. One shuffle on change_key +
    WindowGroupLimit; at 100 TB, read over (snapshot ∪ recent batches)
    after compaction instead of the full log."""
    from pyspark.sql import Window as W

    log = spark.read.parquet(state_path)
    w = W.partitionBy("change_key").orderBy(
        F.col("event_timestamp").desc(),
        F.col("_batch_id").desc(),
        F.col("_seq").desc(),
    )
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") != "d"))
        .drop("_rn", "op", "_batch_id", "_seq")
    )


def compact_feed_state(spark: SparkSession, state_path: str, compacted_path: str) -> None:
    """Merge-on-write compaction for the upsert changelog: collapse the
    log into its current-state snapshot so serving reads skip the
    per-key window. Run per closed period, like compact_feed."""
    read_feed_state(spark, state_path).write.mode("overwrite").parquet(
        compacted_path
    )


def run_cdc_upsert_pipeline(
    spark: SparkSession,
    source_path: str,
    state_path: str,
    checkpoint: str,
    available_now: bool = True,
    max_files: int | None = None,
):
    """End-to-end upsert mode: file JSONL change stream (c/u/d) →
    normalize_changes → idempotent changelog → read_feed_state view.
    The streaming twin of the batch-certified cdc_upsert_state."""
    raw = file_json_stream(spark, source_path, max_files=max_files)
    return write_feed_upsert_stream(
        normalize_changes(raw), state_path, checkpoint, available_now
    )


def parse_cdc(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """(value, _p) — one merged-schema parse of the raw JSON, shareable
    between normalize_events and dead_letters (both accept the pre-parsed
    form and skip their own from_json). Batch certification persists this
    so the expensive parse runs once for both outputs."""
    return raw.select(
        F.col(value_col).alias("value"),
        F.from_json(F.col(value_col), MERGED_CDC_SCHEMA).alias("_p"),
    )


def dead_letters(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Events the pipeline drops, with a reason — replaces the reference's
    silent `except: pass` (event_processor.py:111-113) and ValueError on
    unknown tables (strategy.py:148-149). Accepts either raw values or
    the parse_cdc pre-parsed form."""
    if "_p" in raw.columns:
        tagged = raw.withColumn("_meta", F.col("_p"))
    else:
        meta = F.from_json(F.col(value_col), META_SCHEMA)
        tagged = raw.withColumn("_meta", meta)
    known = F.col("_meta")["__source_table"].isin(*CDC_TABLES)
    reason = (
        F.when(F.col("_meta").isNull(), "unparseable_json")
        .when(F.col("_meta")["__source_table"].isNull(), "missing_source_table")
        .when(~known, "unknown_table")
        .when(F.col("_meta")["__op"].isNull(), "missing_op")
        .when(F.col("_meta")["__source_ts_ms"].isNull(), "missing_source_ts")
        .when(F.col("_meta")["__table"].isNull(), "missing_table")
        .when(F.col("_meta")["__op"] != VALID_OP, "non_create_op")
    )
    return (
        tagged.withColumn("reason", reason)
        .filter(F.col("reason").isNotNull())
        .select(F.col(value_col).alias("raw_value"), "reason")
    )


# ---------------------------------------------------------------------------
# Sources
# ---------------------------------------------------------------------------


def file_json_stream(spark: SparkSession, path: str, max_files: int | None = None) -> DataFrame:
    """File-based stand-in for the Kafka source: one JSON event per line.
    Same `value: string` contract as the Kafka source, so the pipeline is
    source-agnostic."""
    reader = spark.readStream.format("text")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.load(path).select(F.col("value"))


def kafka_source_options(
    bootstrap_servers: str, topics: str | None = None
) -> dict[str, str]:
    """Option map for the Kafka CDC source (reference: services/kafka.py:8-26,
    main.py:25-31 — 4 topics postgres.public.{followers,likes,comments,
    shards}, earliest offset reset). Pure function so the subscription
    contract is unit-testable without a broker: a typo here would
    otherwise only surface against live Kafka. Offsets ride the Spark
    checkpoint, NOT consumer auto-commit (the reference's at-least-once
    auto-commit, env.py:14-15, is strictly weaker)."""
    from user_feed_cdc_spark.schemas import CDC_TOPIC_PREFIX

    topics = topics or ",".join(f"{CDC_TOPIC_PREFIX}{t}" for t in CDC_TABLES)
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topics,
        "startingOffsets": "earliest",
    }


def kafka_value_frame(records: DataFrame) -> DataFrame:
    """Kafka record frame (key/value binary, topic, partition, offset,
    timestamp, timestampType — the schema every spark-sql-kafka load()
    emits) → the `value: string` contract normalize_events expects.
    Split from kafka_stream so the projection is pinned by a test on a
    static kafka-shaped frame: no broker exists in CI, but a drift in
    this cast/rename would break the live path identically."""
    return records.select(F.col("value").cast("string").alias("value"))


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str | None = None,
) -> DataFrame:
    """Kafka CDC source stream with the same `value: string` contract as
    file_json_stream, so normalize_events is source-agnostic. Requires
    the spark-sql-kafka package on the classpath."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(bootstrap_servers, topics).items():
        reader = reader.option(k, v)
    return kafka_value_frame(reader.load())


def jdbc_source_options(
    url: str, table: str = "followers", user: str = "postgres"
) -> dict[str, str]:
    """Option map for the Postgres table source (reference: the feed read
    path queries followers over psycopg2, main.py:148-154; connection
    coords env.py). Pure function, unit-testable without a database.
    Spark's JDBC source pushes the follower_id predicate down to Postgres
    — the same point query the reference issues, without the injectable
    f-string (main.py:151)."""
    return {
        "url": url if url.startswith("jdbc:") else f"jdbc:postgresql://{url}",
        "dbtable": table,
        "user": user,
        "driver": "org.postgresql.Driver",
    }


def postgres_table(spark: SparkSession, url: str, table: str) -> DataFrame:
    """JDBC-backed DataFrame for a reference Postgres table. Requires the
    postgres JDBC driver on the classpath."""
    reader = spark.read.format("jdbc")
    for k, v in jdbc_source_options(url, table).items():
        reader = reader.option(k, v)
    return reader.load()


# ---------------------------------------------------------------------------
# Sink
# ---------------------------------------------------------------------------


def cassandra_sink_options(
    keyspace: str = "codeshard", table: str = "user_activity"
) -> dict[str, str]:
    """Option map for the spark-cassandra-connector sink (reference sink
    DDL: cassandra-init.cql:6-15, keyspace/table codeshard.user_activity;
    BASELINE names 'Kafka + Cassandra connector' as the deployment
    shape). Pure function so the wiring is unit-testable without a
    cluster; write_feed_stream(sink_format='cassandra') consumes it."""
    return {
        "keyspace": keyspace,
        "table": table,
        # idempotent upsert by primary key replaces the reference's blind
        # INSERT (event_processor.py:95-109): Cassandra writes are
        # last-write-wins on (user_id, activity_id), so replays converge
        "confirm.truncate": "false",
    }


N_USER_BUCKETS = 32  # serving-layout fanout; scale with cluster size at 100 TB
# The raw streaming tier's fanout: every micro-batch writes one file per
# bucket it touches, and each file is a fixed cost on the live path, so
# the raw tier buckets coarsely and compact_feed re-buckets to
# N_USER_BUCKETS for serving. Picked by measurement (perfbench
# cdc_ingest, 4 vCPU): 8 cut live freshness from 437 to 281 ms against
# 32, and beat 4 in 4 of 4 alternating pairs (247 vs 289 ms).
RAW_USER_BUCKETS = 8


def user_bucket_expr(user_id_col, n_buckets: int = N_USER_BUCKETS) -> Column:
    """Deterministic user → bucket assignment. Foldable for a literal
    user_id, so per-user reads partition-prune to 1/n of the files."""
    return F.pmod(F.xxhash64(user_id_col), F.lit(n_buckets))


_FEED_META = "_feed_meta.json"  # '_' prefix: invisible to parquet file listing


def write_feed_meta(
    spark: SparkSession,
    feed_path: str,
    n_user_buckets: int,
    schema: T.StructType | None = None,
) -> None:
    """Record the table's read contract in a sidecar under feed_path:
    its bucket count and, when given, its read schema (as
    StructType.json()). Readers pass a recorded schema to
    spark.read.schema(...) instead of inferring it per read; a layout
    written before any data exists records no schema. Goes through the
    Hadoop FileSystem API so it works on any supported store (local,
    HDFS, s3a), not just local paths."""
    import json

    meta = {"n_user_buckets": n_user_buckets}
    if schema is not None:
        meta["schema"] = schema.jsonValue()
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(feed_path, _FEED_META)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    out.write(json.dumps(meta).encode("utf-8"))
    out.close()


def _feed_contract(
    spark: SparkSession, feed_path: str
) -> tuple[int | None, T.StructType | None]:
    """(bucket count, read schema) recorded with the table; either is
    None when the sidecar (pre-meta tables) or its schema (the raw
    streaming layout) is absent."""
    import json

    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(feed_path, _FEED_META)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None, None
    stream = fs.open(hpath)
    try:
        meta = json.loads(jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()
    schema = meta.get("schema")
    return (
        int(meta["n_user_buckets"]),
        T.StructType.fromJson(schema) if schema is not None else None,
    )


def read_feed_meta(spark: SparkSession, feed_path: str) -> int | None:
    """Bucket count recorded with the table, or None for pre-meta
    tables."""
    return _feed_contract(spark, feed_path)[0]


def _read_feed(spark: SparkSession, feed_path: str, schema: T.StructType | None) -> DataFrame:
    """Parquet read of a feed table: with its recorded schema, building
    the DataFrame starts no Spark job; without one, Spark infers it."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(feed_path)


def write_feed_stream(
    activities: DataFrame,
    feed_path: str,
    checkpoint: str,
    available_now: bool = True,
    n_user_buckets: int = RAW_USER_BUCKETS,
    sink_format: str = "parquet",
):
    """Feed-table sink: parquet partitioned by (activity_date, user_bucket,
    _batch_id) — the lake translation of Cassandra's storage design
    (cassandra-init.cql:14-15): date partitions prune time-range reads,
    user_bucket partitions prune per-user reads to 1/n of the files (the
    user_id partition-key role), and explicit (event_timestamp, _batch_id,
    _seq) ordering replaces the TIMEUUID DESC clustering. This raw tier
    buckets at RAW_USER_BUCKETS (recorded in the sidecar), since each
    batch writes a file per bucket; compact_feed re-buckets to
    N_USER_BUCKETS for serving.

    IDEMPOTENT replay (improves on the reference's at-least-once +
    swallow-all data loss, env.py:14-15 / event_processor.py:111-113):
    each micro-batch dynamic-OVERWRITES exactly its own _batch_id
    partitions, so a retried/replayed batch replaces its previous output
    instead of appending duplicates — effectively-once end-to-end given
    the checkpointed source offsets. _seq is assigned here (per-batch
    monotonically_increasing_id — legal in foreachBatch where the frame
    is batch again); with ascending _batch_id it gives same-millisecond
    events a deterministic total order, and activity_id is derived from
    it (_activity_id). At 100 TB, compact small _batch_id partitions
    periodically; the overwrite unit stays the batch.
    """
    spark = activities.sparkSession
    write_feed = _feed_sink(spark, feed_path, n_user_buckets, sink_format)
    return start_batches(
        _feed_layout(activities, n_user_buckets), write_feed, checkpoint, available_now
    )


def _feed_sink(
    spark: SparkSession, feed_path: str, n_user_buckets: int, sink_format: str
) -> Callable[[DataFrame, int], None]:
    """Record the feed table's bucket count with the table and return its
    micro-batch writer. Both feed streams, write_feed_stream and
    run_cdc_pipeline's dead-letter fan-out, start through here."""
    if sink_format in ("parquet", "txnlog"):
        # record the bucketing contract with the table so readers can
        # validate instead of silently pruning with the wrong modulus
        write_feed_meta(spark, feed_path, n_user_buckets)
    return lambda batch_df, batch_id: _write_feed_batch(
        batch_df, batch_id, feed_path, sink_format
    )


def _feed_layout(activities: DataFrame, n_user_buckets: int) -> DataFrame:
    """Canonical activities plus the feed table's partition columns."""
    return (
        activities
        .withColumn("activity_date", F.to_date("event_timestamp"))
        .withColumn("user_bucket", user_bucket_expr(F.col("user_id"), n_user_buckets))
    )


def start_batches(
    frame: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
    available_now: bool = True,
):
    """Start `frame` as a checkpointed append stream that hands every
    micro-batch to write_batch(batch_df, batch_id): with available_now,
    drain what is there and stop; otherwise run micro-batches back to
    back (the default ProcessingTime(0) trigger) until stopped. Every
    foreachBatch stream in the package starts here."""
    writer = (
        frame.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def overwrite_batch(df: DataFrame, path: str, batch_id: int, *partition_by: str) -> None:
    """The idempotent micro-batch sink: stamp `batch_id` as `_batch_id`
    and dynamic-overwrite parquet under `path`, partitioned by
    (*partition_by, _batch_id). Only this batch's partitions are
    replaced, so a replayed batch (a retry, or a fresh checkpoint over
    the same input, which restarts batch ids at 0) overwrites its own
    earlier output instead of appending duplicates, and every other
    batch's output stays as it is.

    The stamp is a string literal: it names a directory only, so its
    type is never stored (reads infer `_batch_id` as an int from the
    directory name), and a string literal reaches generated
    code through its references array, where an int literal is inlined
    and would recompile the write stage every batch."""
    (
        df.withColumn("_batch_id", F.lit(str(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by, "_batch_id")
        .parquet(path)
    )


def _write_feed_batch(
    batch_df: DataFrame, batch_id: int, feed_path: str, sink_format: str = "parquet"
) -> None:
    """One micro-batch of canonical activities (already carrying
    activity_date/user_bucket) → idempotent partitioned write."""
    df = _with_batch_seq(batch_df)
    if sink_format == "txnlog":
        # Commit through the engine's lakehouse committer (r10 VERDICT
        # directive: the feed sink — reference event_processor.py:89-113
        # — writing through the write protocol): the batch's partitioned
        # parquet lands first, then ONE atomic [add, txn] commit
        # publishes it; a replayed batch id is a no-op via the txn
        # watermark — effectively-once without dynamic-overwrite
        # directory coupling, and the log gives the feed table
        # snapshots, time travel, and checkpointed reads for free.
        from user_feed_cdc_spark.sources.txn_writer import (
            TxnLogWriter,
            commit_batch,
        )

        writer = TxnLogWriter(feed_path, checkpoint_interval=8)
        commit_batch(
            writer, df.withColumn("_batch_id", F.lit(batch_id)), batch_id,
            app="feed_sink",
            partition_by=["activity_date", "user_bucket"],
        )
        return
    if sink_format == "cassandra":
        # connector path (untestable without a cluster): primary-key
        # upsert is naturally idempotent, no _batch_id partitioning
        (
            df.drop("activity_date", "user_bucket", "_seq")
            .write.format("org.apache.spark.sql.cassandra")
            .options(**cassandra_sink_options())
            .mode("append")
            .save()
        )
        return
    overwrite_batch(df, feed_path, batch_id, "activity_date", "user_bucket")


def _read_live(spark: SparkSession, feed_path: str, live: tuple[str, ...]) -> DataFrame:
    """Union of the txn-log feed table's `live` batch files."""
    if not live:
        raise ValueError(f"txn-log feed table at {feed_path} is empty")
    return reduce(
        lambda a, b: a.unionByName(b),
        [spark.read.parquet(os.path.join(feed_path, n)) for n in live],
    )


def read_feed_txnlog(spark: SparkSession, feed_path: str) -> DataFrame:
    """Snapshot read of a txn-log feed table (the sink_format='txnlog'
    arm of _write_feed_batch): replay the engine-written log for the
    live batch files and union their hive-partitioned reads — only
    committed batches are visible, so a crash between a batch's data
    write and its commit can never surface half a batch (the exact
    read-side guarantee the dynamic-overwrite layout approximates with
    directory conventions). Planning cost is |live files| driver-side;
    each per-batch read prunes on (activity_date, user_bucket) like
    the raw layout. At scale, OPTIMIZE through the committer folds
    small batch files together without changing this read."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    return _read_live(spark, feed_path, TxnLogWriter(feed_path).snapshot().live)


def compact_feed_txnlog(spark: SparkSession, feed_path: str) -> str:
    """OPTIMIZE for the txn-log feed table: fold every live per-batch
    file into ONE partitioned file set and publish the swap as a
    single atomic remove+add transaction — readers (read_feed_txnlog)
    see the pre- or post-compaction layout, never a mix, and the sink
    keeps appending new batch files meanwhile (its blind appends never
    conflict with this transaction; two concurrent compactions DO
    conflict on their removes, which is the correct outcome). Run
    periodically at scale so the snapshot read unions O(1) compacted
    sets plus the recent tail instead of every batch ever written.
    Returns the committed compacted-file name."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    writer = TxnLogWriter(feed_path)
    txn = writer.begin()
    # ONE snapshot, at the transaction's base version, drives BOTH the
    # data read and the remove set: deriving them from two separate
    # replays would fold a batch committed in between into the
    # compacted file while leaving it live in the log — every one of
    # its rows would then read twice. Pinned to base_version, any
    # compaction that commits after begin() is above it, so the
    # commit-time check sees its removes
    live = writer.snapshot(txn.base_version).live
    merged = _read_live(spark, feed_path, live)
    name = f"compacted{txn.base_version + 1:05d}"
    (
        merged.write.mode("overwrite")
        .partitionBy("activity_date", "user_bucket")
        .parquet(os.path.join(feed_path, name))
    )
    for old in live:
        txn.remove(old)
    txn.add(name)
    txn.commit()
    return name


def compact_feed(spark: SparkSession, feed_path: str, compacted_path: str) -> None:
    """Compact the streaming feed layout into its serving form: the
    per-micro-batch `_batch_id=` partitions (the idempotent-replay unit)
    are folded away, rows are re-partitioned to one file set per
    (activity_date, user_bucket) and SORTED by the feed read order
    (user_id, event_timestamp DESC, _batch_id DESC, _seq DESC) within
    each file — so a per-user page read is a pruned scan of pre-ordered
    rows, the parquet translation of Cassandra's clustering layout.
    Run periodically (e.g. per closed date partition); the streaming
    sink keeps writing new _batch_id partitions meanwhile.

    Rows are re-bucketed to the serving fan-out (N_USER_BUCKETS), whatever
    count the raw table was written with (RAW_USER_BUCKETS by default),
    and the compacted table's sidecar records N_USER_BUCKETS with the
    schema Spark infers from the files just written: one inference per
    compaction instead of one per page read. A writer that later
    changes the table's schema out of band is not seen by readers until
    the next compact_feed, the same contract as the bucket count."""
    feed = spark.read.parquet(feed_path).withColumn(
        "user_bucket", user_bucket_expr(F.col("user_id"), N_USER_BUCKETS)
    )
    (
        feed.repartition(F.col("activity_date"), F.col("user_bucket"))
        .sortWithinPartitions(
            "activity_date",
            "user_bucket",
            "user_id",
            F.col("event_timestamp").desc(),
            F.col("_batch_id").desc(),
            F.col("_seq").desc(),
        )
        .write.mode("overwrite")
        .partitionBy("activity_date", "user_bucket")
        .parquet(compacted_path)
    )
    schema = spark.read.parquet(compacted_path).schema
    write_feed_meta(spark, compacted_path, N_USER_BUCKETS, schema=schema)


def read_user_feed(
    spark: SparkSession,
    feed_path: str,
    user_id: str,
    limit: int = 100,
    offset: int = 0,
    n_user_buckets: int | None = None,
) -> DataFrame:
    """Per-user feed page over the materialized feed table (reference
    endpoint: main.py:136-189, limit+offset pagination main.py:137,164).

    The user_bucket predicate is constant-foldable (hash of a literal),
    so the scan partition-prunes to 1/n_buckets of the files before the
    user_id filter even runs — the Cassandra partition-key read path
    re-expressed. Ordering: (event_timestamp, _batch_id, _seq) DESC — the
    explicit TIMEUUID-clustering replacement (SURVEY.md §7.3.1). The page
    plans as ONE TakeOrderedAndProject(limit=offset+limit, offset=offset)
    over the pruned scan (never a global sort), and collecting it is one
    Spark job.

    The table's _feed_meta sidecar is read once per call. It holds the
    bucket count (recorded by write_feed_stream) and, for a compacted
    table, the read schema (recorded by compact_feed); with a schema,
    building the page starts no Spark job, and without one (pre-meta
    tables, the raw streaming layout) Spark infers it. The pruning
    predicate recomputes user_bucket, so its modulus MUST match the one
    the table was written with — a mismatch silently returns wrong/empty
    pages. Passing an explicit n_user_buckets that contradicts the
    recorded one is therefore an error, and only meta-less (pre-meta)
    tables fall back to the default."""
    recorded, schema = _feed_contract(spark, feed_path)
    if n_user_buckets is None:
        n_user_buckets = recorded if recorded is not None else N_USER_BUCKETS
    elif recorded is not None and recorded != n_user_buckets:
        raise ValueError(
            f"feed table at {feed_path} was written with "
            f"n_user_buckets={recorded}, but the read asked for "
            f"{n_user_buckets}; pruning with the wrong modulus would "
            "silently return wrong pages"
        )
    feed = _read_feed(spark, feed_path, schema)
    return _page_from_frame(feed, user_id, limit, offset, n_user_buckets)


def _page_from_frame(
    feed: DataFrame, user_id: str, limit: int, offset: int, n_user_buckets: int
) -> DataFrame:
    """One user's page: bucket+user filter, then the native top-k with
    offset. (event_timestamp, _batch_id, _seq) is a total order per
    user, so the slice is deterministic."""
    return (
        feed.filter(
            (F.col("user_bucket") == user_bucket_expr(F.lit(user_id), n_user_buckets))
            & (F.col("user_id") == user_id)
        )
        .orderBy(
            F.col("event_timestamp").desc(),
            F.col("_batch_id").desc(),
            F.col("_seq").desc(),
        )
        .limit(offset + limit)
        .offset(offset)
    )


class FeedCache:
    """Cache-aside feed serving (C1; reference main.py:142-146 backed by
    cache.py:5-10): the reference checks Redis for a user's rendered
    feed page, falls back to the Cassandra query on miss, and writes the
    result back. The Spark-native analog caches the FEED TABLE, not
    rendered pages: the first read materializes the parquet scan into
    executor memory via persist(), and every subsequent page for ANY
    user is a bucket-pruned filter over the cached columnar blocks.

    Invalidation, unlike Redis, is mostly automatic: a write through
    THIS session (the CDC sink) triggers Spark's refreshByPath on the
    output path, which refreshes the cached relation in place — the
    staleness window the reference papers over with TTLs doesn't exist
    for same-session writers. `invalidate()` covers the case Spark
    can't see: an out-of-band writer (another session/job/engine)
    adding files under the feed path; call it on such signals to drop
    the snapshot and re-list on next read.

    Caching the table instead of per-user pages is the right granularity
    for Spark: one cache entry serves every user (no per-key churn), and
    the per-page work over cached blocks is a pruned in-memory filter
    feeding one TakeOrderedAndProject.

    The _feed_meta sidecar is read once per snapshot: its bucket count
    drives pruning, and its recorded schema (compact_feed's) skips the
    parquet inference job when the snapshot is re-listed. An
    out-of-band schema change is seen only after the next compact_feed
    rewrites the sidecar."""

    def __init__(self, spark: SparkSession, feed_path: str):
        self.spark = spark
        self.feed_path = feed_path
        self._frame: DataFrame | None = None
        self._buckets: int | None = None

    def _materialized(self) -> tuple[DataFrame, int]:
        if self._frame is None:
            recorded, schema = _feed_contract(self.spark, self.feed_path)
            self._buckets = recorded if recorded is not None else N_USER_BUCKETS
            self._frame = _read_feed(self.spark, self.feed_path, schema).persist()
        return self._frame, self._buckets

    def page(self, user_id: str, limit: int = 100, offset: int = 0) -> DataFrame:
        feed, buckets = self._materialized()
        return _page_from_frame(feed, user_id, limit, offset, buckets)

    def invalidate(self) -> None:
        """Evict the cached feed snapshot (call after a CDC batch lands,
        like the reference's cache invalidation on new activity)."""
        if self._frame is not None:
            self._frame.unpersist(blocking=False)
            self._frame = None
            self._buckets = None


def run_cdc_pipeline(
    spark: SparkSession,
    source_path: str,
    feed_path: str,
    checkpoint: str,
    available_now: bool = True,
    dead_letter_path: str | None = None,
):
    """End-to-end: file JSONL source → normalize → partitioned feed table.
    Returns the StreamingQuery (lifecycle: query.stop()/awaitTermination —
    replaces the reference's /start //stop control plane, main.py:84-121).

    With ``dead_letter_path``, the SAME stream (one source, one
    checkpoint, ONE merged-schema parse via parse_cdc) fans out inside
    foreachBatch to both the feed table and a reasoned dead-letter table
    — closing the reference's silent-drop path (`except: pass`,
    event_processor.py:111-113) in streaming mode too, not just in the
    batch certification. A second streaming query would re-read and
    re-parse the source; the multi-output foreachBatch doesn't."""
    raw = file_json_stream(spark, source_path)
    if dead_letter_path is None:
        activities = normalize_events(raw)
        return write_feed_stream(activities, feed_path, checkpoint, available_now)
    write_feed = _feed_sink(spark, feed_path, RAW_USER_BUCKETS, "parquet")

    def write_both(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()  # parse once, serve both outputs
        write_feed(_feed_layout(normalize_events(batch_df), RAW_USER_BUCKETS), batch_id)
        overwrite_batch(dead_letters(batch_df), dead_letter_path, batch_id)
        batch_df.unpersist()

    return start_batches(parse_cdc(raw), write_both, checkpoint, available_now)


def pipeline_status(query) -> dict:
    """Control-plane status surface (X1): map StreamingQuery progress to
    the counters the reference's GET /status serves (main.py:79-83 —
    running flag + per-connection processed-message counts backed by
    connection_state.py:4-12). Spark already meters every micro-batch in
    recentProgress, so the status endpoint is a projection of it, not
    new bookkeeping.

    total_input_rows sums numInputRows across the retained progress
    window (spark.sql.streaming.numRecentProgressUpdates, default 100)
    — the analog of the reference's messages_processed counter."""
    progresses = query.recentProgress or []
    last = query.lastProgress
    return {
        "query_id": str(query.id),
        "running": bool(query.isActive),
        "n_batches": len(progresses),
        "total_input_rows": sum(int(p.get("numInputRows") or 0) for p in progresses),
        "last_batch_id": last.get("batchId") if last else None,
        "last_input_rows": int(last.get("numInputRows") or 0) if last else 0,
        "last_timestamp": last.get("timestamp") if last else None,
        # CapturedException exposes no public .desc in PySpark 4.x;
        # str() renders the same message (and one call avoids a second
        # RPC to the JVM)
        "exception": (lambda e: str(e) if e else None)(query.exception()),
    }
