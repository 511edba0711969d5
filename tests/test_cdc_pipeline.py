"""CDC streaming pipeline tests (SURVEY.md §5.2): Debezium-shaped JSONL
fixtures → file stream → canonical feed table, including the drop rules,
dead-letter paths, checkpoint resume, and same-millisecond ordering ties
(FIXTURES.md §B fixture requirements)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from user_feed_cdc_spark.streaming.cdc_pipeline import (
    N_USER_BUCKETS,
    RAW_USER_BUCKETS,
    dead_letters,
    kafka_source_options,
    normalize_events,
    read_user_feed,
    run_cdc_pipeline,
)

BASE_TS = 1704456000000  # 2024-01-05T12:00:00Z in epoch ms


def _ev(table: str, op: str = "c", ts: int | None = BASE_TS, **payload) -> str:
    d = dict(payload)
    d["__op"] = op
    d["__table"] = table
    if ts is not None:
        d["__source_ts_ms"] = ts
    d["__source_table"] = table
    return json.dumps(d)


def fixture_lines() -> list[str]:
    return [
        # one valid create per table (reference strategy.py transforms T1-T4)
        _ev("likes", id=7, shard_id=3, liked_by="2"),
        _ev("comments", id=8, message="nice", user_id="4", shard_id=3, ts=BASE_TS + 1000),
        _ev("shards", id=9, title="t", user_id="5", templateType="react",
            mode="normal", type="public", ts=BASE_TS + 2000),
        _ev("followers", id=10, follower_id="2", following_id="1", ts=BASE_TS + 3000),
        # non-create ops: dropped (strategy.py:14-17)
        _ev("likes", op="u", id=11, shard_id=3, liked_by="2"),
        _ev("likes", op="d", id=12, shard_id=3, liked_by="2"),
        _ev("likes", op="r", id=13, shard_id=3, liked_by="2"),
        # missing __source_ts_ms: dropped (strategy.py:12-18)
        _ev("likes", id=14, shard_id=3, liked_by="2", ts=None),
        # unknown table: dead-letter (strategy.py:148-149)
        _ev("mystery", id=15),
        # same-user same-millisecond tie (SURVEY.md §7.3.1)
        _ev("likes", id=16, shard_id=4, liked_by="2", ts=BASE_TS + 5000),
        _ev("likes", id=17, shard_id=5, liked_by="2", ts=BASE_TS + 5000),
    ]


def bulk_lines(n: int, first_id: int) -> list[str]:
    """`n` valid creates over 300 users (ids "1000".. so they never meet
    a fixture user), cycling through the four tables, all on the
    fixture's date and one millisecond apart."""
    out = []
    for i in range(first_id, first_id + n):
        user, ts = str(1000 + i % 300), BASE_TS + i % 1_000_000
        table = ("likes", "comments", "shards", "followers")[i % 4]
        if table == "likes":
            out.append(_ev(table, id=i, shard_id=i % 50, liked_by=user, ts=ts))
        elif table == "comments":
            out.append(_ev(table, id=i, user_id=user, shard_id=i % 50, message="m", ts=ts))
        elif table == "shards":
            out.append(_ev(table, id=i, user_id=user, title="t", mode="normal",
                           type="public", templateType="react", ts=ts))
        else:
            out.append(_ev(table, id=i, follower_id=user, following_id="1", ts=ts))
    return out


def test_normalize_batch_golden(spark):
    """The transforms, batch-mode, against hand-computed golden rows."""
    raw = spark.createDataFrame([(s,) for s in fixture_lines()], ["value"])
    out = normalize_events(raw).collect()
    assert len(out) == 6  # 4 singles + 2 tied likes
    by_type = {}
    for r in out:
        by_type.setdefault(r.activity_type, []).append(r)

    like = min(by_type["LIKE_SHARD"], key=lambda r: int(r.metadata["primary_key_value"]))
    assert like.user_id == "2"
    assert like.target_id == "3"
    assert like.target_type == "shard"
    assert like.event_timestamp.isoformat() == "2024-01-05T12:00:00"
    assert like.metadata == {
        "source_table": "likes",
        "primary_key_value": "7",
        "primary_key_field": "id",
        "primary_key_type": "integer",
    }

    comment = by_type["COMMENT_SHARD"][0]
    assert comment.user_id == "4"
    assert comment.metadata["message"] == "nice"
    assert comment.target_id == "3"

    shard = by_type["CREATE_SHARD"][0]
    assert shard.user_id == "5"
    assert shard.target_id == "9"  # the new post's own pk (strategy.py:90)
    assert shard.metadata["template_type"] == "react"
    assert shard.metadata["title"] == "t"

    follow = by_type["FOLLOW_USER"][0]
    assert follow.user_id == "2"
    assert follow.target_id == "1"
    assert follow.target_type == "user"

    # activity ids are unique even for same-ms ties
    ids = [r.activity_id for r in out]
    assert len(set(ids)) == len(ids)


def test_dead_letters_batch(spark):
    raw = spark.createDataFrame([(s,) for s in fixture_lines()], ["value"])
    dl = {(r.reason) for r in dead_letters(raw).collect()}
    assert dl == {"non_create_op", "missing_source_ts", "unknown_table"}
    counts = {r.reason: r.n for r in
              dead_letters(raw).groupBy("reason").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"non_create_op": 3, "missing_source_ts": 1, "unknown_table": 1}


def test_dead_letters_malformed_json(spark):
    """Garbage bytes on the topic must land in the dead-letter output
    with a reason — never crash the pipeline, never be silently dropped
    (the anti-`except: pass`). PERMISSIVE from_json maps some malformed
    inputs to an all-null struct rather than a null struct, so both
    unparseable_json and missing_source_table are legitimate reasons."""
    lines = fixture_lines() + ["{not json", "", "42", '"just a string"']
    raw = spark.createDataFrame([(s,) for s in lines], ["value"])
    dls = dead_letters(raw).collect()
    bad = [r for r in dls if r.reason in ("unparseable_json", "missing_source_table")]
    assert len(bad) == 4
    # and the canonical output is unaffected
    assert normalize_events(raw).count() == 6


def test_streaming_pipeline_end_to_end(spark, tmp_path):
    """File stream → checkpointed foreachBatch → partitioned feed table,
    then incremental resume: a second file adds only its own rows."""
    src = tmp_path / "cdc_in"
    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    (src / "batch1.jsonl").write_text("\n".join(fixture_lines()) + "\n")

    q = run_cdc_pipeline(spark, str(src), feed, ckpt)
    q.awaitTermination()
    out1 = spark.read.parquet(feed)
    assert out1.count() == 6
    assert "activity_date" in out1.columns  # partition column
    assert set(out1.select("activity_type").distinct().toPandas()["activity_type"]) == {
        "LIKE_SHARD", "COMMENT_SHARD", "CREATE_SHARD", "FOLLOW_USER"
    }

    # resume from checkpoint: only the new file is processed
    time.sleep(1.1)
    (src / "batch2.jsonl").write_text(
        _ev("followers", id=20, follower_id="9", following_id="1", ts=BASE_TS + 9000) + "\n"
    )
    q2 = run_cdc_pipeline(spark, str(src), feed, ckpt)
    q2.awaitTermination()
    out2 = spark.read.parquet(feed)
    assert out2.count() == 7
    assert out2.filter(F.col("user_id") == "9").count() == 1


def test_feed_sink_commits_through_txn_log(spark, tmp_path):
    """The feed sink writing through the lakehouse committer
    (sink_format='txnlog'): (a) the txn-log snapshot read returns
    byte-for-byte the same activities as the dynamic-overwrite parquet
    layout over the same source, (b) the log shows one commit per
    micro-batch with the feed_sink txn watermark, and (c) a replay of
    the same batches (fresh source checkpoint, same app lineage —
    the redelivery case the watermark exists for) changes nothing."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter
    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        file_json_stream,
        read_feed_txnlog,
        write_feed_stream,
    )

    src = tmp_path / "cdc_in"
    src.mkdir()
    (src / "batch1.jsonl").write_text("\n".join(fixture_lines()) + "\n")

    def run(feed, ckpt, fmt):
        acts = normalize_events(file_json_stream(spark, str(src)))
        q = write_feed_stream(
            acts, str(tmp_path / feed), str(tmp_path / ckpt),
            sink_format=fmt,
        )
        q.awaitTermination()

    run("feed_pq", "ck_pq", "parquet")
    run("feed_tx", "ck_tx", "txnlog")

    # activity_id is random per run; compare the deterministic columns
    key_cols = ["user_id", "activity_type", "event_timestamp", "target_id"]
    pq = spark.read.parquet(str(tmp_path / "feed_pq"))
    tx = read_feed_txnlog(spark, str(tmp_path / "feed_tx"))
    assert sorted(map(tuple, pq.select(*key_cols).collect())) == sorted(
        map(tuple, tx.select(*key_cols).collect())
    )
    assert {"activity_date", "user_bucket"} <= set(tx.columns)

    w = TxnLogWriter(str(tmp_path / "feed_tx"))
    assert w.latest_version() == 0  # one micro-batch -> one commit
    assert w.last_txn("feed_sink") == 0

    # redelivery: fresh checkpoint restarts batch ids at 0; the txn
    # watermark must make the replayed batch a no-op
    run("feed_tx", "ck_tx2", "txnlog")
    assert w.latest_version() == 0
    tx2 = read_feed_txnlog(spark, str(tmp_path / "feed_tx"))
    assert tx2.count() == tx.count()


def test_feed_txnlog_compaction_preserves_snapshot(
    spark, tmp_path, monkeypatch
):
    """compact_feed_txnlog: the atomic batch-file fold must leave the
    snapshot byte-identical, swap the live set to the single compacted
    file, keep the old batch files on disk (vacuum's job, not
    compaction's), and conflict if raced by another compaction —
    including one that commits after this compaction's begin()."""
    import pytest

    from user_feed_cdc_spark.sources.txn_writer import (
        CommitConflict,
        TxnLogWriter,
    )
    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        compact_feed_txnlog,
        file_json_stream,
        read_feed_txnlog,
        write_feed_stream,
    )

    src = tmp_path / "cdc_in"
    src.mkdir()
    (src / "batch1.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    feed = str(tmp_path / "feed_tx")
    acts = normalize_events(file_json_stream(spark, str(src)))
    write_feed_stream(
        acts, feed, str(tmp_path / "ck"), sink_format="txnlog"
    ).awaitTermination()

    key_cols = ["user_id", "activity_type", "event_timestamp", "target_id"]
    before = sorted(
        map(tuple, read_feed_txnlog(spark, feed).select(*key_cols).collect())
    )
    w = TxnLogWriter(feed)
    racing = w.begin()
    for old in w.live_files():
        racing.remove(old)

    name = compact_feed_txnlog(spark, feed)
    assert w.live_files() == [name]
    after = sorted(
        map(tuple, read_feed_txnlog(spark, feed).select(*key_cols).collect())
    )
    assert before == after
    assert os.path.exists(os.path.join(feed, "batch00000"))  # vacuum's job

    with pytest.raises(CommitConflict):
        racing.commit()  # a racing compaction of the same files refuses

    # the live set is read at the transaction's base version, so a
    # compaction landing between begin() and that read still clashes
    import shutil

    shutil.copytree(os.path.join(feed, name), os.path.join(feed, "racer"))
    real_begin = TxnLogWriter.begin

    def begin_then_race(self):
        txn = real_begin(self)
        race = real_begin(self)
        for old in self.live_files():
            race.remove(old)
        race.add("racer").commit()
        return txn

    monkeypatch.setattr(TxnLogWriter, "begin", begin_then_race)
    with pytest.raises(CommitConflict):
        compact_feed_txnlog(spark, feed)


def test_upsert_pipeline_lifecycle(spark, tmp_path):
    """Upsert-mode materialization: a row APPEARS on create, CHANGES on
    update, VANISHES on delete — the c→u→d lifecycle the reference's
    create-only consumer drops — while an untouched key persists
    throughout; then a fresh-checkpoint replay of the same files
    reconverges to the identical final state (idempotence)."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        compact_feed_state,
        read_feed_state,
        run_cdc_upsert_pipeline,
    )

    src = tmp_path / "cdc_in"
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def run():
        q = run_cdc_upsert_pipeline(spark, str(src), state, ckpt)
        q.awaitTermination()
        return {
            r.change_key: r for r in read_feed_state(spark, state).collect()
        }

    # batch 1: like created (+ a bystander follow that must survive)
    (src / "b1.jsonl").write_text(
        _ev("likes", id=7, shard_id=3, liked_by="2") + "\n"
        + _ev("followers", id=10, follower_id="2", following_id="1") + "\n"
    )
    st = run()
    assert set(st) == {"likes:7", "followers:10"}
    assert st["likes:7"].target_id == "3"
    assert st["likes:7"].activity_type == "LIKE_SHARD"

    # batch 2: the like is updated (new shard target, later ts)
    time.sleep(1.1)
    (src / "b2.jsonl").write_text(
        _ev("likes", op="u", id=7, shard_id=4, liked_by="2", ts=BASE_TS + 1000) + "\n"
    )
    st = run()
    assert set(st) == {"likes:7", "followers:10"}
    assert st["likes:7"].target_id == "4"  # changed

    # batch 3: the like is deleted (tombstone with row image, rewrite mode)
    time.sleep(1.1)
    (src / "b3.jsonl").write_text(
        _ev("likes", op="d", id=7, shard_id=4, liked_by="2", ts=BASE_TS + 2000) + "\n"
    )
    st = run()
    assert set(st) == {"followers:10"}  # vanished; bystander intact

    # idempotent replay: fresh checkpoint over the same files converges
    # to the same state (per-file batches to mirror the original runs)
    state2 = str(tmp_path / "state2")
    q = run_cdc_upsert_pipeline(
        spark, str(src), state2, str(tmp_path / "ckpt2"), max_files=1
    )
    q.awaitTermination()
    replay = {r.change_key: r for r in read_feed_state(spark, state2).collect()}
    assert set(replay) == {"followers:10"}
    assert replay["followers:10"].user_id == st["followers:10"].user_id

    # compaction snapshot answers identically without the window
    compacted = str(tmp_path / "state_c")
    compact_feed_state(spark, state, compacted)
    snap = spark.read.parquet(compacted)
    assert {r.change_key for r in snap.collect()} == {"followers:10"}


def test_upsert_same_millisecond_arrival_order(spark, tmp_path):
    """Two changes to one key in the SAME millisecond resolve by arrival
    order (_batch_id, _seq) — the TIMEUUID-tiebreak contract carried
    into upsert mode."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        read_feed_state,
        run_cdc_upsert_pipeline,
    )

    src = tmp_path / "cdc_in"
    src.mkdir()
    state = str(tmp_path / "state")
    # same ts: create then update in one batch — update arrived later
    (src / "b1.jsonl").write_text(
        _ev("likes", id=7, shard_id=3, liked_by="2") + "\n"
        + _ev("likes", op="u", id=7, shard_id=9, liked_by="2") + "\n"
    )
    q = run_cdc_upsert_pipeline(spark, str(src), state, str(tmp_path / "ckpt"))
    q.awaitTermination()
    st = {r.change_key: r for r in read_feed_state(spark, state).collect()}
    assert st["likes:7"].target_id == "9"


def test_feed_table_read_path(spark, tmp_path):
    """Feed query over the materialized feed table: per-user newest-first
    with deterministic tiebreak (the reference read path, main.py:136-168)."""
    src = tmp_path / "cdc_in"
    feed = str(tmp_path / "feed")
    src.mkdir()
    (src / "b.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    q = run_cdc_pipeline(spark, str(src), feed, str(tmp_path / "ck"))
    q.awaitTermination()

    acts = spark.read.parquet(feed)
    user2 = (
        acts.filter(F.col("user_id") == "2")
        .orderBy(F.col("event_timestamp").desc(),
                 F.col("metadata")["primary_key_value"].desc())
        .collect()
    )
    # newest first: the two tied likes (ts+5000) before follow (ts+3000) before like (ts)
    assert [r.metadata["primary_key_value"] for r in user2] == ["17", "16", "10", "7"]


def test_dual_output_pipeline_with_dead_letters(spark, tmp_path):
    """One stream → feed table AND reasoned dead-letter table from a
    single parse (no silent drops in streaming mode — the anti-
    `except: pass`). Counts must partition the input exactly: 11 events
    = 6 canonical + 5 dead-lettered."""
    src = tmp_path / "cdc_in"
    feed = str(tmp_path / "feed")
    dl = str(tmp_path / "dead")
    src.mkdir()
    (src / "b.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    q = run_cdc_pipeline(
        spark, str(src), feed, str(tmp_path / "ck"), dead_letter_path=dl
    )
    q.awaitTermination()
    assert spark.read.parquet(feed).count() == 6
    dls = spark.read.parquet(dl)
    assert dls.count() == 5
    reasons = {r.reason: r.n for r in
               dls.groupBy("reason").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert reasons == {"non_create_op": 3, "missing_source_ts": 1, "unknown_table": 1}


def test_connector_option_plumbing():
    """Cassandra sink + Postgres JDBC source option maps (reference
    deployment shape: cassandra-init.cql:6-15, env.py) — asserted without
    live services."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        cassandra_sink_options,
        jdbc_source_options,
    )

    c = cassandra_sink_options()
    assert c["keyspace"] == "codeshard" and c["table"] == "user_activity"
    j = jdbc_source_options("db:5432/codeshard", "followers")
    assert j["url"] == "jdbc:postgresql://db:5432/codeshard"
    assert j["dbtable"] == "followers"
    assert jdbc_source_options("jdbc:postgresql://x/y", "t")["url"].startswith("jdbc:")


def test_kafka_source_options():
    """The Kafka subscription contract (reference services/kafka.py:8-26,
    main.py:25-31), asserted without a broker — a topic-name typo here
    would otherwise only surface against live Kafka."""
    opts = kafka_source_options("broker:9092")
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["startingOffsets"] == "earliest"
    assert sorted(opts["subscribe"].split(",")) == sorted(
        f"postgres.public.{t}" for t in ("followers", "likes", "comments", "shards")
    )
    assert kafka_source_options("b", "x,y")["subscribe"] == "x,y"


def test_kafka_subscription_round_trips_fixture_topology():
    """Round-trip the subscription against the FIXTURES.md corpus
    (r08 VERDICT item 7): every VALID fixture event routes to a topic
    the default subscription covers, and every subscribed topic is
    exercised by at least one fixture event — so the option map and
    the fixture corpus can't drift apart silently (a renamed table
    would orphan a topic on one side or the other). The unknown-table
    dead-letter fixture must NOT map to a subscribed topic: Debezium
    only publishes topics in the connector's table allowlist
    (debezium-postgres-connector.config.json:12), so 'mystery' rows
    reach the pipeline only through replays/misconfig — which is
    exactly why the dead-letter path, not the subscription, owns them."""
    from user_feed_cdc_spark.schemas import CDC_TABLES, CDC_TOPIC_PREFIX

    subscribed = set(kafka_source_options("b:9092")["subscribe"].split(","))
    fixture_topics = {
        f"{CDC_TOPIC_PREFIX}{json.loads(line)['__source_table']}"
        for line in fixture_lines()
    }
    known = {f"{CDC_TOPIC_PREFIX}{t}" for t in CDC_TABLES}
    assert subscribed == known  # the reference's 4-topic topology
    assert fixture_topics & subscribed == subscribed  # all topics exercised
    # the only unsubscribed fixture topic is the dead-letter probe
    assert fixture_topics - subscribed == {f"{CDC_TOPIC_PREFIX}mystery"}


def test_feed_cache_aside_invalidation(spark, tmp_path):
    """C1 cache-aside analog (reference main.py:142-146/cache.py:5-10):
    pages come from a persisted snapshot; a same-session CDC write
    refreshes the cached relation automatically (Spark refreshByPath —
    no Redis-style staleness window); an OUT-OF-BAND file drop is
    invisible to the snapshot until invalidate()."""
    import shutil
    from pathlib import Path

    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        FeedCache,
        read_user_feed,
    )

    src = tmp_path / "cdc_in"
    feed = str(tmp_path / "feed")
    src.mkdir()
    (src / "batch1.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    run_cdc_pipeline(spark, str(src), feed, str(tmp_path / "ck1")).awaitTermination()

    cache = FeedCache(spark, feed)
    direct = read_user_feed(spark, feed, "9", limit=10).collect()
    cached = cache.page("9", limit=10).collect()
    assert cached == direct
    frame_before = cache._frame
    assert frame_before is not None and frame_before.storageLevel.useMemory

    # same-session write: the sink's refreshByPath updates the cached
    # relation in place — the new user-9 row is visible WITHOUT eviction
    time.sleep(1.1)
    (src / "batch2.jsonl").write_text(
        _ev("followers", id=21, follower_id="9", following_id="3", ts=BASE_TS + 9000)
        + "\n"
    )
    run_cdc_pipeline(spark, str(src), feed, str(tmp_path / "ck2")).awaitTermination()
    after_write = cache.page("9", limit=10).collect()
    assert len(after_write) == len(cached) + 1
    assert cache._frame is frame_before  # same cache entry, refreshed in place

    # out-of-band write (no Spark session involved): duplicate a part
    # file inside an existing partition dir — the snapshot can't see it
    part = next(
        p
        for p in Path(feed).rglob("part-*.parquet")
        if "user_bucket" in str(p.parent)
    )
    shutil.copy(part, part.with_name("part-oob-copy.parquet"))
    assert cache.page("9", limit=10).collect() == after_write  # stale snapshot

    cache.invalidate()
    assert cache._frame is None
    fresh = cache.page("9", limit=10).collect()
    assert fresh == read_user_feed(spark, feed, "9", limit=10).collect()
    assert cache._frame is not frame_before  # rebuilt after eviction


def test_kafka_frame_normalizes_like_file_source(spark):
    """S1 contract: a kafka-shaped record frame (binary key/value +
    topic/partition/offset/timestamp — the exact schema
    spark-sql-kafka's load() emits) pushed through kafka_value_frame →
    normalize_events must produce the SAME canonical rows as the
    file-source path on identical payloads. No broker exists here, but
    this pins the cast/rename and the schema contract so a regression
    in either breaks CI, not production."""
    from pyspark.sql import types as T

    from user_feed_cdc_spark.streaming.cdc_pipeline import kafka_value_frame

    lines = fixture_lines()
    kafka_schema = T.StructType(
        [
            T.StructField("key", T.BinaryType()),
            T.StructField("value", T.BinaryType()),
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("timestampType", T.IntegerType()),
        ]
    )
    records = spark.createDataFrame(
        [
            (None, ln.encode("utf-8"), "postgres.public.likes", 0, i, None, 0)
            for i, ln in enumerate(lines)
        ],
        kafka_schema,
    )
    via_kafka = kafka_value_frame(records)
    assert via_kafka.schema.simpleString() == "struct<value:string>"
    via_file = spark.createDataFrame([(ln,) for ln in lines], "value string")

    drop = {"activity_id", "_seq"}  # random id / source-order id: per-run
    cols = [c for c in normalize_events(via_file).columns if c not in drop]
    got = sorted(map(tuple, normalize_events(via_kafka).select(cols).collect()))
    want = sorted(map(tuple, normalize_events(via_file).select(cols).collect()))
    assert got == want and len(got) == 6


def test_pipeline_status_counters(spark, tmp_path):
    """X1 status surface: after an availableNow run, pipeline_status
    reports the processed-row counters the reference's GET /status
    serves (main.py:79-83)."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import pipeline_status

    src = tmp_path / "cdc_in"
    src.mkdir()
    (src / "batch1.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    q = run_cdc_pipeline(
        spark, str(src), str(tmp_path / "feed"), str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    status = pipeline_status(q)
    assert status["running"] is False
    assert status["n_batches"] >= 1
    assert status["total_input_rows"] == len(fixture_lines())
    assert status["last_batch_id"] is not None
    assert status["exception"] is None
    assert status["query_id"] == str(q.id)


def test_read_user_feed_order_pagination_pruning(spark, tmp_path):
    """read_user_feed: (ts, _batch_id, _seq) DESC ordering resolves
    same-millisecond ties deterministically (SURVEY.md §7.3.1 — the
    TIMEUUID-clustering replacement), OFFSET pagination slices correctly
    (reference main.py:137,164), and the user_bucket predicate reaches the
    scan's partition filters (the Cassandra partition-key read path)."""
    src = tmp_path / "cdc_in"
    feed = str(tmp_path / "feed")
    src.mkdir()
    (src / "b.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    run_cdc_pipeline(spark, str(src), feed, str(tmp_path / "ck")).awaitTermination()

    # user "2": likes 7 (ts), 16 & 17 (tied at ts+5000), follow 10 (ts+3000).
    # _seq is input order, so the tie breaks 17 (later line) before 16.
    page = read_user_feed(spark, feed, "2", limit=2)
    assert [r.metadata["primary_key_value"] for r in page.collect()] == ["17", "16"]
    page2 = read_user_feed(spark, feed, "2", limit=2, offset=2).collect()
    assert [r.metadata["primary_key_value"] for r in page2] == ["10", "7"]
    # rerun is deterministic (same files → same _seq assignment)
    assert [r.metadata["primary_key_value"] for r in page.collect()] == ["17", "16"]

    plan = page._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, "scan lost its PartitionFilters section"
    assert "user_bucket" in plan.split("PartitionFilters", 1)[1][:200]


def test_feed_meta_records_and_validates_bucket_count(spark, tmp_path):
    """The feed table records n_user_buckets in a sidecar; reads resolve
    it automatically, and an explicitly contradicting modulus raises
    instead of silently pruning to wrong/empty pages."""
    import pytest as _pytest

    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        compact_feed,
        read_feed_meta,
        read_user_feed,
    )

    src = tmp_path / "cdc_in"
    feed = str(tmp_path / "feed")
    src.mkdir()
    (src / "b.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    run_cdc_pipeline(spark, str(src), feed, str(tmp_path / "ck")).awaitTermination()

    assert read_feed_meta(spark, feed) == RAW_USER_BUCKETS  # the raw tier's count
    assert read_user_feed(spark, feed, "2", limit=2).count() == 2  # auto-resolve
    assert N_USER_BUCKETS != RAW_USER_BUCKETS
    with _pytest.raises(ValueError, match=f"n_user_buckets={RAW_USER_BUCKETS}"):
        read_user_feed(spark, feed, "2", n_user_buckets=N_USER_BUCKETS)

    # compaction re-buckets to, and records, the serving count
    compacted = str(tmp_path / "feed_c")
    compact_feed(spark, feed, compacted)
    assert read_feed_meta(spark, compacted) == 32


def _compacted_feed(spark, tmp_path) -> str:
    """The fixture events through the CDC pipeline, then compact_feed
    into the serving layout; returns the compacted table's path."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import compact_feed

    src = tmp_path / "cdc_in"
    feed = str(tmp_path / "feed")
    src.mkdir()
    (src / "b.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    run_cdc_pipeline(spark, str(src), feed, str(tmp_path / "ck")).awaitTermination()
    compacted = str(tmp_path / "feed_c")
    compact_feed(spark, feed, compacted)
    return compacted


def _group_jobs(spark, group: str, fn):
    """(fn's result, the Spark job ids fn started under `group`)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "feed page job-count pin")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_compacted_feed_page_is_one_spark_job(spark, tmp_path):
    """A storage page over a compacted table reads its schema from the
    sidecar, so building it starts NO Spark job (no parquet inference),
    and the native top-k with offset collects in exactly one."""
    compacted = _compacted_feed(spark, tmp_path)
    read_user_feed(spark, compacted, "2", limit=2, offset=2).collect()  # warm
    for offset in (0, 2):
        df, build = _group_jobs(
            spark, f"feed-build-{offset}",
            lambda: read_user_feed(spark, compacted, "2", limit=2, offset=offset),
        )
        assert build == [], (offset, build)
        rows, run = _group_jobs(spark, f"feed-collect-{offset}", df.collect)
        assert len(run) == 1, (offset, run)
        assert len(rows) == 2


def test_compact_feed_records_read_schema(spark, tmp_path):
    """compact_feed records the schema Spark infers from the table it
    wrote (as StructType.json()); read_feed_meta still returns the
    bucket count alone."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import read_feed_meta

    compacted = _compacted_feed(spark, tmp_path)
    meta = json.loads((tmp_path / "feed_c" / "_feed_meta.json").read_text())
    assert meta["schema"] == json.loads(spark.read.parquet(compacted).schema.json())
    assert read_feed_meta(spark, compacted) == 32


def test_compacted_feed_pages_match_inferred_read(spark, tmp_path):
    """Storage and cached pages read with the recorded schema return the
    same rows, in the same order and column order, as a read that infers
    the schema — first page, a later page, and past the end."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import FeedCache, _page_from_frame

    compacted = _compacted_feed(spark, tmp_path)
    assert read_user_feed(spark, compacted, "2", limit=10).count() == 4
    inferred = spark.read.parquet(compacted)
    cache = FeedCache(spark, compacted)
    try:
        for user in ("2", "4"):
            for offset in (0, 2, 10):  # 10 is past the end for every user
                want = _page_from_frame(inferred, user, 2, offset, 32)
                for got in (
                    read_user_feed(spark, compacted, user, limit=2, offset=offset),
                    cache.page(user, 2, offset),
                ):
                    assert got.columns == want.columns
                    assert got.collect() == want.collect(), (user, offset)
    finally:
        cache.invalidate()


def test_bucket_only_feed_meta_reads_by_inference(spark, tmp_path):
    """A sidecar written before the schema was recorded holds only the
    bucket count; such a table still reads, with the schema inferred."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import read_feed_meta, write_feed_meta

    compacted = _compacted_feed(spark, tmp_path)
    write_feed_meta(spark, compacted, 32)  # through Hadoop FS: keeps the .crc in step
    meta = json.loads((tmp_path / "feed_c" / "_feed_meta.json").read_text())
    assert meta == {"n_user_buckets": 32}
    assert read_feed_meta(spark, compacted) == 32
    page = read_user_feed(spark, compacted, "2", limit=2, offset=2).collect()
    assert [r.metadata["primary_key_value"] for r in page] == ["10", "7"]


def test_parse_tolerates_schema_drift(spark):
    """Forward/backward compatibility of the merged-schema parse: an
    upstream producer adding unknown fields must not break or corrupt
    the canonical rows (from_json ignores them), and a missing optional
    field nulls out instead of failing the row — the CDC contract that
    lets producers and the pipeline deploy independently."""
    import json as _json

    from user_feed_cdc_spark.streaming.cdc_pipeline import normalize_events

    extra = _json.dumps(
        {
            "id": 7, "shard_id": 3, "liked_by": "2",
            "__op": "c", "__table": "likes", "__source_ts_ms": BASE_TS,
            "__source_table": "likes",
            "brand_new_field": "ignored", "nested_new": {"a": 1},
        }
    )
    missing_optional = _json.dumps(
        {
            # comments row without its optional message field
            "id": 8, "user_id": "4", "shard_id": 3,
            "__op": "c", "__table": "comments", "__source_ts_ms": BASE_TS,
            "__source_table": "comments",
        }
    )
    raw = spark.createDataFrame([(extra,), (missing_optional,)], "value string")
    acts = {r.activity_type: r for r in normalize_events(raw).collect()}
    assert set(acts) == {"LIKE_SHARD", "COMMENT_SHARD"}
    like = acts["LIKE_SHARD"]
    assert like.user_id == "2" and like.target_id == "3"
    assert "brand_new_field" not in like.metadata
    comment = acts["COMMENT_SHARD"]
    assert comment.metadata.get("message") == ""  # nulled → coalesced empty


def test_pipeline_status_renders_failure():
    """The status surface must REPORT a failed query, not crash on it:
    PySpark 4.x CapturedException has no public .desc, so the exception
    is rendered via str() (caught in review; the happy path alone never
    exercises this)."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import pipeline_status

    class FakeQuery:
        id = "q-1"
        isActive = False
        recentProgress = [{"numInputRows": 5}]
        lastProgress = {"batchId": 3, "numInputRows": 5, "timestamp": "t"}

        def exception(self):
            return RuntimeError("source path vanished")

    status = pipeline_status(FakeQuery())
    assert status["exception"] == "source path vanished"
    assert status["total_input_rows"] == 5 and not status["running"]


def test_kafka_cdc_live_roundtrip(spark, tmp_path):
    """LIVE Kafka e2e for the S1 source — self-certifying the moment an
    environment provides a broker (the transformWithState importorskip
    pattern, r07 VERDICT item 6): produce Debezium-shaped records with
    kafka-python, consume them through kafka_stream → normalize_events
    with an availableNow memory sink, and assert the canonical rows.
    Skipped (not absent) in this sandbox: no broker, no kafka client,
    no spark-sql-kafka jar — set SPARK_GRAFT_KAFKA_BOOTSTRAP to run."""
    bootstrap = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
    if not bootstrap:
        pytest.skip("no Kafka broker: set SPARK_GRAFT_KAFKA_BOOTSTRAP")
    kafka = pytest.importorskip("kafka")  # kafka-python client

    from user_feed_cdc_spark.schemas import CDC_TOPIC_PREFIX
    from user_feed_cdc_spark.streaming.cdc_pipeline import kafka_stream

    producer = kafka.KafkaProducer(bootstrap_servers=bootstrap)
    try:
        for line in fixture_lines():
            table = json.loads(line)["__source_table"]
            producer.send(f"{CDC_TOPIC_PREFIX}{table}", line.encode())
        producer.flush()
    finally:
        producer.close()

    try:
        stream = kafka_stream(spark, bootstrap)
    except Exception as e:  # noqa: BLE001 — classpath probe
        if "kafka" in str(e).lower():
            pytest.skip(f"spark-sql-kafka package not on classpath: {e}")
        raise
    q = (
        normalize_events(stream)
        .writeStream.format("memory")
        .queryName("kafka_live_canonical")
        .option("checkpointLocation", str(tmp_path / "kafka_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM kafka_live_canonical").collect()
    # same drop rules as the file-source golden test: 6 canonical rows
    assert len(out) >= 6
    assert {r.activity_type for r in out} == {
        "LIKE_SHARD", "COMMENT_SHARD", "CREATE_SHARD", "FOLLOW_USER"
    }


def test_compact_feed_rebuckets_to_serving_count(spark, tmp_path):
    """The raw tier is written, and recorded, at RAW_USER_BUCKETS;
    compact_feed re-buckets to N_USER_BUCKETS: exactly that many
    user_bucket= dirs per date (one file each), the serving count in its
    sidecar, and for every fixture user the same pages as the raw
    table."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import compact_feed, read_feed_meta

    src = tmp_path / "cdc_in"
    feed, compacted = str(tmp_path / "feed"), str(tmp_path / "feed_c")
    src.mkdir()
    lines = fixture_lines() + bulk_lines(2000, first_id=100)
    (src / "b.jsonl").write_text("\n".join(lines) + "\n")
    run_cdc_pipeline(spark, str(src), feed, str(tmp_path / "ck")).awaitTermination()
    assert read_feed_meta(spark, feed) == RAW_USER_BUCKETS
    (date_dir,) = [d for d in os.listdir(feed) if d.startswith("activity_date=")]
    raw_buckets = [b for b in os.listdir(os.path.join(feed, date_dir)) if "=" in b]
    assert len(raw_buckets) == RAW_USER_BUCKETS

    compact_feed(spark, feed, compacted)
    assert read_feed_meta(spark, compacted) == N_USER_BUCKETS
    dates = [d for d in os.listdir(compacted) if d.startswith("activity_date=")]
    assert dates == [date_dir]
    buckets = sorted(
        b for b in os.listdir(os.path.join(compacted, date_dir))
        if b.startswith("user_bucket=")
    )
    assert buckets == sorted(f"user_bucket={i}" for i in range(N_USER_BUCKETS))
    for b in buckets:
        files = os.listdir(os.path.join(compacted, date_dir, b))
        assert len([f for f in files if f.endswith(".parquet")]) == 1, b

    for user in ("2", "4", "5"):  # every user of fixture_lines()
        for offset in (0, 2, 10):
            want = read_user_feed(spark, feed, user, limit=2, offset=offset).collect()
            got = read_user_feed(spark, compacted, user, limit=2, offset=offset).collect()
            assert [r.activity_id for r in got] == [r.activity_id for r in want], (
                user, offset,
            )


def test_activity_ids_are_unique_uuids(spark, tmp_path):
    """activity_id is a 36-character UUID-shaped string that uuid.UUID
    parses, unique across the batches of one stream, a second stream into
    a fresh table, and batch-mode normalize_events."""
    import uuid

    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        file_json_stream,
        write_feed_stream,
    )

    src = tmp_path / "cdc_in"
    src.mkdir()
    for k in range(3):
        path = src / f"b{k}.jsonl"
        path.write_text("\n".join(bulk_lines(200, first_id=k * 200)) + "\n")
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))

    def stream_ids(name: str) -> list[str]:
        feed = str(tmp_path / name)
        acts = normalize_events(file_json_stream(spark, str(src), max_files=1))
        write_feed_stream(acts, feed, str(tmp_path / f"ck_{name}")).awaitTermination()
        out = spark.read.parquet(feed)
        batch_ids = {r._batch_id for r in out.select("_batch_id").collect()}
        assert batch_ids == {0, 1, 2}  # one batch per file
        return [r.activity_id for r in out.select("activity_id").collect()]

    batch = normalize_events(
        spark.createDataFrame([(s,) for s in bulk_lines(600, 0)], ["value"])
    )
    ids = stream_ids("feed_a") + stream_ids("feed_b") + [
        r.activity_id for r in batch.select("activity_id").collect()
    ]
    assert len(ids) == 3 * 600
    assert len(set(ids)) == len(ids)
    for i in ids:
        assert len(i) == 36 and str(uuid.UUID(i)) == i, i


@pytest.mark.parametrize("with_dead_letters", [False, True], ids=["feed", "dead_letters"])
def test_live_batches_reuse_generated_code(spark, tmp_path, with_dead_letters):
    """After its first micro-batch, a continuously triggered
    run_cdc_pipeline compiles no more Java: every per-batch value (the
    activity-id token, the _batch_id stamp) reaches generated code as a
    reference, not as a literal inlined in its source."""
    src = tmp_path / "cdc_in"
    src.mkdir()
    dead = str(tmp_path / "dead") if with_dead_letters else None
    q = run_cdc_pipeline(
        spark, str(src), str(tmp_path / "feed"), str(tmp_path / "ck"),
        available_now=False, dead_letter_path=dead,
    )
    metric = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = []
    try:
        for k in range(4):
            staged = tmp_path / f"b{k}.jsonl"
            staged.write_text("\n".join(bulk_lines(2000, first_id=k * 2000)) + "\n")
            os.rename(staged, src / staged.name)  # one whole file per batch
            q.processAllAvailable()
            compiled.append(metric.METRIC_COMPILATION_TIME().getCount())
    finally:
        q.stop()
    assert q.exception() is None
    batches = [p for p in q.recentProgress if p["numInputRows"]]
    assert [p["numInputRows"] for p in batches] == [2000] * 4
    assert compiled[1:] == [compiled[0]] * 3, compiled


def _replay_rows(spark, path: str) -> list[str]:
    """Every row of the table at `path` as sorted JSON; activity_id is
    random per run, so it is left out."""
    df = spark.read.parquet(path).drop("activity_id")
    return sorted(
        json.dumps(r.asDict(), default=str, sort_keys=True) for r in df.collect()
    )


def _staged_parquet(d, batches, types) -> str:
    """One parquet file per batch, mtimes increasing, so a file stream
    with maxFilesPerTrigger=1 replays the same batches every run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not d.exists():
        d.mkdir()
        for i, rows in enumerate(batches):
            path = d / f"{i:04d}.parquet"
            cols = {k: pa.array([r[k] for r in rows], t) for k, t in types.items()}
            pq.write_table(pa.table(cols), str(path))
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return str(d)


def _cdc_src(d) -> str:
    src = d / "cdc_in"
    if not src.exists():
        src.mkdir()
        (src / "b.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    return str(src)


def _replay_feed(spark, d, ckpt):
    feed = str(d / "feed")
    run_cdc_pipeline(spark, _cdc_src(d), feed, ckpt).awaitTermination()
    return [feed]


def _replay_dead_letters(spark, d, ckpt):
    feed, dl = str(d / "feed"), str(d / "dead")
    run_cdc_pipeline(
        spark, _cdc_src(d), feed, ckpt, dead_letter_path=dl
    ).awaitTermination()
    return [feed, dl]


def _replay_upsert(spark, d, ckpt):
    from user_feed_cdc_spark.streaming.cdc_pipeline import run_cdc_upsert_pipeline

    state = str(d / "state")
    run_cdc_upsert_pipeline(spark, _cdc_src(d), state, ckpt).awaitTermination()
    return [state]


def _replay_ingest(spark, d, ckpt):
    import pyarrow as pa

    from user_feed_cdc_spark.streaming.ingest import dedup_ingest_stream

    docs = [
        [{"doc_id": 10, "text": "alpha"}, {"doc_id": 11, "text": "beta"}],
        [{"doc_id": 20, "text": "beta"}, {"doc_id": 21, "text": "gamma"}],
    ]
    src = _staged_parquet(
        d / "docs_in", docs, {"doc_id": pa.int64(), "text": pa.string()}
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    corpus, ledger = str(d / "corpus"), str(d / "ledger")
    dedup_ingest_stream(stream, corpus, ledger, ckpt).awaitTermination()
    return [corpus, ledger]


def _replay_sketch(spark, d, ckpt):
    import datetime as dt

    import pyarrow as pa

    from user_feed_cdc_spark.streaming.sketch_rollup import write_sketch_stream

    day = dt.datetime(2024, 1, 5)
    events = [
        [
            {"user_id": u, "event_type": t, "ts": day + dt.timedelta(hours=h + 30 * b)}
            for u in range(5)
            for t, h in (("view", 1), ("click", 2))
        ]
        for b in range(2)
    ]
    types = {"user_id": pa.int64(), "event_type": pa.string(), "ts": pa.timestamp("us")}
    src = _staged_parquet(d / "events_in", events, types)
    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sketches = str(d / "sketches")
    write_sketch_stream(stream, sketches, ckpt).awaitTermination()
    return [sketches]


@pytest.mark.parametrize(
    "sink, batches, counts",
    [
        (_replay_feed, 1, [6]),
        (_replay_dead_letters, 1, [6, 5]),
        (_replay_upsert, 1, [8]),
        (_replay_ingest, 2, [3, 3]),
        (_replay_sketch, 2, [4]),
    ],
    ids=["feed", "dead_letters", "upsert", "ingest", "sketch"],
)
def test_batch_id_sink_same_path_replay(spark, tmp_path, sink, batches, counts):
    """Every `_batch_id` sink, run a second time onto the same output
    paths from a fresh checkpoint (batch ids restart at 0), leaves the
    same rows: each replayed batch overwrites its own partitions, so
    nothing is duplicated (no row, and no CDC primary key, twice), and
    every batch's partitions survive the batches written after them.
    This is the §7.3.3 improvement over the reference's blind
    at-least-once append (env.py:14-15)."""
    paths = sink(spark, tmp_path, str(tmp_path / "ck1"))
    first = [_replay_rows(spark, p) for p in paths]
    assert [len(rows) for rows in first] == counts
    assert sink(spark, tmp_path, str(tmp_path / "ck2")) == paths
    again = [_replay_rows(spark, p) for p in paths]
    assert again == first
    for path, rows in zip(paths, again):
        assert len(set(rows)) == len(rows)
        out = spark.read.parquet(path)
        ids = out.select("_batch_id").distinct().collect()
        assert sorted(r._batch_id for r in ids) == list(range(batches)), path
        if "metadata" in out.columns:
            pk = F.col("metadata")["primary_key_value"]
            pks = [r[0] for r in out.select(pk).collect()]
            assert len(set(pks)) == len(pks), path


def test_batch_sink_and_stream_start_live_in_cdc_pipeline():
    """The replay rule (dynamic partition overwrite) and the foreachBatch
    start are written once, in streaming/cdc_pipeline.py
    (overwrite_batch, start_batches): a copy elsewhere that dropped the
    overwrite mode would let a replayed batch wipe its whole table."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "user_feed_cdc_spark"
    found = {}
    for path in sorted(pkg.rglob("*.py")):
        text = path.read_text()
        for needle in ("partitionOverwriteMode", ".foreachBatch("):
            if needle in text:
                found[path.relative_to(pkg).as_posix(), needle] = text.count(needle)
    assert found == {
        ("streaming/cdc_pipeline.py", "partitionOverwriteMode"): 1,
        ("streaming/cdc_pipeline.py", ".foreachBatch("): 1,
    }
