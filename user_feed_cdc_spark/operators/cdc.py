"""Oracle-checked batch certification of the CDC pipeline transforms.

The streaming pipeline (streaming/cdc_pipeline.py) is pure column
expressions, so the exact same code runs here in batch mode: a
deterministic Debezium-shaped JSON fixture is derived from the `events`
table, pushed through JSON parse → validate → demux → canonical-union
(reference semantics: strategy.py:12-149, event_processor.py:63-72),
and the result is hash-compared against a DuckDB oracle that computes
the expected canonical rows directly. This gives the CDC path the same
correctness gate as the relational operators.

Fixture mapping (deterministic from events): event_type purchase→likes,
view→comments, signup→shards, click→followers, error→an unknown table
(dead-letter path); __op cycles by event_id % 10 (0→'u', 5→'d', else
'c') so the create-only filter is exercised (strategy.py:14-17).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from user_feed_cdc_spark.registry import registry
from user_feed_cdc_spark.sources.tables import load_table
from user_feed_cdc_spark.streaming.cdc_pipeline import (
    dead_letters,
    normalize_events,
    parse_cdc,
)

QUERIES, ORACLES, _register = registry()


def _op():
    return (
        F.when(F.col("event_id") % 10 == 0, "u")
        .when(F.col("event_id") % 10 == 5, "d")
        .otherwise("c")
    )


# event_type → CDC source table for the fixture (error → unknown table,
# exercising the dead-letter path).
_TYPE_TABLE = {
    "purchase": "likes",
    "view": "comments",
    "signup": "shards",
    "click": "followers",
    "error": "mystery",
}

# Shared materialized fixture per (session, sf_dir): both registered CDC
# queries read the identical fixture, and round 1 rebuilt it from scratch
# in each (and its 5-way union form re-scanned `events` per branch) —
# ~20 redundant derivations, 21 s of a 66 s bench. One persist kills that.
# Keyed WEAKLY on the SparkSession object (not id(spark): a stopped,
# GC'd session can have its id reused by a new one, which would then be
# served a DataFrame bound to the dead SparkContext) — when the session
# is collected its cache entries (and their persisted-block references)
# go with it.
_FIXTURE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def evict_fixture_cache(spark: SparkSession) -> None:
    """Unpersist and drop this session's cached fixtures (call before
    stopping a session whose executors you want cleaned up eagerly)."""
    for df in _FIXTURE_CACHE.pop(spark, {}).values():
        df.unpersist()


def cdc_fixture_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium-shaped JSONL derived deterministically from `events`
    (one `value: string` column — same contract as the Kafka source).

    Single scan: each row picks its table's to_json via when/otherwise
    (codegen evaluates only the taken branch), replacing the round-1
    5-way union that scanned `events` once per branch. The result is
    persisted and shared across the registered CDC queries."""
    per_session = _FIXTURE_CACHE.setdefault(spark, {})
    if sf_dir in per_session:
        return per_session[sf_dir]

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "props",
        F.col("user_id").cast("string").alias("uid"),
        (F.col("user_id") + 1).cast("string").alias("uid_next"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.unix_millis("ts").alias("ts_ms"),
        _op().alias("op"),
    )

    def meta(table_lit: str):
        return [
            F.col("op").alias("__op"),
            F.lit(table_lit).alias("__table"),
            F.col("ts_ms").alias("__source_ts_ms"),
            F.lit(table_lit).alias("__source_table"),
        ]

    likes = F.to_json(
        F.struct(
            F.col("event_id").alias("id"),
            F.col("k").alias("shard_id"),
            F.col("uid").alias("liked_by"),
            *meta("likes"),
        )
    )
    comments = F.to_json(
        F.struct(
            F.col("event_id").alias("id"),
            F.col("props").alias("message"),
            F.col("uid").alias("user_id"),
            F.col("k").alias("shard_id"),
            *meta("comments"),
        )
    )
    shards = F.to_json(
        F.struct(
            F.col("event_id").alias("id"),
            F.concat(F.lit("shard "), F.col("event_id")).alias("title"),
            F.col("uid").alias("user_id"),
            F.lit("react").alias("templateType"),
            F.lit("normal").alias("mode"),
            F.lit("public").alias("type"),
            *meta("shards"),
        )
    )
    followers = F.to_json(
        F.struct(
            F.col("event_id").alias("id"),
            F.col("uid").alias("follower_id"),
            F.col("uid_next").alias("following_id"),
            *meta("followers"),
        )
    )
    unknown = F.to_json(
        F.struct(
            F.col("event_id").alias("id"),
            *meta("mystery"),
        )
    )
    value = (
        F.when(F.col("event_type") == "purchase", likes)
        .when(F.col("event_type") == "view", comments)
        .when(F.col("event_type") == "signup", shards)
        .when(F.col("event_type") == "click", followers)
        .when(F.col("event_type") == "error", unknown)
    )
    # persist the PARSED form: both registered queries (canonical +
    # dead-letter) read it, so the JSON parse — the dominant cost —
    # runs once, not once per query
    fixture = parse_cdc(
        ev.filter(F.col("event_type").isin(*_TYPE_TABLE)).select(value.alias("value"))
    ).persist()
    per_session[sf_dir] = fixture
    return fixture


_CANONICAL_ORACLE = """
    SELECT CASE event_type WHEN 'click' THEN CAST(user_id AS VARCHAR)
                           ELSE CAST(user_id AS VARCHAR) END AS user_id,
           CASE event_type WHEN 'purchase' THEN 'LIKE_SHARD'
                           WHEN 'view' THEN 'COMMENT_SHARD'
                           WHEN 'signup' THEN 'CREATE_SHARD'
                           WHEN 'click' THEN 'FOLLOW_USER' END AS activity_type,
           make_timestamp(epoch_ms(ts) * 1000) AS event_timestamp,
           CASE event_type
                WHEN 'purchase' THEN json_extract_string(props, '$.k')
                WHEN 'view' THEN json_extract_string(props, '$.k')
                WHEN 'signup' THEN CAST(event_id AS VARCHAR)
                WHEN 'click' THEN CAST(user_id + 1 AS VARCHAR) END AS target_id,
           CASE event_type WHEN 'click' THEN 'user' ELSE 'shard' END AS target_type,
           CAST(event_id AS VARCHAR) AS pk_value,
           CASE event_type WHEN 'view' THEN props END AS message,
           CASE event_type WHEN 'signup' THEN 'shard ' || CAST(event_id AS VARCHAR) END AS title
    FROM events
    WHERE event_type IN ('purchase', 'view', 'signup', 'click')
      AND event_id % 10 NOT IN (0, 5)
"""


@_register("cdc_canonical_activities", _CANONICAL_ORACLE)
def cdc_canonical_activities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON fixture → THE streaming transform (normalize_events) → canonical
    rows. activity_id (random per run) is excluded — non-deterministic by design
    (SURVEY.md §7.3.2); metadata map is projected to columns so the
    driver can hash it."""
    raw = cdc_fixture_json(spark, sf_dir)
    acts = normalize_events(raw)
    return acts.select(
        "user_id",
        "activity_type",
        "event_timestamp",
        "target_id",
        "target_type",
        F.col("metadata")["primary_key_value"].alias("pk_value"),
        F.col("metadata")["message"].alias("message"),
        F.col("metadata")["title"].alias("title"),
    )


_UPSERT_ORACLE = """
    SELECT key, last_event_id, last_value
    FROM (
        SELECT event_id % 500 AS key,
               event_id AS last_event_id,
               FLOOR(value * 100.0 + 0.5) / 100.0 AS last_value,
               CASE WHEN event_id % 10 = 0 THEN 'u'
                    WHEN event_id % 10 = 5 THEN 'd'
                    ELSE 'c' END AS op,
               ROW_NUMBER() OVER (PARTITION BY event_id % 500
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1 AND op <> 'd'
"""


@_register("cdc_upsert_state", _UPSERT_ORACLE)
def cdc_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC UPSERT materialization — the mode the reference deliberately
    lacks (creates only, strategy.py:14-17): replay a c/u/d change
    stream into final table state. Key = event_id % 500 (so each key
    carries a version chain); the LATEST change per key wins
    (ts, event_id ordering — the _seq contract), and a trailing delete
    removes the key. Plan: one shuffle on the key + WindowGroupLimit;
    this is exactly how a lake table materializes a Debezium topic, and
    at 100 TB it runs incrementally inside foreachBatch with the same
    expressions (merge-on-read compaction)."""
    from pyspark.sql import Window as W

    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("event_id") % 500).alias("key"),
        F.col("event_id").alias("last_event_id"),
        "ts",
        r2(F.col("value")).alias("last_value"),
        _op().alias("op"),
    )
    w = W.partitionBy("key").orderBy(
        F.col("ts").desc(), F.col("last_event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "d"))
        .select("key", "last_event_id", "last_value")
    )


_SCD2_ORACLE = """
    SELECT key, event_id AS version_event_id,
           FLOOR(value * 100.0 + 0.5) / 100.0 AS version_value,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY key ORDER BY ts, event_id) AS valid_to,
           LEAD(ts) OVER (PARTITION BY key ORDER BY ts, event_id) IS NULL
               AS is_current
    FROM (
        SELECT event_id % 500 AS key, event_id, ts, value,
               CASE WHEN event_id % 10 = 0 THEN 'u'
                    WHEN event_id % 10 = 5 THEN 'd'
                    ELSE 'c' END AS op
        FROM events
    )
    QUALIFY op <> 'd'
"""


@_register("cdc_scd2_history", _SCD2_ORACLE)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history materialization of the c/u/d change stream —
    the companion to cdc_upsert_state (latest-state) and the natural
    consumer of the delete tombstones the reference's Debezium config
    retains in rewrite mode (debezium-postgres-connector.config.json:
    17-18) but its consumer then drops (strategy.py:14-17). Every
    create/update opens a version valid until the NEXT change of the
    same key (delete included — a trailing 'd' closes the last interval,
    so is_current=false for deleted keys); delete rows themselves emit
    no version. valid_to is computed BEFORE dropping deletes so the
    tombstone's timestamp closes the interval it terminates.

    Plan: one shuffle on key + two same-window LEADs (single Window
    node) — identical cost shape to the upsert; at 100 TB this is the
    standard lake-history build (one pass over the changelog per key)."""
    from pyspark.sql import Window as W

    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("event_id") % 500).alias("key"),
        F.col("event_id").alias("version_event_id"),
        F.col("ts").alias("valid_from"),
        r2(F.col("value")).alias("version_value"),
        _op().alias("op"),
    )
    w = W.partitionBy("key").orderBy("valid_from", "version_event_id")
    return (
        ev.withColumn("valid_to", F.lead("valid_from").over(w))
        .filter(F.col("op") != "d")
        .select(
            "key",
            "version_event_id",
            "version_value",
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


_SCD2_PIT_ORACLE = """
    WITH chg AS (
        SELECT event_id % 500 AS key, event_id, ts,
               FLOOR(value * 100.0 + 0.5) / 100.0 AS val,
               CASE WHEN event_id % 10 = 0 THEN 'u'
                    WHEN event_id % 10 = 5 THEN 'd'
                    ELSE 'c' END AS op
        FROM events
    ),
    versions AS (
        SELECT key, event_id, ts AS valid_from, val, op,
               LEAD(ts) OVER (PARTITION BY key ORDER BY ts, event_id)
                   AS valid_to
        FROM chg
    ),
    alive AS (SELECT * FROM versions WHERE op <> 'd'),
    facts AS (
        SELECT user_id % 500 AS key, event_id AS fact_event_id, ts,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    )
    SELECT f.key, f.fact_event_id, f.ts AS fact_ts, f.cents,
           v.event_id AS version_event_id, v.val AS version_value,
           v.event_id IS NOT NULL AS has_version
    FROM facts f
    LEFT JOIN alive v
      ON f.key = v.key AND f.ts >= v.valid_from
     AND (v.valid_to IS NULL OR f.ts < v.valid_to)
"""


@_register("cdc_scd2_pointintime_join", _SCD2_PIT_ORACLE)
def cdc_scd2_pointintime_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """POINT-IN-TIME join of a fact stream onto the SCD2 dimension —
    "which dimension version was in force when this fact happened",
    the query SCD2 history exists to answer (and the training-data
    shape for leakage-free feature joins: a feature valid AFTER the
    fact's timestamp must never attach). Each purchase joins the
    version whose [valid_from, valid_to) covers its ts; a version
    opened at exactly the fact's ts applies (inclusive start), a
    version CLOSED at it does not (exclusive end), and facts before
    any version — or after a delete tombstone closed coverage — carry
    NULL with has_version=false.

    Spark-first scale shape: NOT a range join. Because SCD2 intervals
    tile the timeline per key, the point-in-time lookup is an AS-OF:
    dim changes and facts UNION into one stream, one shuffle on key,
    and `last(version, ignorenulls) OVER (ORDER BY ts, dim-first)`
    carries the in-force version onto each fact row — delete
    tombstones ride along as a non-null struct with null members, so
    they CLOSE coverage through the same window instead of needing an
    interval join. Cost: one exchange + one window over |facts|+|dim|
    rows, vs the O(n·m)-prone inequality join the oracle runs; ties
    at equal ts are resolved dim-first then by event_id, matching the
    oracle's zero-width-interval algebra exactly (pytest-pinned in
    the dynamic-session style)."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ver_type = "struct<version_event_id:bigint,version_value:double>"
    ev = load_table(spark, sf_dir, "events")
    dim = ev.select(
        (F.col("event_id") % 500).alias("key"),
        "ts",
        F.lit(1).alias("is_dim"),
        F.struct(
            F.when(_op() != "d", F.col("event_id"))
            .alias("version_event_id"),
            F.when(_op() != "d", r2(F.col("value")))
            .alias("version_value"),
        ).alias("ver"),
        F.col("event_id").alias("seq"),
        F.lit(None).cast("long").alias("fact_event_id"),
        F.lit(None).cast("long").alias("cents"),
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 500).alias("key"),
        "ts",
        F.lit(0).alias("is_dim"),
        F.lit(None).cast(ver_type).alias("ver"),
        F.col("event_id").alias("seq"),
        F.col("event_id").alias("fact_event_id"),
        F.floor(F.col("value") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("key")
        .orderBy(F.col("ts"), F.col("is_dim").desc(), F.col("seq"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        dim.unionByName(facts)
        .withColumn("inforce", F.last("ver", ignorenulls=True).over(w))
        .filter(F.col("is_dim") == 0)
        .select(
            "key",
            "fact_event_id",
            F.col("ts").alias("fact_ts"),
            "cents",
            F.col("inforce.version_event_id").alias("version_event_id"),
            F.col("inforce.version_value").alias("version_value"),
            F.col("inforce.version_event_id")
            .isNotNull()
            .alias("has_version"),
        )
    )


_METADATA_MAP_ORACLE = """
    WITH base AS (
        SELECT event_type, event_id, props FROM events
        WHERE event_type IN ('purchase', 'view', 'signup', 'click')
          AND event_id % 10 NOT IN (0, 5)
    ),
    kv AS (
        SELECT CASE event_type WHEN 'purchase' THEN 'LIKE_SHARD'
                               WHEN 'view' THEN 'COMMENT_SHARD'
                               WHEN 'signup' THEN 'CREATE_SHARD'
                               WHEN 'click' THEN 'FOLLOW_USER' END AS activity_type,
               CASE event_type WHEN 'view' THEN 5 WHEN 'signup' THEN 8
                               ELSE 4 END AS n_keys,
               UNNEST(CASE event_type
                   WHEN 'purchase' THEN
                       [{'k': 'source_table', 'v': 'likes'},
                        {'k': 'primary_key_value', 'v': CAST(event_id AS VARCHAR)},
                        {'k': 'primary_key_field', 'v': 'id'},
                        {'k': 'primary_key_type', 'v': 'integer'}]
                   WHEN 'view' THEN
                       [{'k': 'source_table', 'v': 'comments'},
                        {'k': 'primary_key_value', 'v': CAST(event_id AS VARCHAR)},
                        {'k': 'primary_key_field', 'v': 'id'},
                        {'k': 'primary_key_type', 'v': 'integer'},
                        {'k': 'message', 'v': props}]
                   WHEN 'signup' THEN
                       [{'k': 'source_table', 'v': 'shards'},
                        {'k': 'primary_key_value', 'v': CAST(event_id AS VARCHAR)},
                        {'k': 'primary_key_field', 'v': 'id'},
                        {'k': 'primary_key_type', 'v': 'integer'},
                        {'k': 'template_type', 'v': 'react'},
                        {'k': 'mode', 'v': 'normal'},
                        {'k': 'type', 'v': 'public'},
                        {'k': 'title', 'v': 'shard ' || CAST(event_id AS VARCHAR)}]
                   WHEN 'click' THEN
                       [{'k': 'source_table', 'v': 'followers'},
                        {'k': 'primary_key_value', 'v': CAST(event_id AS VARCHAR)},
                        {'k': 'primary_key_field', 'v': 'id'},
                        {'k': 'primary_key_type', 'v': 'integer'}]
                   END) AS e
        FROM base
    )
    SELECT activity_type, e.k AS key, COUNT(*) AS n,
           COUNT(DISTINCT e.v) AS n_vals, MAX(n_keys) AS n_keys
    FROM kv
    WHERE e.v IS NOT NULL AND e.v <> ''
    GROUP BY activity_type, e.k
"""


@_register("cdc_metadata_map_stats", _METADATA_MAP_ORACLE)
def cdc_metadata_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-typed column functions as first-class operators over the
    canonical record's `metadata MAP<STRING,STRING>` (reference
    cassandra-init.cql:13, config.py:25): per-row key-count via
    map_keys, empty-value pruning via map_filter, then explode(map) →
    per-(activity_type, key) frequency / distinct-value rollup. The
    oracle rebuilds the same entries from `events` and unnests them —
    so the map construction in normalize_events is itself under the
    hash gate, not just its projected columns. Explode fans out ≤8
    entries per row and the aggregate is map-side partial — at 100 TB
    this is scan-shaped, no new shuffle beyond the final groupBy."""
    raw = cdc_fixture_json(spark, sf_dir)
    acts = normalize_events(raw)
    kv = acts.select(
        "activity_type",
        F.size(F.map_keys("metadata")).alias("n_keys"),
        F.explode(
            F.map_filter("metadata", lambda k, v: v != F.lit(""))
        ).alias("key", "val"),
    )
    return kv.groupBy("activity_type", "key").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("val").alias("n_vals"),
        F.max("n_keys").alias("n_keys"),
    )


_DEADLETTER_ORACLE = """
    SELECT CASE WHEN event_type = 'error' THEN 'unknown_table'
                ELSE 'non_create_op' END AS reason,
           COUNT(*) AS n
    FROM events
    WHERE event_type = 'error' OR event_id % 10 IN (0, 5)
    GROUP BY 1
"""


@_register("cdc_dead_letter_stats", _DEADLETTER_ORACLE)
def cdc_dead_letter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter accounting: every dropped event lands in a reasoned
    bucket (the anti-`except: pass`, reference event_processor.py:111-113)."""
    raw = cdc_fixture_json(spark, sf_dir)
    return dead_letters(raw).groupBy("reason").agg(F.count(F.lit(1)).alias("n"))


_TIMETRAVEL_ORACLE = """
    WITH changes AS (
        SELECT event_id % 500 AS key, event_id, ts,
               FLOOR(value * 100.0 + 0.5) / 100.0 AS val,
               CASE WHEN event_id % 10 = 0 THEN 'u'
                    WHEN event_id % 10 = 5 THEN 'd'
                    ELSE 'c' END AS op
        FROM events
    ),
    probes AS (
        SELECT event_id AS probe_id, event_id % 500 AS key, ts AS pts
        FROM events WHERE event_id % 7 = 3
    ),
    latest AS (
        SELECT p.probe_id, p.key, p.pts,
               arg_max(c.op, lpad(CAST(epoch_us(c.ts) AS VARCHAR), 20, '0')
                             || lpad(CAST(c.event_id AS VARCHAR), 12, '0'))
                   AS op,
               arg_max(c.event_id,
                       lpad(CAST(epoch_us(c.ts) AS VARCHAR), 20, '0')
                       || lpad(CAST(c.event_id AS VARCHAR), 12, '0'))
                   AS ch_event_id,
               arg_max(c.val, lpad(CAST(epoch_us(c.ts) AS VARCHAR), 20, '0')
                              || lpad(CAST(c.event_id AS VARCHAR), 12, '0'))
                   AS ch_val
        FROM probes p JOIN changes c
          ON c.key = p.key AND c.ts <= p.pts
        GROUP BY p.probe_id, p.key, p.pts
    )
    SELECT probe_id, key, pts,
           CASE WHEN op = 'd' THEN NULL ELSE ch_event_id END
               AS version_event_id,
           CASE WHEN op = 'd' THEN NULL ELSE ch_val END AS version_value,
           op = 'd' AS was_deleted
    FROM latest
"""


@_register("cdc_timetravel_lookup", _TIMETRAVEL_ORACLE)
def cdc_timetravel_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) read of the CDC changelog — the
    consuming half of the upsert/SCD2 pair: for each probe (key,
    timestamp), the key's table state AS OF that instant — the latest
    c/u change at-or-before it, or nothing if that change was a delete.
    This is the lake-table `VERSION AS OF` read expressed over the raw
    changelog, and the label-generation shape for training on
    historical features without leakage (features as they stood at the
    example's own timestamp, never later).

    Plan: the as-of union+window core (operators/asof.py's shape, with
    the equal-ts rule extended by event_id so concurrent changes of one
    key resolve deterministically): changes and probes union into one
    (key)-partitioned stream ordered by (ts, is_probe, event_id),
    last(state, ignorenulls) carries the newest change state onto every
    probe row — ONE shuffle, |probes| output rows, never a
    probe×version-chain join. The oracle computes the same lookup as a
    per-probe argmax over a packed (epoch_us, event_id) string key —
    join+argmax semantics certifying the window form. At 100 TB the
    window form wins precisely because it never materializes the
    quadratic probe×chain pairs the oracle's join does."""
    from pyspark.sql import Window as W

    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events")
    changes = ev.select(
        (F.col("event_id") % 500).alias("key"),
        "ts",
        F.lit(0).alias("_is_probe"),
        F.col("event_id").alias("_ord_id"),
        F.struct(
            F.col("event_id").alias("ch_event_id"),
            r2(F.col("value")).alias("ch_val"),
            _op().alias("op"),
        ).alias("st"),
        F.lit(None).cast("long").alias("probe_id"),
    )
    probes = ev.filter(F.col("event_id") % 7 == 3).select(
        (F.col("event_id") % 500).alias("key"),
        "ts",
        F.lit(1).alias("_is_probe"),
        F.col("event_id").alias("_ord_id"),
        F.lit(None)
        .cast("struct<ch_event_id:bigint,ch_val:double,op:string>")
        .alias("st"),
        F.col("event_id").alias("probe_id"),
    )
    w = (
        W.partitionBy("key")
        .orderBy("ts", "_is_probe", "_ord_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = (
        changes.unionByName(probes)
        .withColumn("_last", F.last("st", ignorenulls=True).over(w))
        .filter(F.col("_is_probe") == 1)
    )
    deleted = F.col("_last.op") == "d"
    return carried.select(
        "probe_id",
        "key",
        F.col("ts").alias("pts"),
        F.when(~deleted, F.col("_last.ch_event_id")).alias("version_event_id"),
        F.when(~deleted, F.col("_last.ch_val")).alias("version_value"),
        deleted.alias("was_deleted"),
    )


# ---------------------------------------------------------------------------
# Lakehouse MERGE INTO (E13 completion, r07 VERDICT stretch item)
# ---------------------------------------------------------------------------


def merge_into(
    target: DataFrame,
    source: DataFrame,
    key: str,
    op_col: str = "op",
    delete_op: str = "d",
) -> DataFrame:
    """Generic lakehouse-style MERGE INTO as a DataFrame composition —
    the declarative three-clause merge Delta/Iceberg expose as SQL
    (`WHEN MATCHED [AND cond] THEN UPDATE / DELETE, WHEN NOT MATCHED
    THEN INSERT`), which plain Spark-on-parquet lacks because parquet
    has no row-level commit protocol. The composition IS the
    merge-on-write physical plan those formats execute: one full-outer
    equi-join of target and staged changes on the key, then a
    per-row action verdict:

      source row absent            -> 'keep'   (target row unchanged)
      source op == delete_op       -> row dropped (matched delete;
                                      delete-of-absent-key is a no-op)
      matched otherwise            -> 'update' (source values win)
      target row absent            -> 'insert'

    Ambiguity guard: lakehouse MERGE rejects a source with >1 row per
    key ("multiple source rows matched"); the same contract here runs
    IN the plan — a per-key count window feeding `assert_true`, kept as
    a filter so column pruning cannot elide it. The window partitions
    on the same key as the join, so with the source already hash-
    partitioned by key (the normal staged-changes shape) it reuses
    that exchange.

    At 100 TB: both sides shuffle on the key once (or not at all when
    target and staging land bucketed/storage-partitioned on the key —
    the SPJ layout), and output size is |target ∪ source| keys. All
    non-key columns travel exactly once; no driver state.
    Reference tie-in: this is the E13 family's third mode beside
    upsert-replay and SCD2 — the reference's create-only consumer
    (strategy.py:14-17) applied each event blindly; MERGE is what its
    Cassandra sink would need to honor updates and tombstones."""
    from pyspark.sql import Window as W

    src_guarded = source.withColumn(
        "_src_rows", F.count(F.lit(1)).over(W.partitionBy(key))
    ).filter(
        F.assert_true(
            F.col("_src_rows") == 1,
            "MERGE source has multiple rows for a key",
        ).isNull()
    ).drop("_src_rows")

    # explicit presence markers, NOT value-column null probes: a target
    # row whose first data column is legitimately NULL must still count
    # as matched (the full-outer join nulls the marker only for rows
    # the side didn't contribute); op_col doubles as the source marker
    # because a real changelog row always carries an op
    joined = target.withColumn("_t_present", F.lit(1)).join(
        src_guarded, on=key, how="full_outer"
    )
    no_source = F.col(op_col).isNull()
    return (
        joined.filter(no_source | (F.col(op_col) != delete_op))
        .withColumn(
            "action",
            F.when(no_source, "keep")
            .when(F.col("_t_present").isNotNull(), "update")
            .otherwise("insert"),
        )
        .drop("_t_present")
    )


_MERGE_ORACLE = """
    WITH ev AS (
        SELECT event_id % 400 AS key, event_id, value, ts,
               CASE WHEN event_id % 10 = 0 THEN 'u'
                    WHEN event_id % 10 = 5 THEN 'd'
                    ELSE 'c' END AS op
        FROM events
    ),
    base AS (
        SELECT key, event_id AS base_event_id,
               FLOOR(value * 100.0 + 0.5) / 100.0 AS base_value
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                            ORDER BY ts DESC, event_id DESC) AS rn
              FROM ev WHERE event_id % 3 = 0 AND key % 10 <> 7)
        WHERE rn = 1
    ),
    changes AS (
        SELECT key, event_id AS src_event_id,
               FLOOR(value * 100.0 + 0.5) / 100.0 AS src_value, op
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                            ORDER BY ts DESC, event_id DESC) AS rn
              FROM ev WHERE event_id % 3 = 1 AND key % 10 <> 3)
        WHERE rn = 1
    )
    SELECT key,
           COALESCE(c.src_event_id, b.base_event_id) AS event_id,
           COALESCE(c.src_value, b.base_value) AS value,
           CASE WHEN c.op IS NULL THEN 'keep'
                WHEN b.base_event_id IS NULL THEN 'insert'
                ELSE 'update' END AS action
    FROM base b FULL OUTER JOIN changes c USING (key)
    WHERE c.op IS NULL OR c.op <> 'd'
"""


@_register("cdc_merge_into_state", _MERGE_ORACLE)
def cdc_merge_into_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over the CDC domain, end to end: a base table (latest
    state of the event_id≡0 (mod 3) changelog slice; keys ≡7 mod 10
    withheld so the merge has genuine inserts) merged with a staged
    changes batch (the event_id≡1 (mod 3) slice collapsed to latest-per-key — the unique-key
    source contract MERGE requires; keys ≡3 mod 10 withheld so some
    target rows are untouched 'keep's). Matched deletes drop the key,
    matched non-deletes update, unmatched non-deletes insert — every
    action class exercised and the whole verdict table hash-certified
    against a FULL OUTER JOIN oracle. See merge_into for the plan
    shape and the in-plan ambiguous-source guard."""
    from pyspark.sql import Window as W

    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("event_id") % 400).alias("key"),
        "event_id",
        "ts",
        r2(F.col("value")).alias("val"),
        _op().alias("op"),
    )
    w = W.partitionBy("key").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn", "ts")
        )

    base = latest(
        ev.filter((F.col("event_id") % 3 == 0) & (F.col("key") % 10 != 7))
    ).select(
        "key",
        F.col("event_id").alias("base_event_id"),
        F.col("val").alias("base_value"),
    )
    changes = latest(
        ev.filter((F.col("event_id") % 3 == 1) & (F.col("key") % 10 != 3))
    ).select(
        "key",
        F.col("event_id").alias("src_event_id"),
        F.col("val").alias("src_value"),
        "op",
    )
    merged = merge_into(base, changes, "key")
    return merged.select(
        "key",
        F.coalesce("src_event_id", "base_event_id").alias("event_id"),
        F.coalesce("src_value", "base_value").alias("value"),
        "action",
    )


_LIFECYCLE_ORACLE = """
    WITH ch AS (
        SELECT event_id % 300 AS key, event_id, ts,
               CASE WHEN event_id % 10 = 0 THEN 'u'
                    WHEN event_id % 10 = 5 THEN 'd'
                    ELSE 'c' END AS op,
               ROW_NUMBER() OVER (PARTITION BY event_id % 300
                                  ORDER BY ts, event_id) AS seq
        FROM events
    ),
    flagged AS (
        SELECT key, op, seq,
               MIN(CASE WHEN op = 'c' THEN seq END)
                   OVER (PARTITION BY key) AS first_create,
               LAG(op) OVER (PARTITION BY key ORDER BY seq) AS prev_op
        FROM ch
    )
    SELECT key,
           CAST(COUNT(*) AS BIGINT) AS n_changes,
           CAST(SUM(CASE WHEN op IN ('u', 'd')
                          AND (first_create IS NULL OR seq < first_create)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_before_create,
           CAST(SUM(CASE WHEN prev_op = 'd' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_after_delete,
           CAST(SUM(CASE WHEN op = 'c' AND seq > 1 AND prev_op <> 'd'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_double_create,
           (SUM(CASE WHEN op IN ('u', 'd')
                      AND (first_create IS NULL OR seq < first_create)
                     THEN 1 ELSE 0 END)
            + SUM(CASE WHEN prev_op = 'd' THEN 1 ELSE 0 END)
            + SUM(CASE WHEN op = 'c' AND seq > 1 AND prev_op <> 'd'
                       THEN 1 ELSE 0 END)) = 0 AS clean
    FROM flagged
    GROUP BY key
"""


@_register("cdc_lifecycle_violations", _LIFECYCLE_ORACLE)
def cdc_lifecycle_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGELOG LINT — per-key lifecycle-integrity audit of a c/u/d
    stream: updates/deletes arriving before the key's first create,
    changes arriving after a delete (ghost writes against a dead key),
    and re-creates without an intervening delete (double create). A
    CDC topic produced by a correct capture pipeline satisfies the
    create→update*→delete grammar; violations mean dropped events,
    out-of-order delivery past the ordering key, or a producer bug —
    exactly the classes the reference's at-least-once, swallow-all
    consumer (event_processor.py:111-113, auto-commit env.py:14-15)
    would let through silently. The audit is the monitoring query a
    lake team runs BEFORE trusting upsert/SCD2 materializations built
    from the same stream (cdc_upsert_state / cdc_scd2_history — same
    key derivation, so findings map 1:1).

    Plan: one shuffle on the key, then row_number + first-create MIN +
    LAG all over the SAME partitioning (single sort), one groupBy on
    the already-partitioned key. Output is |keys| rows; the integer
    flag sums and the boolean verdict make it hash-exact. At 100 TB
    this runs incrementally per ingest batch over (key, seq-range)
    slices."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("event_id") % 300).alias("key"),
        "event_id",
        "ts",
        _op().alias("op"),
    )
    wseq = W.partitionBy("key").orderBy("ts", "event_id")
    wkey = W.partitionBy("key")
    ch = ev.withColumn("seq", F.row_number().over(wseq)).select(
        "key",
        "op",
        "seq",
        F.min(F.when(F.col("op") == "c", F.col("seq"))).over(wkey).alias(
            "first_create"
        ),
        F.lag("op").over(wseq).alias("prev_op"),
    )
    before_create = F.when(
        F.col("op").isin("u", "d")
        & (F.col("first_create").isNull() | (F.col("seq") < F.col("first_create"))),
        1,
    ).otherwise(0)
    after_delete = F.when(F.col("prev_op") == "d", 1).otherwise(0)
    double_create = F.when(
        (F.col("op") == "c") & (F.col("seq") > 1) & (F.col("prev_op") != "d"),
        1,
    ).otherwise(0)
    agg = ch.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_changes"),
        F.sum(before_create).alias("n_before_create"),
        F.sum(after_delete).alias("n_after_delete"),
        F.sum(double_create).alias("n_double_create"),
    )
    return agg.select(
        "key",
        "n_changes",
        "n_before_create",
        "n_after_delete",
        "n_double_create",
        (
            F.col("n_before_create")
            + F.col("n_after_delete")
            + F.col("n_double_create")
            == 0
        ).alias("clean"),
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (IVM over the CDC stream)
# ---------------------------------------------------------------------------


def maintain_agg_view(base_view: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental VIEW MAINTENANCE for a per-key (count, sum) aggregate:
    apply a signed CDC delta batch to a stored aggregate WITHOUT
    rescanning the base table. ``base_view`` is (user_id, n_events,
    cents); ``delta`` is raw change rows (user_id, cents, sign) with
    sign +1 for inserts and -1 for retractions. Count and sum are
    self-maintainable aggregates (Gupta & Mumick, 'Maintenance of
    materialized views: problems, techniques, and applications'):
    the new view is base ⊕ Σ(delta), one tiny aggregate over the
    delta plus one co-partitioned full-outer merge on the key —
    O(|delta|) work however large the base is. Groups whose count
    reaches zero are dropped (the insert/delete-symmetric form)."""
    d_agg = delta.groupBy("user_id").agg(
        F.sum("sign").alias("dn"),
        F.sum(F.col("cents") * F.col("sign")).alias("dcents"),
    )
    merged = base_view.join(d_agg, "user_id", "full_outer").select(
        "user_id",
        (
            F.coalesce(F.col("n_events"), F.lit(0))
            + F.coalesce(F.col("dn"), F.lit(0))
        ).alias("n_events"),
        (
            F.coalesce(F.col("cents"), F.lit(0))
            + F.coalesce(F.col("dcents"), F.lit(0))
        ).alias("cents"),
    )
    return merged.filter(F.col("n_events") > 0)


_IVM_ORACLE = """
    WITH split AS (
        SELECT MAX(ts) - INTERVAL 10 DAY AS cut FROM events
    ),
    survivors AS (
        SELECT user_id,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events, split
        WHERE (ts <= cut AND event_id % 10 <> 0) OR ts > cut
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM survivors
    GROUP BY user_id
    ORDER BY user_id
"""


@_register("cdc_incremental_agg_maintenance", _IVM_ORACLE)
def cdc_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MATERIALIZED-VIEW MAINTENANCE through a CDC batch,
    certified against a from-scratch recompute. Setup: the per-user
    (count, cents) aggregate is 'stored' as of a split point (corpus
    max - 10 days); the CDC batch then delivers (a) every post-split
    event as an insert and (b) GDPR-style retractions of the base rows
    with event_id % 10 == 0. The maintenance path NEVER touches base
    raw rows again — it aggregates the delta batch and full-outer-
    merges it into the stored view (maintain_agg_view), exactly the
    O(|delta|) update that makes a 100 TB rollup refreshable from a
    day's changelog instead of a full rescan. The oracle is the
    definition the view must stay equal to: recompute over (base minus
    retractions) union inserts. Every quantity is an exact bigint
    (counts, signed cents), so maintained == recomputed is bit-exact,
    including groups that must VANISH when their count hits zero.

    Base aggregate and delta derive from the same events table only
    because the harness stores no state between runs; the registered
    plan keeps them as two separate scan subtrees feeding the merge,
    mirroring the stored-view + changelog topology."""
    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg((F.max("ts") - F.expr("INTERVAL 10 DAYS")).alias("cut"))
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    with_cut = ev.join(F.broadcast(cut))
    base = with_cut.filter(F.col("ts") <= F.col("cut"))
    base_view = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum(cents).alias("cents")
    )
    retractions = base.filter(F.col("event_id") % 10 == 0).select(
        "user_id", cents.alias("cents"), F.lit(-1).alias("sign")
    )
    inserts = with_cut.filter(F.col("ts") > F.col("cut")).select(
        "user_id", cents.alias("cents"), F.lit(1).alias("sign")
    )
    delta = inserts.unionByName(retractions)
    return maintain_agg_view(base_view, delta).orderBy("user_id")


# ---------------------------------------------------------------------------
# Snapshot diff: reconcile two point-in-time states of the keyed table
# ---------------------------------------------------------------------------

_SNAPSHOT_DIFF_ORACLE = """
    WITH cut AS (
        SELECT MIN(ts) + INTERVAL 10 DAY AS t1,
               MIN(ts) + INTERVAL 20 DAY AS t2
        FROM events
    ),
    ch AS (
        SELECT event_id % 500 AS key, ts, event_id AS eid,
               CASE WHEN event_id % 10 = 0 THEN 'u'
                    WHEN event_id % 10 = 5 THEN 'd'
                    ELSE 'c' END AS op,
               FLOOR(value * 100.0 + 0.5) / 100.0 AS val,
               c.t1,
               lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                   || lpad(CAST(event_id AS VARCHAR), 12, '0') AS pack
        FROM events, cut c
        WHERE ts <= c.t2
    ),
    snaps AS (
        SELECT key,
               arg_max(op, pack)  FILTER (WHERE ts <= t1) AS op1,
               arg_max(eid, pack) FILTER (WHERE ts <= t1) AS eid1,
               arg_max(val, pack) FILTER (WHERE ts <= t1) AS val1,
               arg_max(op, pack)  AS op2,
               arg_max(eid, pack) AS eid2,
               arg_max(val, pack) AS val2
        FROM ch
        GROUP BY key
    ),
    d AS (
        SELECT key, eid1, eid2, val1, val2,
               (op1 IS NOT NULL AND op1 <> 'd') AS live1,
               (op2 IS NOT NULL AND op2 <> 'd') AS live2
        FROM snaps
    ),
    labeled AS (
        SELECT key,
               CASE WHEN NOT live1 AND live2 THEN 'added'
                    WHEN live1 AND NOT live2 THEN 'removed'
                    WHEN live1 AND live2 AND eid1 <> eid2 THEN 'changed'
               END AS status,
               CASE WHEN live1 THEN eid1 END AS version_before,
               CASE WHEN live2 THEN eid2 END AS version_after,
               CASE WHEN live1 THEN val1 END AS value_before,
               CASE WHEN live2 THEN val2 END AS value_after
        FROM d
    )
    SELECT * FROM labeled WHERE status IS NOT NULL
"""


@_register("cdc_snapshot_diff", _SNAPSHOT_DIFF_ORACLE)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot RECONCILIATION over the CDC changelog: the keyed
    table's state as of T1 (min_ts+10d) vs as of T2 (min_ts+20d),
    reduced to the per-key delta — 'added' (dead-or-absent at T1, live
    at T2), 'removed' (live at T1, deleted by T2), 'changed' (live at
    both, different version); keys untouched between snapshots emit
    nothing. This is the audit/consistency read every CDC deployment
    runs (did the downstream table drift? what does the daily export
    contain?) and the incremental-export driver (ship exactly the diff,
    not the snapshot) — the consuming complement of
    cdc_timetravel_lookup's single-instant read.

    Plan: ONE changelog scan (ts <= T2 pushed to the scan), ONE
    key-partitioned groupBy computing BOTH snapshots simultaneously —
    each is a conditional MAX over the (ts, event_id, op, val) struct,
    whose lexicographic order IS the changelog resolution order with
    the same event_id tiebreak the upsert/SCD2/timetravel family pins.
    No self-join of two snapshot materializations (the naive shape),
    no window: at 100 TB the diff costs exactly one shuffle of the
    T2-bounded changelog, and on a lake table the T1..T2 slice prunes
    to the partitions between the snapshots. The oracle computes the
    same two as-of states via packed-string arg_max with FILTER — the
    join-free aggregate twin. Values are cent-frozen, versions are
    exact event_ids, so every status edge is integer-exact."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events")
    cuts = ev.agg(
        (F.min("ts") + F.expr("INTERVAL 10 DAYS")).alias("t1"),
        (F.min("ts") + F.expr("INTERVAL 20 DAYS")).alias("t2"),
    )
    ch = (
        ev.join(F.broadcast(cuts))
        .filter(F.col("ts") <= F.col("t2"))
        .select(
            (F.col("event_id") % 500).alias("key"),
            "ts",
            "t1",
            F.struct(
                "ts",
                F.col("event_id").alias("eid"),
                _op().alias("op"),
                r2(F.col("value")).alias("val"),
            ).alias("st"),
        )
    )
    snaps = ch.groupBy("key").agg(
        F.max(F.when(F.col("ts") <= F.col("t1"), F.col("st"))).alias("s1"),
        F.max("st").alias("s2"),
    )
    live1 = F.col("s1").isNotNull() & (F.col("s1.op") != "d")
    live2 = F.col("s2").isNotNull() & (F.col("s2.op") != "d")
    status = (
        F.when(~live1 & live2, "added")
        .when(live1 & ~live2, "removed")
        .when(live1 & live2 & (F.col("s1.eid") != F.col("s2.eid")), "changed")
    )
    return (
        snaps.select(
            "key",
            status.alias("status"),
            F.when(live1, F.col("s1.eid")).alias("version_before"),
            F.when(live2, F.col("s2.eid")).alias("version_after"),
            F.when(live1, F.col("s1.val")).alias("value_before"),
            F.when(live2, F.col("s2.val")).alias("value_after"),
        )
        .filter(F.col("status").isNotNull())
    )
