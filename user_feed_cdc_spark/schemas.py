"""Explicit schemas — no inference anywhere.

Driver testdata schemas verified against the parquet footers
(/root/repo/FIXTURES.md §A). CDC event schemas derive field-by-field from
the reference's Postgres DDL and Debezium unwrap transform
(reference: postgres-init.sql:4-73,
debezium-connectors/debezium-postgres-connector.config.json:15-19).
The canonical activity record mirrors CassandraRecord
(reference: config.py:18-25; sink DDL cassandra-init.cql:6-15).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Driver testdata tables (TPC-H-ish star schema + events/documents/embeddings)
# ---------------------------------------------------------------------------

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(TABLE_SCHEMAS)

# ---------------------------------------------------------------------------
# CDC change events (Debezium ExtractNewRecordState-flattened JSON)
# ---------------------------------------------------------------------------

# Metadata fields the unwrap SMT injects on every event
# (reference: debezium-postgres-connector.config.json:15-19).
_CDC_META_FIELDS = [
    T.StructField("__op", T.StringType()),
    T.StructField("__table", T.StringType()),
    T.StructField("__source_ts_ms", T.LongType()),
    T.StructField("__source_table", T.StringType()),
]


def _cdc_schema(fields: list[T.StructField]) -> T.StructType:
    return T.StructType(fields + _CDC_META_FIELDS)


# Payload columns per source table (reference: postgres-init.sql:4-67;
# the reference app writes user ids as strings, strategy.py reads them as-is).
CDC_SCHEMAS: dict[str, T.StructType] = {
    # reference: postgres-init.sql:61-67; consumed fields strategy.py:110-135
    "followers": _cdc_schema(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("follower_id", T.StringType()),
            T.StructField("following_id", T.StringType()),
            T.StructField("updated_at", T.StringType()),
            T.StructField("created_at", T.StringType()),
        ]
    ),
    # reference: postgres-init.sql:41-47; consumed fields strategy.py:21-47
    "likes": _cdc_schema(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("shard_id", T.IntegerType()),
            T.StructField("liked_by", T.StringType()),
            T.StructField("updated_at", T.StringType()),
            T.StructField("created_at", T.StringType()),
        ]
    ),
    # reference: postgres-init.sql:4-11; consumed fields strategy.py:49-76
    "comments": _cdc_schema(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("message", T.StringType()),
            T.StructField("user_id", T.StringType()),
            T.StructField("shard_id", T.IntegerType()),
            T.StructField("updated_at", T.StringType()),
            T.StructField("created_at", T.StringType()),
        ]
    ),
    # reference: postgres-init.sql:49-59; consumed fields strategy.py:78-108
    "shards": _cdc_schema(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("title", T.StringType()),
            T.StructField("user_id", T.StringType()),
            T.StructField("templateType", T.StringType()),
            T.StructField("mode", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("last_sync_timestamp", T.StringType()),
            T.StructField("updated_at", T.StringType()),
            T.StructField("created_at", T.StringType()),
        ]
    ),
}

CDC_TABLES = tuple(CDC_SCHEMAS)
CDC_TOPIC_PREFIX = "postgres.public."  # reference: main.py:30

# Merged sparse payload schema: the union of all four per-table payloads
# (SURVEY.md §7.3.5 single-pass demux). One from_json with this schema
# parses any CDC event in ONE pass; fields absent from a given table's
# JSON are simply null. Field types agree across tables (id/shard_id int,
# everything else string), so the union is well-defined.
MERGED_CDC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("shard_id", T.IntegerType()),
        T.StructField("liked_by", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("templateType", T.StringType()),
        T.StructField("mode", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("follower_id", T.StringType()),
        T.StructField("following_id", T.StringType()),
    ]
    + _CDC_META_FIELDS
)

# Canonical activity record (reference: config.py:18-25 CassandraRecord;
# cassandra-init.cql:6-15 codeshard.user_activity). activity_id is an
# opaque unique id; per-user time ordering is carried by event_timestamp
# + seq tiebreaker, NOT by the id (SURVEY.md §7.3.1 — the id is a random
# per-batch token plus the row's seq, UUID-shaped; the reference's uuid1()
# time-ordering is replaced explicitly).
ACTIVITY_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType()),
        T.StructField("activity_id", T.StringType()),
        T.StructField("activity_type", T.StringType()),
        T.StructField("event_timestamp", T.TimestampType()),
        T.StructField("target_id", T.StringType()),
        T.StructField("target_type", T.StringType()),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
    ]
)

ACTIVITY_TYPES = ("FOLLOW_USER", "CREATE_SHARD", "COMMENT_SHARD", "LIKE_SHARD")
