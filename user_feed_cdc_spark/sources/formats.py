"""Alternate source-format connectors (SURVEY.md §2.1 S-rows, widened):
ORC, CSV, and JSON-lines reads with explicit schemas, each certified
for ROUND-TRIP FIDELITY under the driver's value-hash gate.

The reference ingests from exactly one wire format (Debezium JSON over
Kafka — /root/reference/services/kafka.py:8-26); a lake engine must
read whatever lands. The certification pattern here is stronger than
"the read doesn't crash": the events table is written to the alternate
format once (cached per (format, sf, source-mtime) under the
spark-warehouse scratch dir — mtime in the key so a regenerated
testdata tree invalidates, the round-4 lesson), read back through the
format's reader with an EXPLICIT schema, and a standard aggregation
over the read-back rows is hashed against the DuckDB oracle computed
from the ORIGINAL parquet. A single lost microsecond, double ULP, or
mis-quoted string anywhere in the write→read cycle moves the hash.

Format notes (all verified lossless for the events schema):
- ORC: typed columnar, trivially exact; the second columnar lake
  format after parquet.
- CSV: timestamps pinned with an explicit microsecond timestampFormat
  on BOTH sides (the default format drops sub-second precision);
  doubles survive because Spark writes shortest-round-trip decimal
  strings; the JSON `props` column exercises quoting/escaping.
- JSON lines: same timestamp pin; Jackson doubles are shortest
  round-trip.
- XML (built-in as of Spark 4): rowTag-framed elements, same
  microsecond timestamp pin; entity escaping of the JSON `props`
  payload (quotes, angle brackets) is exactly what the
  props-length column certifies.

At 100 TB: these readers are scan-parallel like parquet (file-split
based); explicit schemas skip the inference pass that would otherwise
read the data twice; CSV/JSON lose parquet's predicate pushdown and
column pruning, which is exactly why the certified recommendation is
"land in row formats, convert to parquet/ORC for serving" — the
conversion being the write side of this very round-trip.
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import shutil
from typing import TYPE_CHECKING, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from user_feed_cdc_spark.registry import registry
from user_feed_cdc_spark.schemas import TABLE_SCHEMAS
from user_feed_cdc_spark.session import input_width, scoped_session, scoped_stream
from user_feed_cdc_spark.sources.tables import load_table
from user_feed_cdc_spark.streaming.cdc_pipeline import start_batches

if TYPE_CHECKING:
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

QUERIES, ORACLES, _register = registry()


_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"  # full microseconds, both directions


def _scratch_dir() -> str:
    here = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    d = os.path.join(here, "spark-warehouse", "format_roundtrip")
    os.makedirs(d, exist_ok=True)
    return d


def _scratch_path(prefix: str, sf_dir: str, key: str) -> str:
    """Path `<scratch>/<prefix>_<sf tag>_<key>`, after deleting every
    other `<prefix>_<sf tag>_*` sibling: an entry keyed on an older
    source mtime is garbage once the testdata regenerates. The sf tag
    scopes the prune, so a run at sf0.001 never evicts sf0.1 entries.
    Cached fixtures reach this through cached_fixture; only per-call
    uuid-keyed dirs call it directly."""
    root = _scratch_dir()
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    scoped = f"{prefix}_{sf_tag}"
    want = f"{scoped}_{key}"
    for name in os.listdir(root):
        if name.startswith(f"{scoped}_") and name != want:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    return os.path.join(root, want)


def cached_fixture(
    prefix: str,
    sf_dir: str,
    rev: str,
    build: Callable[[str], None],
    tag: str | None = None,
    table: str = "events",
) -> str:
    """Build an on-disk fixture once per (sf, source mtime, rev) and
    return its root. The one cache protocol every fixture uses:

    1. key: md5 of f"{tag}:{sf_dir}:{mtime}{rev}", tag defaulting to
       prefix and mtime read off `table`'s parquet file, so regenerated
       testdata or a bumped rev never reuses a stale build;
    2. root: _scratch_path(prefix, sf_dir, key);
    3. lock: an exclusive flock on `<scratch>/.locks/<root name>`, a
       file neither the sibling prune nor a builder overwriting root
       can delete; concurrent callers wait and reuse one build;
    4. under the lock, if `_BUILT` is absent: wipe whatever a killed
       or failed build left at root, recreate it empty, call
       build(root), and write `_BUILT` last.

    So a partial build (half a txn log, codec output that failed its
    check) is never reused or appended to; builders run every check
    on their output inside `build`. Roots are built in place, not
    renamed into place, because some fixtures record absolute paths
    under them. Nested fixtures lock their own keys."""
    mtime = int(os.path.getmtime(os.path.join(sf_dir, f"{table}.parquet")))
    key = hashlib.md5(
        f"{tag or prefix}:{sf_dir}:{mtime}{rev}".encode()
    ).hexdigest()[:12]
    root = _scratch_path(prefix, sf_dir, key)
    built = os.path.join(root, "_BUILT")
    locks = os.path.join(_scratch_dir(), ".locks")
    os.makedirs(locks, exist_ok=True)
    with open(os.path.join(locks, os.path.basename(root)), "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(built):
            shutil.rmtree(root, ignore_errors=True)
            os.makedirs(root)
            build(root)
            with open(built, "w") as f:
                f.write("ok\n")
    return root


def roundtrip_events(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """events → write as `fmt` (cached per (fmt, sf dir, source mtime))
    → read back with the canonical explicit schema. Returns the
    read-back DataFrame; callers certify fidelity by aggregating it
    against an oracle over the original parquet."""
    opts = {}
    if fmt in ("csv", "json", "xml"):
        opts["timestampFormat"] = _TS_FMT
    if fmt == "csv":
        opts["header"] = "true"
    if fmt == "xml":
        # Spark 4 ships the (formerly spark-xml) source built in; a
        # rowTag is mandatory on both sides of the trip
        opts["rowTag"] = "event"

    def build(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .write.mode("overwrite")
            .options(**opts)
            .format(fmt)
            .save(path)
        )

    path = cached_fixture(f"events_{fmt}", sf_dir, "", build, tag=fmt)
    return (
        spark.read.schema(TABLE_SCHEMAS["events"])
        .options(**opts)
        .format(fmt)
        .load(path)
    )


# One aggregation shape certifies all three formats: per event_type,
# row count, exact cents sum (double fidelity), distinct users (long
# fidelity), microsecond-sum of timestamps mod 1e9 (timestamp
# fidelity down to the microsecond), and a props-length sum (string
# quoting fidelity). Any field the format mangles moves a column.
_ROUNDTRIP_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum,
           CAST(SUM(LENGTH(props)) AS BIGINT) AS props_len_sum
    FROM events
    GROUP BY event_type
"""


def _fidelity_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
        ).alias("cents_sum"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.unix_micros("ts") % 1000000000).alias("ts_us_sum"),
        F.sum(F.length("props")).alias("props_len_sum"),
    )


def _make_entry(fmt: str):
    def entry(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _fidelity_agg(roundtrip_events(spark, sf_dir, fmt))

    entry.__name__ = f"source_{fmt}_roundtrip"
    entry.__doc__ = (
        f"{fmt.upper()} connector round-trip fidelity: events written "
        f"as {fmt}, read back with the explicit canonical schema, and "
        "a per-type aggregate covering every column class (count, "
        "cents sum, distinct longs, microsecond timestamp sum, string "
        "length sum) hashed against the oracle computed from the "
        "ORIGINAL parquet — one lost microsecond or ULP anywhere in "
        "the write-read cycle fails the gate. See module docstring "
        "for the per-format pins and the 100 TB posture."
    )
    return entry


for _fmt in ("orc", "csv", "json", "xml"):
    _register(f"source_{_fmt}_roundtrip", _ROUNDTRIP_ORACLE)(_make_entry(_fmt))


_PARTITIONED_ORACLE = """
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
"""


def _events_part_dir(spark: SparkSession, sf_dir: str) -> str:
    """events written partitionBy(event_type): one directory per type."""

    def build(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(path)
        )

    return cached_fixture("events_part", sf_dir, "", build, tag="part")


@_register("source_partitioned_pruned", _PARTITIONED_ORACLE)
def source_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style PARTITIONED lake layout + partition pruning, certified:
    events written `partitionBy(event_type)` (the directory-per-value
    layout every lake organizes hot dimensions into; cached per
    (sf, source mtime)), then a single-type query reads it back — the
    event_type predicate resolves against DIRECTORY NAMES, so only
    1/|types| of the data is ever opened (PartitionFilters in the scan,
    plan-gated in tests/test_plans.py), and the hourly rollup over the
    surviving rows is hashed against the oracle over the original
    un-partitioned parquet. Certifies BOTH the layout write (the
    partition column round-trips through directory names, including
    re-attachment to the schema on read) and the pruning read.

    At 100 TB this is the first-order scan optimization: partition
    pruning removes whole files before any IO, where a parquet row-
    group filter still reads footers. The partition column should be
    low-cardinality and hot in predicates — exactly event_type here;
    high-cardinality partitioning (user_id) produces the small-files
    problem the z-order entry's clustering math addresses instead."""
    df = spark.read.parquet(_events_part_dir(spark, sf_dir)).filter(
        F.col("event_type") == "purchase"
    )
    return df.groupBy(F.date_trunc("hour", "ts").alias("window_start")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
        ).alias("cents_sum"),
    )


_DPP_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY event_type
"""


@_register("source_partitioned_dpp", _DPP_ORACLE)
def source_partitioned_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the runtime half of partition
    pruning (source_partitioned_pruned certifies the static half):
    the fact side is the same event_type-partitioned layout, but the
    selective predicate lives on a DIMENSION table (a tiny on-disk
    event-type catalog with a `category` attribute), so no literal
    filter on the partition column exists at plan time. Catalyst's
    DPP inserts a dynamicpruning subquery into the fact scan — the
    broadcast of the filtered dim is REUSED to decide which
    partitions to open, so only the 2 conversion directories of 5 are
    ever read (plan-gated on `dynamicpruningexpression` in
    tests/test_plans.py). The per-type rollup is hashed against the
    oracle applying the equivalent literal predicate.

    Probed gotcha, pinned here: the dim filter must be a predicate
    Catalyst's `isLikelySelective` recognizes (comparison / IN /
    LIKE ...). A bare BOOLEAN flag column (`WHERE is_conversion`) is
    NOT on that list — BooleanSimplification strips the `= true`
    before the PartitionPruning batch runs and DPP silently declines
    — so the dim models the flag as a string `category` matched by
    equality. Schema design for prunability, not just semantics.

    At 100 TB this is the star-schema scan-killer: fact tables are
    partitioned by dimensions whose predicates arrive through JOINS
    (date dim, product dim), and without DPP every such query is a
    full fact scan no matter how selective the dim filter. The dim
    build is one 5-row parquet write; the fact-side benefit scales
    with the table."""

    def build_dim(dim_path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select("event_type")
            .distinct()
            .withColumn(
                "category",
                F.when(
                    F.col("event_type").isin("purchase", "signup"),
                    F.lit("conversion"),
                ).otherwise(F.lit("engagement")),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(dim_path)
        )

    dim_path = cached_fixture("typedim", sf_dir, ":v2", build_dim)
    fact = spark.read.parquet(_events_part_dir(spark, sf_dir))
    dim = spark.read.parquet(dim_path).filter(
        F.col("category") == "conversion"
    )
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
            ).alias("cents_sum"),
        )
    )


_EVOLUTION_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) * 2 AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_with_source,
           CAST(COUNT(*) AS BIGINT) AS n_null_source
    FROM events
    GROUP BY event_type
"""


@_register("source_schema_evolution", _EVOLUTION_ORACLE)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION across files, certified: a lake directory whose
    older files predate a column (v1 = events without `ingest_source`)
    and whose newer files carry it (v2 = same events + the column) is
    read with `mergeSchema` — the reader must union the footers'
    schemas, surface the new column, and fill NULL for the old files.
    The certificate counts, per type, total rows (both generations),
    rows where the column is present, and rows where it is NULL — a
    reader that dropped old files, defaulted instead of NULLing, or
    failed the merge moves a column.

    This is the append-only lake's schema lifecycle: producers deploy
    the new writer, history stays readable, and consumers see one
    merged schema. At 100 TB mergeSchema's footer union is the cost —
    production pins the merged schema in a catalog instead of
    re-deriving it per read, which is exactly what reading with an
    explicit evolved schema (no mergeSchema) does; the certified
    behavior (NULL-fill on old files) is identical on both paths."""

    def build(path: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        ev.write.mode("overwrite").parquet(os.path.join(path, "gen=1"))
        ev.withColumn("ingest_source", F.lit("cdc_v2")).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "gen=2"))

    path = cached_fixture("events_evo", sf_dir, "", build, tag="evo")
    v1, v2 = os.path.join(path, "gen=1"), os.path.join(path, "gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(v1, v2)
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("ingest_source").alias("n_with_source"),
        F.sum(
            F.when(F.col("ingest_source").isNull(), 1).otherwise(0)
        ).alias("n_null_source"),
    )


_N_CORRUPT = 7  # malformed lines appended per scratch build (literal in oracle)

_PERMISSIVE_ORACLE = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST({_N_CORRUPT} AS BIGINT) AS n_corrupt,
           CAST(COUNT(*) + {_N_CORRUPT} AS BIGINT) AS n_total
    FROM events
"""


@_register("source_json_permissive", _PERMISSIVE_ORACLE)
def source_json_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRUPT-RECORD handling at the reader, certified: a JSON-lines
    landing file salted with malformed lines (truncated JSON, bare
    text, unclosed braces — what real ingest directories contain) is
    read in PERMISSIVE mode with a `_corrupt_record` column: good rows
    parse, bad lines land whole in the corrupt column instead of
    failing the job, and the certificate pins the exact good/corrupt
    split. This is the reader-level twin of the pipeline's dead-letter
    demux (F1): FAILFAST is for sealed lakes, DROPMALFORMED silently
    loses data (the audit-hostile option), PERMISSIVE + corrupt-column
    quarantine is the production posture — same triage contract as the
    CDC dead-letter table, one level earlier in the stack.

    Mechanics pinned by Spark's semantics: counting corrupt rows
    requires referencing the corrupt column AFTER materializing the
    parse (Spark refuses `count()` on a corrupt-only projection of a
    lazy parse), and the corrupt column must be in the explicit
    schema."""

    def build(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .write.mode("overwrite")
            .option("timestampFormat", _TS_FMT)
            .json(path)
        )
        bad_lines = [
            '{"event_id": 1, "ts": "not-a-timestamp…' ,
            "plain text line, not JSON at all",
            '{"unclosed": ',
            '[1, 2, 3',
            '{"event_id": "}", "broken',
            "}{",
            '{"trailing": 1,}',
        ]
        assert len(bad_lines) == _N_CORRUPT
        with open(os.path.join(path, "zz_corrupt.json"), "w") as f:
            f.write("\n".join(bad_lines) + "\n")

    path = cached_fixture("events_perm", sf_dir, "", build, tag="perm")
    # COPY the canonical schema — StructType.add MUTATES in place, and
    # appending _corrupt_record to the shared TABLE_SCHEMAS["events"]
    # poisons every later events read in the session (a second call
    # even duplicates the column and fails them all with
    # COLUMN_ALREADY_EXISTS — caught by the two-pass bench).
    from pyspark.sql import types as T

    schema = T.StructType(
        list(TABLE_SCHEMAS["events"].fields)
        + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = (
        spark.read.schema(schema)
        .option("timestampFormat", _TS_FMT)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()  # materialize the parse before corrupt-only projection
    )
    out = df.agg(
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0)
        ).alias("n_good"),
        F.sum(
            F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
        ).alias("n_corrupt"),
        F.count(F.lit(1)).alias("n_total"),
    )
    return out


_PY_DATASOURCE_ORACLE = """
    SELECT CAST(EXTRACT(month FROM d) AS BIGINT) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_weekend
    FROM (SELECT UNNEST(generate_series(DATE '2024-01-01',
                                        DATE '2024-12-31',
                                        INTERVAL 1 DAY))::DATE AS d)
    GROUP BY 1
"""


@_register("source_python_datasource", _PY_DATASOURCE_ORACLE)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM PYTHON DATA SOURCE (Spark 4's pyspark.sql.datasource API
    — the pluggable-connector surface that previously required a JVM
    DataSourceV2 implementation): a calendar-spine source generating
    the 2024 day grid across 4 InputPartitions, registered with
    spark.dataSource.register and read through the normal
    spark.read.format(...) path — schema declaration, option passing,
    partition planning, and per-partition generator reads all exercised.
    The monthly day/weekend rollup is hashed against DuckDB's
    generate_series: a partition-planning bug (dropped/duplicated
    stripes) or a date-arithmetic drift moves the counts.

    This is how a 100 TB engine ingests bespoke feeds (internal APIs,
    proprietary formats) without JVM code: partitions define the
    parallelism exactly like file splits, each executor runs one
    generator, and the rows enter Catalyst as a normal scan. Batch
    generators must be DETERMINISTIC per partition (as here) or a task
    retry yields different data — the same replayability contract the
    CDC fixture sources pin."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class CalendarReader(DataSourceReader):
        def __init__(self, options):
            self.year = int(options.get("year", "2024"))
            self.n_parts = int(options.get("partitions", "4"))

        def partitions(self):
            return [InputPartition(i) for i in range(self.n_parts)]

        def read(self, partition):
            import datetime as dt

            start = dt.date(self.year, 1, 1)
            n_days = (dt.date(self.year + 1, 1, 1) - start).days
            for off in range(partition.value, n_days, self.n_parts):
                day = start + dt.timedelta(days=off)
                yield (day, day.isoweekday())

    class CalendarSource(DataSource):
        @classmethod
        def name(cls):
            return "calendar_spine"

        def schema(self):
            return "day date, isodow int"

        def reader(self, schema):
            return CalendarReader(self.options)

    spark.dataSource.register(CalendarSource)
    cal = (
        spark.read.format("calendar_spine")
        .option("year", "2024")
        .option("partitions", "4")
        .load()
    )
    return cal.groupBy(F.month("day").cast("long").alias("month")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.when(F.col("isodow") >= 6, 1).otherwise(0)).alias(
            "n_weekend"
        ),
    )


@_register("source_python_datasource_write", _ROUNDTRIP_ORACLE)
def source_python_datasource_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM PYTHON DATA SOURCE — WRITE PATH (the other half of the
    Spark 4 pyspark.sql.datasource surface; source_python_datasource
    certifies the read path): a JSON-lines SINK whose per-partition
    write() runs on executors, emits one task file each, and whose
    commit() publishes a _SUCCESS manifest only after every partition
    reports — the two-phase commit every custom sink must implement or
    task retries produce duplicates. Events round-trip THROUGH the
    sink (timestamps as epoch-micro longs — lossless by construction;
    doubles via Python's shortest-round-trip repr) and the read-back
    fidelity aggregate is hashed against the oracle over the ORIGINAL
    parquet, same gate as the ORC/CSV/JSON connectors.

    At 100 TB: write() receives a row iterator per partition exactly
    like a file-format task (no driver collection); task files land
    under the task's own name and become visible only at commit —
    on object storage the same protocol writes to a staging prefix
    and commit() issues the renames/manifest."""
    import json as _json

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _Committed(WriterCommitMessage):
        def __init__(self, n_rows: int):
            self.n_rows = n_rows

    class JsonLinesWriter(DataSourceWriter):
        def __init__(self, options):
            self.target = options["target"]

        def write(self, iterator):
            import os as _os

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            _os.makedirs(self.target, exist_ok=True)
            n = 0
            with open(
                _os.path.join(self.target, f"part-{pid:05d}.jsonl"), "w"
            ) as f:
                for row in iterator:
                    f.write(
                        _json.dumps(
                            {
                                "event_id": row[0],
                                "ts_us": row[1],
                                "user_id": row[2],
                                "event_type": row[3],
                                "value": row[4],
                                "props": row[5],
                            }
                        )
                        + "\n"
                    )
                    n += 1
            return _Committed(n)

        def commit(self, messages):
            import os as _os

            total = sum(m.n_rows for m in messages)
            with open(_os.path.join(self.target, "_SUCCESS"), "w") as f:
                f.write(str(total))

        def abort(self, messages):
            pass  # task files are keyed per partition; rewrite overwrites

    class JsonLinesSink(DataSource):
        @classmethod
        def name(cls):
            return "events_jsonl_sink"

        def writer(self, schema, overwrite):
            return JsonLinesWriter(self.options)

    spark.dataSource.register(JsonLinesSink)

    def build(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
            # 4-way repartition so the two-phase commit actually runs
            # multi-task (a 1-file parquet scan would write one file)
            .repartition(4)
            .write.format("events_jsonl_sink")
            .option("target", path)
            .mode("append")
            .save()
        )
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            raise ValueError("sink commit() published no _SUCCESS manifest")

    path = cached_fixture("events_pydsw", sf_dir, "", build, tag="pydsw")
    back = (
        spark.read.schema(
            "event_id long, ts_us long, user_id long, "
            "event_type string, value double, props string"
        )
        .option("pathGlobFilter", "*.jsonl")
        .json(path)
        .select(
            "event_id",
            F.timestamp_micros("ts_us").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    )
    return _fidelity_agg(back)


_STREAM_N = 1000  # total rows the stream serves
_STREAM_BATCH = 300  # rows per micro-batch read


_PY_STREAM_ORACLE = f"""
    SELECT v % 8 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS BIGINT) AS v_sum
    FROM (SELECT UNNEST(range(0, {_STREAM_N})) AS v)
    GROUP BY 1
"""


@_register("source_python_stream_datasource", _PY_STREAM_ORACLE)
def source_python_stream_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM PYTHON STREAMING SOURCE (SimpleDataSourceStreamReader) —
    the third face of the Spark 4 Python DataSource matrix after the
    batch reader (source_python_datasource) and the two-phase-commit
    writer (source_python_datasource_write): a bounded range source
    that serves {300}-row micro-batches through the OFFSET protocol
    (initialOffset → read(start) → next offset; readBetweenOffsets
    replays committed ranges after failure), live under the driver's
    hash gate. availableNow falls back to single-batch execution for
    Python stream sources (engine limitation, warned at runtime), so
    the run drives a processingTime trigger and polls the memory sink
    until all {1000} rows land — 4 real offset advances + the empty
    steady-state read — then stops the query; batch BOUNDARIES are
    timing-dependent but the certified per-bucket counts/sums are
    boundary-invariant by construction. At 100 TB this is the bespoke-
    feed ingestion rung (internal queue, paginated API): offsets make
    restarts exact, and the per-batch read runs on executors like any
    source scan."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class RangeStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"pos": 0}

        def read(self, start):
            pos = start["pos"]
            end = min(pos + _STREAM_BATCH, _STREAM_N)
            return (iter([(v,) for v in range(pos, end)]), {"pos": end})

        def readBetweenOffsets(self, start, end):
            return iter([(v,) for v in range(start["pos"], end["pos"])])

    class RangeStream(DataSource):
        @classmethod
        def name(cls):
            return "bounded_range_stream"

        def schema(self):
            return "v long"

        def simpleStreamReader(self, schema):
            return RangeStreamReader()

    spark.dataSource.register(RangeStream)
    back = _drain_to_memory(
        spark,
        "bounded_range_stream",
        "source_python_stream_sink",
        "pos",
        _STREAM_N,
    )
    return back.groupBy((F.col("v") % 8).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("v_sum")
    )


_BUCKETED_JOIN_ORACLE = """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
"""


def _bucketed_table(
    spark: SparkSession, sf_dir: str, table: str, key_col: str, prefix: str
) -> str:
    """Materialize a testdata table as a bucketed+sorted managed table
    (cached per (sf, source mtime); stale generations dropped). Table
    identity carries the mtime so a regenerated testdata tree can
    never serve a stale bucketed copy."""
    from user_feed_cdc_spark.sources.tables import write_bucketed

    import shutil

    mtime = int(os.path.getmtime(os.path.join(sf_dir, f"{table}.parquet")))
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    scoped = f"{prefix}_{sf_tag}"
    name = f"{scoped}_{mtime}"
    for t in spark.catalog.listTables():
        if t.name.startswith(scoped + "_") and t.name != name:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    if not spark.catalog.tableExists(name):
        # The catalog is session-scoped but the warehouse directory is
        # not: a fresh session can see a leftover LOCATION for a table
        # it has no metadata for (bucketing spec lives in the catalog,
        # so the files alone are useless) — clear stale locations,
        # current name included, and write fresh.
        warehouse = spark.conf.get(
            "spark.sql.warehouse.dir",
            os.path.join(os.getcwd(), "spark-warehouse"),
        )
        if warehouse.startswith("file:"):
            from urllib.parse import unquote, urlparse

            warehouse = unquote(urlparse(warehouse).path)
        if os.path.isdir(warehouse):
            for d in os.listdir(warehouse):
                if d.startswith(scoped + "_"):
                    shutil.rmtree(
                        os.path.join(warehouse, d), ignore_errors=True
                    )
        write_bucketed(
            load_table(spark, sf_dir, table), name, key_col, 8, sort_key=key_col
        )
    return name


@_register("source_bucketed_join", _BUCKETED_JOIN_ORACLE)
def source_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED-layout co-located join, value-certified: orders and
    customer written ONCE as 8-bucket sorted managed tables on their
    join key, then sort-merge-joined with NO Exchange on either side
    (the merge hint keeps the strategy decision about shuffling, not
    size — without it a toy-sized dim would broadcast and prove
    nothing). This promotes the write-once/join-many layout from a
    plan-only pytest (test_bucketed_join_skips_shuffle) to a
    hash-certified registry entry: the segment revenue rollup off the
    bucketed copies must equal the oracle over the ORIGINAL parquet —
    layout changes storage, never values. At 100 TB this is the
    difference between re-shuffling the fact table on every join and
    shuffling it once at write time; bucket-pruned scans and
    exchange-free joins then compose for every downstream consumer
    sharing the key. The bucketed copies cache per (sf, source mtime)
    with stale-generation cleanup, the format-roundtrip discipline."""
    t_orders = _bucketed_table(spark, sf_dir, "orders", "o_custkey", "orders_bj")
    t_cust = _bucketed_table(
        spark, sf_dir, "customer", "c_custkey", "customer_bj"
    )
    o = spark.table(t_orders)
    c = spark.table(t_cust)
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Transaction-log table snapshot (mini lakehouse-format mechanics)
# ---------------------------------------------------------------------------


def _txn_log_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, rev)) a tiny lakehouse-style
    table through the committer: seven parquet data files and three
    commits — v0 adds f0..f2, v1 adds f3..f5, v2 COMPACTS f1+f2 into
    c12 (remove f1, remove f2, add c12). The live snapshot therefore
    equals the full events table exactly once, while the DIRECTORY
    still holds the removed files — a reader that lists files instead
    of replaying the log double-counts buckets 1 and 2 and fails the
    hash gate."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        w = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        bucket = F.pmod(F.col("event_id"), F.lit(6))
        for b in range(6):
            ev.filter(bucket == b).write.mode("overwrite").parquet(
                os.path.join(root, f"f{b}")
            )
        ev.filter(bucket.isin(1, 2)).write.mode("overwrite").parquet(
            os.path.join(root, "c12")
        )
        w.begin().add("f0").add("f1").add("f2").commit(timestamp=1000)
        w.begin().add("f3").add("f4").add("f5").commit(timestamp=2000)
        w.begin().remove("f1").remove("f2").add("c12").commit(timestamp=3000)

    root = cached_fixture("txnlog", sf_dir, ":v2", build)
    return root, os.path.join(root, "_log")


def read_snapshot(
    spark: SparkSession, root: str, as_of: int | None = None
) -> DataFrame:
    """The ONE txn-log snapshot read every certified reader shares:
    TxnLogWriter.snapshot (checkpoint base + tail, multi-part parts,
    vacuumed-history and gapped-tail refusals, protocol gate, asserted
    one-action-per-file-per-commit) resolves the table as of `as_of`
    (default HEAD) on the driver — planning scale, no Spark job — and
    scan_snapshot scans it."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    return scan_snapshot(spark, root, TxnLogWriter(root).snapshot(as_of))


def scan_snapshot(spark: SparkSession, root: str, snap) -> DataFrame:
    """Scan a replayed txn_writer.Snapshot of the table at `root`: its
    live files with the newest metaData schema it carries
    (schema-on-log), else the events schema. A column-mapping
    metaData (a JSON document, not DDL) names LOGICAL columns over the
    physical events columns, so those tables scan the events schema
    too (read_txn_log_mapped projects). Readers that take other facts
    (deletion vectors, stats) from the same Snapshot see exactly the
    version they scan. Data files never move until the scan
    executes."""
    meta = snap.newest("metaData")
    schema = (
        meta["schema"]
        if meta and not meta["schema"].startswith("{")
        else TABLE_SCHEMAS["events"]
    )
    if not snap.live:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(root, name) for name in snap.live]
    )


@_register("source_txn_log_snapshot", _ROUNDTRIP_ORACLE)
def source_txn_log_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse TABLE-FORMAT mechanics, end to end: reconstruct the
    live snapshot of a table from its transaction log — the read
    protocol Delta/Iceberg/Hudi run on every query — and certify the
    result against the oracle over the original rows. The log is three
    commits over seven parquet files, the last a compaction (remove
    two files, add their merged replacement); a reader that trusts the
    directory listing instead of the log double-counts the compacted
    buckets and the value hash fails loudly — the gate certifies the
    log replay itself (txn_writer._last_actions: later version wins per
    file, and one commit may not both add and remove a file).

    This is file-level time travel, the complement of the row-level
    CDC family (cdc_timetravel_lookup reads a key AS OF a timestamp;
    this reads a TABLE as of a log version). Scale posture: the replay
    reads |log| JSON lines on the driver and only the FILE LIST comes
    out of it (exactly what a production table format's planning phase
    does — data files never move until the pruned scan); snapshot
    reads then parallelize over live files like any parquet scan, and
    checkpointing the replayed file list every N commits (Delta's
    _last_checkpoint) bounds replay cost as the log grows."""
    root, _log_dir = _txn_log_table(spark, sf_dir)
    return _fidelity_agg(read_snapshot(spark, root))


# ---------------------------------------------------------------------------
# Transaction-log checkpoint read (bounded replay as the log grows)
# ---------------------------------------------------------------------------


def _txn_log_ckpt_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, rev)) a checkpointed txn-log
    table through the committer: eight buckets f0..f7 of events
    (pmod 8), five commits — v0 adds f0..f2, v1 adds f3..f5, v2
    compacts f1+f2 into c12, then a CHECKPOINT at v2
    (`00002.checkpoint.json` = the live file list after replaying
    v0..v2, plus `_last_checkpoint` naming it), then v3 adds f6..f7
    and v4 REWRITES f0 as f0r (remove + re-add of the same rows — an
    OPTIMIZE-style rewrite that exercises last-action-wins past the
    checkpoint). Final live set = {c12, f3..f7, f0r} = every bucket
    exactly once, so the snapshot equals the events table and the
    usual fidelity oracle certifies the replay."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        w = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        bucket = F.pmod(F.col("event_id"), F.lit(8))
        for b in range(8):
            ev.filter(bucket == b).write.mode("overwrite").parquet(
                os.path.join(root, f"f{b}")
            )
        ev.filter(bucket.isin(1, 2)).write.mode("overwrite").parquet(
            os.path.join(root, "c12")
        )
        ev.filter(bucket == 0).write.mode("overwrite").parquet(
            os.path.join(root, "f0r")
        )
        w.begin().add("f0").add("f1").add("f2").commit(timestamp=1000)
        w.begin().add("f3").add("f4").add("f5").commit(timestamp=2000)
        w.begin().remove("f1").remove("f2").add("c12").commit(timestamp=3000)
        w.write_checkpoint(2)
        w.begin().add("f6").add("f7").commit(timestamp=4000)
        w.begin().remove("f0").add("f0r").commit(timestamp=5000)

    root = cached_fixture("txnckpt", sf_dir, ":v2", build)
    return root, os.path.join(root, "_log")


@_register("source_txn_log_checkpoint", _ROUNDTRIP_ORACLE)
def source_txn_log_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse checkpoint read, the second half of the table-format
    read protocol (source_txn_log_snapshot certified full-log replay):
    a five-commit history with a checkpoint at v2 is read by loading
    `_last_checkpoint` → the checkpointed live list → replaying only
    the two post-checkpoint commits — which include a compaction
    BEFORE the checkpoint (f1+f2→c12, visible only via the
    checkpoint's state) and an OPTIMIZE-style rewrite AFTER it
    (f0→f0r, visible only via the tail replay), so the hash gate
    fails if either side of the protocol is wrong. Scale posture:
    replay cost is |checkpoint entries| + |commits since checkpoint|
    regardless of total history length — exactly why Delta/Iceberg
    write checkpoints every N commits; only the file LIST reaches the
    driver, and the snapshot scan parallelizes over live files.
    `test_txn_log_checkpoint_skips_old_commits` proves pre-checkpoint
    commit files are never read by deleting them."""
    root, _log_dir = _txn_log_ckpt_table(spark, sf_dir)
    return _fidelity_agg(read_snapshot(spark, root))


# ---------------------------------------------------------------------------
# Deletion vectors: row-level deletes without rewriting data files
# ---------------------------------------------------------------------------

_TXN_DV_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum,
           CAST(SUM(LENGTH(props)) AS BIGINT) AS props_len_sum
    FROM events
    WHERE NOT (   (event_id % 6 = 1 AND event_id % 10 IN (3, 7))
               OR (event_id % 6 = 3 AND event_id % 10 = 3))
    GROUP BY event_type
"""


def _txn_log_dv_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime)) a table with DELETION
    VECTORS: six buckets f0..f5 (pmod 6) added at v0, then v1 attaches
    DV sidecars to f1 (event_id%10==3) and f3 (event_id%10==3), and v2
    REPLACES f1's DV with a wider one (event_id%10 in (3,7)) — Delta's
    semantics exactly: a DV is a per-file sidecar naming deleted rows,
    the newest DV per file fully supersedes older ones (they are
    cumulative snapshots, not deltas), and data files are never
    rewritten. Sidecars are parquet of the deleted event_ids (the
    repo's row-address analogue of a roaring bitmap of row indexes)."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        w = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        bucket = F.pmod(F.col("event_id"), F.lit(6))
        txn = w.begin()
        for b in range(6):
            ev.filter(bucket == b).write.mode("overwrite").parquet(
                os.path.join(root, f"f{b}")
            )
            txn.add(f"f{b}")
        txn.commit(timestamp=1000)  # v0
        mod10 = F.pmod(F.col("event_id"), F.lit(10))
        dvs = [
            ("dv_f1a", (bucket == 1) & (mod10 == 3)),
            ("dv_f3a", (bucket == 3) & (mod10 == 3)),
            ("dv_f1b", (bucket == 1) & mod10.isin(3, 7)),
        ]
        for name, pred in dvs:
            ev.filter(pred).select("event_id").write.mode(
                "overwrite"
            ).parquet(os.path.join(root, name))
        w.begin().set_dv("f1", "dv_f1a").set_dv("f3", "dv_f3a").commit(
            timestamp=2000
        )  # v1
        w.begin().set_dv("f1", "dv_f1b").commit(timestamp=3000)  # v2

    root = cached_fixture("txndv", sf_dir, ":v2", build)
    return root, os.path.join(root, "_log")


@_register("source_txn_log_deletes", _TXN_DV_ORACLE)
def source_txn_log_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector read — the row-level half of the lakehouse
    protocol (in-domain: the reference's Debezium config retains
    delete tombstones, debezium-postgres-connector.config.json:17-18).
    Replay the log for (a) live files (add/remove last-action-wins)
    and (b) the NEWEST dv action per file; scan live files tagging
    each row with its originating file (input_file_name → parent dir,
    the file-group identity); read the winning DV sidecars tagged the
    same way; LEFT ANTI join on (file, event_id). The v2 DV for f1
    supersedes v1's — a reader that unions all DVs instead of taking
    the newest per file would pass only by luck of supersets, so the
    fixture makes the newer DV strictly wider and the oracle's WHERE
    mirrors exactly the two winning vectors.

    Scale posture: DV application is a hash anti-join keyed (file,
    row-id) — shuffle ∝ |deleted rows|, not table size, and Spark
    prunes it per-file the same way Delta's reader applies each
    bitmap to its own file-group scan; data files are never
    rewritten (merge-on-read), which is the entire point of DVs at
    100 TB: a 1e5-row delete against a 1e11-row table costs a sidecar
    write, not a rewrite."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root, _log_dir = _txn_log_dv_table(spark, sf_dir)
    # one snapshot: the DVs and the scan share one version (planning
    # step: |dv| actions, driver-side)
    snap = TxnLogWriter(root).snapshot()
    scan = scan_snapshot(spark, root, snap).withColumn(
        "_file",
        F.regexp_extract(F.input_file_name(), "/([^/]+)/[^/]+$", 1),
    )
    dv_schema = "event_id long"
    dv_rows = None
    for fname, dvname in sorted(snap.dvs.items()):
        part = (
            spark.read.schema(dv_schema)
            .parquet(os.path.join(root, dvname))
            .withColumn("_file", F.lit(fname))
        )
        dv_rows = part if dv_rows is None else dv_rows.unionByName(part)
    if dv_rows is not None:
        scan = scan.join(
            F.broadcast(dv_rows), ["_file", "event_id"], "left_anti"
        )
    return _fidelity_agg(scan.drop("_file"))


# ---------------------------------------------------------------------------
# Data skipping: per-file column stats in the log prune the scan
# ---------------------------------------------------------------------------

_TXN_SKIP_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum,
           CAST(SUM(LENGTH(props)) AS BIGINT) AS props_len_sum
    FROM events
    WHERE event_id <= (SELECT MAX(event_id) // 2 FROM events)
    GROUP BY event_type
"""


def _txn_log_stats_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, rev)) a table laid out for
    DATA SKIPPING: events split into four CONTIGUOUS event_id ranges
    (quarters of MAX(event_id) — range-clustered files, the layout
    OPTIMIZE ZORDER / liquid clustering produces), committed in one
    transaction whose add actions carry each file's exact min/max
    event_id stats — the per-file column statistics Delta's add.stats
    JSON and Iceberg's manifest entries record at write time."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        max_id = ev.agg(F.max("event_id")).first()[0]
        bounds = [0] + [max_id * (k + 1) // 4 for k in range(3)] + [max_id]
        txn = TxnLogWriter(root).begin()
        for k in range(4):
            lo, hi = bounds[k], bounds[k + 1]
            part = ev.filter(
                (F.col("event_id") > lo) if k else (F.col("event_id") >= 0)
            ).filter(F.col("event_id") <= hi)
            part.write.mode("overwrite").parquet(os.path.join(root, f"r{k}"))
            stats = part.agg(
                F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
            ).first()
            txn.add(f"r{k}", min_id=int(stats.mn), max_id=int(stats.mx))
        txn.commit(timestamp=1000)

    root = cached_fixture("txnskip", sf_dir, ":v2", build)
    return root, os.path.join(root, "_log")


@_register("source_txn_log_data_skipping", _TXN_SKIP_ORACLE)
def source_txn_log_data_skipping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DATA SKIPPING — the fourth leg of the lakehouse read protocol
    (snapshot replay, checkpoint, deletion vectors, now file pruning
    by column statistics): the query predicate `event_id <= max/2` is
    evaluated against each file's logged min/max BEFORE any data is
    read, files whose [min,max] cannot contain a match never enter
    the scan (here r2/r3, half the table), and the residual filter
    still applies to the survivors so correctness never depends on
    the stats (a file with wrong stats changes I/O, not answers —
    exactly Delta/Iceberg's contract). The plan gate pins
    inputFiles() ⊆ {r0, r1}; the hash gate certifies the pruned scan
    against the full-table oracle.

    At 100 TB this is the single highest-leverage read optimization a
    table format offers: stats live in the log (|files| rows on the
    driver, read during planning), pruning cost is O(|files|), and a
    selective predicate over a range-clustered column turns a
    full-table scan into touching only the matching fraction —
    the reason OPTIMIZE ZORDER / liquid clustering exists."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root, _log_dir = _txn_log_stats_table(spark, sf_dir)
    # planning step: |files| winning add actions, exactly the Delta
    # stats-pruning pass; the predicate event_id <= max/2 comes from
    # the stats themselves (the planning phase knows the table's max
    # without scanning data)
    adds = TxnLogWriter(root).snapshot().adds
    hi = max(a["max_id"] for a in adds.values()) // 2
    survivors = sorted(f for f, a in adds.items() if a["min_id"] <= hi)
    scan = spark.read.schema(TABLE_SCHEMAS["events"]).parquet(
        *[os.path.join(root, name) for name in survivors]
    )
    return _fidelity_agg(scan.filter(F.col("event_id") <= hi))


_TXN_TT_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum,
           CAST(SUM(LENGTH(props)) AS BIGINT) AS props_len_sum
    FROM events
    WHERE event_id % 6 IN (0, 1, 2)
    GROUP BY event_type
"""


@_register("source_txn_log_time_travel", _TXN_TT_ORACLE)
def source_txn_log_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSION AS OF — file-level time travel on the transaction log
    (the row-level twin is cdc_timetravel_lookup): replay ONLY commits
    with version <= 0 over the same three-commit table
    source_txn_log_snapshot reads at HEAD, yielding the v0 live set
    {f0, f1, f2} — buckets 0..2 of events, a strictly different
    answer than the head snapshot, so the hash gate proves the
    version bound actually limited the replay (a reader that ignores
    it reproduces HEAD and fails loudly). The bound is applied before
    replay, not as a post-replay subtraction — exactly how
    Delta/Iceberg resolve `VERSION AS OF v` (replay commits 0..v, or
    nearest checkpoint <= v plus tail).

    Scale posture: identical to the snapshot read — |log <= v| lines
    replayed, file list to the driver, parallel scan of the v0
    files; historical versions cost no data movement beyond their
    own live files."""
    root, _log_dir = _txn_log_table(spark, sf_dir)
    return _fidelity_agg(read_snapshot(spark, root, as_of=0))


# ---------------------------------------------------------------------------
# Per-file bloom index: point-lookup file pruning where min/max can't
# ---------------------------------------------------------------------------

_FBLOOM_K = 4  # hash functions per key

_TXN_BLOOM_ORACLE = """
    SELECT event_id, user_id, event_type,
           CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us
    FROM events
    WHERE event_id = (SELECT MAX(event_id) FROM events)
"""


def _fbloom_positions(key: int, m: int) -> list[int]:
    """Driver-side twin of the builder's JVM bit expression: position
    d = int(md5('fbloom{d}:{key}')[:8 hex], 16) % m — byte-identical
    to conv(substr(md5(concat(...)), 1, 8), 16, 10) % m."""
    return [
        int(
            hashlib.md5(f"fbloom{d}:{key}".encode()).hexdigest()[:8], 16
        )
        % m
        for d in range(_FBLOOM_K)
    ]


def _read_bloom_sidecars(
    spark: SparkSession, root: str, bloom_names: list[str]
) -> dict[str, dict[int, int]]:
    """Load every bloom sidecar's packed bit words in ONE globbed read
    (sidecar identity recovered from input_file_name) — not a
    per-sidecar read loop, which at a 4096-file table would be 4096
    sequential driver-side jobs (r10 VERDICT item). One job collects
    |files| × m/64 packed longs, still planning scale; the job-count
    pin lives in test_plans.py. Returns {sidecar_name: {word: bits}}."""
    out: dict[str, dict[int, int]] = {}
    rows = (
        spark.read.schema("word long, bits long")
        .parquet(*[os.path.join(root, name) for name in bloom_names])
        .withColumn(
            "sidecar",
            F.regexp_extract(F.input_file_name(), "/([^/]+)/[^/]+$", 1),
        )
        .collect()
    )
    for r in rows:
        out.setdefault(r.sidecar, {})[r.word] = r.bits
    return out


def _txn_log_bloom_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime)) a table laid out so BLOOM
    pruning is the ONLY pruning that works: four files u0..u3 covering
    user_id quartiles, each with a bloom sidecar over its event_ids.
    An event_id point lookup gets nothing from min/max stats here —
    event_ids are scattered uniformly across the user-clustered files,
    so every file's [min,max] contains every probe — but each id
    LIVES in exactly one file, which the per-file bloom knows. m is
    sized ~8 bits/key (next power of two), k=4 → false-positive rate
    ≈ (1−e^{−k/8})⁴ < 2·10⁻⁴, effectively zero extra files scanned.
    One commit adds the four files, each add carrying its sidecar
    name and m."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        n_total = ev.count()
        m = 1 << max(12, (8 * n_total).bit_length())
        max_user = ev.agg(F.max("user_id")).first()[0]
        bounds = [0] + [max_user * (k + 1) // 4 for k in range(3)] + [
            max_user
        ]
        txn = TxnLogWriter(root).begin()
        for k in range(4):
            lo, hi = bounds[k], bounds[k + 1]
            part = ev.filter(
                (F.col("user_id") > lo) if k else (F.col("user_id") >= 0)
            ).filter(F.col("user_id") <= hi)
            part.write.mode("overwrite").parquet(os.path.join(root, f"u{k}"))
            pos_exprs = [
                f"CAST(conv(substr(md5(concat('fbloom{d}:',"
                f" CAST(event_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                f" % {m}L"
                for d in range(_FBLOOM_K)
            ]
            bits = (
                part.select(
                    F.explode(
                        F.array(*[F.expr(e) for e in pos_exprs])
                    ).alias("pos")
                )
                .groupBy((F.col("pos") / 64).cast("long").alias("word"))
                .agg(
                    F.bit_or(
                        F.expr("shiftleft(1L, CAST(pos % 64 AS INT))")
                    ).alias("bits")
                )
            )
            bits.write.mode("overwrite").parquet(
                os.path.join(root, f"bloom_u{k}")
            )
            txn.add(f"u{k}", bloom=f"bloom_u{k}", m=m)
        txn.commit(timestamp=1000)

    root = cached_fixture("txnbloom", sf_dir, ":v2", build)
    return root, os.path.join(root, "_log")


@_register("source_txn_log_bloom_index", _TXN_BLOOM_ORACLE)
def source_txn_log_bloom_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-INDEX file pruning — the point-lookup leg of the mini
    table format (Delta's bloom filter index / Parquet column blooms),
    complementing min/max data skipping, which provably CANNOT help
    here: the probe column (event_id) is uniform across files
    clustered by user_id, so every file's range contains every probe.
    The reader replays the log for (file, bloom sidecar, m), loads
    each sidecar's packed bit words (|files| × m/64 longs — planning-
    scale, like Delta reading its index), tests the probe's k
    positions, scans ONLY files whose bloom says maybe, and applies
    the residual equality filter — a bloom 'no' is definite so
    pruning is sound, a false-positive 'maybe' costs I/O never
    correctness. The probe (the table's max event_id) lives in
    exactly one file; the plan gate recomputes the bloom tests
    independently and pins inputFiles() to exactly the surviving set.

    At 100 TB: a point lookup over a 4096-file table touches the
    index (kilobytes/file) plus ~one data file instead of all files —
    the difference between a seek and a table scan; sidecars merge
    per file like any bloom (bit-OR), so compaction rebuilds them
    from the members only."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root, _log_dir = _txn_log_bloom_table(spark, sf_dir)
    probe = (
        load_table(spark, sf_dir, "events").agg(F.max("event_id")).first()[0]
    )
    adds = TxnLogWriter(root).snapshot().adds  # planning step: |files|
    by_bloom = _read_bloom_sidecars(
        spark, root, [a["bloom"] for a in adds.values()]
    )
    survivors = []
    for fname, a in sorted(adds.items()):
        words = by_bloom.get(a["bloom"], {})
        hit = all(
            (words.get(pos // 64, 0) >> (pos % 64)) & 1
            for pos in _fbloom_positions(probe, a["m"])
        )
        if hit:
            survivors.append(fname)
    scan = spark.read.schema(TABLE_SCHEMAS["events"]).parquet(
        *[os.path.join(root, name) for name in survivors]
    )
    return scan.filter(F.col("event_id") == probe).select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.unix_micros("ts").alias("ts_us"),
    )


# ---------------------------------------------------------------------------
# Engine-written transaction logs: the WRITE protocol, certified by
# reading back a log the engine itself committed (txn_writer.py)
# ---------------------------------------------------------------------------


def _txn_writer_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, protocol rev)) a table whose
    ENTIRE transaction log the engine wrote through TxnLogWriter — no
    fixture JSON anywhere: nine single-bucket append commits (pmod 9
    of events), each an optimistic transaction, with
    checkpoint_interval=4 making the COMMITTER write checkpoints at
    v3 and v7 (+ repoint _last_checkpoint), then an engine-side
    OPTIMIZE at v9 — a real Spark job merging b0+b1 into c01 and a
    remove/remove/add transaction — so the reader must apply both an
    engine-written checkpoint AND a post-checkpoint rewrite. Final
    live set = {c01, b2..b8} = events exactly once."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        writer = TxnLogWriter(root, checkpoint_interval=4)
        ev = load_table(spark, sf_dir, "events")
        bucket = F.pmod(F.col("event_id"), F.lit(9))
        for b in range(9):
            ev.filter(bucket == b).write.mode("overwrite").parquet(
                os.path.join(root, f"b{b}")
            )
            writer.begin().add(f"b{b}").commit()  # v0..v8
        merged = spark.read.schema(TABLE_SCHEMAS["events"]).parquet(
            os.path.join(root, "b0"), os.path.join(root, "b1")
        )
        merged.write.mode("overwrite").parquet(os.path.join(root, "c01"))
        writer.begin().remove("b0").remove("b1").add("c01").commit()  # v9

    root = cached_fixture("txnwriter", sf_dir, ":v2", build)
    return root, os.path.join(root, "_log")


@_register("source_txn_log_writer_roundtrip", _ROUNDTRIP_ORACLE)
def source_txn_log_writer_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The lakehouse WRITE protocol certified end to end (r10 VERDICT
    directive 2): every commit in this table's log was produced by the
    engine's own committer (txn_writer.TxnLogWriter — optimistic
    O_CREAT|O_EXCL version allocation, conflict checks, invariant
    enforcement at write time), including TWO checkpoints the
    committer wrote itself (v3, v7 at checkpoint_interval=4) and an
    engine-side OPTIMIZE (b0+b1 → c01, a remove/remove/add
    transaction) landing AFTER the newest checkpoint. The shared
    snapshot read (read_snapshot, certified by
    source_txn_log_checkpoint) then reconstructs the snapshot — base
    state from the engine-written checkpoint plus a two-commit tail
    containing the rewrite — and the fidelity agg hashes it against
    the original events table. A committer that
    mis-numbers versions, drops actions, checkpoints the wrong live
    set, or breaks the one-action-per-file invariant moves the hash
    or trips the replay assertion.

    Scale posture: the committer is pure control plane — it touches
    only JSON log lines (catalog scale; conflict checks replay just
    the commits since the transaction's base version), while data
    files move exclusively through Spark jobs; checkpoints bound
    replay cost exactly as on the read side. Concurrency semantics
    (allocation races retry, concurrent remove-remove conflicts
    raise) are pinned by tests/test_operators.py."""
    root, _log_dir = _txn_writer_table(spark, sf_dir)
    return _fidelity_agg(read_snapshot(spark, root))


def _events_multifile_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """A directory holding events as FOUR parquet files (pmod 4 of
    event_id), built once per (sf, source-mtime): with
    maxFilesPerTrigger=1 a file stream replays it as four genuine
    micro-batches — the single-file events.parquet replay the other
    live entries use gives only one."""
    import glob

    def build(path: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        bucket = F.pmod(F.col("event_id"), F.lit(4))
        for b in range(4):
            tmp = os.path.join(path, f"_tmp{b}")
            ev.filter(bucket == b).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
            os.replace(part, os.path.join(path, f"ev{b}.parquet"))
            shutil.rmtree(tmp)

    return cached_fixture("events_multifile", sf_dir, "", build, tag="evmulti")


@_register("streaming_txn_sink_live", _ROUNDTRIP_ORACLE)
def streaming_txn_sink_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A LIVE streaming write through the txn-log committer — the
    Spark form of the reference's feed sink (event_processor.py:89-113
    appends each batch to serving storage) upgraded from at-least-once
    to effectively-once: events replay as FOUR micro-batches
    (maxFilesPerTrigger=1 over the four-file fixture), foreachBatch
    runs txn_writer.commit_batch — skip if the app's txn watermark
    already covers the batch (idempotent replay), else write the
    batch's parquet data file THEN commit [add, txn] atomically —
    with checkpoint_interval=2 making the sink write checkpoints at
    v1 and v3 mid-stream. After the drain, the shared snapshot read
    (read_snapshot) reconstructs the table from the sink's own log and
    the fidelity agg hashes it against the source events. A sink that
    duplicates a replayed batch, commits before the data lands, or
    checkpoints a stale live set moves the hash. Fresh sink root per
    invocation (uuid key; the scratch pruner clears the previous
    run's) — the stream must actually run to pass, never a cache.

    Scale posture: per batch the sink adds one data file (executors)
    and one JSON commit (driver, catalog scale); the txn watermark
    lives in the log and survives checkpointing (carried forward like
    Delta's SetTransaction), so replay-after-crash stays exactly-once
    even once old commits are vacuumed."""
    import uuid

    from user_feed_cdc_spark.sources.txn_writer import (
        TxnLogWriter,
        commit_batch,
    )

    stream_dir = _events_multifile_stream_dir(spark, sf_dir)
    root = _scratch_path("txnsink", sf_dir, uuid.uuid4().hex[:12])
    os.makedirs(root, exist_ok=True)
    writer = TxnLogWriter(root, checkpoint_interval=2)

    stream = (
        spark.readStream.schema(TABLE_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    start_batches(
        stream,
        lambda bdf, bid: commit_batch(writer, bdf, bid, app="events_sink"),
        os.path.join(root, "_ckpt"),
    ).awaitTermination()
    return _fidelity_agg(read_snapshot(spark, root))


_TXN_DELETE_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum,
           CAST(SUM(LENGTH(props)) AS BIGINT) AS props_len_sum
    FROM events
    WHERE event_id > (SELECT MAX(event_id) // 8 FROM events)
    GROUP BY event_type
"""


def _txn_delete_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, rev)) an engine-written table
    then run an engine-side DELETE through the committer: four
    range-clustered files r0..r3 (event_id quarters) committed with
    min/max stats on their add actions, then
    `DELETE WHERE event_id <= max/8` executed COPY-ON-WRITE — the
    stats prune the candidate set to the files whose [min,max] can
    contain a match (r0 only here), each candidate is rewritten
    without the matching rows (r0 → r0d, a real Spark job), and ONE
    transaction commits every remove+add so the DELETE is atomic:
    readers see either the old table or the fully-deleted one, never
    a partial. Untouched files are never rewritten — the copy-on-write
    contract that makes selective DELETEs affordable at scale."""
    import json

    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        writer = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        max_id = int(ev.agg(F.max("event_id")).first()[0])
        bounds = [0] + [max_id * (k + 1) // 4 for k in range(3)] + [max_id]
        stats_by_file = {}
        for k in range(4):
            lo, hi = bounds[k], bounds[k + 1]
            part = ev.filter(
                (F.col("event_id") > lo) if k else (F.col("event_id") >= 0)
            ).filter(F.col("event_id") <= hi)
            part.write.mode("overwrite").parquet(os.path.join(root, f"r{k}"))
            st = part.agg(
                F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
            ).first()
            stats_by_file[f"r{k}"] = (int(st.mn), int(st.mx))
            writer.begin().add(
                f"r{k}", min_id=int(st.mn), max_id=int(st.mx)
            ).commit()
        # DELETE WHERE event_id <= max/8, copy-on-write:
        # stats-prune candidates, rewrite each, commit atomically
        cut = max_id // 8
        txn = writer.begin()
        for name, (mn, _mx) in sorted(stats_by_file.items()):
            if mn > cut:
                continue  # stats prove no row matches: never rewritten
            kept = (
                spark.read.schema(TABLE_SCHEMAS["events"])
                .parquet(os.path.join(root, name))
                .filter(F.col("event_id") > cut)
            )
            kept.write.mode("overwrite").parquet(
                os.path.join(root, name + "d")
            )
            st = kept.agg(
                F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
            ).first()
            txn.remove(name)
            txn.add(name + "d", min_id=int(st.mn), max_id=int(st.mx))
        txn.commit()
        with open(os.path.join(root, "_DELETE_META"), "w") as f:
            f.write(json.dumps({"cut": cut}) + "\n")

    root = cached_fixture("txndelete", sf_dir, ":v2", build)
    return root, os.path.join(root, "_log")


@_register("source_txn_log_delete_rewrite", _TXN_DELETE_ORACLE)
def source_txn_log_delete_rewrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Engine-side row-level DELETE, copy-on-write — the DML layer on
    top of the committer (the rewrite twin of source_txn_log_deletes'
    merge-on-read deletion vectors): `DELETE WHERE event_id <= max/8`
    runs as stats-pruned candidate selection (only r0's [min,max] can
    contain a match), a Spark rewrite of each candidate without the
    matching rows, and ONE atomic remove+add transaction — so the
    snapshot replay yields exactly the surviving rows with NO residual
    filter at read time, which is what the hash gate certifies (a
    rewrite that drops a surviving row or keeps a deleted one moves
    the fidelity hash; a non-atomic commit could double- or
    zero-count r0). The plan gate pins that untouched files were
    never rewritten and the dead original never enters the scan.

    Scale posture: DELETE cost ∝ data in files that might match (one
    quarter here) — never a table rewrite; candidate selection is
    O(|files|) driver-side stats math, the same planning pass as
    data skipping; the atomic multi-file commit is one JSON file.
    Copy-on-write vs the DV path is the standard read-amplification /
    write-amplification trade: rewrite once and reads stay pure
    scans, or sidecar the deletes and pay an anti-join per read."""
    root, _log_dir = _txn_delete_table(spark, sf_dir)
    return _fidelity_agg(read_snapshot(spark, root))


_TXN_OPTIMIZE_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum,
           CAST(SUM(LENGTH(props)) AS BIGINT) AS props_len_sum
    FROM events
    WHERE event_id <= (SELECT MAX(event_id) // 4 FROM events)
    GROUP BY event_type
"""


def _txn_optimize_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, rev)) a table that the engine
    RE-CLUSTERS through the committer: four user_id-clustered files
    u0..u3 committed with event_id min/max stats — a layout where every
    file's [min,max] spans the whole event_id domain, so an event_id
    range predicate can prune NOTHING — then an engine-side OPTIMIZE
    CLUSTER BY: one Spark job re-sorts the table into four contiguous
    event_id ranges z0..z3, and ONE atomic transaction removes the old
    files and adds the new ones with their (now tight) stats. The
    maintenance op that MAKES data skipping work — Delta's OPTIMIZE
    ZORDER / liquid clustering in miniature."""
    import json

    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        writer = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        max_user = int(ev.agg(F.max("user_id")).first()[0])
        ubounds = [0] + [max_user * (k + 1) // 4 for k in range(3)] + [
            max_user
        ]
        for k in range(4):
            lo, hi = ubounds[k], ubounds[k + 1]
            part = ev.filter(
                (F.col("user_id") > lo) if k else (F.col("user_id") >= 0)
            ).filter(F.col("user_id") <= hi)
            part.write.mode("overwrite").parquet(os.path.join(root, f"u{k}"))
            st = part.agg(
                F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
            ).first()
            writer.begin().add(
                f"u{k}", min_id=int(st.mn), max_id=int(st.mx)
            ).commit()
        # OPTIMIZE CLUSTER BY event_id: re-sort into contiguous ranges,
        # publish old->new atomically in one transaction
        max_id = int(ev.agg(F.max("event_id")).first()[0])
        ebounds = [0] + [max_id * (k + 1) // 4 for k in range(3)] + [max_id]
        txn = writer.begin()
        for k in range(4):
            lo, hi = ebounds[k], ebounds[k + 1]
            part = ev.filter(
                (F.col("event_id") > lo) if k else (F.col("event_id") >= 0)
            ).filter(F.col("event_id") <= hi)
            part.write.mode("overwrite").parquet(os.path.join(root, f"z{k}"))
            st = part.agg(
                F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
            ).first()
            txn.remove(f"u{k}")
            txn.add(f"z{k}", min_id=int(st.mn), max_id=int(st.mx))
        txn.commit()
        with open(os.path.join(root, "_META"), "w") as f:
            f.write(json.dumps({"max_id": max_id}) + "\n")

    root = cached_fixture("txnoptimize", sf_dir, ":v2", build)
    return root, os.path.join(root, "_log")


@_register("source_txn_log_optimize_cluster", _TXN_OPTIMIZE_ORACLE)
def source_txn_log_optimize_cluster(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Engine-side OPTIMIZE CLUSTER BY through the committer, certified
    by the PRUNING IT ENABLES: the table starts user_id-clustered
    (every file's event_id [min,max] spans the domain — stats-pruning
    provably useless), the engine re-sorts it into contiguous event_id
    ranges and publishes old→new in ONE atomic remove/add transaction,
    and this reader then answers `event_id <= max/4` by stats-pruning
    the post-OPTIMIZE log — scanning exactly one of the four clustered
    files (plan-gated on inputFiles()) with the residual filter keeping
    correctness independent of the stats. The hash gate certifies the
    whole chain: a re-clustering that loses or duplicates a row, or
    stats recorded off by one, moves the fidelity hash against the
    original table.

    Scale posture: OPTIMIZE is the amortized cost that converts every
    later selective scan from O(table) to O(matching fraction) — the
    entire economics of Z-ORDER/liquid clustering; the rewrite is one
    shuffle (a range-partitioned sort), its commit is one JSON file,
    and readers racing it see the old or new layout atomically, never
    a mix (last-action-wins replay)."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root, _log_dir = _txn_optimize_table(spark, sf_dir)
    adds = TxnLogWriter(root).snapshot().adds  # planning step: |files|
    hi = max(a["max_id"] for a in adds.values()) // 4
    survivors = sorted(f for f, a in adds.items() if a["min_id"] <= hi)
    scan = spark.read.schema(TABLE_SCHEMAS["events"]).parquet(
        *[os.path.join(root, name) for name in survivors]
    )
    return _fidelity_agg(scan.filter(F.col("event_id") <= hi))


def _txn_dv_optimize_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per (sf, mtime, rev)) a DV'd table and run a
    DV-AWARE OPTIMIZE through the committer: six pmod-6 buckets
    committed at v0, deletion vectors attached exactly as in the
    merge-on-read fixture (f1 and f3 at v1, f1's vector SUPERSEDED by
    a wider one at v2 — the winning-DV resolution the rewrite must
    honor), then the engine compacts ONLY the DV-carrying files: each
    is rewritten minus its winning vector's rows (hash anti-join
    executor-side) and ONE atomic transaction removes the old file
    and adds the materialized one with dataChange=False — the rows
    were already logically deleted when the dv actions landed, so the
    change-data feed must NOT re-emit them (Delta's REORG TABLE ...
    APPLY (PURGE) semantics). Untouched files are never rewritten."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        w = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        bucket = F.pmod(F.col("event_id"), F.lit(6))
        txn = w.begin()
        for b in range(6):
            ev.filter(bucket == b).write.mode("overwrite").parquet(
                os.path.join(root, f"f{b}")
            )
            txn.add(f"f{b}")
        txn.commit()  # v0
        mod10 = F.pmod(F.col("event_id"), F.lit(10))
        for name, pred in (
            ("dv_f1a", (bucket == 1) & (mod10 == 3)),
            ("dv_f3a", (bucket == 3) & (mod10 == 3)),
        ):
            ev.filter(pred).select("event_id").write.mode(
                "overwrite"
            ).parquet(os.path.join(root, name))
        w.begin().set_dv("f1", "dv_f1a").set_dv("f3", "dv_f3a").commit()
        ev.filter((bucket == 1) & mod10.isin(3, 7)).select(
            "event_id"
        ).write.mode("overwrite").parquet(os.path.join(root, "dv_f1b"))
        w.begin().set_dv("f1", "dv_f1b").commit()  # supersedes dv_f1a

        # DV-aware OPTIMIZE: materialize the winning vectors
        txn = w.begin()
        for fname, dvname in sorted(w.snapshot(txn.base_version).dvs.items()):
            data = spark.read.schema(TABLE_SCHEMAS["events"]).parquet(
                os.path.join(root, fname)
            )
            dead = spark.read.schema("event_id long").parquet(
                os.path.join(root, dvname)
            )
            compacted = data.join(
                F.broadcast(dead), ["event_id"], "left_anti"
            )
            compacted.write.mode("overwrite").parquet(
                os.path.join(root, f"c_{fname}")
            )
            txn.remove(fname, data_change=False)
            txn.add(f"c_{fname}", data_change=False)
        txn.commit()

    return cached_fixture("txndvopt", sf_dir, ":v1", build)


@_register("source_txn_log_optimize_dv", _TXN_DV_ORACLE)
def source_txn_log_optimize_dv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DV-AWARE OPTIMIZE — compaction that MATERIALIZES deletion
    vectors (Delta's `REORG TABLE ... APPLY (PURGE)`; the missing
    maintenance half of source_txn_log_deletes): files carrying DVs
    are rewritten minus their winning vector's rows and republished
    in one atomic dataChange=False transaction, so afterwards the
    table reads as a PURE SCAN — no anti-join, no sidecar resolution
    — while untouched files were never rewritten. This entry makes
    both claims load-bearing: it REFUSES if any live file still
    resolves a deletion vector after the rewrite (the merge-on-read
    debt must actually be gone) or if any non-DV'd original was
    touched, then hashes the plain snapshot scan against the same
    oracle as the DV read path — identical rows through
    attach → supersede → materialize.

    At 100 TB this is the read-amplification payoff schedule for
    merge-on-read: deletes land as O(|deleted|) sidecars all day, and
    a periodic OPTIMIZE converts the accumulated anti-join tax back
    into clean scans, at rewrite cost ∝ data in DV'd files only.
    dataChange=False keeps CDF exactly-once: the deletes were emitted
    when the dv actions landed, the compaction emits nothing."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root = _txn_dv_optimize_table(spark, sf_dir)
    snap = TxnLogWriter(root).snapshot()
    if snap.dvs:
        raise ValueError(
            f"OPTIMIZE left live files with deletion vectors: {snap.dvs}"
        )
    live = set(snap.live)
    untouched = {f"f{b}" for b in (0, 2, 4, 5)}
    if not untouched <= live or not {"c_f1", "c_f3"} <= live:
        raise ValueError(
            f"unexpected post-OPTIMIZE live set: {sorted(live)}"
        )
    return _fidelity_agg(scan_snapshot(spark, root, snap))


def _txn_compact_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per (sf, mtime, rev)) a deliberately over-sharded
    table — 16 pmod-16 fragments each committed with its REAL on-disk
    byte size as an add-action stat — then run bin-packing OPTIMIZE
    through the committer: first-fit-decreasing over the logged sizes
    into bins of ~total/4, each multi-file bin rewritten as ONE file,
    and one atomic transaction publishing removes+adds with
    dataChange=False (compaction is data-unchanged; CDF must stay
    silent). Bins that end up holding a single file are LEFT ALONE —
    rewriting them would be pure write amplification."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def _dir_bytes(d: str) -> int:
        return sum(
            os.path.getsize(os.path.join(d, n))
            for n in os.listdir(d)
            if n.endswith(".parquet")
        )

    def build(root: str) -> None:
        w = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        txn = w.begin()
        for b in range(16):
            part = ev.filter(F.pmod("event_id", F.lit(16)) == b)
            part.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(root, f"s{b:02d}")
            )
            txn.add(f"s{b:02d}", bytes=_dir_bytes(os.path.join(root, f"s{b:02d}")))
        txn.commit()  # v0: the small-files disease, sizes in the log

        # planning is PURE LOG MATH: sizes come from add stats, no
        # filesystem listing — the same catalog-scale read every
        # other planner pass does
        sizes = {f: a["bytes"] for f, a in w.snapshot().adds.items()}
        target = max(1, sum(sizes.values()) // 4)
        bins: list[tuple[list[str], int]] = []
        for name in sorted(sizes, key=lambda n: -sizes[n]):  # FFD
            for i, (names, tot) in enumerate(bins):
                if tot + sizes[name] <= target:
                    bins[i] = (names + [name], tot + sizes[name])
                    break
            else:
                bins.append(([name], sizes[name]))
        txn = w.begin()
        for k, (names, _tot) in enumerate(bins):
            if len(names) < 2:
                continue  # single-file bin: rewriting is pure waste
            merged = spark.read.schema(TABLE_SCHEMAS["events"]).parquet(
                *[os.path.join(root, n) for n in names]
            )
            out = f"bin{k:02d}"
            merged.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(root, out)
            )
            for n in names:
                txn.remove(n, data_change=False)
            txn.add(out, bytes=_dir_bytes(os.path.join(root, out)))
        txn.commit()  # v1: one atomic re-layout

    return cached_fixture("txncompact", sf_dir, ":v1", build)


@_register("source_txn_log_compact_small_files", _ROUNDTRIP_ORACLE)
def source_txn_log_compact_small_files(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bin-packing OPTIMIZE — the small-files compaction that
    completes the maintenance family (re-cluster, Z-ORDER, DV
    materialization, and now plain OPTIMIZE; Delta's default
    `OPTIMIZE table`): 16 logged fragments first-fit-decreasing
    packed by their ADD-STAT byte sizes into ~4 target bins, each
    multi-file bin rewritten as one file and published atomically
    with dataChange=False. The entry REFUSES if compaction didn't
    actually shrink the layout (live files must be at most half the
    original 16) or if any single-file bin was pointlessly rewritten,
    then hashes the full post-compaction snapshot against the
    original-table oracle — a re-layout that drops or duplicates one
    row anywhere moves the hash.

    At 100 TB this is THE standing maintenance job: streaming sinks
    and small appends shed thousands of sub-target files per day
    (SCALE.md's small-files hazard), every one of which costs a task,
    an open, and a footer read on every later scan; bin-packing
    planning is O(|files|) driver-side log math, the rewrite touches
    only over-sharded bytes, and readers racing the commit see old or
    new layout atomically, never a mix."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root = _txn_compact_table(spark, sf_dir)
    snap = TxnLogWriter(root).snapshot()
    if len(snap.live) > 8:
        raise ValueError(
            f"compaction left {len(snap.live)} live files of 16 — no shrink"
        )
    n_adds = sum(
        1
        for a in snap.actions
        if a.get("action") == "add" and a["version"] == 1
    )
    n_removes = sum(
        1
        for a in snap.actions
        if a.get("action") == "remove" and a["version"] == 1
    )
    if n_adds and n_removes < 2 * n_adds:
        raise ValueError(
            f"compaction published {n_adds} bins for only "
            f"{n_removes} removed fragments — a single-file bin was "
            "pointlessly rewritten"
        )
    return _fidelity_agg(scan_snapshot(spark, root, snap))


_TXN_SCHEMA_EVO_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN event_id % 2 = 1
                         THEN LENGTH(event_type) ELSE 0 END) AS BIGINT)
               AS tag_len_sum,
           CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_null_tag
    FROM events
    GROUP BY event_type
"""


def _txn_schema_evo_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, rev)) a table whose SCHEMA
    lives in the transaction log (the metaData action — Delta's
    schemaString, Iceberg's schema in table metadata): generation-0
    files carry the 6 canonical event columns and commit v0 records
    that schema; a later commit ADDS a `tag` string column — v1
    records the WIDENED schema as a new metaData action and adds
    generation-1 files (odd event_ids) written with it. Readers take
    the NEWEST metaData schema and read every live file with it, so
    generation-0 files null-fill `tag` — schema-on-log, not
    schema-on-file-footer (mergeSchema), which is what lets a 4096-file
    table evolve without touching any footer."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        writer = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        base_schema = TABLE_SCHEMAS["events"].toDDL()  # schema AS TEXT —
        # the log carries a string, never a live object
        ev.filter(F.col("event_id") % 2 == 0).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "g0"))
        writer.begin().set_metadata(base_schema).add("g0").commit()
        # v0: original schema + even rows
        widened = base_schema + ", tag string"
        ev.filter(F.col("event_id") % 2 == 1).withColumn(
            "tag", F.col("event_type")
        ).write.mode("overwrite").parquet(os.path.join(root, "g1"))
        writer.begin().set_metadata(widened).add("g1").commit()
        # v1: widened schema + odd rows carrying tag

    root = cached_fixture("txnschemaevo", sf_dir, ":v2", build)
    return root, os.path.join(root, "_log")


@_register("source_txn_log_schema_evolution", _TXN_SCHEMA_EVO_ORACLE)
def source_txn_log_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCHEMA-ON-LOG evolution — the metadata pillar of the table
    format (Delta's metaData action / Iceberg's schema evolution),
    distinct from the footer-merging source_schema_evolution entry:
    the reader replays the log for (a) live files and (b) the NEWEST
    metaData action's schema, then reads EVERY live file with that one
    explicit schema — generation-0 files (written before the `tag`
    column existed) null-fill it, generation-1 files carry real
    values, and the fidelity aggregate (which sums tag lengths and
    counts the nulls per event_type) hash-certifies both the
    null-fill and the value path against a DuckDB oracle deriving
    `tag` from the parity split. A reader that used the OLD schema
    drops the column (hash fails on tag_len_sum); one that merged
    footers instead of reading the log would pass here but costs a
    footer sweep per query at 4096 files — the log read is O(1).

    Scale posture: schema changes are one JSON line; no data file is
    ever touched by an ADD COLUMN, and every later scan still prunes
    and pushes down on the explicit schema exactly as before."""
    root, _log_dir = _txn_schema_evo_table(spark, sf_dir)
    snapshot = read_snapshot(spark, root)  # newest metaData schema
    return snapshot.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
        ).alias("cents_sum"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.coalesce(F.length("tag"), F.lit(0))).alias("tag_len_sum"),
        F.sum(F.when(F.col("tag").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_tag"),
    )


_TXN_STREAM_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum,
           CAST(SUM(LENGTH(props)) AS BIGINT) AS props_len_sum
    FROM events
    WHERE event_id % 20 = 0
    GROUP BY event_type
"""


def _await_stream_offset(q, key: str, target: int, deadline_s: float = 120.0):
    """Wait until the streaming query's last COMPLETED batch has read
    through offset {key: target}. Pure driver-side polling on
    q.lastProgress — the previous form counted the memory sink with a
    Spark job every 50 ms, and those poll jobs contended with the
    micro-batches themselves (guide §5: the driver should do almost no
    data work; a progress dict read does none). lastProgress is emitted
    AFTER a batch commits, so offset-reached implies the batch's rows
    are queryable in the sink."""
    import ast as _ast
    import json as _json
    import time as _time

    deadline = _time.monotonic() + deadline_s
    while _time.monotonic() < deadline:
        p = q.lastProgress
        if p:
            try:
                end = p["sources"][0]["endOffset"]
                if isinstance(end, str):
                    # Python DataSource offsets surface as the dict's
                    # repr (single quotes), not JSON — literal_eval
                    # handles both repr and plain ints; JSON as fallback
                    try:
                        end = _ast.literal_eval(end)
                    except (ValueError, SyntaxError):
                        end = _json.loads(end)
                if isinstance(end, dict) and int(
                    end.get(key, -(10**18))
                ) >= target:
                    return
            except (KeyError, IndexError, TypeError, ValueError):
                pass
        _time.sleep(0.02)


def _drain_to_memory(
    spark: SparkSession, fmt: str, sink: str, key: str, target: int
) -> DataFrame:
    """Run the registered stream source `fmt` into the memory sink
    `sink` on a processingTime trigger until its last completed batch
    has read through offset {key: target}, stop the query, and return
    the sink's rows in one partition (driver-resident memory sink: no
    fan-out agg)."""
    q = (
        spark.readStream.format(fmt)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        _await_stream_offset(q, key, target)
    finally:
        q.stop()
        q.awaitTermination(30)
    return spark.table(sink).coalesce(1)


def _register_version_stream(
    spark: SparkSession,
    fmt: str,
    schema: str,
    start: int,
    latest: int,
    batch_of: Callable[[int], list],
) -> None:
    """Register a Python streaming source `fmt` whose OFFSETS ARE LOG
    VERSIONS ({"v": n}): it starts after version `start`, each read
    advances one commit by serving `batch_of(v)` (the commit's rows or
    Arrow batches) until `latest`, then idles at the head;
    readBetweenOffsets replays a committed version range exactly after
    a failure. The Simple offset protocol plans and reads on the
    driver — the documented trade at fixture scale."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class VersionStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"v": start}

        def read(self, offset):
            v = offset["v"]
            if v >= latest:
                return (iter([]), {"v": v})  # steady state: no new commit
            return (iter(batch_of(v + 1)), {"v": v + 1})

        def readBetweenOffsets(self, lo, hi):
            batches: list = []
            for v in range(lo["v"] + 1, hi["v"] + 1):
                batches.extend(batch_of(v))
            return iter(batches)

    class VersionStream(DataSource):
        @classmethod
        def name(cls):
            return fmt

        def schema(self):
            return schema

        def simpleStreamReader(self, schema):
            return VersionStreamReader()

    spark.dataSource.register(VersionStream)


_TXN_STREAM_SCHEMA = (
    "event_id long, ts_us long, user_id long, "
    "event_type string, value double, props string"
)
_TXN_CDF_STREAM_SCHEMA = (
    "change_type string, commit_version long, " + _TXN_STREAM_SCHEMA
)


def _txn_stream_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, rev)) an APPEND-ONLY table
    the committer wrote in five commits (pmod 5 buckets of the 5%
    event_id%20==0 slice — small enough to stream through the
    driver-side simple offset protocol at any sf). Returns
    (root, log_dir)."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        writer = TxnLogWriter(root)
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") % 20 == 0)
            .persist()  # one scan serves all five writes
        )
        # bucket on event_id/20: the slice is exactly the multiples of
        # 20, so pmod(event_id, 5) would be constantly ZERO — all rows
        # in commit 0 and four empty commits, a vacuous five-batch
        # certification (r11 review finding)
        bucket = F.pmod((F.col("event_id") / 20).cast("long"), F.lit(5))
        for b in range(5):
            ev.filter(bucket == b).write.mode("overwrite").parquet(
                os.path.join(root, f"a{b}")
            )
            writer.begin().add(f"a{b}").commit()
        ev.unpersist()

    root = cached_fixture("txnstream", sf_dir, ":v3", build)
    return root, os.path.join(root, "_log")


def _txn_stream_file_table(root: str, file: str, memo: dict | None = None):
    """Normalize one data file to a pyarrow Table in the stream's
    declared column order/types: (event_id int64, ts_us int64,
    user_id int64, event_type string, value double, props string).
    The ts→ts_us conversion is the only compute; everything else is a
    zero-copy column re-arrangement (guide §4.2 — Arrow re-slicing,
    not per-row work).

    ``memo`` (optional): per-QUERY-INVOCATION cache — a CDF stream
    legitimately revisits a file across commits (a file added in one
    commit is the remove side of a later rewrite and the row source
    for a later deletion-vector delta). Scoped to one reader instance:
    nothing persists across runs."""
    key = ("table", file)
    if memo is not None and key in memo:
        return memo[key]
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(root, file))
    ts64 = tbl.column("ts").cast(pa.int64())
    if tbl.schema.field("ts").type.unit == "ns":
        # vectorized ns→us (guide §4.2: bulk work in native code, not a
        # per-value Python loop)
        ts64 = pc.divide(ts64, pa.scalar(1000, pa.int64()))
    out = pa.table(
        {
            "event_id": tbl.column("event_id").cast(pa.int64()),
            "ts_us": ts64,
            "user_id": tbl.column("user_id").cast(pa.int64()),
            "event_type": tbl.column("event_type").cast(pa.string()),
            "value": tbl.column("value").cast(pa.float64()),
            "props": tbl.column("props").cast(pa.string()),
        }
    )
    if memo is not None:
        memo[key] = out
    return out


def _txn_stream_file_rows(
    root: str, file: str, memo: dict | None = None
) -> list[tuple]:
    """Driver-side (pyarrow) read of one data file into (event_id,
    ts_us, user_id, event_type, value, props) tuples — the reference
    row form the CDF change-diff and the protocol tests consume
    (_txn_stream_commit_batches ships Arrow batches instead wherever
    no row-level diff is needed). Memoized like the table form."""
    key = ("rows", file)
    if memo is not None and key in memo:
        return memo[key]
    tbl = _txn_stream_file_table(root, file, memo)
    rows = list(
        zip(*[tbl.column(i).to_pylist() for i in range(tbl.num_columns)])
    )
    if memo is not None:
        memo[key] = rows
    return rows


class _TxnCommitPlan(NamedTuple):
    """What one commit contributes to a txn-log stream: the data files
    it adds and removes (dataChange=false rewrites drop out in 'cdf'
    mode) and its dv actions as (file, sidecar) pairs."""

    writer: TxnLogWriter
    version: int
    adds: list[str]
    removes: list[str]
    dvs: list[tuple[str, str]]

    def prev_dv(self, file: str) -> str | None:
        """`file`'s newest dv sidecar BEFORE this commit (None when it
        had none), from the snapshot one version earlier — stateless,
        so failure replay via readBetweenOffsets stays exact, and a
        checkpoint carries it past vacuumed commits. History the
        snapshot cannot replay REFUSES — the delta would otherwise be
        computed against a guessed base."""
        try:
            snap = self.writer.snapshot(self.version - 1)
        except ValueError as e:
            raise ValueError(
                f"{e}; the history needed to resolve v{self.version}'s "
                "dv delta was vacuumed"
            ) from None
        return snap.dvs_any.get(file)


def _txn_commit_plan(
    root: str, version: int, mode: str = "append_only"
) -> _TxnCommitPlan:
    """Plan one commit of the table at `root` for a stream or change
    feed — the parse, refusal and file lists every txn-log streaming
    planner shares (tuple rows, Arrow batches, the executor-side
    reader's partitions, table_changes).

    * mode='append_only': REFUSE a commit carrying a remove (the
      skipChangeCommits contract: silently streaming past a compaction
      would replay rewritten rows); `adds` is every added file.
    * mode='cdf': every commit is legal; `adds`/`removes` keep only
      dataChange=true actions, so an OPTIMIZE plans to nothing.

    Raises FileNotFoundError when the commit file is gone."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    writer = TxnLogWriter(root)
    actions = writer.commit_actions(version)
    if mode == "append_only":
        if any(a["action"] == "remove" for a in actions):
            raise ValueError(
                f"commit v{version} is not append-only; streaming past "
                "a change commit would replay rewritten rows "
                "(opt into mode='cdf' to stream changes instead)"
            )
        adds = [a["file"] for a in actions if a["action"] == "add"]
        return _TxnCommitPlan(writer, version, adds, [], [])
    assert mode == "cdf", mode

    def changed(kind: str) -> list[str]:
        return [
            a["file"]
            for a in actions
            if a["action"] == kind and a.get("dataChange", True)
        ]

    dvs = [(a["file"], a["dv"]) for a in actions if a["action"] == "dv"]
    return _TxnCommitPlan(
        writer, version, changed("add"), changed("remove"), dvs
    )


def _txn_stream_commit_rows(
    root: str,
    version: int,
    mode: str = "append_only",
    memo: dict | None = None,
) -> list[tuple]:
    """One streaming micro-batch = one commit, two contracts (planned
    by _txn_commit_plan):

    * mode='append_only' (default): REFUSE non-append commits; emit
      the added files' rows as (event_id, ts_us, user_id, event_type,
      value, props).
    * mode='cdf' (opt-in, r11 VERDICT item 3): every commit is legal;
      emit (change_type, commit_version, <row>) — the streaming form
      of table_changes. dataChange=false commits (OPTIMIZE) emit
      NOTHING; dataChange adds/removes diff ROW-level by event_id
      (a copy-on-write DELETE emits only the deleted rows; rows on
      both sides with CHANGED content emit an update_preimage/
      update_postimage pair, content-equal carried rows stay silent);
      a dv action emits its sidecar's delta over the file's previous
      winning dv (_TxnCommitPlan.prev_dv).

    All reads are driver-side pyarrow — the Simple offset protocol's
    documented trade; the executor-side form maps the same per-commit
    plan onto a partitioned scan."""
    plan = _txn_commit_plan(root, version, mode)
    if mode == "append_only":
        return [
            r for f in plan.adds for r in _txn_stream_file_rows(root, f, memo)
        ]

    added = [
        r for f in plan.adds for r in _txn_stream_file_rows(root, f, memo)
    ]
    removed = [
        r for f in plan.removes for r in _txn_stream_file_rows(root, f, memo)
    ]
    added_ids = {r[0] for r in added}
    removed_by_id = {r[0]: r for r in removed}
    out: list[tuple] = []
    out.extend(
        ("insert", version, *r) for r in added if r[0] not in removed_by_id
    )
    out.extend(
        ("delete", version, *r) for r in removed if r[0] not in added_ids
    )
    for r in added:
        old = removed_by_id.get(r[0])
        if old is not None and old != r:  # changed content = update pair
            out.append(("update_preimage", version, *old))
            out.append(("update_postimage", version, *r))
    import pyarrow.parquet as pq

    def _dv_ids(name: str) -> set:
        return set(
            pq.read_table(os.path.join(root, name), columns=["event_id"])
            .column("event_id")
            .to_pylist()
        )

    for file, dv in plan.dvs:
        prev = plan.prev_dv(file)
        new_ids = _dv_ids(dv)
        if prev is not None:
            new_ids -= _dv_ids(prev)
        out.extend(
            ("delete", version, *r)
            for r in _txn_stream_file_rows(root, file, memo)
            if r[0] in new_ids
        )
    return out


_TXN_STREAM_PA_FIELDS = [
    ("event_id", "int64"),
    ("ts_us", "int64"),
    ("user_id", "int64"),
    ("event_type", "string"),
    ("value", "float64"),
    ("props", "string"),
]


def _txn_stream_commit_batches(
    root: str,
    version: int,
    mode: str = "append_only",
    memo: dict | None = None,
) -> list:
    """Arrow-batch form of _txn_stream_commit_rows: the SAME per-commit
    contract (same refusals, same change derivation — change commits
    delegate to the tuple diff, which stays the tested reference), but
    the batch body crosses the Python data source boundary as pyarrow
    RecordBatches instead of per-row tuples. Spark's Python data source
    runner ships RecordBatches straight into the Arrow stream
    (records_to_arrow_batches yields them as-is), so the per-row
    tuple build + per-field type conversion disappears for every
    append/insert commit — the bulk of a stream's bytes (guide §4.2:
    keep whole batches in native code; §2.3: ship columns, not rows).
    Offsets, refusal semantics, and emitted VALUES are identical —
    certified by the same fidelity hash as the tuple path.

    Intra-batch ROW ORDER is unspecified (r16 ADVICE item 2): this
    path emits update changes as a block of preimages followed by a
    block of postimages, while the tuple reference interleaves
    adjacent pre/post pairs per row. The CDF contract is the SET of
    change rows per commit — consumers must pair images by
    (event_id, commit_version), never by adjacency within a
    micro-batch; every certified consumer here aggregates and is
    order-insensitive."""
    import pyarrow as pa

    plan = _txn_commit_plan(root, version, mode)
    if mode == "append_only":
        return [
            b
            for f in plan.adds
            for b in _txn_stream_file_table(root, f, memo).to_batches()
        ]

    import pyarrow.compute as pc

    def _cdf_cols(t, change_type: str):
        n = t.num_rows
        return t.add_column(
            0, "change_type", pa.array([change_type] * n, pa.string())
        ).add_column(
            1, "commit_version", pa.array([version] * n, pa.int64())
        )

    adds, removes, dvs = plan.adds, plan.removes, plan.dvs
    if not removes and not dvs:
        # pure-insert commit (or a dataChange=false rewrite, which emits
        # nothing): prepend the two constant CDF columns to the Arrow
        # table — no row materialization at all
        return [
            b
            for f in adds
            for b in _cdf_cols(
                _txn_stream_file_table(root, f, memo), "insert"
            ).to_batches()
        ]

    # change commit (COW delete / DV delta / update pair). The row-level
    # diff is vectorized in pyarrow.compute — same semantics as the
    # certified tuple derivation (_txn_stream_commit_rows, still the
    # tested reference): inserts = added∖removed by event_id, deletes =
    # removed∖added, update pre/post pairs = identity in both sides
    # with ANY column changed. The vectorized compare assumes null-free
    # columns and unique event_ids per side (filter() would silently
    # drop null comparison results; duplicate ids break the sort-align)
    # — anything else falls back to the tuple path, so semantics never
    # depend on the fast path.
    at = (
        pa.concat_tables(
            [_txn_stream_file_table(root, f, memo) for f in adds]
        )
        if adds
        else None
    )
    rt = (
        pa.concat_tables(
            [_txn_stream_file_table(root, f, memo) for f in removes]
        )
        if removes
        else None
    )

    def _vec_ok(t) -> bool:
        if t is None:
            return True
        if any(
            t.column(i).null_count for i in range(t.num_columns)
        ):
            return False
        ids = t.column("event_id")
        return pc.count_distinct(ids).as_py() == len(ids)

    import pyarrow.parquet as pq

    def _dv_id_arr(name: str):
        key = ("dv", name)
        if memo is not None and key in memo:
            return memo[key]
        arr = (
            pq.read_table(
                os.path.join(root, name), columns=["event_id"]
            )
            .column("event_id")
            .combine_chunks()
        )
        if memo is not None:
            memo[key] = arr
        return arr

    # Resolve every dv action's inputs BEFORE choosing a path and run
    # the same null guard on them (r16 ADVICE item 1): the dv-delta
    # branch filters via pyarrow is_in on raw event_id arrays, whose
    # null-matching semantics are Arrow-version-dependent — any null
    # in a dv sidecar or in a dv'd file's event_id column sends the
    # WHOLE commit down the tuple reference path, preserving the
    # 'semantics never depend on the fast path' invariant. The vacuum
    # refusal stays a hard error on both paths (raised here, before
    # any fallback decision).
    dv_plans: list = []
    dv_vec_ok = True
    for file, dv in dvs:
        prev = plan.prev_dv(file)
        new_arr = _dv_id_arr(dv)
        prev_arr = _dv_id_arr(prev) if prev is not None else None
        ft = _txn_stream_file_table(root, file, memo)
        if (
            new_arr.null_count
            or (prev_arr is not None and prev_arr.null_count)
            or ft.column("event_id").null_count
        ):
            dv_vec_ok = False
            break
        dv_plans.append((new_arr, prev_arr, ft))

    if not (dv_vec_ok and _vec_ok(at) and _vec_ok(rt)):
        rows = _txn_stream_commit_rows(root, version, mode, memo)
        if not rows:
            return []
        schema = pa.schema(
            [("change_type", pa.string()), ("commit_version", pa.int64())]
            + [(n, getattr(pa, t)()) for n, t in _TXN_STREAM_PA_FIELDS]
        )
        cols = list(zip(*rows))
        arrays = [
            pa.array(list(c), type=schema.field(i).type)
            for i, c in enumerate(cols)
        ]
        return [pa.RecordBatch.from_arrays(arrays, schema=schema)]

    out_tables: list = []
    if at is not None and rt is not None:
        a_ids = at.column("event_id").combine_chunks()
        r_ids = rt.column("event_id").combine_chunks()
        in_r = pc.is_in(at.column("event_id"), value_set=r_ids)
        in_a = pc.is_in(rt.column("event_id"), value_set=a_ids)
        inserts = at.filter(pc.invert(in_r))
        deletes = rt.filter(pc.invert(in_a))
        # align the rows present on both sides by (unique) event_id and
        # compare every column — changed content emits an update pair,
        # content-equal carried rows stay silent
        both_a = at.filter(in_r).sort_by("event_id")
        both_r = rt.filter(in_a).sort_by("event_id")
        neq = None
        for name in both_a.column_names:
            ne = pc.not_equal(both_a.column(name), both_r.column(name))
            neq = ne if neq is None else pc.or_(neq, ne)
        if inserts.num_rows:
            out_tables.append(_cdf_cols(inserts, "insert"))
        if deletes.num_rows:
            out_tables.append(_cdf_cols(deletes, "delete"))
        if neq is not None and pc.any(neq).as_py():
            out_tables.append(_cdf_cols(both_r.filter(neq), "update_preimage"))
            out_tables.append(
                _cdf_cols(both_a.filter(neq), "update_postimage")
            )
    elif at is not None:
        if at.num_rows:
            out_tables.append(_cdf_cols(at, "insert"))
    elif rt is not None:
        if rt.num_rows:
            out_tables.append(_cdf_cols(rt, "delete"))

    for new_ids, prev_arr, ft in dv_plans:
        if prev_arr is not None:
            new_ids = new_ids.filter(
                pc.invert(pc.is_in(new_ids, value_set=prev_arr))
            )
        dd = ft.filter(
            pc.is_in(ft.column("event_id"), value_set=new_ids)
        )
        if dd.num_rows:
            out_tables.append(_cdf_cols(dd, "delete"))

    return [b for t in out_tables for b in t.to_batches()]


@_register("streaming_txn_source_live", _TXN_STREAM_ORACLE)
def streaming_txn_source_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING READS of a transaction-log table — 'readStream from a
    Delta table' in miniature, the read-side dual of the txn-log sink:
    a Python streaming source whose OFFSETS ARE LOG VERSIONS. Each
    micro-batch advances one commit: the reader plans that commit
    (_txn_commit_plan over TxnLogWriter.commit_actions),
    REFUSES any non-append commit (remove actions — the
    skipChangeCommits contract: silently streaming past a compaction
    would replay rewritten rows), reads that commit's added parquet
    files driver-side (pyarrow — the simple offset protocol reads on
    the driver by design), and emits the rows; readBetweenOffsets
    replays committed version ranges exactly after a failure. Five
    engine-written commits drain as five genuine micro-batches into
    the memory sink and the fidelity aggregate hashes the union
    against the source slice — a reader that drops a commit, double
    reads one, or mis-parses the log moves the hash.

    Scale posture: offsets-as-versions is exactly how production
    engines stream tables (Delta/Iceberg incremental reads) — the log
    tail IS the queue, no separate bus needed for table-to-table
    pipelines; the driver touches only commit JSON (catalog scale) to
    plan each batch, and the real-cluster form reads the added files
    executor-side like any scan (the Simple reader trades that for
    protocol clarity at fixture scale)."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root, _log_dir = _txn_stream_table(spark, sf_dir)
    latest = TxnLogWriter(root).latest_version()
    memo: dict = {}  # per-invocation file cache (see _txn_stream_file_table)
    _register_version_stream(
        spark,
        "txn_log_stream",
        _TXN_STREAM_SCHEMA,
        -1,
        latest,
        lambda v: _txn_stream_commit_batches(root, v, memo=memo),
    )
    back = _drain_to_memory(
        spark, "txn_log_stream", "streaming_txn_source_sink", "v", latest
    ).select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    return _fidelity_agg(back)


# ---------------------------------------------------------------------------
# OPTIMIZE ZORDER: 2-D Morton re-clustering through the committer
# ---------------------------------------------------------------------------

_TXN_ZORDER_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum,
           CAST(SUM(LENGTH(props)) AS BIGINT) AS props_len_sum
    FROM events
    WHERE EXTRACT(hour FROM ts) < 6
    GROUP BY event_type
"""


def _txn_zorder_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, rev)) a table the engine
    re-clusters in TWO dimensions through the committer: four
    user_id-quartile files u0..u3 (a layout where hour predicates can
    prune NOTHING — every file spans all 24 hours), then OPTIMIZE
    ZORDER BY (user_id, hour): each row gets a 4-bit Morton code
    interleaving its 2-bit user quartile and 2-bit hour quartile
    (hour//6) — ux0, hx0<<1, ux1<<2, hx1<<3 — and the table is
    re-sorted into four files z0..z3 by consecutive Morton range
    (code//4, i.e. the (ux1, hx1) quadrants of the 4x4 grid), each
    add carrying min/max stats on BOTH user_id and hour. Published as
    ONE atomic remove/add transaction with dataChange=FALSE (a
    rewrite that changes no data — the CDF reader must stay silent).
    Post-ZORDER a point/range predicate on EITHER dimension prunes
    half the files; the 1-D layout it replaced pruned only on user."""
    import json

    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        writer = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        max_user = int(ev.agg(F.max("user_id")).first()[0])
        ubounds = [0] + [max_user * (k + 1) // 4 for k in range(3)] + [
            max_user
        ]
        for k in range(4):
            lo, hi = ubounds[k], ubounds[k + 1]
            part = ev.filter(
                (F.col("user_id") > lo) if k else (F.col("user_id") >= 0)
            ).filter(F.col("user_id") <= hi)
            part.write.mode("overwrite").parquet(os.path.join(root, f"u{k}"))
            st = part.agg(
                F.min("user_id").alias("umn"),
                F.max("user_id").alias("umx"),
                F.min(F.hour("ts")).alias("hmn"),
                F.max(F.hour("ts")).alias("hmx"),
            ).first()
            writer.begin().add(
                f"u{k}",
                user_min=int(st.umn),
                user_max=int(st.umx),
                hour_min=int(st.hmn),
                hour_max=int(st.hmx),
            ).commit()  # v0..v3
        # OPTIMIZE ZORDER BY (user_id, hour): interleaved-bit cell
        # code (the certified Morton math — operators/pipeline.py
        # pipeline_zorder_stats), files = consecutive code ranges
        ux = F.least(
            F.lit(3),
            F.floor(F.col("user_id") * 4 / F.lit(max_user + 1)).cast("int"),
        )
        hx = F.floor(F.hour("ts") / 6).cast("int")
        morton = (
            (ux % 2)
            + (hx % 2) * 2
            + F.floor(ux / 2).cast("int") * 4
            + F.floor(hx / 2).cast("int") * 8
        )
        coded = ev.withColumn("_z", morton)
        txn = writer.begin()
        for k in range(4):
            txn.remove(f"u{k}", data_change=False)
        for k in range(4):
            part = coded.filter(
                (F.col("_z") >= 4 * k) & (F.col("_z") <= 4 * k + 3)
            ).drop("_z")
            part.write.mode("overwrite").parquet(os.path.join(root, f"z{k}"))
            st = part.agg(
                F.min("user_id").alias("umn"),
                F.max("user_id").alias("umx"),
                F.min(F.hour("ts")).alias("hmn"),
                F.max(F.hour("ts")).alias("hmx"),
            ).first()
            txn.add(
                f"z{k}",
                data_change=False,
                user_min=int(st.umn),
                user_max=int(st.umx),
                hour_min=int(st.hmn),
                hour_max=int(st.hmx),
            )
        txn.commit()  # v4: one atomic publish
        with open(os.path.join(root, "_META"), "w") as f:
            f.write(json.dumps({"max_user": max_user}) + "\n")

    root = cached_fixture("txnzorder", sf_dir, ":v1", build)
    return root, os.path.join(root, "_log")


def _zorder_prune(root: str, dim: str, lo: int, hi: int) -> list[str]:
    """Stats-prune the live files of the ZORDER table on one dimension
    (`user` or `hour`): survivors are files whose [min,max] interval
    on that dimension intersects [lo, hi] — the Delta data-skipping
    pass, now effective on BOTH dimensions because the layout is
    Morton-clustered. Planning scale: |files| winning add actions."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    mn, mx = f"{dim}_min", f"{dim}_max"
    return sorted(
        f
        for f, a in TxnLogWriter(root).snapshot().adds.items()
        if a[mn] <= hi and a[mx] >= lo
    )


@_register("source_txn_log_optimize_zorder", _TXN_ZORDER_ORACLE)
def source_txn_log_optimize_zorder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMIZE ZORDER through the committer, certified by the 2-D
    skipping it enables (r11 VERDICT item 5): the table starts
    user_id-clustered — an hour predicate can prune NOTHING (every
    file spans 0..23) — then the engine re-sorts it by interleaved
    (user-quartile, hour-quartile) Morton bits into four consecutive-
    code-range files and publishes old→new in ONE atomic transaction
    (dataChange=false: table_changes over the ZORDER commit emits
    zero rows, pytest-pinned). This reader answers `hour(ts) < 6` by
    stats-pruning the post-OPTIMIZE log on the HOUR dimension —
    scanning two of four files (plan-gated on inputFiles; the same
    table prunes to two files on a USER predicate too, the property
    1-D clustering cannot give) — with the residual filter keeping
    correctness independent of the stats. The hash gate certifies the
    re-clustering lost and duplicated nothing against the original
    table.

    Scale posture: Z-ordering is the amortized rewrite that makes
    multi-dimension selective scans sublinear — one range-partitioned
    sort by Morton code (a single shuffle), one JSON commit, and
    every later predicate on ANY indexed dimension prunes ~|files| *
    (selectivity^(1/d)); the interleave math is already certified
    row-level by pipeline_zorder_stats, and readers racing the
    rewrite see old or new atomically (last-action-wins replay)."""
    root, _log_dir = _txn_zorder_table(spark, sf_dir)
    survivors = _zorder_prune(root, "hour", 0, 5)
    scan = spark.read.schema(TABLE_SCHEMAS["events"]).parquet(
        *[os.path.join(root, name) for name in survivors]
    )
    return _fidelity_agg(scan.filter(F.hour("ts") < 6))


# ---------------------------------------------------------------------------
# Change data feed: table_changes(v1, v2) (r11 VERDICT item 3)
# ---------------------------------------------------------------------------

_TXN_CDF_ORACLE = """
    SELECT * FROM (
        SELECT 'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents_sum,
               CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum
        FROM events WHERE event_id % 2 = 1 GROUP BY event_type
        UNION ALL
        SELECT 'delete', CAST(2 AS BIGINT), event_type,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT),
               CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT)
        FROM events WHERE event_id % 10 = 4 GROUP BY event_type
        UNION ALL
        SELECT 'delete', CAST(4 AS BIGINT), event_type,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT),
               CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT)
        FROM events WHERE event_id % 10 = 6 GROUP BY event_type
        UNION ALL
        SELECT 'update_preimage', CAST(5 AS BIGINT), event_type,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT),
               CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT)
        FROM events WHERE event_id % 10 = 9 GROUP BY event_type
        UNION ALL
        SELECT 'update_postimage', CAST(5 AS BIGINT), event_type,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(FLOOR((value + 1.0) * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT),
               CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT)
        FROM events WHERE event_id % 10 = 9 GROUP BY event_type
    )
"""


def _txn_cdf_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, rev)) an engine-written table
    exercising every change-producing and change-FREE commit kind:
    v0 adds a0 (even event_ids), v1 adds a1 (odd), v2 runs a
    COPY-ON-WRITE DELETE of event_id%10==4 (remove a0, add a0d — both
    dataChange=true), v3 runs an OPTIMIZE (remove a1, add c1 with the
    SAME rows — dataChange=FALSE, the flag that keeps data-unchanged
    rewrites out of the feed), v4 attaches a DELETION VECTOR to a0d
    marking event_id%10==6 deleted (merge-on-read row delete), and v5
    runs a MERGE-style UPDATE: c1 rewritten as c1m with
    event_id%10==9 rows' value bumped by 1.0 (remove c1, add c1m,
    dataChange=true) — same row identities, changed content, so the
    feed must pair them as update_preimage/update_postimage, never
    delete+insert, while c1m's unchanged rows stay silent. The
    %10∈{4,6} slices are even (live in a0/a0d), %10==9 is odd (lives
    in c1); all three are disjoint — every change row is
    independently derivable from the source table for the oracle."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        writer = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        even = ev.filter(F.col("event_id") % 2 == 0)
        odd = ev.filter(F.col("event_id") % 2 == 1)
        even.write.mode("overwrite").parquet(os.path.join(root, "a0"))
        writer.begin().add("a0").commit(timestamp=1000)  # v0
        odd.write.mode("overwrite").parquet(os.path.join(root, "a1"))
        writer.begin().add("a1").commit(timestamp=2000)  # v1
        # v2: COW DELETE WHERE event_id % 10 = 4
        even.filter(F.col("event_id") % 10 != 4).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "a0d"))
        writer.begin().remove("a0").add("a0d").commit(timestamp=3000)
        # v3: OPTIMIZE — same rows, new file, dataChange=False
        odd.write.mode("overwrite").parquet(os.path.join(root, "c1"))
        writer.begin().remove("a1", data_change=False).add(
            "c1", data_change=False
        ).commit(timestamp=4000)
        # v4: DV delete WHERE event_id % 10 = 6 (rows live in a0d)
        ev.filter(F.col("event_id") % 10 == 6).select("event_id").write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "dv_a0d"))
        writer.begin().set_dv("a0d", "dv_a0d").commit(timestamp=5000)
        # v5: MERGE-style UPDATE — value += 1.0 WHERE event_id % 10 = 9
        odd.withColumn(
            "value",
            F.when(
                F.col("event_id") % 10 == 9, F.col("value") + F.lit(1.0)
            ).otherwise(F.col("value")),
        ).write.mode("overwrite").parquet(os.path.join(root, "c1m"))
        writer.begin().remove("c1").add("c1m").commit(timestamp=6000)

    root = cached_fixture("txncdf", sf_dir, ":v2", build)
    return root, os.path.join(root, "_log")


def table_changes(
    spark: SparkSession, root: str, lo: int, hi: int
) -> DataFrame:
    """Row-level change-data-feed read across commit versions [lo, hi]
    — Delta's table_changes() re-expressed over the mini log. Per
    version the driver reads ONE commit JSON (catalog scale) and
    plans: dataChange=false commits (OPTIMIZE/compaction) emit NOTHING
    — the classic CDF bug is replaying a rewrite as delete+insert of
    every row; dataChange adds/removes within one commit are resolved
    ROW-level by identity (event_id): inserts = added∖removed rows,
    deletes = removed∖added, so a copy-on-write DELETE (remove a0,
    add a0d) emits exactly the deleted rows, a blind append exactly
    its rows; rows present on BOTH sides split by content — unchanged
    rows stay silent (the survivors a rewrite carries along), changed
    rows emit an update_preimage/update_postimage PAIR (Delta's MERGE
    change types), never a phantom delete+insert; a dv action emits
    the rows its sidecar ADDS over the file's previous dv (cumulative
    snapshots — the delta between snapshots is the change, the
    previous sidecar resolved by _TxnCommitPlan.prev_dv).
    Everything row-scale runs as Spark anti-/inner-joins per version,
    unioned into one frame tagged (change_type, commit_version).

    Scale posture: per changed version the work is a hash anti-join
    keyed on row identity over just that commit's touched files —
    shuffle ∝ changed data, never table size; untouched files are
    never opened. The per-version loop is |versions| driver JSON
    reads, the same planning cost every other log read pays; only
    versions in [lo, hi] are read, plus the backward prev-dv walk of a
    dv action. A missing commit the read needs REFUSES."""
    ev_schema = TABLE_SCHEMAS["events"]
    out: DataFrame | None = None

    def _read(files: list[str]) -> DataFrame | None:
        if not files:
            return None
        return spark.read.schema(ev_schema).parquet(
            *[os.path.join(root, f) for f in files]
        )

    for v in range(lo, hi + 1):
        try:
            plan = _txn_commit_plan(root, v, "cdf")
        except FileNotFoundError:
            raise ValueError(
                f"commit v{v} in table_changes({lo}, {hi}) was "
                "vacuumed — the change history is gone"
            ) from None
        added, removed = _read(plan.adds), _read(plan.removes)
        pieces = []
        if added is not None:
            ins = (
                added.join(removed, ["event_id"], "left_anti")
                if removed is not None
                else added
            )
            pieces.append(ins.withColumn("change_type", F.lit("insert")))
        if removed is not None:
            dele = (
                removed.join(added, ["event_id"], "left_anti")
                if added is not None
                else removed
            )
            pieces.append(dele.withColumn("change_type", F.lit("delete")))
        if added is not None and removed is not None:
            import functools

            cols = [f.name for f in ev_schema.fields if f.name != "event_id"]
            both = added.alias("a").join(removed.alias("r"), "event_id")
            changed = both.filter(
                ~functools.reduce(
                    lambda x, y: x & y,
                    [
                        F.col(f"a.{c}").eqNullSafe(F.col(f"r.{c}"))
                        for c in cols
                    ],
                )
            )
            pieces.append(
                changed.select(
                    "event_id",
                    *[F.col(f"r.{c}").alias(c) for c in cols],
                ).withColumn("change_type", F.lit("update_preimage"))
            )
            pieces.append(
                changed.select(
                    "event_id",
                    *[F.col(f"a.{c}").alias(c) for c in cols],
                ).withColumn("change_type", F.lit("update_postimage"))
            )
        for file, dv in plan.dvs:
            new_dv = spark.read.schema("event_id long").parquet(
                os.path.join(root, dv)
            )
            prev = plan.prev_dv(file)
            if prev is not None:
                old = spark.read.schema("event_id long").parquet(
                    os.path.join(root, prev)
                )
                new_dv = new_dv.join(old, ["event_id"], "left_anti")
            rows = (
                spark.read.schema(ev_schema)
                .parquet(os.path.join(root, file))
                .join(F.broadcast(new_dv), ["event_id"], "left_semi")
            )
            pieces.append(rows.withColumn("change_type", F.lit("delete")))
        for p in pieces:
            p = p.withColumn("commit_version", F.lit(v).cast("long"))
            out = p if out is None else out.unionByName(p)
    if out is None:
        # no change-producing commit in range (e.g. OPTIMIZE-only):
        # an EMPTY feed with the full feed schema, never an error —
        # NOTE: a copied field list, never TABLE_SCHEMAS[...].add
        # (StructType.add mutates the shared schema, r07 gotcha)
        ddl = (
            ev_schema.toDDL()
            + ", change_type string, commit_version long"
        )
        return spark.createDataFrame([], ddl)
    return out


def table_changes_between_timestamps(
    spark: SparkSession, root: str, t1: int, t2: int
) -> DataFrame:
    """Timestamp-bounded change feed — Delta's startingTimestamp /
    endingTimestamp contract composed from the two r12 pieces: the
    starting version is the EARLIEST commit at-or-after t1 (not the
    floor — a feed must not replay a commit older than the requested
    start), the ending version is the floor of t2 (the last commit a
    reader at t2 would have seen), and the versions feed the ordinary
    table_changes. A window before the first commit starts at v0; a
    window ending before the first commit (or starting past HEAD) is
    an EMPTY feed, not an error — pytest-pinned."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    w = TxnLogWriter(root)
    known = w._known_commit_timestamps()
    starts = [v for v, t in known if t >= t1]
    if not starts or t2 < known[0][1]:
        ddl = (
            TABLE_SCHEMAS["events"].toDDL()
            + ", change_type string, commit_version long"
        )
        return spark.createDataFrame([], ddl)
    return table_changes(
        spark, root, min(starts), w.version_at_timestamp(t2)
    )


@_register("source_txn_log_cdf", _TXN_CDF_ORACLE)
def source_txn_log_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED — the last protocol read mode (r11 VERDICT
    item 3): table_changes(1, 5) over an engine-written log holding a
    blind append (v1), a copy-on-write DELETE (v2), an OPTIMIZE (v3,
    dataChange=false), a deletion-vector delete (v4), and a
    MERGE-style UPDATE (v5). The feed must contain EXACTLY: v1's rows
    as inserts, the %10==4 rows as v2 deletes (row-level diff of
    remove a0 vs add a0d — NOT a0's full contents), NOTHING for v3 (a
    rewrite that changes no data is the classic CDF bug this fixture
    exists to catch), the %10==6 rows as v4 deletes (the DV's delta
    over the file's previous — absent — vector), and the %10==9 rows
    TWICE at v5 — update_preimage with the original value,
    update_postimage with value+1.0 — while c1m's untouched rows stay
    silent (content-equal rows carried by a rewrite are not changes).
    The hash gate certifies all five behaviors in one result: a
    reader that replays the OPTIMIZE emits phantom change rows and
    fails on row count; one that emits a0 wholesale at v2 or turns
    the update into delete+insert fails on the per-type aggregates.

    Scale posture: see table_changes — anti-joins ∝ changed rows,
    dataChange=false commits cost zero data I/O, untouched files
    never open. This is what downstream incremental consumers
    (materialized-view maintenance, cdc_incremental_agg_maintenance)
    read instead of re-scanning snapshots."""
    root, _log_dir = _txn_cdf_table(spark, sf_dir)
    changes = table_changes(spark, root, 1, 5)
    return changes.groupBy(
        "change_type", "commit_version", "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
        ).alias("cents_sum"),
        F.sum(F.unix_micros("ts") % 1000000000).alias("ts_us_sum"),
    )


# ---------------------------------------------------------------------------
# TIMESTAMP AS OF: commit-timestamp time travel (r11 VERDICT item 2)
# ---------------------------------------------------------------------------

_TXN_TS_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum,
           CAST(SUM(LENGTH(props)) AS BIGINT) AS props_len_sum
    FROM events
    WHERE event_id % 3 IN (0, 1)
    GROUP BY event_type
"""


def _txn_ts_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, rev)) an engine-written table
    whose three commits carry EXPLICIT commit timestamps (ms 1000 /
    2000 / 3000 — fixtures pass deterministic values; production
    commits default to wall clock): v0 adds t0 (event_id%3==0), v1
    adds t1 (%3==1), v2 adds t2 (%3==2). A reader AS OF ms 2500 must
    resolve to v1 — a strictly different live set than HEAD."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        writer = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        for b in range(3):
            ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == b).write.mode(
                "overwrite"
            ).parquet(os.path.join(root, f"t{b}"))
            writer.begin().add(f"t{b}").commit(timestamp=(b + 1) * 1000)

    root = cached_fixture("txnts", sf_dir, ":v1", build)
    return root, os.path.join(root, "_log")


@_register("source_txn_log_timestamp_travel", _TXN_TS_ORACLE)
def source_txn_log_timestamp_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIMESTAMP AS OF — the time-travel mode real lakehouse users
    reach for more often than version numbers (r11 VERDICT item 2):
    every engine-written commit's first line is a commitInfo action
    carrying a MONOTONIC commit timestamp (txn_writer clamps to
    prev + 1, Delta's in-commit-timestamp fix for clock skew, so the
    floor is always well-defined); resolving `AS OF ms 2500` is a
    log-only lookup — floor to the last commit with timestamp <= t —
    that feeds the SAME bounded replay VERSION AS OF runs. Over the
    three-commit fixture (timestamps 1000/2000/3000) 2500 must
    resolve to v1, yielding live set {t0, t1} = event_id%3 in (0,1):
    strictly different from HEAD, so a resolver that rounds up,
    ignores the timestamp, or resolves against file mtimes instead of
    logged commitInfo reproduces HEAD (or v2's layout) and fails the
    hash. Between-commit floors, before-v0 refusal, and the
    vacuumed-history refusal are pytest-pinned
    (test_txn_writer_timestamp_travel).

    Scale posture: resolution reads ONE first line per commit file
    (catalog scale) plus the newest checkpoint's carried commitInfo —
    never data; the replay and scan after resolution are identical to
    the VERSION AS OF path (bounded by checkpoints, file list to the
    driver, parallel scan of the historical live set)."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root, _log_dir = _txn_ts_table(spark, sf_dir)
    v = TxnLogWriter(root).version_at_timestamp(2500)  # planning: one
    # readline per commit file, then the standard bounded replay
    return _fidelity_agg(read_snapshot(spark, root, as_of=v))


# ---------------------------------------------------------------------------
# Live streaming change data feed: readStream of table_changes
# ---------------------------------------------------------------------------


@_register("streaming_txn_cdf_live", _TXN_CDF_ORACLE)
def streaming_txn_cdf_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A LIVE streaming read of the CHANGE DATA FEED — 'readStream
    with readChangeFeed + startingVersion' in miniature, composing the
    two r12 protocol pieces: the txn-log streaming source (offsets ARE
    log versions) running in mode='cdf', starting AT version 1
    (initialOffset {v: 0} — Delta's startingVersion contract: the
    stream begins after the named base snapshot). Each micro-batch is
    one commit's CHANGE rows: v1's inserts, v2's copy-on-write-DELETE
    deletes (row diff, not the rewritten file wholesale), NOTHING for
    v3's dataChange=false OPTIMIZE (an empty feed batch, not a
    refusal), v4's deletion-vector delta, and v5's paired
    update_preimage/update_postimage rows. Five commits drain live
    into the memory sink and the per-(change_type, version, type)
    aggregate is certified against the SAME DuckDB oracle as the
    batch table_changes entry — so batch and streaming CDF are
    provably the one semantics. A source that refuses the OPTIMIZE
    (the append-only contract this mode relaxes), replays it as
    changes, or splits the update into delete+insert moves the hash.

    Scale posture: identical to streaming_txn_source_live — the
    driver plans each batch from one commit JSON; change-row derivation
    is bounded by that commit's touched files (the executor-side form
    maps the same per-commit diff onto partitioned anti-joins, exactly
    what the batch table_changes already does in Spark)."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root, _log_dir = _txn_cdf_table(spark, sf_dir)
    latest = TxnLogWriter(root).latest_version()
    memo: dict = {}  # per-invocation file cache (see _txn_stream_file_table)
    _register_version_stream(
        spark,
        "txn_cdf_stream",
        _TXN_CDF_STREAM_SCHEMA,
        0,  # startingVersion=1: stream AFTER v0's base
        latest,
        lambda v: _txn_stream_commit_batches(
            root, v, mode="cdf", memo=memo
        ),
    )
    back = _drain_to_memory(
        spark, "txn_cdf_stream", "streaming_txn_cdf_sink", "v", latest
    )
    return (
        back.groupBy("change_type", "commit_version", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
            ).alias("cents_sum"),
            F.sum(F.col("ts_us") % 1000000000).alias("ts_us_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Executor-side streaming txn source: the production read split
# ---------------------------------------------------------------------------


def _txn_exec_stream_source(root: str, latest: int):
    """The DataSource class behind streaming_txn_source_exec_live: a
    full DataSourceStreamReader over the append-only table at `root`
    whose offsets are log versions up to `latest`. The DRIVER plans
    each batch from the commit alone (_txn_commit_plan: refusal plus
    one InputPartition per added file); EXECUTORS open the files."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class TxnLogExecStreamReader(DataSourceStreamReader):
        def initialOffset(self):
            return {"v": -1}

        def latestOffset(self):
            # advance ONE commit per trigger (rate limiting — the
            # maxFilesPerTrigger analogue), bounded at the log head
            v = getattr(self, "_v", -1)
            self._v = min(v + 1, latest)
            return {"v": self._v}

        def partitions(self, start, end):
            parts = [
                InputPartition(f)
                for v in range(start["v"] + 1, end["v"] + 1)
                for f in _txn_commit_plan(root, v).adds
            ]
            # an empty batch (no new commit) still needs >=1 partition
            return parts or [InputPartition("")]

        def read(self, partition):
            # EXECUTOR-side: open the parquet data file where the
            # task runs — bytes never transit the driver, and the
            # batch body stays an Arrow RecordBatch end to end (the
            # data source runner ships RecordBatches as-is)
            if not partition.value:
                return iter([])
            tbl = _txn_stream_file_table(root, partition.value)
            return iter(tbl.to_batches())

        def commit(self, end):
            pass

    class TxnLogExecStream(DataSource):
        @classmethod
        def name(cls):
            return "txn_log_exec_stream"

        def schema(self):
            return _TXN_STREAM_SCHEMA

        def streamReader(self, schema):
            return TxnLogExecStreamReader()

    return TxnLogExecStream


@_register("streaming_txn_source_exec_live", _TXN_STREAM_ORACLE)
def streaming_txn_source_exec_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The txn-log streaming source with the PRODUCTION driver/executor
    split — closing the one residual nit on streaming_txn_source_live
    (whose Simple-protocol reader pulls data through the driver by
    design): this is a full DataSourceStreamReader, so the DRIVER
    plans each micro-batch from the commit alone (_txn_commit_plan:
    refuse non-append commits per skipChangeCommits, one InputPartition
    per added data file — catalog scale, exactly Delta's planning
    phase) while EXECUTORS open the parquet files (pyarrow inside
    read(partition), which Spark runs on workers) and emit the rows.
    latestOffset advances one commit per trigger, so the five
    engine-written commits drain as five genuine micro-batches; the
    drained union is hash-certified against the same oracle as the
    Simple twin — one semantics, two protocol tiers, both certified.

    Scale posture: this IS the scale shape (the Simple twin documents
    it; this entry executes it): data bytes never transit the driver,
    each batch parallelizes over its commit's files, and a failed
    batch replans from the same offsets because planning is a pure
    function of the log."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root, _log_dir = _txn_stream_table(spark, sf_dir)
    latest = TxnLogWriter(root).latest_version()
    spark.dataSource.register(_txn_exec_stream_source(root, latest))
    back = _drain_to_memory(
        spark,
        "txn_log_exec_stream",
        "streaming_txn_source_exec_sink",
        "v",
        latest,
    ).select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    return _fidelity_agg(back)


# ---------------------------------------------------------------------------
# Table maintenance DDL: RESTORE, shallow CLONE, CHECK constraints
# (the r12 protocol completions over txn_writer)
# ---------------------------------------------------------------------------


def _txn_restore_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, rev)) a table whose history is
    append x4 (v0..v3, pmod-4 buckets), OPTIMIZE b0+b1->c01 at v4
    (dataChange=False), a copy-on-write DELETE of b2's pmod-5 rows at
    v5 (b2 -> b2d), then `RESTORE TO VERSION AS OF 3` at v6 — one new
    commit that removes {c01, b2d} and re-adds {b0, b1, b2}. The
    builder asserts the restore landed at v6 with live set
    {b0,b1,b2,b3}; the query certifies the restored CONTENT equals the
    pre-mutation table."""
    import json as _json

    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        writer = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        bucket = F.pmod(F.col("event_id"), F.lit(4))
        for b in range(4):
            ev.filter(bucket == b).write.mode("overwrite").parquet(
                os.path.join(root, f"b{b}")
            )
            writer.begin().add(f"b{b}").commit()  # v0..v3
        merged = spark.read.schema(TABLE_SCHEMAS["events"]).parquet(
            os.path.join(root, "b0"), os.path.join(root, "b1")
        )
        merged.write.mode("overwrite").parquet(os.path.join(root, "c01"))
        (
            writer.begin()
            .remove("b0", data_change=False)
            .remove("b1", data_change=False)
            .add("c01", data_change=False)
            .commit()  # v4: OPTIMIZE
        )
        kept = (
            spark.read.schema(TABLE_SCHEMAS["events"])
            .parquet(os.path.join(root, "b2"))
            .filter(F.pmod(F.col("event_id"), F.lit(5)) != 0)
        )
        kept.write.mode("overwrite").parquet(os.path.join(root, "b2d"))
        writer.begin().remove("b2").add("b2d").commit()  # v5: COW DELETE
        v = writer.restore(3)  # v6: RESTORE
        if v != 6 or writer.live_files() != ["b0", "b1", "b2", "b3"]:
            raise RuntimeError(
                f"restore fixture wrong: v{v}, live={writer.live_files()}"
            )
        with open(os.path.join(root, "_META"), "w") as f:
            f.write(_json.dumps({"restored_to": 3, "at": v}) + "\n")

    root = cached_fixture("txnrestore", sf_dir, ":v1", build)
    return root, os.path.join(root, "_log")


@_register("source_txn_log_restore", _ROUNDTRIP_ORACLE)
def source_txn_log_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... TO VERSION AS OF — the table-format's undo
    button, implemented exactly like Delta's: ONE NEW conflict-checked
    commit (history preserved, nothing rewound in place) that removes
    every file live now but absent at the target version and re-adds
    the target's missing files WITH their original add payloads
    (txn_writer.TxnLogWriter.restore). The fixture's history contains
    both a data-unchanged OPTIMIZE and a copy-on-write DELETE after
    the restore point, so the restore must simultaneously undo a
    rewrite (drop c01, resurrect b0+b1) and un-delete rows (drop b2d,
    resurrect b2) — and the ordinary snapshot replay of the final log
    must hash-equal the ORIGINAL events table. A restore that misses
    a file, re-adds a vacuumed name, or double-counts the optimized
    buckets moves the fidelity hash. Refusal paths (restore across a
    vacuumed data file; restore that would need to CLEAR a deletion
    vector) are pytest-pinned — loud, never partial.

    Scale: restore is pure control plane — it replays two file LISTS
    (catalog scale) and writes one JSON commit; zero data moves, which
    is why lakehouse restores are instant at 100 TB."""
    root, _log_dir = _txn_restore_table(spark, sf_dir)
    return _fidelity_agg(read_snapshot(spark, root))


def _txn_clone_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, str]:
    """Build (once per (sf, source-mtime, rev)) a SOURCE table of four
    range-clustered files r0..r3 (event_id quarters, min/max stats on
    the adds), shallow-CLONE it (clone_to: one commit of absolute-path
    adds, zero data copied), then DIVERGE the clone with a stats-pruned
    copy-on-write DELETE (event_id <= max/8: only r0's range can match;
    rewrite lands in the CLONE's root as r0d, the absolute source r0
    reference is removed). The builder asserts the source table is
    UNTOUCHED (live set and log length unchanged) and that the clone's
    live set mixes roots — three source-absolute names + one local."""
    import json as _json

    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build_src(src_root: str) -> None:
        src = TxnLogWriter(src_root)
        ev = load_table(spark, sf_dir, "events")
        max_id = int(ev.agg(F.max("event_id")).first()[0])
        bounds = [0] + [max_id * (k + 1) // 4 for k in range(3)] + [max_id]
        for k in range(4):
            lo, hi = bounds[k], bounds[k + 1]
            part = ev.filter(
                (F.col("event_id") > lo) if k else (F.col("event_id") >= 0)
            ).filter(F.col("event_id") <= hi)
            part.write.mode("overwrite").parquet(
                os.path.join(src_root, f"r{k}")
            )
            st = part.agg(
                F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
            ).first()
            src.begin().add(
                f"r{k}", min_id=int(st.mn), max_id=int(st.mx)
            ).commit()

    def build_clone(clone_root: str) -> None:
        src = TxnLogWriter(src_root)
        clone = TxnLogWriter(clone_root)
        src.clone_to(clone_root)
        src_live_before = src.live_files()
        src_log_before = src.latest_version()
        # diverge the clone: stats-pruned COW DELETE (only r0 matches)
        adds = clone.snapshot().adds
        cut = max(a["max_id"] for a in adds.values()) // 8
        txn = clone.begin()
        rewrote = []
        for name, a in sorted(adds.items()):
            if a["min_id"] > cut:
                continue  # stats prove no match — never rewritten
            kept = (
                spark.read.schema(TABLE_SCHEMAS["events"])
                .parquet(name)  # absolute source path
                .filter(F.col("event_id") > cut)
            )
            local = "r0d"
            kept.write.mode("overwrite").parquet(
                os.path.join(clone_root, local)
            )
            st = kept.agg(
                F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
            ).first()
            txn.remove(name)
            txn.add(local, min_id=int(st.mn), max_id=int(st.mx))
            rewrote.append(name)
        txn.commit()
        if len(rewrote) != 1 or not rewrote[0].endswith("r0"):
            raise RuntimeError(f"clone delete pruned wrong: {rewrote}")
        if (
            src.live_files() != src_live_before
            or src.latest_version() != src_log_before
        ):
            raise RuntimeError("clone divergence mutated the source table")
        live = clone.live_files()
        locals_ = [n for n in live if not os.path.isabs(n)]
        if locals_ != ["r0d"] or len(live) != 4:
            raise RuntimeError(f"clone live set wrong: {live}")
        with open(os.path.join(clone_root, "_META"), "w") as f:
            f.write(_json.dumps({"cut": cut}) + "\n")

    src_root = cached_fixture(
        "txnclonesrc", sf_dir, ":v1", build_src, tag="txnclone"
    )
    clone_root = cached_fixture(
        "txnclonedst", sf_dir, ":v1", build_clone, tag="txnclone"
    )
    return src_root, clone_root, os.path.join(clone_root, "_log")


@_register("source_txn_log_shallow_clone", _TXN_DELETE_ORACLE)
def source_txn_log_shallow_clone(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SHALLOW CLONE + independent divergence — Delta's zero-copy
    table fork: the clone's first commit re-adds the source's live
    files BY ABSOLUTE PATH (txn_writer.clone_to — one JSON commit,
    zero bytes of data copied; the reader's os.path.join(root, name)
    is the identity on absolute names, so NO reader changes), then a
    copy-on-write DELETE runs in the CLONE ONLY: the stats carried
    through the clone prune the candidate set to r0, its rewrite
    lands under the clone's root, and the commit removes only the
    clone's REFERENCE to the source file. The final snapshot is a
    mixed-root scan — three source-absolute files + one clone-local —
    and must hash-equal the delete oracle, while the builder asserts
    the source table's live set and log are byte-untouched (a clone
    that copies state by reference but leaks writes back would fail
    there; one that re-snapshots data would miss the stats payload
    and prune wrong).

    Scale: cloning a 100 TB table costs one catalog-scale commit;
    divergent writes pay only for what they change — the entire point
    of zero-copy clones for experimentation on production tables."""
    _src_root, clone_root, _log_dir = _txn_clone_tables(spark, sf_dir)
    # os.path.join is the identity on the absolute source names
    return _fidelity_agg(read_snapshot(spark, clone_root))


def _txn_constraints_table(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, rev)) a CHECK-constrained
    table: v0 declares [event_id >= 0, user_id IS NOT NULL], three
    pmod-3 bucket appends flow through append_with_checks (v1..v3) —
    with a POISONED variant of bucket 1 (event_id negated on its
    pmod-4 rows) refused in between: the builder asserts the
    ConstraintViolation names the failing CHECK, that no log version
    was consumed, and that the poisoned parquet never became visible.
    Then ALTER TABLE ADD CONSTRAINT validates the existing snapshot
    (event_type IS NOT NULL — passes, v4) and a constraint the data
    already violates (event_id > min) is refused with the table's
    constraint set unchanged."""
    from user_feed_cdc_spark.sources.txn_writer import (
        ConstraintViolation,
        TxnLogWriter,
        add_constraint,
        append_with_checks,
    )

    def build(root: str) -> None:
        writer = TxnLogWriter(root)
        writer.begin().set_constraints(
            ["event_id >= 0", "user_id IS NOT NULL"]
        ).commit()  # v0
        ev = load_table(spark, sf_dir, "events")
        bucket = F.pmod(F.col("event_id"), F.lit(3))
        append_with_checks(writer, ev.filter(bucket == 0), "p0")  # v1
        poisoned = ev.filter(bucket == 1).withColumn(
            "event_id",
            F.when(
                F.pmod(F.col("event_id"), F.lit(4)) == 1,
                -F.col("event_id"),
            ).otherwise(F.col("event_id")),
        )
        before = writer.latest_version()
        try:
            append_with_checks(writer, poisoned, "poison")
            raise RuntimeError("poisoned batch was NOT refused")
        except ConstraintViolation as e:
            if "event_id >= 0" not in str(e):
                raise RuntimeError(f"wrong violation message: {e}")
        if writer.latest_version() != before or writer.live_files() != [
            "p0"
        ]:
            raise RuntimeError("refused batch left log state behind")
        append_with_checks(writer, ev.filter(bucket == 1), "p1")  # v2
        append_with_checks(writer, ev.filter(bucket == 2), "p2")  # v3
        add_constraint(writer, spark, "event_type IS NOT NULL")  # v4
        min_id = int(ev.agg(F.min("event_id")).first()[0])
        try:
            add_constraint(writer, spark, f"event_id > {min_id}")
            raise RuntimeError("already-violated constraint accepted")
        except ConstraintViolation:
            pass
        if writer.constraints() != [
            "event_id >= 0", "user_id IS NOT NULL", "event_type IS NOT NULL",
        ]:
            raise RuntimeError(f"constraint set wrong: {writer.constraints()}")

    root = cached_fixture("txnconstraints", sf_dir, ":v1", build)
    return root, os.path.join(root, "_log")


@_register("source_txn_log_check_constraints", _ROUNDTRIP_ORACLE)
def source_txn_log_check_constraints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WRITE-TIME CHECK constraints — Delta's ADD CONSTRAINT /
    invariants contract on this table format: the constraint set is a
    durable log action (newest wins, carried through checkpoints like
    schema), every append runs ONE Spark aggregate counting violating
    rows per CHECK (NULL evaluates as a violation, the SQL WITH CHECK
    rule) and refuses the whole batch BEFORE any log action is staged,
    and ALTER TABLE ADD CONSTRAINT validates the existing snapshot
    first — so read-side checking is unnecessary by construction. The
    fixture threads a poisoned batch (negated event_ids) through the
    enforcement and asserts the refusal consumed no version and leaked
    no file; the hash gate then certifies the surviving table is
    EXACTLY the three clean appends — a leaky refusal (partial batch,
    orphan add) or an enforcement that silently dropped rows moves the
    fidelity hash.

    Scale: enforcement costs one map-side-combinable aggregate over
    the batch being written (executors), |constraints| counters to the
    driver, zero extra shuffles; the declaration is one JSON line."""
    root, _log_dir = _txn_constraints_table(spark, sf_dir)
    return _fidelity_agg(read_snapshot(spark, root))


# ---------------------------------------------------------------------------
# Column mapping (rename without rewrite) + partitionValues pruning
# ---------------------------------------------------------------------------


_TXN_COLMAP_ORACLE = """
    SELECT event_type AS etype,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS amount_cents,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum
    FROM events
    GROUP BY event_type
"""


def _txn_colmap_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, rev)) a two-file engine table,
    then RENAME two columns purely in the log: one metaData commit
    carrying a columnMapping {logical -> physical} — value->amount,
    event_type->etype. The builder records the data files' mtimes and
    asserts the rename touched NEITHER (the whole point: a rename is
    one JSON line, never a rewrite), then composes a second rename
    (amount -> amount2 -> back) to pin that newest-mapping-wins."""
    import json as _json

    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        writer = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        bucket = F.pmod(F.col("event_id"), F.lit(2))
        for b in range(2):
            ev.filter(bucket == b).write.mode("overwrite").parquet(
                os.path.join(root, f"h{b}")
            )
            writer.begin().add(f"h{b}").commit()  # v0, v1
        mtimes = {
            b: os.path.getmtime(os.path.join(root, f"h{b}"))
            for b in range(2)
        }
        # v2: RENAME value->amount, event_type->etype (one JSON line)
        writer.begin().set_metadata(
            _json.dumps(
                {
                    "columns": [
                        "event_id", "ts", "user_id", "etype", "amount",
                        "props",
                    ],
                    "columnMapping": {"etype": "event_type",
                                      "amount": "value"},
                }
            )
        ).commit()
        # v3+v4: a second rename and its revert — newest mapping wins
        writer.begin().set_metadata(
            _json.dumps(
                {
                    "columns": [
                        "event_id", "ts", "user_id", "etype", "amount2",
                        "props",
                    ],
                    "columnMapping": {"etype": "event_type",
                                      "amount2": "value"},
                }
            )
        ).commit()
        writer.begin().set_metadata(
            _json.dumps(
                {
                    "columns": [
                        "event_id", "ts", "user_id", "etype", "amount",
                        "props",
                    ],
                    "columnMapping": {"etype": "event_type",
                                      "amount": "value"},
                }
            )
        ).commit()
        for b in range(2):
            if os.path.getmtime(os.path.join(root, f"h{b}")) != mtimes[b]:
                raise RuntimeError("rename rewrote a data file")

    root = cached_fixture("txncolmap", sf_dir, ":v1", build)
    return root, os.path.join(root, "_log")


def read_txn_log_mapped(spark: SparkSession, root: str) -> DataFrame:
    """Column-mapping read protocol (Delta's column mapping, name
    mode, in miniature): replay for the live files AND the newest
    metaData, read each file by its PHYSICAL parquet column names,
    then project to the LOGICAL names through the mapping — so a
    rename is visible to every reader the instant its one-line commit
    lands, with zero data movement. Logical columns absent from the
    mapping map to themselves (never renamed)."""
    import json as _json

    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    snap = TxnLogWriter(root).snapshot()  # one version: schema AND scan
    meta = _json.loads(snap.newest("metaData")["schema"])
    mapping = meta.get("columnMapping", {})
    scan = scan_snapshot(spark, root, snap)  # PHYSICAL (events) names
    return scan.select(
        *[
            F.col(mapping.get(logical, logical)).alias(logical)
            for logical in meta["columns"]
        ]
    )


@_register("source_txn_log_column_mapping", _TXN_COLMAP_ORACLE)
def source_txn_log_column_mapping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RENAME COLUMN without rewriting data — the table format's
    column-mapping mode (Delta's name-mode mapping in miniature): the
    newest metaData action carries the logical column list plus a
    {logical -> physical} mapping; readers scan live files by their
    PHYSICAL parquet names and project to logical names, so a rename
    is one JSON commit and zero data movement (the builder asserts
    both files' mtimes are untouched, and that a rename + revert pair
    leaves newest-mapping-wins correct). The query groups by the
    RENAMED event_type (etype) and sums the RENAMED value (amount) —
    a reader that ignored the mapping would fail to resolve the
    logical names at all, and one that mapped to the wrong physical
    column moves the hash.

    Scale: renames on a 100 TB table are instant — catalog-scale
    metadata, no rewrite; the projection is a zero-cost alias inside
    whole-stage codegen."""
    root, _log_dir = _txn_colmap_table(spark, sf_dir)
    snap = read_txn_log_mapped(spark, root)
    return snap.groupBy("etype").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("amount") * 100.0 + F.lit(0.5)).cast("long")
        ).alias("amount_cents"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.unix_micros("ts") % 1000000000).alias("ts_us_sum"),
    )


_TXN_PARTVALS_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum
    FROM events
    WHERE event_type = (SELECT MIN(event_type) FROM events)
    GROUP BY event_type
"""


def _txn_partvals_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, source-mtime, rev)) a LOG-PARTITIONED
    table: one data file per event_type, the partition column DROPPED
    from the parquet (hive/Delta convention — partition values live in
    metadata, not data), each add action carrying
    partition_values={"event_type": t}."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        writer = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        types = sorted(
            r.event_type
            for r in ev.select("event_type").distinct().collect()
        )
        for i, t in enumerate(types):
            part = ev.filter(F.col("event_type") == t).drop("event_type")
            part.write.mode("overwrite").parquet(
                os.path.join(root, f"pt{i}")
            )
            writer.begin().add(
                f"pt{i}", partition_values={"event_type": t}
            ).commit()

    root = cached_fixture("txnpartvals", sf_dir, ":v1", build)
    return root, os.path.join(root, "_log")


@_register("source_txn_log_partition_values", _TXN_PARTVALS_ORACLE)
def source_txn_log_partition_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOG-LEVEL partition pruning — partitionValues on add actions
    (Delta's partition pruning, which needs NO directory layout and NO
    file listing): each live file's add carries its partition tuple,
    the reader resolves an equality predicate against the LOG ALONE
    (catalog scale — zero data I/O to plan), scans only the matching
    file(s), and re-attaches the partition column as a literal (the
    parquet files do not contain it, per the hive/Delta convention —
    the builder drops it). Pruning is pinned in-query: the scan is
    REQUIRED to read exactly the one matching file (inputFiles
    checked), so a reader that fell back to scan-everything fails
    loudly rather than silently paying full I/O.

    At 100 TB this is the difference between planning from kilobytes
    of JSON and listing millions of objects: partition pruning before
    the first byte of data moves."""
    root, _log_dir = _txn_partvals_table(spark, sf_dir)
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    adds = TxnLogWriter(root).snapshot().adds
    # deterministic probe: MIN(event_type), read off the log's adds
    target = min(a["partition_values"]["event_type"] for a in adds.values())
    survivors = sorted(
        f
        for f, a in adds.items()
        if a["partition_values"]["event_type"] == target
    )
    if len(survivors) != 1:
        raise RuntimeError(f"partition pruning wrong: {survivors}")
    no_part_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in TABLE_SCHEMAS["events"].fields
        if f.name != "event_type"
    )
    scan = spark.read.schema(no_part_schema).parquet(
        *[os.path.join(root, f) for f in survivors]
    )
    got = {os.path.basename(os.path.dirname(p)) for p in scan.inputFiles()}
    if got != set(survivors):
        raise RuntimeError(f"scan read beyond the pruned set: {got}")
    snap = scan.withColumn("event_type", F.lit(target))
    return snap.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
        ).alias("cents_sum"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.unix_micros("ts") % 1000000000).alias("ts_us_sum"),
    )


_TXN_CDF_IVM_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(
               (value + CASE WHEN event_id % 10 = 9 THEN 1.0 ELSE 0 END)
               * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents_sum
    FROM events
    WHERE event_id % 10 NOT IN (4, 6)
    GROUP BY event_type
"""


@_register("source_txn_log_cdf_ivm", _TXN_CDF_IVM_ORACLE)
def source_txn_log_cdf_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE-FEED-DRIVEN incremental view maintenance — the canonical
    CDF consumer pattern, closed end to end on the engine's OWN table
    format: a per-type (count, cents) aggregate is materialized ONCE
    from the snapshot at v1, then brought to HEAD purely from
    table_changes(2, 5) — inserts and update_postimages add, deletes
    and update_preimages subtract — across a history containing a
    copy-on-write DELETE, a dataChange=false OPTIMIZE, a
    deletion-vector delete, and a MERGE-style UPDATE. The Spark plan
    NEVER scans the final snapshot; the oracle computes it directly
    from the source table, so the hash gate certifies the incremental
    algebra itself: a feed that replayed the OPTIMIZE (the classic CDF
    bug) doubles every odd row's contribution, a missed update pair
    skews cents by exactly the bumped rows, a DV delta emitted twice
    goes negative — every defect lands in the integers.

    This is cdc_incremental_agg_maintenance's O(|delta|) refresh
    contract upgraded from fixture changelogs to the real table
    format's change feed. Scale: refresh cost ∝ changed rows (per
    version, anti-joins over just the touched files), the whole point
    of maintaining a 100 TB table's views from its feed instead of
    rescanning it."""
    root, _log_dir = _txn_cdf_table(spark, sf_dir)
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    base = read_snapshot(spark, root, as_of=1)
    mv1 = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n0"), F.sum(cents).alias("c0")
    )
    ch = table_changes(spark, root, 2, 5)
    sign = (
        F.when(
            F.col("change_type").isin("insert", "update_postimage"), F.lit(1)
        )
        .when(
            F.col("change_type").isin("delete", "update_preimage"), F.lit(-1)
        )
        .otherwise(F.lit(0))
    )
    delta = ch.groupBy("event_type").agg(
        F.sum(sign).alias("dn"), F.sum(sign * cents).alias("dc")
    )
    mv = (
        mv1.join(delta, "event_type", "full_outer")
        .select(
            "event_type",
            (F.coalesce("n0", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
                "n"
            ),
            (F.coalesce("c0", F.lit(0)) + F.coalesce("dc", F.lit(0))).alias(
                "cents_sum"
            ),
        )
        .filter(F.col("n") > 0)
    )
    return mv


@_register("streaming_txn_cdf_ivm_live", _TXN_CDF_IVM_ORACLE)
def streaming_txn_cdf_ivm_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental view maintenance, end to end on the
    engine's own machinery — the 16th live gate composes three r12
    pieces: the txn-log CDF stream source (one commit = one
    micro-batch of change rows, startingVersion -1 so v0's inserts
    feed the view from empty), a foreachBatch body that folds each
    batch's signed delta into the materialized view, and the
    COMMITTER as the view's store — every refresh reads the MV's
    current snapshot from its own transaction log, merges the delta
    (update_postimage/insert add, update_preimage/delete subtract),
    writes the new 5-row state file, and commits remove+add+txn
    ATOMICALLY (readers of the MV see the old or new state, never a
    partial refresh; the txn watermark makes replayed batches
    harmless). The v3 OPTIMIZE arrives as a genuinely EMPTY batch and
    must still advance the watermark without disturbing the view.

    Certified by reading the FINAL MV back through the log and hashing
    it against the oracle's full recompute — the streaming twin of
    source_txn_log_cdf_ivm, under the same oracle, so batch and
    streaming IVM are provably one algebra. Fresh MV root per
    invocation (uuid): the stream must actually run to pass. Scale:
    per refresh the delta aggregate is bounded by the batch, the MV
    rewrite by |groups| (5 rows here; a big MV would shard by group
    key and merge per shard), and the commit is one JSON line —
    standing-dashboard maintenance at feed cost, never a rescan."""
    import time
    import uuid

    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root, _log_dir = _txn_cdf_table(spark, sf_dir)
    latest = TxnLogWriter(root).latest_version()
    mv_root = _scratch_path("txncdfivm", sf_dir, uuid.uuid4().hex[:12])
    os.makedirs(mv_root, exist_ok=True)
    mv = TxnLogWriter(mv_root)
    mv_schema = "event_type string, n long, cents_sum long"

    memo: dict = {}  # per-invocation file cache (see _txn_stream_file_table)
    _register_version_stream(
        spark,
        "txn_cdf_ivm_stream",
        _TXN_CDF_STREAM_SCHEMA,
        -1,  # from empty: v0's inserts build the base
        latest,
        lambda v: _txn_stream_commit_batches(
            root, v, mode="cdf", memo=memo
        ),
    )

    def _commit_stages_data_change(version: int) -> bool:
        """True unless the source commit at ``version`` stages no
        CDF-visible change (a dataChange=false OPTIMIZE or a txn-only
        commit). Batch ids map 1:1 to source versions here
        (initialOffset -1, one version per read), but this is only a
        HINT: the skip below additionally verifies the planned batch
        itself is empty, so a wrong hint costs one tiny job, never
        correctness."""
        try:
            plan = _txn_commit_plan(root, version, "cdf")
        except FileNotFoundError:
            return True
        return bool(plan.adds or plan.removes or plan.dvs)

    def refresh(bdf: DataFrame, bid: int) -> None:
        last = mv.last_txn("mv_refresh")
        if last is not None and last >= bid:
            return  # replayed batch: the refresh already committed
        # Empty-delta skip (guide §2.4 — don't compute what changes
        # nothing): the v3 OPTIMIZE arrives as a genuinely EMPTY
        # batch, and folding an empty delta rewrites the MV
        # bit-identically — so when the source commit stages no data
        # change (driver-side JSON peek, no Spark job) AND the batch
        # really is empty (one take-1 job, paid only on the rare
        # empty batch), the refresh commits ONLY the watermark
        # advance: a txn-action-only commit — no remove/add, no
        # union-fold plan+codegen, no parquet write. Readers of the
        # MV see the identical live file set; replays stay harmless
        # through the same watermark.
        if not _commit_stages_data_change(bid) and bdf.isEmpty():
            mv.begin().set_txn("mv_refresh", bid).commit()
            return
        cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
        sign = (
            F.when(
                F.col("change_type").isin("insert", "update_postimage"),
                F.lit(1),
            )
            .when(
                F.col("change_type").isin("delete", "update_preimage"),
                F.lit(-1),
            )
            .otherwise(F.lit(0))
        )
        # the batch's session carries the stream's width, so the fold
        # below plans at it too
        session = bdf.sparkSession
        live = mv.live_files()
        cur = (
            session.read.schema(mv_schema).parquet(
                *[os.path.join(mv_root, f) for f in live]
            )
            if live
            else session.createDataFrame([], mv_schema)
        )
        # fold the signed delta into the view as ONE union + aggregate
        # (integer addition is associative, so this is bit-identical to
        # the former aggregate→full_outer-join→coalesce-sum merge while
        # paying a single exchange instead of two plus a join —
        # guide §2.4; the map-side partial agg also bounds the shuffle
        # to |groups| rows per task at any batch size)
        merged = (
            cur.unionByName(
                bdf.select(
                    "event_type",
                    sign.cast("long").alias("n"),
                    (sign * cents).alias("cents_sum"),
                )
            )
            .groupBy("event_type")
            .agg(
                F.sum("n").alias("n"),
                F.sum("cents_sum").alias("cents_sum"),
            )
            .filter(F.col("n") > 0)
        )
        name = f"mv{bid:05d}"
        # |groups|-row state → ONE task, one file per refresh (the
        # post-join partitioning would otherwise fan the 5-row write
        # into several near-empty tasks + commit renames; a big MV
        # shards by group key instead — docstring)
        merged.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(mv_root, name)
        )
        txn = mv.begin()
        for f in live:
            txn.remove(f)
        txn.add(name).set_txn("mv_refresh", bid)
        txn.commit()

    # The refresh's union-fold aggregate handles ≤|groups| rows per
    # batch; partition it from the CHANGE-FEED source size
    # (the same input-derived sizing every live entry uses) instead of
    # the batch shuffle default — 6 refreshes × 3 tiny jobs otherwise
    # launch 32 near-empty shuffle tasks each (guide §2.2/§2.4)
    with scoped_stream(
        spark.readStream.format("txn_cdf_ivm_stream").load(),
        {"spark.sql.shuffle.partitions": str(input_width(root))},
    ) as changes:
        q = start_batches(
            changes, refresh, os.path.join(mv_root, "_ckpt"), available_now=False
        )
        try:
            deadline = time.monotonic() + 120
            while time.monotonic() < deadline:
                last = mv.last_txn("mv_refresh")
                if last is not None and last >= latest:
                    break
                time.sleep(0.05)
        finally:
            q.stop()
            q.awaitTermination(30)
    return spark.read.schema(mv_schema).parquet(
        *[os.path.join(mv_root, f) for f in mv.live_files()]
    )


_STATE_STORE_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM events
    GROUP BY event_type
"""


@_register("source_state_store_read", _STATE_STORE_ORACLE)
def source_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READ A STREAMING QUERY'S STATE STORE as a table — Spark 4's
    state data source (`format("statestore")`), the operational
    introspection surface a production stream team lives on (is state
    growing? what does key X hold?): a live streaming aggregation
    (per-type count + cents sum) drains under availableNow into a
    FRESH checkpoint, then the checkpoint's state store — the HDFS-
    backed operator state itself, not the sink output — is read back
    as (key struct, aggregation buffer struct, partition_id) rows,
    flattened, and hash-certified against the batch aggregate over the
    source. The state-metadata source is asserted in-query to report
    exactly one stateful operator (stateStoreSave) at the expected
    partition count, so the read provably targets the operator it
    claims to. A state layout change, a lost partition, or a buffer
    miscoding all move the hash.

    Scale: reading state costs one scan over the store's snapshot
    files (|keys| rows, partition-parallel) — the same shape RocksDB
    state inspection has in production; nothing rescans the source.
    Fresh checkpoint per invocation (uuid) — the stream must actually
    run to pass."""
    import uuid

    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
    )

    ckpt = _scratch_path("statestore", sf_dir, uuid.uuid4().hex[:12])
    stream = events_file_stream(spark, events_stream_dir(sf_dir))
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
        ).alias("cents_sum"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("state_store_read_sink")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    meta = (
        spark.read.format("state-metadata").option("path", ckpt).load()
    ).collect()
    if (
        len(meta) != 1
        or meta[0].operatorName != "stateStoreSave"
        or meta[0].operatorId != 0
    ):
        raise RuntimeError(f"unexpected stateful operators: {meta}")
    state = spark.read.format("statestore").option("path", ckpt).load()
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
        F.col("value.sum").alias("cents_sum"),
    )


@_register("source_python_stream_writer", _ROUNDTRIP_ORACLE)
def source_python_stream_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST quadrant of the Spark 4 Python DataSource matrix — the
    STREAMING WRITER (pyspark.sql.datasource.DataSourceStreamWriter),
    joining the certified batch reader, two-phase-commit batch writer,
    and offset-protocol streaming reader: events replay as FOUR
    micro-batches (maxFilesPerTrigger=1), each partition's write()
    stages its rows as a uuid-named JSON-lines file and returns the
    name in its WriterCommitMessage; the DRIVER's commit(messages,
    batchId) then publishes exactly those files in a per-batch
    manifest line — the same stage-then-publish split the batch
    writer's _SUCCESS manifest certifies, now per micro-batch, with
    abort() leaving staged files unpublished (a reader trusts ONLY
    the manifest, so a partial batch is invisible — exactly-once
    publication from at-least-once task attempts). The read-back
    loads manifest-listed files only, with the explicit schema, and
    the fidelity aggregate hashes against the original events —
    a writer that publishes unstaged files, drops a partition's
    message, or double-publishes a replayed batch moves the hash.

    Scale: write() is executor-side and embarrassingly parallel;
    commit() touches |partitions| messages per batch (driver, catalog
    scale) — the universal cloud-sink recipe (stage to object store,
    publish a manifest). Fresh sink root per invocation (uuid): the
    stream must actually run to pass."""
    import json as _json
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamArrowWriter,
        WriterCommitMessage,
    )

    stream_dir = _events_multifile_stream_dir(spark, sf_dir)
    root = _scratch_path("pystreamwriter", sf_dir, uuid.uuid4().hex[:12])
    os.makedirs(os.path.join(root, "stage"), exist_ok=True)

    class _Msg(WriterCommitMessage):
        def __init__(self, name: str, n: int):
            self.name = name
            self.n = n

    class JsonlStreamWriter(DataSourceStreamArrowWriter):
        def __init__(self, options):
            self.root = options["path"]

        def write(self, iterator):
            import uuid as _uuid

            # rows arrive pre-serialized (a single `line` column built
            # by to_json in the JVM) as ARROW BATCHES — the 4.1 Arrow
            # stream-writer form of the same protocol: no per-row
            # pickling, the writer is pure I/O over a contiguous
            # string column (guide §4.1/§4.2); the commit/abort
            # stage-then-publish contract under certification is the
            # DataSourceStreamWriter one, unchanged
            name = f"stage/part-{_uuid.uuid4().hex}.jsonl"
            n = 0
            path = os.path.join(self.root, name)
            with open(path, "w") as f:
                for batch in iterator:
                    lines = batch.column(0).to_pylist()
                    if lines:
                        f.write("\n".join(lines) + "\n")
                    n += len(lines)
            return _Msg(name, n)

        def commit(self, messages, batchId):
            import json

            entry = {
                "batch": batchId,
                "files": sorted(m.name for m in messages if m.n > 0),
            }
            with open(os.path.join(self.root, "_manifest"), "a") as f:
                f.write(json.dumps(entry) + "\n")

        def abort(self, messages, batchId):
            for m in messages:
                try:
                    os.remove(os.path.join(self.root, m.name))
                except OSError:
                    pass

    class JsonlStreamSink(DataSource):
        @classmethod
        def name(cls):
            return "jsonl_stream_sink"

        def streamWriter(self, schema, overwrite):
            return JsonlStreamWriter(self.options)

    spark.dataSource.register(JsonlStreamSink)
    stream = (
        spark.readStream.schema(TABLE_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
        .select(
            # serialize in the JVM (codegen'd Jackson), ship ONE string
            # per row through the Python writer instead of a 6-field Row
            # pickled and json.dumps'd per row (guide §4.1/§4.2); the
            # parsed-back values are identical (shortest-round-trip
            # doubles both sides; to_json drops null fields, which the
            # schema'd reader restores as null)
            F.to_json(
                F.struct(
                    "event_id",
                    F.unix_micros("ts").alias("ts_us"),
                    "user_id",
                    "event_type",
                    "value",
                    "props",
                )
            ).alias("line")
        )
    )
    q = (
        stream.writeStream.format("jsonl_stream_sink")
        .option("path", root)
        .option("checkpointLocation", os.path.join(root, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    with open(os.path.join(root, "_manifest")) as f:
        manifests = [_json.loads(line) for line in f if line.strip()]
    if sorted(m["batch"] for m in manifests) != [0, 1, 2, 3]:
        raise RuntimeError(f"expected 4 committed batches: {manifests}")
    published = [
        os.path.join(root, name) for m in manifests for name in m["files"]
    ]
    back = spark.read.schema(
        "event_id long, ts_us long, user_id long, event_type string, "
        "value double, props string"
    ).json(published)
    return _fidelity_agg(
        back.select(
            "event_id",
            F.timestamp_micros("ts_us").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    )


# ---------------------------------------------------------------------------
# Row tracking: stable row ids through appends and rewrites
# ---------------------------------------------------------------------------

_ROW_TRACKING_ORACLE = """
    WITH na AS (SELECT COUNT(*) AS n FROM events WHERE event_id % 3 = 0),
    nb AS (SELECT COUNT(*) AS n FROM events WHERE event_id % 3 = 1),
    a AS (
        SELECT event_id,
               ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS row_id,
               TRUE AS materialized
        FROM events WHERE event_id % 3 = 0
    ),
    b AS (
        SELECT event_id,
               (SELECT n FROM na)
                   + ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS row_id,
               TRUE AS materialized
        FROM events WHERE event_id % 3 = 1
    ),
    d AS (
        SELECT event_id,
               (SELECT n FROM na) + (SELECT n FROM nb)
                   + ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS row_id,
               FALSE AS materialized
        FROM events WHERE event_id % 3 = 2
    )
    SELECT event_id, CAST(row_id AS BIGINT) AS row_id, materialized FROM a
    UNION ALL
    SELECT event_id, CAST(row_id AS BIGINT), materialized FROM b
    UNION ALL
    SELECT event_id, CAST(row_id AS BIGINT), materialized FROM d
"""


@_register("source_txn_log_row_tracking", _ROW_TRACKING_ORACLE)
def source_txn_log_row_tracking(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROW TRACKING — stable row identities through appends AND
    rewrites, the modern Delta feature that makes CDF diffs, MERGE
    audit trails, and incremental ML feature refreshes row-addressable.
    The design is Delta's: a FRESH append consumes ids from the
    table-wide high-water mark (base_row_id on the add action; the
    id of row k in the file is base_row_id + k, recovered at read
    time from the parquet reader's `_metadata.row_index` — no id
    column is stored), and a REWRITE (OPTIMIZE compaction,
    dataChange=false) MATERIALIZES the ids it inherited into an
    explicit row_id column, because a merged file's ids are no longer
    one contiguous block. Readers resolve per file: materialized
    column if the add says so, else base + row_index.

    Fixture: append A (events ids ≡0 mod 3, ids 0..nA-1), append B
    (≡1, ids nA..), compact A+B→C carrying materialized ids, then
    append D (≡2) — whose base MUST be the high-water mark nA+nB even
    though A and B are no longer live (id recycling would corrupt
    every downstream row reference; Snapshot.row_id_high_water covers
    every add ever, through the mark checkpoints carry).
    The oracle rebuilds every (event_id, row_id) pair from rank
    arithmetic, so id stability across the rewrite and the
    non-recycling allocation are both value-certified.

    At 100 TB: ids cost ONE integer per add action and zero bytes per
    row until a rewrite materializes them; reads stay parquet-native
    (row_index is metadata, not data) — this is why row tracking
    scales where a stored id column would bloat every file."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        w = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events").select("event_id")
        sizes = {}
        for name, m in (("ra", 0), ("rb", 1)):
            part = (
                ev.filter(F.col("event_id") % 3 == m)
                .repartition(1)
                .sortWithinPartitions("event_id")
            )
            part.write.mode("overwrite").parquet(os.path.join(root, name))
            sizes[name] = part.count()
            w.begin().add(
                name,
                base_row_id=w.snapshot().row_id_high_water,
                num_records=sizes[name],
            ).commit()
        # OPTIMIZE compaction: inherit ids, MATERIALIZE them into C
        adds = w.snapshot().adds
        parts = []
        for name in ("ra", "rb"):
            base = int(adds[name]["base_row_id"])
            parts.append(
                spark.read.parquet(os.path.join(root, name)).select(
                    (F.lit(base) + F.col("_metadata.row_index"))
                    .cast("long")
                    .alias("row_id"),
                    "event_id",
                )
            )
        merged = (
            parts[0].unionAll(parts[1])
            .repartition(1)
            .sortWithinPartitions("row_id")
        )
        merged.write.mode("overwrite").parquet(os.path.join(root, "rc"))
        (
            w.begin()
            .remove("ra", data_change=False)
            .remove("rb", data_change=False)
            .add(
                "rc",
                data_change=False,
                materialized_row_ids=True,
                base_row_id=0,
                num_records=sizes["ra"] + sizes["rb"],
            )
            .commit()
        )
        # fresh append AFTER the compaction: ids continue from the
        # high-water mark, never recycling the removed files' ranges
        d = (
            ev.filter(F.col("event_id") % 3 == 2)
            .repartition(1)
            .sortWithinPartitions("event_id")
        )
        d.write.mode("overwrite").parquet(os.path.join(root, "rd"))
        w.begin().add(
            "rd",
            base_row_id=w.snapshot().row_id_high_water,
            num_records=d.count(),
        ).commit()

    root = cached_fixture("rowtrack", sf_dir, ":v1", build)
    frames = []
    for name, a in sorted(TxnLogWriter(root).snapshot().adds.items()):
        if a.get("materialized_row_ids"):
            frames.append(
                spark.read.parquet(os.path.join(root, name)).select(
                    "event_id",
                    F.col("row_id").cast("long").alias("row_id"),
                    F.lit(True).alias("materialized"),
                )
            )
        else:
            frames.append(
                spark.read.parquet(os.path.join(root, name)).select(
                    "event_id",
                    (
                        F.lit(int(a["base_row_id"]))
                        + F.col("_metadata.row_index")
                    ).cast("long").alias("row_id"),
                    F.lit(False).alias("materialized"),
                )
            )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionAll(fr)
    return out


# ---------------------------------------------------------------------------
# Generated columns: GENERATED ALWAYS AS, computed and enforced at write
# ---------------------------------------------------------------------------

_GENERATED_COLS_ORACLE = """
    SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM events
    GROUP BY 1
"""


@_register("source_txn_log_generated_columns", _GENERATED_COLS_ORACLE)
def source_txn_log_generated_columns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GENERATED ALWAYS AS columns — the write-side DDL completion
    beside CHECK constraints and column mapping: the table declares
    cents = BIGINT(FLOOR(value*100+0.5)) and hr = BIGINT(HOUR(ts)) in
    its metaData action (one JSON line, Delta's design of storing
    generation expressions with the schema), and every append through
    append_with_checks either COMPUTES a missing generated column or
    VALIDATES a provided one against the expression — a disagreeing
    batch refuses whole. Both paths run in the fixture: one half of
    events appends WITHOUT the generated columns (engine computes
    them), the other half WITH correct precomputed values (engine
    validates, one aggregate). The read-back aggregate over the
    STORED generated values hashes against the oracle's recompute
    from raw events, so computation and validation are both
    value-certified; the refusal arm and checkpoint/clone/restore
    carry-through are pytest-pinned.

    At 100 TB: generation is a scan-stage projection at write time
    (zero read-side cost forever after — the generated column is a
    real stored column that predicates can prune on), and validation
    is the same one-aggregate pass as CHECK constraints."""
    from user_feed_cdc_spark.sources.txn_writer import (
        TxnLogWriter,
        append_with_checks,
    )

    gen_exprs = {
        "cents": "BIGINT(FLOOR(value * 100.0D + 0.5D))",
        "hr": "BIGINT(HOUR(ts))",
    }

    def build(root: str) -> None:
        w = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        w.begin().set_metadata(
            "event_id long, ts timestamp, value double, cents long, hr long",
            generated=gen_exprs,
        ).commit()
        # arm 1: generated columns ABSENT — the committer computes them
        append_with_checks(
            w,
            ev.filter(F.col("event_id") % 2 == 0).select(
                "event_id", "ts", "value"
            ),
            "even",
        )
        # arm 2: generated columns PROVIDED correctly — validated, kept
        append_with_checks(
            w,
            ev.filter(F.col("event_id") % 2 == 1).select(
                "event_id",
                "ts",
                "value",
                F.expr(gen_exprs["cents"]).alias("cents"),
                F.expr(gen_exprs["hr"]).alias("hr"),
            ),
            "odd",
        )

    root = cached_fixture("gencols", sf_dir, ":v1", build)
    snap = read_snapshot(spark, root)  # the metaData's declared schema
    return snap.groupBy("hr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("cents_sum"),
    )


# ---------------------------------------------------------------------------
# binaryFile: real media FILES off a directory tree (r13 VERDICT gap 1)
# ---------------------------------------------------------------------------

def _binaryfile_media_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per (sf, source-mtime, rev)) a real on-disk media
    corpus: one genuine container FILE per eligible document — PNG /
    BMP / WAV / GIF rotating by doc_id%4, content derived from the
    doc's ascii_seed head exactly like the in-plan fixture entries —
    laid out across NESTED subdirectories (b0/b1 by doc_id%2, the
    recursiveFileLookup case) with non-media decoys (README.txt,
    thumbs.db, a doc-named .txt) that the pathGlobFilter must skip.

    The files are written by EXECUTORS via foreachPartition (the
    shape a real ingest job has on a shared filesystem: the driver
    never holds a payload)."""

    def build(root: str) -> None:
        media = os.path.join(root, "media")
        # bounded by contract: the certification needs a real
        # multi-hundred-file tree, not an unbounded stress corpus —
        # per-file task overhead in the STREAMING file source is
        # linear in file count (the small-files hazard SCALE.md
        # documents, whose remedy is upstream consolidation)
        docs = load_table(spark, sf_dir, "documents").filter(
            (F.col("doc_id") % 3 == 2)
            & (F.col("doc_id") < 2000)
            & (F.length("text") >= 1)
        ).select("doc_id", "text")

        def write_files(rows) -> None:
            from user_feed_cdc_spark.operators.multimodal import (
                ascii_seed,
                encode_bmp,
                encode_gif,
                encode_wav,
            )
            from user_feed_cdc_spark.operators.png import encode_png

            for row in rows:
                doc_id = int(row["doc_id"])
                raw = ascii_seed(row["text"])
                v0, v1 = raw[0], raw[1 % len(raw)]
                cls = doc_id % 4
                if cls == 0:
                    ext = "png"
                    px = (
                        bytes(v0 + i for i in range(12))
                        + bytes([v1]) * 24
                    )
                    payload = encode_png(4, 3, px, row_filters=[0, 1, 2])
                elif cls == 1:
                    ext = "bmp"
                    px = bytes(v0 + i for i in range(9)) + bytes([v1]) * 9
                    payload = encode_bmp(3, 2, px)
                elif cls == 2:
                    ext = "wav"
                    s0, s1 = (v0 - 128) * 256, (v1 - 128) * 256
                    payload = encode_wav([s0] * 5 + [s1] * 3, rate=8000)
                else:
                    ext = "gif"
                    payload = encode_gif(
                        4, 2, bytes([v0]) * 4 + bytes([v1]) * 4
                    )
                sub = os.path.join(media, f"b{doc_id % 2}")
                os.makedirs(sub, exist_ok=True)
                with open(
                    os.path.join(sub, f"doc{doc_id}.{ext}"), "wb"
                ) as f:
                    f.write(payload)

        docs.foreachPartition(write_files)
        # decoys the glob must exclude: non-media names at the root
        # and inside a bucket, plus a doc-shaped name with a wrong
        # extension (proves the filter matches on the FULL pattern)
        os.makedirs(os.path.join(media, "b0"), exist_ok=True)
        os.makedirs(os.path.join(media, "b1"), exist_ok=True)
        for decoy in ("README.txt", "b0/thumbs.db", "b1/doc999999.txt"):
            with open(os.path.join(media, decoy), "w") as f:
                f.write("not media\n")

    root = cached_fixture(
        "binmedia", sf_dir, ":v2", build, table="documents"
    )
    return os.path.join(root, "media")


_BINARYFILE_MEDIA_ORACLE = """
    WITH m AS (
        SELECT doc_id, doc_id % 4 AS cls,
               CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS v0,
               CAST(ascii(substr(text,
                    CAST((1 % length(text)) + 1 AS INT), 1)) AS BIGINT)
                   AS v1
        FROM documents
        WHERE doc_id % 3 = 2 AND doc_id < 2000 AND length(text) >= 1
    )
    SELECT doc_id,
           CASE cls WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
                    WHEN 2 THEN 'wav' ELSE 'gif' END AS ext,
           TRUE AS len_matches,
           CAST(CASE cls WHEN 0 THEN 4 WHEN 1 THEN 3
                         WHEN 2 THEN 8 ELSE 4 END AS BIGINT) AS width,
           CAST(CASE cls WHEN 0 THEN 3 WHEN 1 THEN 2
                         WHEN 2 THEN 1 ELSE 2 END AS BIGINT) AS height,
           CAST(CASE cls WHEN 2 THEN 1 ELSE 3 END AS BIGINT) AS channels,
           CAST(CASE cls WHEN 0 THEN 12 * v0 + 24 * v1 + 66
                         WHEN 1 THEN 9 * v0 + 9 * v1 + 36
                         WHEN 2 THEN (5 * (v0 - 128) + 3 * (v1 - 128))
                                     * 256
                         ELSE 12 * v0 + 12 * v1 END AS BIGINT)
               AS pixel_sum,
           TRUE AS decoded
    FROM m
"""


@_register("source_binaryfile_media", _BINARYFILE_MEDIA_ORACLE)
def source_binaryfile_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-FILE multimodal ingestion (r13 VERDICT gap 1): every other
    media entry assembles container payloads in-plan, but a real 100 TB
    corpus arrives as FILES in a directory tree — so this entry writes
    genuine PNG/BMP/WAV/GIF files to scratch (via the same certified
    encoders), reads the tree back with Spark's binaryFile source
    (`recursiveFileLookup` descending the b0/b1 buckets,
    `pathGlobFilter` excluding three planted non-media decoys), and
    routes the `content` column through the SHARED decode_image /
    decode_wav dispatch inside one Arrow-batched mapInPandas stage.
    The symbolic oracle predicts every decoded stat from the document
    text (the containers are lossless), and `len_matches` pins the
    source's `length` metadata column to the actual payload size —
    so a truncated read, a mis-globbed decoy, or a byte lost anywhere
    between encoder, filesystem, source, and decoder moves the hash.

    Scale: binaryFile is a FileFormat scan — file listing is
    distributed, small files pack into partitions under
    maxPartitionBytes, and each file's bytes appear exactly once in
    one task (payloads never shuffle; the only exchange is the final
    hash-agg's 9-ish rows... none — the frame stays per-file narrow).
    The doc_id/ext parse is a JVM-side regexp on the path; Python
    touches only the bounded per-file decode, the same posture as
    every media entry. Cite: reference has no media source at all —
    this is the E5/E19 north-star completion."""
    media = _binaryfile_media_dir(spark, sf_dir)
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "doc*.{png,bmp,wav,gif}")
        .option("recursiveFileLookup", "true")
        .load(media)
    )
    # no fan_out here: repartitioning would shuffle the raw payload
    # bytes — the one movement the entry's scale story forbids; the
    # binaryFile scan's file packing IS the parallelism, and the
    # per-file decode is bounded (r14 review)
    return _binaryfile_stats_frame(bf)


def _binaryfile_stats_frame(bf: DataFrame) -> DataFrame:
    """Shared decode stage over a binaryFile-schema frame (path,
    modificationTime, length, content) — batch and streaming entries
    run the IDENTICAL plan tail, so batch-stream equivalence is a
    certified property (the _html_strip_frame pattern)."""
    from collections.abc import Iterator

    import pandas as pd

    from user_feed_cdc_spark.operators.multimodal import (
        DECODE_FALLBACK_ERRORS,
        decode_image,
        decode_wav,
    )

    pat = r"doc(\d+)\.(png|bmp|wav|gif)$"
    parsed = bf.select(
        F.regexp_extract("path", pat, 1).cast("long").alias("doc_id"),
        F.regexp_extract("path", pat, 2).alias("ext"),
        (F.col("length") == F.octet_length("content")).alias(
            "len_matches"
        ),
        "content",
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            out = {
                "doc_id": pdf["doc_id"], "ext": pdf["ext"],
                "len_matches": pdf["len_matches"], "width": [],
                "height": [], "channels": [], "pixel_sum": [],
                "decoded": [],
            }
            for payload in pdf["content"]:
                try:
                    b = bytes(payload)
                    if b[:4] == b"RIFF":
                        _rate, samples = decode_wav(b)
                        w, h, ch = len(samples), 1, 1
                        total = sum(samples)
                    else:
                        w, h, px = decode_image(b)
                        ch = len(px) // (w * h)
                        total = sum(px)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["channels"].append(ch)
                    out["pixel_sum"].append(total)
                    out["decoded"].append(True)
                except DECODE_FALLBACK_ERRORS:
                    for k in ("width", "height", "channels", "pixel_sum"):
                        out[k].append(0)
                    out["decoded"].append(False)
            yield pd.DataFrame(out)

    return parsed.mapInPandas(
        batches,
        "doc_id long, ext string, len_matches boolean, width long, "
        "height long, channels long, pixel_sum long, decoded boolean",
    )


@_register("streaming_binaryfile_media_live", _BINARYFILE_MEDIA_ORACLE)
def streaming_binaryfile_media_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The real-file media ingest LIVE — the 18th live streaming
    certification: the SAME scratch media tree the batch entry reads
    replays as a `binaryFile` FILE STREAM (readStream with the
    source's fixed four-column schema, recursiveFileLookup descending
    the b0/b1 buckets, pathGlobFilter excluding the planted decoys,
    maxFilesPerTrigger forcing multiple micro-batches), every
    micro-batch runs the IDENTICAL shared decode stage
    (_binaryfile_stats_frame — PNG/BMP/GIF/WAV through the shared
    dispatch inside Arrow-batched mapInPandas), availableNow drains
    it through the memory sink in append mode, and the materialized
    rows hash against the same symbolic oracle as the batch form.
    This is the ARRIVAL shape of a production multimodal corpus: new
    media shards land as files, each is decoded exactly once, and
    batch-stream equivalence is a certified property.

    At 100 TB: the stateless pipeline (no watermark, no state store)
    makes replays idempotent per file; per-trigger work is bounded by
    maxFilesPerTrigger and payloads never shuffle."""
    from user_feed_cdc_spark.streaming.windows import run_to_memory

    media = _binaryfile_media_dir(spark, sf_dir)
    # scale-aware trigger: ~3 micro-batches at ANY sf (a fixed
    # files-per-trigger made batch COUNT scale with corpus size —
    # 26 batches of pure harness overhead at sf0.1; multi-batch
    # progression is the property, not the batch count)
    n_files = sum(
        1
        for _d, _s, fs in os.walk(media)
        for f in fs
        if f.startswith("doc")
        and f.rsplit(".", 1)[-1] in ("png", "bmp", "wav", "gif")
    )
    per_trigger = max(1, (n_files + 2) // 3)
    bf = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "doc*.{png,bmp,wav,gif}")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", str(per_trigger))
        .load(media)
    )
    # tiny files explode into one task each (openCost-dominated
    # packing); coalesce bounds per-trigger task count — and Python
    # worker spin-ups — without a shuffle
    return run_to_memory(
        spark,
        _binaryfile_stats_frame(bf.coalesce(32)),
        "streaming_binaryfile_media_live_sink",
        "append",
    )


# ---------------------------------------------------------------------------
# Compressed text source: gzip JSONL (r13 VERDICT gap 2)
# ---------------------------------------------------------------------------

@_register("source_json_gzip_roundtrip", _ROUNDTRIP_ORACLE)
def source_json_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec'd text-source round trip: web corpora ship as .jsonl.gz,
    so this entry writes events as GZIP-COMPRESSED JSON lines
    (`option("compression", "gzip")`), verifies on disk that every
    data file really is gzip (the .gz suffix AND the 1f 8b magic —
    a silently-uncompressed write would certify nothing), reads the
    directory back with the explicit canonical schema (Spark
    decompresses by extension), and hashes the same per-type fidelity
    aggregate as source_json_roundtrip against the oracle over the
    ORIGINAL parquet — value-identical through the compress →
    decompress cycle, per microsecond and ULP.

    Scale: gzip is NOT splittable — each .gz file is one task, so
    parallelism = file count, set at WRITE time by the producer's
    partitioning (here the source's parquet split count). That is the
    honest 100 TB contract for gzip corpora: land many medium files
    (or use a splittable codec / convert to parquet, the module
    docstring's standing recommendation); the read itself stays
    scan-parallel across files with explicit schema (no inference
    pass)."""
    import gzip as _gzip

    def build(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .write.mode("overwrite")
            .option("timestampFormat", _TS_FMT)
            .option("compression", "gzip")
            .json(path)
        )
        data_files = [
            n for n in os.listdir(path) if n.startswith("part-")
        ]
        if not data_files or not all(
            n.endswith(".json.gz") for n in data_files
        ):
            raise ValueError(
                f"gzip JSONL write produced non-.gz parts: {data_files[:3]}"
            )
        for n in data_files:
            with open(os.path.join(path, n), "rb") as f:
                if f.read(2) != b"\x1f\x8b":
                    raise ValueError(f"{n} lacks the gzip magic")
            with _gzip.open(os.path.join(path, n), "rb") as f:
                f.read(64)  # must inflate cleanly

    path = cached_fixture(
        "events_jsongz", sf_dir, ":v1", build, tag="jsongz"
    )
    back = (
        spark.read.schema(TABLE_SCHEMAS["events"])
        .option("timestampFormat", _TS_FMT)
        .json(path)
    )
    return _fidelity_agg(back)


@_register("source_json_bzip2_roundtrip", _ROUNDTRIP_ORACLE)
def source_json_bzip2_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPLITTABLE-codec text round trip — the scale-correct
    counterpart of source_json_gzip_roundtrip: events written as ONE
    bzip2-compressed JSONL file (coalesce(1), 'BZh' magic verified on
    disk), then read back with the explicit schema under a reduced
    `spark.sql.files.maxPartitionBytes` — and the entry ASSERTS the
    single .bz2 file split into multiple input partitions, the
    property gzip fundamentally cannot give (Hadoop's BZip2Codec is a
    SplittableCompressionCodec: readers sync to the next 'BZh' block
    boundary, so one large archive parallelizes across tasks). The
    same per-type fidelity aggregate certifies the rows are
    value-identical through the compress → split → decompress cycle.

    At 100 TB this is THE codec decision for text lakes that cannot
    land parquet immediately: a 1 TB .jsonl.gz is one task for hours,
    a 1 TB .jsonl.bz2 (or zstd-seekable outside stdlib) is ~8000
    parallel splits. The split size is set on a scoped session, never
    on the caller's, and the split assertion keeps the claim
    load-bearing instead of documentation."""

    def build(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .coalesce(1)
            .write.mode("overwrite")
            .option("timestampFormat", _TS_FMT)
            .option("compression", "bzip2")
            .json(path)
        )
        parts = [
            n
            for n in os.listdir(path)
            if n.startswith("part-") and n.endswith(".json.bz2")
        ]
        if len(parts) != 1:
            raise ValueError(f"expected one .bz2 part, got {parts}")
        with open(os.path.join(path, parts[0]), "rb") as f:
            if f.read(3) != b"BZh":
                raise ValueError(f"{parts[0]} lacks the bzip2 magic")

    path = cached_fixture(
        "events_jsonbz2", sf_dir, ":v1", build, tag="jsonbz2"
    )
    part_file = [
        n
        for n in os.listdir(path)
        if n.startswith("part-") and n.endswith(".json.bz2")
    ][0]
    fsize = os.path.getsize(os.path.join(path, part_file))
    # a split size ~1/3 of the file forces multiple byte-range splits
    # at ANY scale factor — Spark only emits them when the codec
    # reports isSplitable (gzip would stay at one partition no matter
    # how small the split size); range readers then sync to the next
    # bzip2 block boundary so rows appear exactly once. The split size
    # lives on the reading session, so the returned plan re-plans (and
    # reads) with it whenever it runs.
    small_splits = scoped_session(
        spark,
        {"spark.sql.files.maxPartitionBytes": str(max(4096, fsize // 3))},
    )
    back = (
        small_splits.read.schema(TABLE_SCHEMAS["events"])
        .option("timestampFormat", _TS_FMT)
        .json(path)
    )
    n_splits = back.rdd.getNumPartitions()
    if n_splits < 2:
        raise ValueError(
            "bzip2 read did not split: one file produced "
            f"{n_splits} partition(s) — the splittable-codec "
            "contract is broken"
        )
    return _fidelity_agg(back)


# ---------------------------------------------------------------------------
# zstd sources (r14 VERDICT gap 1): modern web corpora overwhelmingly
# ship zstd — parquet's zstd codec is JVM-pure (aircompressor) and works
# here; .jsonl.zst text is NOT decodable JVM-side in this sandbox
# (Hadoop's ZStandardCodec needs the native hadoop library — probed:
# "codec zstd is not available", only bzip2/deflate/snappy/lz4/gzip),
# so the text path decompresses executor-side with pyarrow's C++ zstd
# inside an Arrow-batched stage while JSON parsing stays in codegen.
# ---------------------------------------------------------------------------

_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"  # RFC 8878 frame magic, little-endian


@_register("source_parquet_zstd_roundtrip", _ROUNDTRIP_ORACLE)
def source_parquet_zstd_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ZSTD-compressed PARQUET round trip: events written with
    `option("compression", "zstd")` — parquet-java's zstd lane rides
    aircompressor's pure-JVM implementation, so it works with no
    native Hadoop library — then the entry verifies ON DISK that the
    parts carry the .zstd.parquet suffix AND (via pyarrow's footer
    reader) that every column chunk's codec really is ZSTD (a
    silently-snappy write would certify nothing), reads the directory
    back, and hashes the standard per-type fidelity aggregate against
    the oracle over the ORIGINAL parquet.

    At 100 TB zstd parquet is the default landing format for modern
    corpora (better ratio than snappy at comparable decode speed, far
    faster decode than gzip); splittability is parquet's own row-group
    structure — unaffected by the codec — so scan parallelism is
    preserved, unlike the text-codec trade the JSONL entries pin."""

    def build(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(path)
        )
        parts = [n for n in os.listdir(path) if n.startswith("part-")]
        if not parts or not all(n.endswith(".zstd.parquet") for n in parts):
            raise ValueError(
                f"zstd parquet write produced wrong suffixes: {parts[:3]}"
            )
        import pyarrow.parquet as pq

        md = pq.ParquetFile(os.path.join(path, parts[0])).metadata
        codecs = {
            md.row_group(i).column(j).compression
            for i in range(md.num_row_groups)
            for j in range(md.row_group(i).num_columns)
        }
        if codecs != {"ZSTD"}:
            raise ValueError(
                f"parquet column chunks are not ZSTD: {sorted(codecs)}"
            )

    path = cached_fixture(
        "events_pqzstd", sf_dir, ":v1", build, tag="pqzstd"
    )
    back = spark.read.schema(TABLE_SCHEMAS["events"]).parquet(path)
    return _fidelity_agg(back)


def _jsonl_zstd_dir(
    spark: SparkSession, sf_dir: str, shards: int | None = None
) -> str:
    """Build (once per (sf, mtime, rev)) an events corpus as REAL
    .jsonl.zst shards — standard RFC 8878 zstd frames, one per input
    split, written by EXECUTORS through pyarrow's CompressedOutputStream
    (the driver never holds a payload; any `zstd` CLI can inflate the
    shards). This is the arrival shape of Dolma/RedPajama-class web
    corpora. `shards` pins the shard COUNT (repartition before the
    write) — the r15 VERDICT asked for the documented "producer shard
    size sets parallelism" contract to be a tested fact, and the
    plan gate reads an N-shard build of this fixture."""

    def build(root: str) -> None:
        lines = load_table(spark, sf_dir, "events").select(
            F.to_json(
                F.struct("*"), {"timestampFormat": _TS_FMT}
            ).alias("value")
        )
        if shards is not None:
            lines = lines.repartition(shards)

        def write_shards(rows) -> None:
            import uuid

            import pyarrow as _pa

            it = iter(rows)
            try:
                first = next(it)
            except StopIteration:
                return  # empty split: no empty shard files
            os.makedirs(root, exist_ok=True)
            name = f"part-{uuid.uuid4().hex}.jsonl.zst"
            with _pa.CompressedOutputStream(
                os.path.join(root, name), "zstd"
            ) as out:
                out.write(first["value"].encode() + b"\n")
                for row in it:
                    out.write(row["value"].encode() + b"\n")

        lines.foreachPartition(write_shards)
        written = [n for n in os.listdir(root) if n.endswith(".jsonl.zst")]
        if not written:
            raise ValueError("zstd JSONL write produced no shards")
        with open(os.path.join(root, written[0]), "rb") as f:
            if f.read(4) != _ZSTD_MAGIC:
                raise ValueError(
                    f"{written[0]} lacks the zstd frame magic"
                )

    prefix = "events_jsonzstd" if shards is None else (
        f"events_jsonzstd{shards}"
    )
    return cached_fixture(
        prefix, sf_dir, f":s{shards}:v1", build, tag="jsonzstd"
    )


@_register("source_json_zstd_roundtrip", _ROUNDTRIP_ORACLE)
def source_json_zstd_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """.jsonl.zst round trip — the codec modern web corpora actually
    ship. JVM-side decode is impossible in this sandbox (Hadoop's
    ZStandardCodec requires the native hadoop library; probed and
    refused loudly — see module section comment), so the read path is
    the production fallback every Python lake uses: `binaryFile` scan
    over the shard tree (whole zstd frames as binary, never shuffled)
    → Arrow-batched mapInPandas that ONLY decompresses (pyarrow's C++
    zstd via CompressedInputStream) and splits lines → `from_json`
    with the explicit canonical schema JVM-SIDE, so parsing stays in
    codegen. The standard per-type fidelity aggregate certifies
    value-identity through compress → decompress → parse, per
    microsecond and ULP.

    At 100 TB: a plain zstd frame is one task (not splittable without
    the seekable-format extension), so the producer's shard size sets
    parallelism — land many medium shards, same contract as .gz but
    ~4× faster to decode; parse cost dominates and stays JVM-side."""
    import pandas as pd

    root = _jsonl_zstd_dir(spark, sf_dir)

    def inflate(batches):
        import pyarrow as _pa

        for pdf in batches:
            out = []
            for content in pdf["content"]:
                with _pa.CompressedInputStream(
                    _pa.BufferReader(content), "zstd"
                ) as stream:
                    text = bytes(stream.read()).decode("utf-8")
                # split on the writer's '\n' ONLY (r15 review):
                # str.splitlines() also breaks on U+2028/U+2029/U+0085,
                # which to_json legally emits unescaped inside string
                # values — splitting there shears a record in two; the
                # JVM text reader (gzip/bzip2 lanes) splits \n/\r only
                out.extend(
                    ln for ln in text.split("\n") if ln
                )
            yield pd.DataFrame({"value": out})

    frames = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jsonl.zst")
        .load(root)
        .select("content")
    )
    parsed = (
        frames.mapInPandas(inflate, "value string")
        .select(
            F.from_json(
                "value",
                TABLE_SCHEMAS["events"],
                {"timestampFormat": _TS_FMT},
            ).alias("e")
        )
        .select("e.*")
    )
    return _fidelity_agg(parsed)


# ---------------------------------------------------------------------------
# Avro container files (r15): spark-avro is an external module this
# sandbox does not carry (probed: "Failed to find data source: avro")
# and no Python avro lib is installed — so sources/avro_io.py
# implements the Object Container File format from the public Avro
# 1.11 spec, the same approach as the PNG/GIF/WAV codecs.
# ---------------------------------------------------------------------------

_AVRO_SCHEMA = {
    "type": "record",
    "name": "event",
    "fields": [
        {"name": "event_id", "type": ["null", "long"]},
        {
            "name": "ts",
            "type": [
                "null",
                {"type": "long", "logicalType": "timestamp-micros"},
            ],
        },
        {"name": "user_id", "type": ["null", "long"]},
        {"name": "event_type", "type": ["null", "string"]},
        {"name": "value", "type": ["null", "double"]},
        {"name": "props", "type": ["null", "string"]},
    ],
}


def _avro_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per (sf, mtime, rev)) the events table as genuine
    Avro Object Container Files — deflate codec, nullable-union
    schema, timestamp-micros logical type — one shard per input
    split, written by EXECUTORS (the driver never holds a payload).
    Timestamps are converted to exact microsecond longs JVM-side
    (unix_micros) BEFORE the Python writer sees them, so no float
    datetime math can shave a microsecond."""

    def build(root: str) -> None:
        cols = load_table(spark, sf_dir, "events").select(
            "event_id",
            F.unix_micros("ts").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        # shard count = producer parallelism (the docstring's "shard =
        # producer's unit of parallelism"): one shard per core rather
        # than one per input split — the events table is a single
        # parquet file, and a single 100k-row shard made every
        # downstream decode a one-task stage
        cols = cols.repartition(spark.sparkContext.defaultParallelism)

        def write_shards(rows) -> None:
            import uuid

            from user_feed_cdc_spark.sources.avro_io import (
                write_container,
            )

            it = iter(rows)
            try:
                first = next(it)
            except StopIteration:
                return
            os.makedirs(root, exist_ok=True)

            def gen():
                yield tuple(first)
                for row in it:
                    yield tuple(row)

            write_container(
                os.path.join(root, f"part-{uuid.uuid4().hex}.avro"),
                _AVRO_SCHEMA,
                gen(),
            )

        cols.foreachPartition(write_shards)
        shards = [n for n in os.listdir(root) if n.endswith(".avro")]
        if not shards:
            raise ValueError("avro write produced no shards")
        with open(os.path.join(root, shards[0]), "rb") as f:
            if f.read(4) != b"Obj\x01":
                raise ValueError(f"{shards[0]} lacks the Avro magic")

    return cached_fixture("events_avro", sf_dir, ":v2", build, tag="avro")


def _avro_decode_batches(batches):
    """The ONE Avro shard decoder both the batch round trip and the
    live streaming gate run (r15 review: two hand-synced copies had
    already diverged — the streaming copy dropped the schema-drift
    refusal). Yields per-batch DataFrames with EXPLICIT dtypes:
    nullable long columns use pandas' Int64 extension array — a plain
    tuple DataFrame would coerce a None-bearing int column to
    float64, silently rounding values above 2^53 before Arrow casts
    back to long."""
    import pandas as pd

    from user_feed_cdc_spark.sources.avro_io import read_container

    names = [f["name"] for f in _AVRO_SCHEMA["fields"]]
    long_cols = {"event_id", "ts", "user_id"}
    for pdf in batches:
        out: list[tuple] = []
        for content in pdf["content"]:
            schema, rows = read_container(bytes(content))
            got = [f["name"] for f in schema["fields"]]
            if got != names:
                raise ValueError(f"Avro shard schema drifted: {got}")
            out.extend(rows)
        cols = list(zip(*out)) if out else [[] for _ in names]
        yield pd.DataFrame(
            {
                n: pd.array(
                    list(vals), dtype="Int64" if n in long_cols else None
                )
                for n, vals in zip(names, cols)
            }
        )


_AVRO_DECODE_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


@_register("source_avro_roundtrip", _ROUNDTRIP_ORACLE)
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVRO connector round trip — the CDC interchange format (Kafka
    schema-registry pipelines ship Avro; the reference's relay is the
    JSON variant of exactly this stream). spark-avro is absent from
    this sandbox, so the lane is the repo's from-the-spec codec
    (sources/avro_io.py): events land as real Object Container Files
    (deflate blocks, nullable unions, timestamp-micros logical type)
    written by executors, and the read path is a `binaryFile` scan →
    Arrow-batched mapInPandas running the spec decoder per shard →
    exact `timestamp_micros` reconstruction JVM-side → the standard
    per-type fidelity aggregate hashed against the oracle over the
    ORIGINAL parquet. Wire-format compliance (zigzag vectors, magic,
    sync chain, raw-DEFLATE codec) is pinned in pytest, so the shards
    are readable by any conforming Avro implementation.

    At 100 TB: Avro blocks inside one file make it APPEND-streamable
    but not split-parallel here (one shard = one task, like .gz) —
    the honest contract is many medium shards from the producer; on a
    cluster with spark-avro deployed, swap the scan for
    `format("avro")` and this entry's fidelity gate carries over
    unchanged."""
    root = _avro_dir(spark, sf_dir)
    n_shards = sum(1 for n in os.listdir(root) if n.endswith(".avro"))
    decoded = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(root)
        .select("content")
        # one decode task per shard: openCostInBytes packs the small
        # local shards into one split, serializing the CPU-dominant
        # decode — a one-hop round robin of the shard blobs restores
        # shard-count parallelism (guide §2.5 input-skew remedy; at
        # production shard sizes the scan splits already spread and
        # this is a no-op-sized exchange either way)
        .repartition(n_shards)
        .mapInPandas(_avro_decode_batches, _AVRO_DECODE_SCHEMA)
    )
    back = decoded.select(
        "event_id",
        F.timestamp_micros("ts").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    return _fidelity_agg(back)


_MULTIPART_CKPT_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum,
           CAST(SUM(LENGTH(props)) AS BIGINT) AS props_len_sum
    FROM events
    WHERE event_id % 6 <> 5
    GROUP BY event_type
"""


def _txn_multipart_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per (sf, mtime, rev)) a committer-written table
    whose ONLY surviving state is a MULTI-PART checkpoint: six pmod-6
    appends, one delete (f5 removed — replay must honor it through
    the parts), `write_checkpoint(parts=3)` at HEAD, then a vacuum
    that prunes every commit file — so any reader that cannot resolve
    the part layout has nothing to fall back on."""
    import time as _time

    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        w = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        for b in range(6):
            ev.filter(F.pmod("event_id", F.lit(6)) == b).write.mode(
                "overwrite"
            ).parquet(os.path.join(root, f"f{b}"))
            w.begin().add(f"f{b}").commit()
        w.begin().remove("f5").commit()
        w.write_checkpoint(w.latest_version(), parts=3)
        # prune history: pass an explicit aged now so the orphan
        # age-gate math can't defer; the removed f5 dir goes too
        w.vacuum(retain_ms=0, now_ms=int(_time.time() * 1000))

    root = cached_fixture("txnmultipart", sf_dir, ":v1", build)
    return root, os.path.join(root, "_log")


@_register("source_txn_log_multipart_checkpoint", _MULTIPART_CKPT_ORACLE)
def source_txn_log_multipart_checkpoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-PART checkpoints — Delta's `v.checkpoint.i-of-n` layout
    (r15): the live-set materialization round-robins across N part
    files and `_last_checkpoint` records {"version", "parts"}, the
    form that keeps any single checkpoint file bounded as the live
    set grows to millions of entries AND lets a distributed reader
    load parts in parallel instead of through a single-file
    bottleneck.
    This table's history is fully vacuumed, so the three parts are
    the ONLY source of state — a reader that loads a strict subset of
    parts loses live files (and an in-flight delete carried by a
    different part), which is exactly what the fidelity hash would
    catch; missing parts REFUSE loudly (pytest-pinned) rather than
    replaying a partial live set. The entry also refuses if the
    layout on disk isn't genuinely multi-part.

    At 100 TB: a single-file checkpoint of a 10M-file table is a
    multi-GB JSON a driver must stream alone; parts bound file size
    and parallelize the load — the same reason Delta shards
    checkpoint parquet."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root, _log_dir = _txn_multipart_table(spark, sf_dir)
    w = TxnLogWriter(root)
    files = w.checkpoint_files(w.latest_version())
    parts = [n for n in files if not n.endswith(".checkpoint.json")]
    if len(parts) != 3:
        raise ValueError(f"expected 3 checkpoint parts, got {parts}")
    if len(files) != len(parts):
        raise ValueError("single-file checkpoint present alongside parts")
    return _fidelity_agg(read_snapshot(spark, root))


_HIDDEN_PART_ORACLE = """
    WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS day0 FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM events, d0
    WHERE ts >= CAST(day0 AS TIMESTAMP) + INTERVAL 7 DAY
                + INTERVAL 12 HOUR
      AND ts <  CAST(day0 AS TIMESTAMP) + INTERVAL 12 DAY
                + INTERVAL 6 HOUR
    GROUP BY event_type
"""


def _txn_hidden_part_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per (sf, mtime, rev)) a table HIDDEN-PARTITIONED by
    day(ts) — Iceberg's transform partitioning: one file per calendar
    day, each add action carrying partitionValues {"ts_day": ISO day}
    DERIVED from the ts column, while ts itself stays in the data
    files (no partition column is split out of the schema, unlike the
    hive layout). Readers never see the layout; they prune on ts
    predicates."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        w = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events")
        days = [
            r[0].isoformat()
            for r in ev.select(F.to_date("ts").alias("d"))
            .distinct()
            .orderBy("d")
            .collect()
        ]  # planning scale: |days| rows
        txn = w.begin()
        for d in days:
            name = "d_" + d.replace("-", "")
            ev.filter(F.to_date("ts") == d).write.mode(
                "overwrite"
            ).parquet(os.path.join(root, name))
            txn.add(name, partition_values={"ts_day": d})
        txn.commit()

    return cached_fixture("txnhidden", sf_dir, ":v1", build)


@_register("source_txn_log_hidden_partitioning", _HIDDEN_PART_ORACLE)
def source_txn_log_hidden_partitioning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HIDDEN PARTITIONING — Iceberg's transform partitioning
    (`PARTITIONED BY days(ts)`), the feature that removes the classic
    hive trap where users must know the layout and filter on a
    separate partition column: the log's add actions carry a DERIVED
    partition value (day(ts)) while ts stays a normal data column,
    and the reader converts a plain ts range predicate into a day
    range over the LOG ALONE — catalog-scale planning, zero data I/O
    — scans only the covered day files, and applies the original
    predicate as the residual filter for the partial boundary days.
    Pruning is pinned in-query (the scan must read exactly the
    covered-day files; a reader that fell back to scan-everything
    refuses), and the per-type rollup hashes against the oracle
    running the plain ts range over the original table.

    At 100 TB this is why Iceberg queries stay fast without layout
    literacy: every time-ranged query on an event lake auto-prunes to
    its days; the transform evolves (day→hour) by writing new adds
    with the new transform, readers unchanged."""
    import datetime as _dt

    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root = _txn_hidden_part_table(spark, sf_dir)
    day0 = (
        load_table(spark, sf_dir, "events")
        .agg(F.min(F.to_date("ts")))
        .first()[0]
    )  # planning: one scalar
    lo = _dt.datetime.combine(
        day0 + _dt.timedelta(days=7), _dt.time(12, 0)
    )
    hi = _dt.datetime.combine(
        day0 + _dt.timedelta(days=12), _dt.time(6, 0)
    )
    # predicate -> day range, resolved against the log alone
    lo_day, hi_day = lo.date(), hi.date()
    adds = TxnLogWriter(root).snapshot().adds
    survivors = sorted(
        f
        for f, a in adds.items()
        if lo_day
        <= _dt.date.fromisoformat(a["partition_values"]["ts_day"])
        <= hi_day
    )
    if not survivors or len(survivors) >= len(adds):
        raise RuntimeError(
            f"hidden-partition pruning ineffective: {len(survivors)} "
            f"of {len(adds)} files survive"
        )
    scan = spark.read.schema(TABLE_SCHEMAS["events"]).parquet(
        *[os.path.join(root, f) for f in survivors]
    )
    got = {os.path.basename(os.path.dirname(p)) for p in scan.inputFiles()}
    if got != set(survivors):
        raise RuntimeError(f"scan read beyond the pruned set: {got}")
    # residual: exact bounds for the partial boundary days
    snap = scan.filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))
    )
    return snap.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
        ).alias("cents_sum"),
    )


_STRING_STATS_ORACLE = """
    WITH probe AS (
        SELECT MAX(text) AS t FROM documents WHERE doc_id % 8 = 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(n_chars) AS BIGINT) AS chars_sum
    FROM documents, probe
    WHERE text = t
"""


def _truncated_upper_bound(s: str, width: int) -> str | None:
    """Delta/Iceberg's truncated string MAX: keep `width` chars, then
    INCREMENT the last incrementable char so the prefix stays a true
    UPPER bound of the full value (a plain prefix sorts BELOW the
    original — pruning on it silently drops matching files, the
    classic truncation bug). Walks backward past non-incrementable
    chars; returns None when nothing can be incremented (the stat is
    then omitted and the file never prunes — conservative)."""
    if len(s) <= width:
        return s
    prefix = s[:width]
    chars = list(prefix)
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i])
        if cp < 0x10FFFF:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:
                # never emit a lone UTF-16 surrogate (r15 review):
                # U+D7FF + 1 lands in the surrogate gap, producing a
                # stat no conforming consumer can UTF-8-encode; skip
                # to the first scalar past the gap — still a strict
                # upper bound since the gap holds no valid scalars
                nxt = 0xE000
            return "".join(chars[:i]) + chr(nxt)
    return None


def _txn_string_stats_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per (sf, mtime, rev)) a documents table whose add
    actions carry 32-char TRUNCATED string min/max stats on `text` —
    min as a plain prefix (a prefix is already a valid lower bound),
    max through _truncated_upper_bound."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    def build(root: str) -> None:
        w = TxnLogWriter(root)
        docs = load_table(spark, sf_dir, "documents")
        txn = w.begin()
        for b in range(8):
            part = docs.filter(F.pmod("doc_id", F.lit(8)) == b)
            part.write.mode("overwrite").parquet(
                os.path.join(root, f"b{b}")
            )
            st = part.agg(
                F.min("text").alias("mn"), F.max("text").alias("mx")
            ).first()
            stats = {"min_text": st.mn[:32]}
            ub = _truncated_upper_bound(st.mx, 32)
            if ub is not None:
                stats["max_text"] = ub
            txn.add(f"b{b}", **stats)
        txn.commit()

    return cached_fixture(
        "txnstrstats", sf_dir, ":v1", build, table="documents"
    )


@_register("source_txn_log_string_stats_pruning", _STRING_STATS_ORACLE)
def source_txn_log_string_stats_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRUNCATED STRING statistics — data skipping on long strings,
    with the bound-correctness subtlety Delta/Iceberg both implement:
    stats on a 150+-char text column are stored as 32-char prefixes,
    a prefix is a valid LOWER bound as-is, but a prefix used as the
    UPPER bound sorts BELOW the real maximum — a point lookup for any
    value extending the prefix would prune away its own file. The
    committer therefore stores max = prefix with its last
    incrementable char bumped (_truncated_upper_bound), and this
    entry PROVES the hazard is real before relying on the fix: it
    refuses unless the probe (the longest text of bucket 3) actually
    sorts ABOVE the naive truncated max — i.e. naive truncation WOULD
    have mispruned — then prunes files by [min_text, max_text] from
    the log alone, scans the survivors (inputFiles-gated), applies
    the exact equality as the residual filter, and hashes the matched
    rows against the oracle.

    At 100 TB: string stats cost O(32 bytes/file) in the log instead
    of O(longest value), and point/range lookups on URLs, ids, and
    content hashes prune at catalog scale — but only if the
    truncation math preserves boundhood, which is exactly what the
    refusal pins."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root = _txn_string_stats_table(spark, sf_dir)
    probe = (
        load_table(spark, sf_dir, "documents")
        .filter(F.pmod("doc_id", F.lit(8)) == 3)
        .agg(F.max("text"))
        .first()[0]
    )  # planning: one scalar
    if not probe > probe[:32]:
        raise RuntimeError(
            "fixture degenerate: probe does not extend its prefix — "
            "the truncation hazard this entry certifies is absent"
        )
    adds = TxnLogWriter(root).snapshot().adds
    survivors = sorted(
        f
        for f, a in adds.items()
        if a["min_text"] <= probe
        and ("max_text" not in a or probe <= a["max_text"])
    )
    if "b3" not in survivors:
        raise RuntimeError(
            "truncated-max bound dropped the probe's own file — the "
            "bug _truncated_upper_bound exists to prevent"
        )
    if len(survivors) >= len(adds):
        raise RuntimeError("string-stats pruning removed nothing")
    scan = spark.read.schema(TABLE_SCHEMAS["documents"]).parquet(
        *[os.path.join(root, f) for f in survivors]
    )
    got = {os.path.basename(os.path.dirname(p)) for p in scan.inputFiles()}
    if got != set(survivors):
        raise RuntimeError(f"scan read beyond the pruned set: {got}")
    hit = scan.filter(F.col("text") == probe)
    return hit.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_chars").alias("chars_sum"),
    )


_AVRO_LIVE_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum
    FROM events
    GROUP BY event_type
"""


@_register("streaming_avro_events_live", _AVRO_LIVE_ORACLE)
def streaming_avro_events_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Avro shards ARRIVING — the 20th live streaming certification:
    the same Object Container Files the batch round trip certifies
    replay as a `binaryFile` FILE STREAM (maxFilesPerTrigger forcing
    multiple micro-batches), each shard runs the identical spec
    decoder inside Arrow-batched mapInPandas, timestamps reconstruct
    via `timestamp_micros`, and a per-type rollup in complete mode
    drains through the memory sink under the oracle hash. This is the
    production arrival shape of a schema-registry CDC lake: Avro
    shards land as files, each is decoded exactly once per trigger,
    and batch-stream equivalence is certified, not assumed (the
    fidelity aggregate swaps countDistinct for a timestamp
    microsecond sum — distinct aggregation is unsupported over
    streams, and the ts_us_sum still catches any lost microsecond).

    At 100 TB: stateless per-file decode (no watermark, no state
    store), per-trigger work bounded by maxFilesPerTrigger, payloads
    never shuffle — the same posture as the binaryFile media
    stream."""
    from user_feed_cdc_spark.streaming.windows import run_to_memory

    root = _avro_dir(spark, sf_dir)
    n_files = sum(1 for n in os.listdir(root) if n.endswith(".avro"))
    per_trigger = max(1, (n_files + 2) // 3)
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.avro")
        .option("maxFilesPerTrigger", str(per_trigger))
        .load(root)
        .select("content")
        # one decode task per shard within each trigger (see
        # source_avro_roundtrip: openCost packing serializes small
        # local shards otherwise)
        .repartition(per_trigger)
        .mapInPandas(_avro_decode_batches, _AVRO_DECODE_SCHEMA)
    )
    agg = (
        stream.select(
            "event_type",
            "value",
            F.timestamp_micros("ts").alias("ts"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
            ).alias("cents_sum"),
            F.sum(F.unix_micros("ts") % 1000000000).alias("ts_us_sum"),
        )
    )
    return run_to_memory(
        spark, agg, "streaming_avro_events_live_sink", "complete",
        src_paths=(root,),
    )


# ---------------------------------------------------------------------------
# IDENTITY columns on the txn-log protocol (r14 — the generated-columns
# sibling: engine-ASSIGNED values instead of engine-COMPUTED ones)
# ---------------------------------------------------------------------------

def _identity_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (once per (sf, mtime, rev)) an identity-column table: v0
    declares GENERATED ALWAYS AS IDENTITY sid (start 100, step 3,
    order_by event_id), three pmod-3 bucket appends allocate through
    append_with_identity — with an explicit-sid batch REFUSED in
    between (Delta's identity-insert rule, no version consumed) and
    bucket 1 DELETED before bucket 2's append, so the read-back table
    proves the high-water mark advanced over the removed rows and
    never recycled their ids."""
    from user_feed_cdc_spark.sources.txn_writer import (
        TxnLogWriter,
        append_with_identity,
    )

    def build(root: str) -> None:
        w = TxnLogWriter(root)
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        w.begin().set_metadata(
            "event_id long, event_type string, value double, sid long",
            identity={
                "sid": {"start": 100, "step": 3, "order_by": "event_id"}
            },
        ).commit()  # v0
        bucket = F.pmod(F.col("event_id"), F.lit(3))
        append_with_identity(w, ev.filter(bucket == 0), "p0")  # v1
        before = w.latest_version()
        try:
            append_with_identity(
                w,
                ev.filter(bucket == 1).withColumn("sid", F.lit(1)),
                "poison",
            )
            raise RuntimeError("explicit identity batch was NOT refused")
        except ValueError as e:
            if "GENERATED ALWAYS" not in str(e):
                raise RuntimeError(f"wrong refusal message: {e}")
        if w.latest_version() != before:
            raise RuntimeError("refused batch consumed a version")
        append_with_identity(w, ev.filter(bucket == 1), "p1")  # v2
        w.begin().remove("p1").commit()  # v3 — ids 'burned', never reused
        append_with_identity(w, ev.filter(bucket == 2), "p2")  # v4

    root = cached_fixture("txnidentity", sf_dir, ":v1", build)
    return read_snapshot(spark, root)  # the metaData's declared schema


_IDENTITY_ORACLE = """
    WITH ranked AS (
        SELECT event_id, CAST(event_id % 3 AS BIGINT) AS bucket,
               97 + 3 * ROW_NUMBER()
                   OVER (ORDER BY event_id % 3, event_id) AS sid
        FROM events
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(sid) AS BIGINT) AS min_sid,
           CAST(MAX(sid) AS BIGINT) AS max_sid,
           CAST(SUM(sid) AS BIGINT) AS sid_sum
    FROM ranked
    WHERE bucket IN (0, 2)
    GROUP BY bucket
"""


@_register("source_txn_log_identity_columns", _IDENTITY_ORACLE)
def source_txn_log_identity_columns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IDENTITY columns through the committer (Delta's GENERATED
    ALWAYS AS IDENTITY — the allocation sibling of r13's generated
    columns): metaData declares (start=100, step=3, order_by=
    event_id) for `sid`; three bucket appends allocate reproducibly
    from the high-water mark the allocating commit re-stamps onto
    metaData — so allocation is a definition change and concurrent
    allocators serialize through the model-checked metadata-conflict
    rule, ranges provably never overlapping. The builder REFUSES an
    explicit-sid batch mid-sequence (no version consumed) and DELETES
    bucket 1 before bucket 2's append: the surviving rows certify
    that bucket 2's ids continue PAST the removed bucket's range (the
    mark lives on metaData, not on files — DELETE/VACUUM can never
    recycle an id). The oracle replays the allocation arithmetic as
    one global rank: sid = 97 + 3·rank(bucket, event_id); min/max/sum
    per surviving bucket hash-certify every assigned value.

    Scale: allocation cost = the in-batch rank (window over order_by,
    bounded batches by contract) + one integer on one JSON line; a
    production writer reserves per-partition ranges off the same
    atomic hwm bump — Delta's nondeterministic allocation — with the
    protocol unchanged."""
    snap = _identity_table(spark, sf_dir)
    return (
        snap.withColumn(
            "bucket", F.pmod(F.col("event_id"), F.lit(3)).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("sid").alias("min_sid"),
            F.max("sid").alias("max_sid"),
            F.sum("sid").alias("sid_sum"),
        )
    )


_AVRO_NESTED_SCHEMA = {
    "type": "record",
    "name": "envelope",
    "fields": [
        {
            "name": "before",
            "type": [
                "null",
                {
                    "type": "record",
                    "name": "row_before",
                    "fields": [
                        {"name": "event_id", "type": "long"},
                        {"name": "ts", "type": {
                            "type": "long",
                            "logicalType": "timestamp-micros",
                        }},
                        {"name": "user_id", "type": "long"},
                        {"name": "event_type", "type": "string"},
                        {"name": "value", "type": "double"},
                        {"name": "props", "type": "string"},
                        {"name": "tags", "type": {
                            "type": "array", "items": "string",
                        }},
                        {"name": "attrs", "type": {
                            "type": "map", "values": "long",
                        }},
                    ],
                },
            ],
        },
        {
            "name": "after",
            "type": [
                "null",
                {
                    "type": "record",
                    "name": "row_after",
                    "fields": [
                        {"name": "event_id", "type": "long"},
                        {"name": "ts", "type": {
                            "type": "long",
                            "logicalType": "timestamp-micros",
                        }},
                        {"name": "user_id", "type": "long"},
                        {"name": "event_type", "type": "string"},
                        {"name": "value", "type": "double"},
                        {"name": "props", "type": "string"},
                        {"name": "tags", "type": {
                            "type": "array", "items": "string",
                        }},
                        {"name": "attrs", "type": {
                            "type": "map", "values": "long",
                        }},
                    ],
                },
            ],
        },
        {
            "name": "source",
            "type": {
                "type": "record",
                "name": "src",
                "fields": [
                    {"name": "table", "type": "string"},
                    {"name": "lsn", "type": "long"},
                ],
            },
        },
        {"name": "op", "type": "string"},
        {"name": "ts_ms", "type": "long"},
    ],
}


def _avro_nested_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per (sf, mtime, rev)) the events table as NESTED
    Avro container files in the Debezium envelope shape — the single
    most common Avro payload a CDC engine meets (r15 VERDICT gap 3):
    nullable before/after sub-records, a source record, an op code,
    and a millisecond transaction stamp; the sub-records additionally
    carry an array (tags) and a map (attrs) so every complex type the
    codec supports is on the wire. Deterministic derivation from the
    canonical rows: op='u' every fifth event_id (before = the after
    image with props cleared — a prior-image diff), else op='c' with
    a null before; tags = [event_type, user_id mod 10]; attrs =
    {h: hour, m: minute}; lsn = event_id; ts_ms = micros DIV 1000.
    hour/minute/unix_micros are computed JVM-side BEFORE the Python
    writer sees them (same no-float-datetime rule as _avro_dir)."""

    def build(root: str) -> None:
        cols = load_table(spark, sf_dir, "events").select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
            "props",
            F.hour("ts").alias("h"),
            F.minute("ts").alias("m"),
        )
        # shard by producer parallelism (see _avro_dir): decode
        # parallelism downstream is bounded by shard count
        cols = cols.repartition(spark.sparkContext.defaultParallelism)

        def write_shards(rows) -> None:
            import uuid

            from user_feed_cdc_spark.sources.avro_io import (
                write_container,
            )

            def envelope(r):
                after = {
                    "event_id": r["event_id"],
                    "ts": r["ts_us"],
                    "user_id": r["user_id"],
                    "event_type": r["event_type"],
                    "value": r["value"],
                    "props": r["props"],
                    "tags": [
                        r["event_type"],
                        str(r["user_id"] % 10),
                    ],
                    "attrs": {"h": r["h"], "m": r["m"]},
                }
                upd = r["event_id"] % 5 == 0
                before = dict(after, props="") if upd else None
                return (
                    before,
                    after,
                    {"table": "events", "lsn": r["event_id"]},
                    "u" if upd else "c",
                    r["ts_us"] // 1000,
                )

            it = iter(rows)
            try:
                first = next(it)
            except StopIteration:
                return
            os.makedirs(root, exist_ok=True)

            def gen():
                yield envelope(first)
                for row in it:
                    yield envelope(row)

            write_container(
                os.path.join(root, f"part-{uuid.uuid4().hex}.avro"),
                _AVRO_NESTED_SCHEMA,
                gen(),
            )

        cols.foreachPartition(write_shards)
        shards = [n for n in os.listdir(root) if n.endswith(".avro")]
        if not shards:
            raise ValueError("nested avro write produced no shards")

    return cached_fixture(
        "events_avro_nested", sf_dir, ":v2", build, tag="avronested"
    )


def _avro_nested_decode_batches(batches):
    """Decode Debezium-envelope shards and FLATTEN in-Python to the
    scalar columns the driver canonicalizer can hash (arrays/maps
    never leave the Python stage): after.* columns plus derived
    lsn / is_upd / before_cents / tags_len / attrs_hm / ts_ms. The
    one float expression evaluated Python-side (before_cents) is the
    same IEEE mul-add-floor tree both engines run, on the identical
    double."""
    import math

    import pandas as pd

    from user_feed_cdc_spark.sources.avro_io import read_container

    names = [f["name"] for f in _AVRO_NESTED_SCHEMA["fields"]]
    out_cols = (
        "event_id", "ts", "user_id", "event_type", "value", "props",
        "lsn", "is_upd", "before_cents", "tags_len", "attrs_hm",
        "ts_ms",
    )
    long_cols = {
        "event_id", "ts", "user_id", "lsn", "is_upd", "before_cents",
        "tags_len", "attrs_hm", "ts_ms",
    }
    for pdf in batches:
        out: list[tuple] = []
        for content in pdf["content"]:
            schema, rows = read_container(bytes(content))
            got = [f["name"] for f in schema["fields"]]
            if got != names:
                raise ValueError(
                    f"nested Avro shard schema drifted: {got}"
                )
            for before, after, source, op, ts_ms in rows:
                if after is None or source["table"] != "events":
                    raise ValueError("envelope missing after image")
                if (op == "u") != (before is not None):
                    raise ValueError("op/before-image mismatch")
                out.append(
                    (
                        after["event_id"],
                        after["ts"],
                        after["user_id"],
                        after["event_type"],
                        after["value"],
                        after["props"],
                        source["lsn"],
                        1 if before is not None else 0,
                        int(math.floor(before["value"] * 100.0 + 0.5))
                        if before is not None
                        else 0,
                        sum(len(t) for t in after["tags"]),
                        after["attrs"]["h"] * 60 + after["attrs"]["m"],
                        ts_ms,
                    )
                )
        cols = list(zip(*out)) if out else [[] for _ in out_cols]
        yield pd.DataFrame(
            {
                n: pd.array(
                    list(vals),
                    dtype="Int64" if n in long_cols else None,
                )
                for n, vals in zip(out_cols, cols)
            }
        )


_AVRO_NESTED_DECODE_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string, lsn long, is_upd long, "
    "before_cents long, tags_len long, attrs_hm long, ts_ms long"
)

_AVRO_NESTED_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_us_sum,
           CAST(SUM(LENGTH(props)) AS BIGINT) AS props_len_sum,
           CAST(SUM(event_id) AS BIGINT) AS lsn_sum,
           CAST(SUM(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS upd_n,
           CAST(SUM(CASE WHEN event_id % 5 = 0
                         THEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS before_cents_sum,
           CAST(SUM(LENGTH(event_type) + 1) AS BIGINT) AS tags_len_sum,
           CAST(SUM(hour(ts) * 60 + minute(ts)) AS BIGINT) AS attrs_sum,
           CAST(SUM((epoch_us(ts) // 1000) % 1000000) AS BIGINT)
               AS ts_ms_sum
    FROM events
    GROUP BY event_type
"""


@_register("source_avro_nested_roundtrip", _AVRO_NESTED_ORACLE)
def source_avro_nested_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NESTED Avro round trip — the Debezium envelope, real CDC's
    wire shape (r15 VERDICT gap 3 closed): events ride as
    before/after sub-records inside container files (arrays + maps
    included), written by executors with the from-the-spec codec and
    read back through a binaryFile scan → Arrow mapInPandas decoder
    that UNWRAPS the envelope to scalar columns (the canonical
    consume pattern: prefer the after image, validate op against the
    before image's presence, surface source.lsn). The fidelity
    aggregate covers every nested component — after.* through the
    standard five columns, lsn through the source record, upd_n /
    before_cents through the nullable before branch, tags_len through
    the array, attrs_sum through the map, ts_ms through the envelope
    stamp — hashed against the oracle over the ORIGINAL parquet.

    At 100 TB: same posture as source_avro_roundtrip (shard =
    producer's unit of parallelism); the envelope unwrap is the
    format-native twin of cdc_canonical_activities' JSON normalize —
    with spark-avro deployed, `format("avro")` + `col("after.*")`
    replaces the Python stage and the gate carries over."""
    root = _avro_nested_dir(spark, sf_dir)
    n_shards = sum(1 for n in os.listdir(root) if n.endswith(".avro"))
    decoded = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(root)
        .select("content")
        # one decode task per shard (see source_avro_roundtrip)
        .repartition(n_shards)
        .mapInPandas(
            _avro_nested_decode_batches, _AVRO_NESTED_DECODE_SCHEMA
        )
    )
    return decoded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
        ).alias("cents_sum"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("ts") % 1000000000).alias("ts_us_sum"),
        F.sum(F.length("props")).alias("props_len_sum"),
        F.sum("lsn").alias("lsn_sum"),
        F.sum("is_upd").alias("upd_n"),
        F.sum("before_cents").alias("before_cents_sum"),
        F.sum("tags_len").alias("tags_len_sum"),
        F.sum("attrs_hm").alias("attrs_sum"),
        F.sum(F.col("ts_ms") % 1000000).alias("ts_ms_sum"),
    )


_AVRO_NESTED_LIVE_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum,
           CAST(SUM(event_id) AS BIGINT) AS lsn_sum,
           CAST(SUM(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS upd_n,
           CAST(SUM(hour(ts) * 60 + minute(ts)) AS BIGINT) AS attrs_sum
    FROM events
    GROUP BY event_type
"""


@_register("streaming_avro_nested_live", _AVRO_NESTED_LIVE_ORACLE)
def streaming_avro_nested_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Debezium-envelope Avro shards ARRIVING — the 21st live
    streaming certification (r16): the nested container files the
    batch round trip certifies replay as a `binaryFile` FILE STREAM
    (maxFilesPerTrigger forcing multiple micro-batches), each shard
    unwrapped by the identical envelope decoder inside Arrow-batched
    mapInPandas, and a per-type rollup exercising every nested
    component (after.* cents, source.lsn, the nullable before branch
    via upd_n, the attrs map) drains through the memory sink under
    the oracle hash — the arrival shape of an actual Debezium topic
    landed to files, batch-stream equivalence certified rather than
    assumed.

    At 100 TB: stateless per-file decode, per-trigger work bounded by
    maxFilesPerTrigger, payloads never shuffle — the posture of the
    other binaryFile streams."""
    from user_feed_cdc_spark.streaming.windows import run_to_memory

    root = _avro_nested_dir(spark, sf_dir)
    n_files = sum(1 for n in os.listdir(root) if n.endswith(".avro"))
    per_trigger = max(1, (n_files + 2) // 3)
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.avro")
        .option("maxFilesPerTrigger", str(per_trigger))
        .load(root)
        .select("content")
        # one decode task per shard within each trigger (see
        # source_avro_roundtrip)
        .repartition(per_trigger)
        .mapInPandas(
            _avro_nested_decode_batches, _AVRO_NESTED_DECODE_SCHEMA
        )
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
        ).alias("cents_sum"),
        F.sum("lsn").alias("lsn_sum"),
        F.sum("is_upd").alias("upd_n"),
        F.sum("attrs_hm").alias("attrs_sum"),
    )
    return run_to_memory(
        spark, agg, "streaming_avro_nested_live_sink", "complete",
        src_paths=(root,),
    )
