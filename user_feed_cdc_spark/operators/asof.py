"""As-of (point-in-time) join — an operator Spark lacks natively,
composed from built-ins (SURVEY.md §2.3: custom operators as
compositions before UDFs).

Semantics: for each probe row, attach the most recent marker row of the
same key with marker.ts <= probe.ts (the standard "prevailing quote for
each trade" shape; here: each event gets the user's most recent purchase
at or before it).

Spark-first plan — the union/last_value trick, NOT a range join:
tag markers and probes, union them, and take ``last(marker_col,
ignorenulls)`` over a per-key window ordered by (ts, marker-first).
One shuffle + one sort per key partition, output exactly |probes| rows —
a naive inequality join explodes to O(probes × markers) per key before
aggregating back down, which is quadratic on hot keys at 100 TB. Ties at
equal ts sort the marker first, so ts-equal markers are visible to the
probe (the <= contract); markers are deduped per (key, ts) keeping the
max id so the answer is unique and engine-independent.

DuckDB's native ASOF LEFT JOIN is the oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from user_feed_cdc_spark.registry import registry
from user_feed_cdc_spark.sources.tables import load_table

QUERIES, ORACLES, _register = registry()


def asof_join(
    probes: DataFrame,
    markers: DataFrame,
    key: str,
    ts: str,
    marker_cols: list[str],
    direction: str = "backward",
) -> DataFrame:
    """Generic as-of join. ``backward`` (default): probes ⟕ most-recent
    markers (same key, marker ts <= probe ts). ``forward``: probes ⟕
    earliest marker STRICTLY after the probe (marker ts > probe ts) —
    the time-to-next-event labeling direction. markers must be unique
    per (key, ts) for a deterministic answer — dedup upstream. Returns
    the probe rows plus ``marker_cols`` (null when no marker matches).

    Both directions ride the same single shuffle: markers sort before
    probes at equal ts, which gives <= semantics to the backward frame
    (equal-ts marker is inside [unboundedPreceding, currentRow]) and
    strict > to the forward frame (equal-ts marker falls BEFORE
    currentRow, outside [currentRow, unboundedFollowing])."""
    p = probes.withColumn("_is_probe", F.lit(1))
    for c in marker_cols:
        p = p.withColumn(c, F.lit(None).cast(markers.schema[c].dataType))
    m = markers.withColumn("_is_probe", F.lit(0))
    u = m.unionByName(p, allowMissingColumns=True)
    base = W.partitionBy(key).orderBy(F.col(ts).asc(), F.col("_is_probe").asc())
    if direction == "backward":
        w = base.rowsBetween(W.unboundedPreceding, W.currentRow)
        pick = lambda c: F.last(c, ignorenulls=True)  # noqa: E731
    elif direction == "forward":
        w = base.rowsBetween(W.currentRow, W.unboundedFollowing)
        pick = lambda c: F.first(c, ignorenulls=True)  # noqa: E731
    else:
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    for c in marker_cols:
        u = u.withColumn(c, pick(c).over(w))
    return u.filter(F.col("_is_probe") == 1).drop("_is_probe")


_RANGE_JOIN_ORACLE = """
    SELECT a.user_id, COUNT(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY a.user_id
"""

_RANGE_WINDOW_US = 5 * 60 * 1_000_000  # 5 minutes in µs
_BUCKET_US = _RANGE_WINDOW_US  # bucket width == window → probe 2 buckets


@_register("range_join_user_pairs", _RANGE_JOIN_ORACLE)
def range_join_user_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: per user, count ordered event pairs within a
    5-minute window. A naive inequality join is a per-key cross product
    (quadratic on hot users); bucketing time into window-width bands
    turns it into an EQUI-join on (user_id, bucket) where each later
    event probes exactly two bands (its own + the previous) — candidate
    volume is bounded by events-per-band, and the real predicate prunes
    the rest. The oracle is the plain inequality join (DuckDB IEJoin)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    a = ev.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.col("us").alias("us_a"),
        (F.col("us") / _BUCKET_US).cast("long").alias("bucket"),
    )
    b = ev.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("us").alias("us_b"),
        F.explode(
            F.array(
                (F.col("us") / _BUCKET_US).cast("long"),
                (F.col("us") / _BUCKET_US).cast("long") - 1,
            )
        ).alias("bucket"),
    )
    pairs = b.join(a, ["user_id", "bucket"]).filter(
        (F.col("us_b") > F.col("us_a"))
        & (F.col("us_b") <= F.col("us_a") + _RANGE_WINDOW_US)
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


_ASOF_ORACLE = """
    WITH m AS (
        SELECT user_id, ts, MAX(event_id) AS purchase_id
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.ts, e.event_type,
           m.purchase_id AS last_purchase_id
    FROM events e
    ASOF LEFT JOIN m ON e.user_id = m.user_id AND e.ts >= m.ts
"""


_ASOF_TOL_ORACLE = """
    WITH m AS (
        SELECT user_id, ts, MAX(event_id) AS purchase_id
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.ts, e.event_type,
           CASE WHEN e.ts - m.ts <= INTERVAL 1 HOUR
                THEN m.purchase_id END AS recent_purchase_id
    FROM events e
    ASOF LEFT JOIN m ON e.user_id = m.user_id AND e.ts >= m.ts
"""

_TOL_US = 3_600_000_000  # 1 hour staleness bound


@_register("asof_last_purchase_tolerance", _ASOF_TOL_ORACLE)
def asof_last_purchase_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound — the feature-store freshness
    contract: a feature older than the tolerance (1 h here) must NOT be
    attached (serve NULL, not a stale value). Same single-shuffle
    union/last composition; the marker's own timestamp rides along as a
    second carried column and the bound is a post-window null-out —
    no extra join, no extra shuffle. Oracle: DuckDB ASOF LEFT JOIN with
    the interval check applied to the matched row."""
    ev = load_table(spark, sf_dir, "events")
    markers = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("recent_purchase_id"))
        .withColumn("_m_us", F.unix_micros("ts"))
    )
    probes = ev.select("event_id", "user_id", "ts", "event_type")
    joined = asof_join(
        probes,
        markers,
        key="user_id",
        ts="ts",
        marker_cols=["recent_purchase_id", "_m_us"],
    )
    fresh = F.unix_micros("ts") - F.col("_m_us") <= _TOL_US
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(fresh, F.col("recent_purchase_id")).alias("recent_purchase_id"),
    )


@_register("asof_last_purchase", _ASOF_ORACLE)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every event annotated with the same user's most recent purchase
    event id at or before it (NULL if none yet) — the point-in-time
    feature-join shape of a training-data pipeline (label each
    interaction with the prevailing state). Oracle: DuckDB native
    ASOF LEFT JOIN."""
    ev = load_table(spark, sf_dir, "events")
    markers = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("last_purchase_id"))
    )
    probes = ev.select("event_id", "user_id", "ts", "event_type")
    return asof_join(
        probes, markers, key="user_id", ts="ts", marker_cols=["last_purchase_id"]
    ).select("event_id", "user_id", "ts", "event_type", "last_purchase_id")


_ASOF_FWD_ORACLE = """
    WITH m AS (
        SELECT user_id, ts, MAX(event_id) AS purchase_id
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.ts, e.event_type,
           m.purchase_id AS next_purchase_id,
           CAST(CASE WHEN m.purchase_id IS NOT NULL
                THEN epoch_us(m.ts) - epoch_us(e.ts) END AS BIGINT)
               AS us_until_purchase
    FROM events e
    ASOF LEFT JOIN m ON e.user_id = m.user_id AND e.ts < m.ts
"""


@_register("asof_next_purchase", _ASOF_FWD_ORACLE)
def asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: every event annotated with the same user's
    next purchase strictly after it, plus the microseconds until it —
    the label-generation shape of a training pipeline ("did/when will
    the user convert after this interaction"; a horizon cut on
    us_until_purchase yields the binary label). Same single-shuffle
    union/window composition as the backward join, mirrored frame.
    Oracle: DuckDB native forward ASOF LEFT JOIN (e.ts < m.ts)."""
    ev = load_table(spark, sf_dir, "events")
    markers = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("next_purchase_id"))
        .withColumn("_m_us", F.unix_micros("ts"))
    )
    probes = ev.select("event_id", "user_id", "ts", "event_type")
    joined = asof_join(
        probes,
        markers,
        key="user_id",
        ts="ts",
        marker_cols=["next_purchase_id", "_m_us"],
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "next_purchase_id",
        F.when(
            F.col("next_purchase_id").isNotNull(),
            F.col("_m_us") - F.unix_micros("ts"),
        ).alias("us_until_purchase"),
    )


_ASOF_NEAREST_ORACLE = """
    WITH m AS (
        SELECT user_id, ts, MAX(event_id) AS purchase_id
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts
    ),
    b AS (
        SELECT e.event_id, m.purchase_id AS bid, epoch_us(m.ts) AS bus
        FROM events e
        ASOF LEFT JOIN m ON e.user_id = m.user_id AND e.ts >= m.ts
    ),
    f AS (
        SELECT e.event_id, m.purchase_id AS fid, epoch_us(m.ts) AS fus
        FROM events e
        ASOF LEFT JOIN m ON e.user_id = m.user_id AND e.ts < m.ts
    )
    SELECT e.event_id, e.user_id, e.ts, e.event_type,
           CASE WHEN bid IS NOT NULL
                     AND (fid IS NULL
                          OR epoch_us(e.ts) - bus <= fus - epoch_us(e.ts))
                THEN bid ELSE fid END AS nearest_purchase_id,
           CASE WHEN bid IS NOT NULL
                     AND (fid IS NULL
                          OR epoch_us(e.ts) - bus <= fus - epoch_us(e.ts))
                THEN epoch_us(e.ts) - bus
                WHEN fid IS NOT NULL THEN fus - epoch_us(e.ts) END
               AS us_to_purchase
    FROM events e
    LEFT JOIN b USING (event_id)
    LEFT JOIN f USING (event_id)
"""


@_register("asof_nearest_purchase", _ASOF_NEAREST_ORACLE)
def asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join — both directions at once: every event
    annotated with the temporally closest purchase by the same user,
    backward or forward, ties preferring the backward (already-seen)
    marker. This is the sensor-fusion/alignment direction the
    backward-only and forward-only entries can't express: "match each
    reading to the closest calibration sample", pandas merge_asof
    direction='nearest'.

    One shuffle serves BOTH directions: the same union + (ts, probe-
    flag) sort carries a backward frame (last marker ≤ ts) and a
    forward frame (first marker > ts) — two Window frames over one
    Exchange+Sort, then a projection picks the smaller time gap. The
    oracle runs DuckDB's native ASOF twice and reproduces the same
    tie rule. Scale posture matches the certified asof core: |probes| +
    |markers| rows through one hash partition on the key, output
    |probes| rows."""
    ev = load_table(spark, sf_dir, "events")
    markers = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("pid"))
        .withColumn("_m_us", F.unix_micros("ts"))
        .withColumn("_is_probe", F.lit(0))
    )
    probes = (
        ev.select("event_id", "user_id", "ts", "event_type")
        .withColumn("_is_probe", F.lit(1))
    )
    u = markers.unionByName(probes, allowMissingColumns=True)
    base = W.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("_is_probe").asc()
    )
    wb = base.rowsBetween(W.unboundedPreceding, W.currentRow)
    wf = base.rowsBetween(W.currentRow, W.unboundedFollowing)
    u = (
        u.withColumn("bid", F.last("pid", ignorenulls=True).over(wb))
        .withColumn("bus", F.last("_m_us", ignorenulls=True).over(wb))
        .withColumn("fid", F.first("pid", ignorenulls=True).over(wf))
        .withColumn("fus", F.first("_m_us", ignorenulls=True).over(wf))
    )
    eus = F.unix_micros("ts")
    back_wins = F.col("bid").isNotNull() & (
        F.col("fid").isNull() | ((eus - F.col("bus")) <= (F.col("fus") - eus))
    )
    return (
        u.filter(F.col("_is_probe") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.when(back_wins, F.col("bid"))
            .otherwise(F.col("fid"))
            .alias("nearest_purchase_id"),
            F.when(back_wins, eus - F.col("bus"))
            .when(F.col("fid").isNotNull(), F.col("fus") - eus)
            .alias("us_to_purchase"),
        )
    )


def _cogrouped_merge_asof(probes_pdf, markers_pdf):
    """Per-BUCKET pandas merge_asof (backward, exact matches allowed —
    the <= semantics of DuckDB ASOF JOIN and of the window-composition
    twin), keyed per user inside the bucket via ``by="user_id"``. Runs
    once per cogroup with both sides Arrow-delivered: bucketing the
    cogroup key instead of cogrouping raw user_ids amortizes the
    per-group Python/Arrow invocation over ~|users|/buckets keys while
    merge_asof's ``by`` argument keeps the match exactly per-user —
    bit-identical output for any bucket count."""
    import pandas as pd

    probes = probes_pdf.sort_values("ts", kind="mergesort")
    if len(probes) == 0:
        return probes.assign(last_purchase_id=pd.Series(dtype="Int64"))[
            ["event_id", "user_id", "ts", "event_type", "last_purchase_id"]
        ]
    if len(markers_pdf) == 0:
        out = probes.copy()
        out["last_purchase_id"] = pd.array([None] * len(out), dtype="Int64")
    else:
        markers = markers_pdf.sort_values("ts", kind="mergesort")[
            ["user_id", "ts", "last_purchase_id"]
        ]
        out = pd.merge_asof(
            probes, markers, on="ts", by="user_id", direction="backward"
        )
        out["last_purchase_id"] = out["last_purchase_id"].astype("Int64")
    return out[["event_id", "user_id", "ts", "event_type", "last_purchase_id"]]


@_register("asof_cogrouped_merge", _ASOF_ORACLE)
def asof_cogrouped_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join through the COGROUPED-MAP Python tier —
    groupBy().cogroup().applyInPandas, the last missing rung of the
    Python-execution ladder (scalar pandas_udf, grouped-agg UDAF,
    grouped-map, mapInPandas, UDTF, applyInPandasWithState are each
    certified elsewhere): both event and marker partitions for one
    user arrive as a pair of Arrow-backed pandas frames, and pandas
    merge_asof(direction='backward') computes the point-in-time match
    in-process. Certified against the SAME DuckDB ASOF LEFT JOIN
    oracle as the window-composition form (asof_last_purchase), so
    the two execution tiers are pinned value-identical — the JVM
    window form is the production path (one union shuffle, no Python
    boundary); this entry exists to certify the cogroup API for the
    cases that genuinely need per-key imperative pandas (model scoring
    against per-key history, stats libraries over aligned frames).

    Scale: cogroup shuffles BOTH inputs once — on a HASH BUCKET of
    user_id, not the raw key: per-user cogroups invoke the Python
    function once per user, and at ~3 ms of Arrow/pandas dispatch per
    invocation the per-group overhead dominates long before data volume
    does (measured 6.0 s -> ~1.5 s at sf0.1 moving |users| invocations
    to |buckets|). Inside a bucket pandas merge_asof(by='user_id')
    computes the identical per-user backward match over the
    ts-mergesorted frames, so the output is bit-identical for any
    bucket count. Buckets scale with cluster parallelism (4x
    defaultParallelism: enough splits to smooth key skew, each call
    big enough to amortize dispatch); per-bucket state is the bucket's
    history slice (the partition-memory bound every grouped pandas op
    carries — at 10⁹-event users, pre-aggregate or window instead,
    exactly what the twin does)."""
    ev = load_table(spark, sf_dir, "events")
    n_buckets = 4 * spark.sparkContext.defaultParallelism
    bucket = F.pmod(F.col("user_id"), F.lit(n_buckets)).alias("b")
    probes = ev.select(
        "event_id", "user_id", "ts", "event_type", bucket
    )
    markers = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("last_purchase_id"))
        .select("user_id", "ts", "last_purchase_id", bucket)
    )
    return (
        probes.groupBy("b")
        .cogroup(markers.groupBy("b"))
        .applyInPandas(
            _cogrouped_merge_asof,
            "event_id long, user_id long, ts timestamp, "
            "event_type string, last_purchase_id long",
        )
    )
