"""Batch-mode registrations of the event-time window operators
(streaming/windows.py) with DuckDB oracles — the same functions run in
streaming mode; these batch twins are what the driver's oracle can check
(FIXTURES.md: batch-equivalent GROUP BY time_bucket).

- tumbling is registered as `events_hourly_rollup` in relational.py
- sliding: each event expands to width/slide candidate windows — the
  oracle unnests the two containing window starts per event
- session: gaps-and-islands SQL is the oracle for session_window
  (new session when the gap from the previous event is >= the gap
  duration; Spark merges events strictly closer than the gap)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from user_feed_cdc_spark.registry import registry
from user_feed_cdc_spark.sources.tables import load_table
from user_feed_cdc_spark.streaming.windows import session_counts, sliding_counts

QUERIES, ORACLES, _register = registry()


def _r6(c):
    """Half-up micro-rounding (1e-6), the oracle-load-bearing freeze:
    FLOOR(x*1e6 + 0.5)/1e6 with the identical literal in every twin."""
    return F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0


@_register(
    "events_sliding_counts",
    """
    WITH g AS (
        SELECT event_type,
               make_timestamp((epoch_ms(ts) // 1800000) * 1800000 * 1000) AS grid,
               ts
        FROM events
    )
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM (
        SELECT UNNEST([grid, grid - INTERVAL 30 MINUTE]) AS window_start,
               event_type
        FROM g
    )
    GROUP BY window_start, event_type
    """,
)
def events_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h windows sliding every 30min over events (epoch-aligned, so each
    event is in exactly two windows: its 30-min grid point and the one
    before)."""
    ev = load_table(spark, sf_dir, "events")
    return sliding_counts(ev, "1 hour", "30 minutes")


_SESSION_STATS_ORACLE = """
    WITH seq AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    islands AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM seq
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM islands
    GROUP BY user_id, session_id
    """


@_register(
    "events_session_stats",
    _SESSION_STATS_ORACLE,
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute-gap sessions via session_window; the oracle is
    the classic gaps-and-islands formulation."""
    ev = load_table(spark, sf_dir, "events")
    return session_counts(ev, "30 minutes")


@_register(
    "events_attribution_join",
    """
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           c.ts AS click_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts < c.ts + INTERVAL 30 MINUTE
    """,
)
def events_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/windows.py::attribution_join — click →
    purchase attribution within a 30-minute horizon. The oracle certifies
    the interval-join logic here; test_streaming.py pins that the SAME
    function, fed two streams, produces identical pairs with
    watermark-bounded state."""
    from user_feed_cdc_spark.streaming.windows import attribution_join

    ev = load_table(spark, sf_dir, "events")
    return attribution_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon="30 minutes",
    )


@_register(
    "events_trending_users",
    """
    SELECT hour, user_id, n, rn FROM (
        SELECT date_trunc('hour', ts) AS hour, user_id, COUNT(*) AS n,
               ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                                  ORDER BY COUNT(*) DESC, user_id) AS rn
        FROM events GROUP BY 1, 2
    ) WHERE rn <= 3
    """,
)
def events_trending_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour heavy hitters: the top-3 most active users in every hour
    bucket (min-user_id tiebreak) — the 'trending' analytic of a feed
    product. Plan: one (hour, user) partial-agged groupBy, then a
    per-hour window where WindowGroupLimit caps each hour's rows at k
    before the final shuffle — at 100 TB the shuffle carries per-bucket
    counts, never events, and k·|hours| rows reach the window."""
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("hour").orderBy(F.col("n").desc(), "user_id")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@_register(
    "events_funnel_conversion",
    """
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'view' AND e.ts >= s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
           (SELECT COUNT(*) FROM s2) AS n_viewed,
           (SELECT COUNT(*) FROM s3) AS n_purchased
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → view → purchase): how many users reach
    each step IN ORDER (a later step only counts at/after the earliest
    time the previous step was reached; same-timestamp progression
    counts, mirroring the oracle's `ts >= t_prev`).

    Spark-first shape: instead of one self-join per funnel step (k-1
    shuffles of the full event table, the naive SQL translation), each
    user's (ts, step) pairs are collected once and a higher-order
    `aggregate` walks them in (ts, step-rank) order advancing a stage
    counter — ONE shuffle on user_id total, JVM-side lambdas, and the
    shuffled payload is the projected (ts, rank) pairs, not events.
    Per-user state is one int; skew ceiling is a user's event count
    (bounded by retention in practice). The step list generalizes to
    any k without adding shuffles."""
    ev = load_table(spark, sf_dir, "events")
    rank = (
        F.when(F.col("event_type") == "signup", 0)
        .when(F.col("event_type") == "view", 1)
        .otherwise(2)
    )
    steps = ev.filter(
        F.col("event_type").isin("signup", "view", "purchase")
    ).select("user_id", F.struct("ts", rank.alias("rk")).alias("e"))
    stage = F.aggregate(
        F.array_sort(F.collect_list("e")),
        F.lit(0),
        lambda acc, e: (
            F.when((acc == 0) & (e.rk == 0), 1)
            .when((acc == 1) & (e.rk == 1), 2)
            .when((acc == 2) & (e.rk == 2), 3)
            .otherwise(acc)
        ),
    )
    stages = steps.groupBy("user_id").agg(stage.alias("stage"))
    return stages.agg(
        F.sum((F.col("stage") >= 1).cast("long")).alias("n_signup"),
        F.sum((F.col("stage") >= 2).cast("long")).alias("n_viewed"),
        F.sum((F.col("stage") >= 3).cast("long")).alias("n_purchased"),
    )


_RETENTION_ORACLE = """
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT a.day,
           COUNT(*) AS n_active,
           COUNT(b.user_id) AS n_retained
    FROM active a
    LEFT JOIN active b
      ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY
    GROUP BY a.day
"""


@_register("events_daily_retention", _RETENTION_ORACLE)
def events_daily_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retention cohorts: for each activity day, how many
    distinct users were active and how many of them returned the next
    day — the D1-retention rollup every product-analytics pipeline
    materializes. One distinct on (user, day) collapses the event
    stream to ≤ users x days rows BEFORE the self-join, so the join
    input is cohort-sized, not event-sized; the join is an equi-join on
    (user, next-day) — hash-partitionable, no interval predicate. At
    100 TB the distinct is the only event-volume shuffle and it partial-
    aggregates map-side. Integer outputs only — nothing to round."""
    active = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    nxt = active.select(
        "user_id", F.date_sub("day", 1).alias("day"), F.lit(1).alias("_ret")
    )
    return (
        active.join(nxt, ["user_id", "day"], "left")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.count("_ret").alias("n_retained"),
        )
    )


_COHORT_ORACLE = """
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    first_seen AS (
        SELECT user_id, MIN(day) AS cohort_day FROM active GROUP BY user_id
    )
    SELECT f.cohort_day,
           CAST(a.day - f.cohort_day AS BIGINT) AS day_offset,
           COUNT(*) AS n_users
    FROM active a JOIN first_seen f USING (user_id)
    WHERE a.day - f.cohort_day <= 7
    GROUP BY f.cohort_day, day_offset
"""


@_register("events_cohort_matrix", _COHORT_ORACLE)
def events_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch cohort retention matrix: users grouped by the day
    they first appeared (the acquisition cohort), counted on each
    subsequent active day up to a week out — the triangle chart behind
    every retention dashboard, and the companion to the pairwise
    events_daily_retention. Two cohort-sized shuffles: min(day) per
    user, then a user-keyed join back onto the distinct (user, day)
    stream — the event stream itself is collapsed before anything
    joins. Integer outputs only."""
    active = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    first_seen = active.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    offs = (
        active.join(first_seen, "user_id")
        .select("cohort_day", F.datediff("day", "cohort_day").alias("day_offset"))
        .filter(F.col("day_offset") <= 7)
    )
    return offs.groupBy("cohort_day", F.col("day_offset").cast("long").alias("day_offset")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


@_register(
    "events_rfm_segments",
    """
    WITH per AS (
        SELECT user_id,
               COUNT(*) AS frequency,
               FLOOR(SUM(value) * 100.0 + 0.5) / 100.0 AS monetary,
               MAX(ts) AS last_purchase
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    med AS (
        SELECT quantile_cont(frequency, 0.5) AS med_f,
               quantile_cont(monetary, 0.5) AS med_m
        FROM per
    )
    SELECT user_id, frequency, monetary, last_purchase,
           CASE WHEN frequency >= med_f AND monetary >= med_m THEN 'core'
                WHEN frequency >= med_f THEN 'frequent'
                WHEN monetary >= med_m THEN 'big_basket'
                ELSE 'casual' END AS segment
    FROM per, med
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary — the classic
    customer-analytics rollup a feed product runs weekly): per
    purchasing user, purchase count, rounded spend, last-purchase time,
    and a segment label from median splits on frequency and spend.
    Medians are computed over the per-user aggregates (one 1-row frame)
    and BROADCAST back — the tfidf/corpus-scalar pattern — so the plan
    is one shuffle on user_id, one tiny agg, one map-side CASE: no
    second shuffle, no single-partition window (an ntile() over all
    users would be exactly the unbounded window this repo plan-gates
    against). Spend is rounded half-up BEFORE the median so both
    engines interpolate over identical doubles."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    per = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("frequency"),
            r2(F.sum("value")).alias("monetary"),
            F.max("ts").alias("last_purchase"),
        )
    )
    med = per.agg(
        F.expr("percentile(frequency, 0.5)").alias("med_f"),
        F.expr("percentile(monetary, 0.5)").alias("med_m"),
    )
    seg = (
        F.when(
            (F.col("frequency") >= F.col("med_f"))
            & (F.col("monetary") >= F.col("med_m")),
            "core",
        )
        .when(F.col("frequency") >= F.col("med_f"), "frequent")
        .when(F.col("monetary") >= F.col("med_m"), "big_basket")
        .otherwise("casual")
    )
    return per.join(F.broadcast(med)).select(
        "user_id", "frequency", "monetary", "last_purchase", seg.alias("segment")
    )


_HIST_BUCKETS = 10


@_register(
    "events_value_histogram",
    f"""
    WITH bounds AS (
        SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
    )
    SELECT LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / {_HIST_BUCKETS}.0))
                      AS BIGINT), {_HIST_BUCKETS - 1}) AS bucket,
           COUNT(*) AS n,
           FLOOR(MIN(value) * 10000.0 + 0.5) / 10000.0 AS bucket_min,
           FLOOR(MAX(value) * 10000.0 + 0.5) / 10000.0 AS bucket_max
    FROM events, bounds
    GROUP BY 1
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram: global min/max (one tiny agg,
    BROADCAST back as a 1-row frame) define {10} equal buckets; every
    event maps to its bucket in the scan projection and one groupBy
    rolls up count + actual per-bucket extrema. The bucket arithmetic
    keeps the identical float operation order on both engines, so even
    edge-of-bucket assignments hash-match. At 100 TB this is the
    profile pass before choosing range-partition bounds or building
    equi-width monitoring distributions — two scans total (bounds +
    histogram), both full-parallel, shuffle bounded by bucket count."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    bucket = F.least(
        F.floor(
            (F.col("value") - F.col("lo"))
            / ((F.col("hi") - F.col("lo")) / float(_HIST_BUCKETS))
        ).cast("long"),
        F.lit(_HIST_BUCKETS - 1),
    )
    return (
        ev.join(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            r2(F.min("value"), 4).alias("bucket_min"),
            r2(F.max("value"), 4).alias("bucket_max"),
        )
    )


@_register(
    "events_anomaly_zscore",
    """
    WITH stats AS (
        SELECT event_type,
               FLOOR(SUM(value) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS mu,
               FLOOR(sqrt((SUM(value * value) - SUM(value) * SUM(value)
                           / COUNT(*)) / (COUNT(*) - 1)) * 10000.0 + 0.5)
                   / 10000.0 AS sd
        FROM events
        GROUP BY event_type
    )
    SELECT event_id, e.event_type,
           FLOOR((value - mu) / sd * 10000.0 + 0.5) / 10000.0 AS z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    ORDER BY ABS(FLOOR((value - mu) / sd * 10000.0 + 0.5) / 10000.0) DESC,
             event_id
    LIMIT 20
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection: top-20 events by |standard score|
    within their event_type. The variance is computed EXPLICITLY from
    (Σv, Σv², n) with the identical operation order in both engines —
    native stddev implementations differ (Welford vs naive) in their
    float paths, so the naive two-pass formula IS the cross-engine
    contract here — and mean/sd are rounded before the per-row score so
    partition-order ULP noise in the sums can't reach the output. Plan:
    one partial-agged groupBy for stats, broadcast back (5 rows), score
    in the scan projection, TakeOrderedAndProject for the top-20 — the
    monitoring query a pipeline runs per ingest batch at any scale."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.sum("value").alias("_s"),
        F.sum(F.col("value") * F.col("value")).alias("_ss"),
        F.count(F.lit(1)).alias("_n"),
    )
    stats = stats.select(
        "event_type",
        r2(F.col("_s") / F.col("_n"), 4).alias("mu"),
        r2(
            F.sqrt(
                (F.col("_ss") - F.col("_s") * F.col("_s") / F.col("_n"))
                / (F.col("_n") - 1)
            ),
            4,
        ).alias("sd"),
    )
    z = r2((F.col("value") - F.col("mu")) / F.col("sd"), 4)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", z.alias("z"))
        .orderBy(F.abs(F.col("z")).desc(), "event_id")
        .limit(20)
    )


@_register(
    "events_markov_transitions",
    """
    WITH seq AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM events
    ),
    c AS (
        SELECT from_type, to_type, COUNT(*) AS n
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           FLOOR(n / SUM(n) OVER (PARTITION BY from_type) * 1000000.0
                 + 0.5) / 1000000.0 AS p
    FROM c
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event_type | current event_type) — the
    sequence-modeling rollup behind next-action prediction features and
    behavioral-drift monitors. LEAD over (user_id, ts, event_id) pairs
    each event with its successor (event_id breaks equal-ts ties, so the
    sequence is total-ordered and engine-exact); one groupBy counts each
    (from, to) edge; the row-conditional probability normalizes by the
    from-type total via a window SUM over the tiny transition table.

    Scale: ONE shuffle on user_id orders every user's history (the same
    partitioning the session/attribution family rides); the transition
    table after the count is |event_types|² rows, so the normalizing
    window and everything after it is driver-trivial no matter the
    corpus size. The probability divides two exact integers in one float
    op, rounded half-up at 6 — bit-stable across engines."""
    from user_feed_cdc_spark.functions.numeric import round_half_up

    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = F.sum("n").over(W.partitionBy("from_type"))
    return counts.select(
        "from_type",
        "to_type",
        "n",
        round_half_up(F.col("n") / tot, 6).alias("p"),
    )


@_register(
    "events_activity_streaks",
    """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    islands AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY day
               ) AS INT) AS island
        FROM days
    )
    SELECT user_id,
           MAX(streak_len) AS longest_streak,
           COUNT(*) AS n_streaks
    FROM (
        SELECT user_id, island, COUNT(*) AS streak_len
        FROM islands GROUP BY user_id, island
    )
    GROUP BY user_id
    """,
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands pattern (the retention/engagement feature next to
    the cohort family): collapse events to distinct (user, day), then
    ``day - row_number()`` is constant exactly within a run of
    consecutive days (both advance by 1), so grouping on that island
    key measures every streak with NO self-join and NO per-day window
    walk. Two cheap aggregations after the collapse.

    Scale: the distinct-(user, day) collapse happens FIRST (the
    events_daily_retention treatment), shrinking event volume to
    at-most users×days rows before any window; everything downstream
    shuffles on user_id once and the island arithmetic is a scan-stage
    projection. Integer day arithmetic is engine-exact."""
    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    island = F.date_sub(
        "day", F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    )
    streaks = (
        days.withColumn("island", island)
        .groupBy("user_id", "island")
        .agg(F.count(F.lit(1)).alias("streak_len"))
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@_register(
    "events_daily_spine",
    """
    WITH bounds AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
        FROM events
    ),
    spine AS (
        SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
            AS day
        FROM bounds
    ),
    daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
               COUNT(DISTINCT user_id) AS u
        FROM events GROUP BY 1
    )
    SELECT s.day,
           COALESCE(d.n, 0) AS n_events,
           COALESCE(d.u, 0) AS n_users,
           d.n IS NULL AS is_gap
    FROM spine s LEFT JOIN daily d USING (day)
    """,
)
def events_daily_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine densification — the monitoring/gap-detection
    primitive every ingestion pipeline needs: generate EVERY day
    between the corpus's first and last event (sequence over the
    broadcast min/max bounds) and left-join the per-day rollup, so
    days with ZERO events appear as explicit gap rows instead of
    silently missing — a groupBy alone cannot distinguish 'no data
    arrived' from 'no row emitted', which is exactly the failure an
    ingestion monitor exists to catch.

    Scale: the spine is days-sized (tiny at any corpus scale) and
    generated from a 1-row broadcast bounds aggregate; the daily
    rollup is one shuffle on the day key with map-side partials;
    the densifying join is broadcast. Date arithmetic is
    integer-exact on both engines."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("u")
    )
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.coalesce("u", F.lit(0)).alias("n_users"),
        F.col("n").isNull().alias("is_gap"),
    )


@_register(
    "streaming_hourly_rollup_live",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_hourly_rollup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A LIVE Structured Streaming run under the oracle hash gate — not
    a batch twin: the events parquet replays as a file stream
    (maxFilesPerTrigger=1), the SAME tumbling_counts used by the
    streaming pipeline aggregates it with a 10-minute watermark, an
    availableNow trigger drains the backlog through the memory sink,
    and the materialized sink table is what the driver hashes against
    the batch SQL. Batch-stream equivalence holds exactly here because
    the replay is one file -> one micro-batch, so no row can arrive
    behind the watermark; with multi-file replays the same query drops
    late data — the semantics tests/test_streaming.py pins.

    At 100 TB this is the nightly-replay/backfill shape: availableNow
    processes a bounded backlog with streaming semantics (watermarks,
    state eviction, exactly-once sink batches) and shuts down —
    the same code that runs the 24/7 pipeline, certified against the
    batch oracle instead of trusted by analogy."""
    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
        run_to_memory,
        tumbling_counts,
    )

    src = events_stream_dir(sf_dir)
    stream = events_file_stream(spark, src)
    agg = tumbling_counts(stream, "1 hour", watermark="10 minutes")
    return run_to_memory(
        spark, agg, "streaming_hourly_rollup_live_sink", "complete",
        src_paths=(src,),
    )


@_register(
    "streaming_session_stats_live",
    _SESSION_STATS_ORACLE,
)
def streaming_session_stats_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATEFUL-MERGE streaming operator live under the oracle gate:
    session_window aggregation — where the streaming engine must MERGE
    adjacent session state as events arrive, not just accumulate a
    keyed counter — replayed over the events file stream in complete
    mode and drained with availableNow into the memory sink; the
    materialized sessions are value-hashed against the gaps-and-islands
    SQL. Complete mode needs no watermark (session state is re-emitted
    each trigger), which is exactly what makes the single-batch replay
    equal the batch run; the watermarked append form and its late-data
    drops are pinned by tests/test_streaming.py. Together with
    streaming_hourly_rollup_live this certifies both streaming
    aggregation families — fixed windows and merging windows — by
    driver hash, not analogy."""
    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
        run_to_memory,
        session_counts,
    )

    src = events_stream_dir(sf_dir)
    stream = events_file_stream(spark, src)
    agg = session_counts(stream, "30 minutes")
    return run_to_memory(
        spark, agg, "streaming_session_stats_live_sink", "complete",
        src_paths=(src,),
    )


@_register(
    "streaming_dedup_live",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def streaming_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup state live under the oracle gate — the third
    streaming operator family after fixed and merging windows: the
    events file stream passes through dropDuplicates on
    (user_id, event_type), availableNow drains it through the memory
    sink in append mode, and the surviving key set is hashed against
    SELECT DISTINCT. dropDuplicatesWithinWatermark is the form whose
    state ACTUALLY evicts: plain dropDuplicates only expires state when
    the event-time column is part of the dedup key, so on an open
    keyspace it grows forever — the WithinWatermark variant guarantees
    exact dedup for duplicates closer than the delay threshold and
    at-least-once beyond it, holding state to one entry per key seen
    within the horizon. The single-batch replay here makes that
    contract coincide with exact DISTINCT (all duplicates share the
    batch). Only the KEYS are emitted: which physical row survives
    depends on partition arrival order, so the key set is the
    deterministic — and therefore certifiable — contract."""
    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
        run_to_memory,
    )

    src = events_stream_dir(sf_dir)
    stream = events_file_stream(spark, src)
    deduped = (
        stream.withWatermark("ts", "10 minutes")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(
        spark, deduped, "streaming_dedup_live_sink", src_paths=(src,)
    )


@_register(
    "streaming_hourly_users_live",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_5pct
    FROM events
    GROUP BY 1
    """,
)
def streaming_hourly_users_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per hour, LIVE in streaming — the operator batch
    code can't port directly: COUNT(DISTINCT) is illegal in a
    streaming aggregation (its state is unmergeable), so the streaming
    form is approx_count_distinct, whose HLL++ state merges across
    micro-batches (rsd=0.01: sparse-mode exact through the small
    early-morning windows; rsd=0.02 already misses the 5% bound on the
    n=10 window at sf0.01, measured). The live run drains through the memory sink, then a
    BATCH join against the exact per-hour distinct certifies the
    estimate to ±5% under the hash gate — the sketch error-bound
    pattern (sketch_distinct_users_bounded) applied to a live
    streaming execution. At 100 TB this is the standing dashboard
    query: mergeable sketch state per open window, finalized by the
    watermark, with the error contract certified instead of assumed."""
    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
        run_to_memory,
    )

    src = events_stream_dir(sf_dir)
    stream = events_file_stream(spark, src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", 0.01).alias("_approx"))
        .select(F.col("w.start").alias("window_start"), "_approx")
    )
    live = run_to_memory(
        spark, agg, "streaming_hourly_users_live_sink", "complete",
        src_paths=(src,),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    joined = live.join(exact, "window_start")
    within = (
        F.abs(F.col("_approx") - F.col("exact_users")) / F.col("exact_users")
        <= 0.05
    )
    return joined.select(
        "window_start", "exact_users", within.alias("within_5pct")
    )


@_register(
    "streaming_enrich_join_live",
    """
    SELECT date_trunc('hour', e.ts) AS window_start,
           c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_events,
           FLOOR(SUM(e.value) * 100.0 + 0.5) / 100.0 AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_enrich_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC enrichment join live under the oracle gate — the
    fourth streaming family after fixed windows, merging windows, and
    dedup state: each micro-batch of the events file stream joins a
    static dimension (customer: user_id = c_custkey) BEFORE the
    windowed aggregation, the enrichment-then-rollup shape of every
    production metrics pipeline. Stream-static joins are stateless —
    the static side is planned per micro-batch (broadcast here, a
    1500-row dim), no join state accumulates, and the watermark governs
    only the downstream window state; that statelessness is why this
    form scales to a 100 TB stream against a dimension table where a
    stream-stream join would need unbounded state on the static side.
    availableNow drains the backlog through the memory sink in complete
    mode and the materialized rollup is value-hashed against the batch
    join SQL. Segment totals use the FLOOR half-up contract so the
    cross-engine float paths agree."""
    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
        run_to_memory,
    )

    src = events_stream_dir(sf_dir)
    stream = events_file_stream(spark, src)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream.withWatermark("ts", "10 minutes").join(
        F.broadcast(dim), "user_id"
    )
    agg = (
        enriched.groupBy(
            F.window("ts", "1 hour").alias("w"), "c_mktsegment"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * 100.0 + F.lit(0.5)) / 100.0).alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("c_mktsegment").alias("mktsegment"),
            "n_events",
            "total_value",
        )
    )
    return run_to_memory(
        spark, agg, "streaming_enrich_join_live_sink", "complete",
        src_paths=(src,),
    )


@_register(
    "events_groupmap_ranks",
    """
    SELECT user_id, event_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY value DESC, event_id
           ) AS BIGINT) AS value_rank,
           CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
    FROM events
    WHERE user_id < 40
    """,
)
def events_groupmap_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED-MAP applyInPandas, VALUE-EXACT under the oracle gate —
    the last rung of the Python-execution ladder (scalar pandas_udf,
    UDTF, mapInPandas, applyInPandasWithState are each certified
    elsewhere): per-user dense event ranking by (value DESC, event_id)
    computed with pandas sort_values inside each group, certified
    row-identical against the ROW_NUMBER window twin. Integer outputs
    only — ranks and counts — so there is no float path to drift.

    The point is the CONTRACT, not the ranking (the built-in window
    IS the right tool for this query — see window_rank_family): when a
    per-group computation genuinely needs imperative pandas (scipy
    fits, model scoring), applyInPandas is the tier that receives each
    group as one DataFrame, and this entry pins its semantics — one
    group per key, Arrow-batched both ways, deterministic within-group
    order imposed explicitly (never assumed from shuffle order). Scale
    caveat documented: a group must fit one executor's memory — keys
    here are users (bounded events each); a hot key needs salting or
    the built-in window instead."""
    import pandas as pd

    ev = (
        load_table(spark, sf_dir, "events")
        # bounded slice by contract (the UDTF-entry convention): the
        # certification needs the tier's semantics pinned, not the full
        # corpus pushed through Python serialization
        .filter(F.col("user_id") < 40)
        .select("user_id", "event_id", "value")
    )

    def rank_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["value", "event_id"], ascending=[False, True]
        ).reset_index(drop=True)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "value_rank": range(1, len(pdf) + 1),
                "n_events": len(pdf),
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        rank_group,
        "user_id long, event_id long, value_rank long, n_events long",
    )


_WILSON_Z = 1.96  # 95% two-sided
_WILSON_Z2 = 3.8416  # z², exactly 1.96² — same literal in both engines

_WILSON_ORACLE = """
    WITH agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM events GROUP BY event_type
    )
    SELECT event_type, n, k,
           FLOOR(k * 1.0 / n * 1000000.0 + 0.5) / 1000000.0 AS rate,
           FLOOR(((k * 1.0 / n + 3.8416 / (2.0 * n)
                   - 1.96 * sqrt((k * 1.0 / n * (1.0 - k * 1.0 / n)
                                  + 3.8416 / (4.0 * n)) / n))
                  / (1.0 + 3.8416 / n)) * 1000000.0 + 0.5) / 1000000.0
               AS wilson_lo,
           FLOOR(((k * 1.0 / n + 3.8416 / (2.0 * n)
                   + 1.96 * sqrt((k * 1.0 / n * (1.0 - k * 1.0 / n)
                                  + 3.8416 / (4.0 * n)) / n))
                  / (1.0 + 3.8416 / n)) * 1000000.0 + 0.5) / 1000000.0
               AS wilson_hi
    FROM agg
"""


@_register("events_conversion_wilson_ci", _WILSON_ORACLE)
def events_conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment conversion rate WITH a 95% Wilson score interval —
    the uncertainty-aware form of every dashboard rate metric, and the
    interval that stays valid at small n and extreme rates where the
    naive normal approximation lies (the reason A/B platforms ship
    Wilson or Jeffreys, not ±1.96·SE). Conversion here = value > 50.

    Everything reduces to one groupBy producing exact integer (n, k)
    per segment — the interval is a pure per-row projection from those
    two bigints, written with IDENTICAL literals and operation order in
    both engines (z=1.96, z²=3.8416 exactly), so the floats agree at
    the 1e-6 gate without any accumulation-order exposure. At 100 TB
    the cost IS the count: map-side partials, |segments| output rows,
    the CI math free."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") > 50.0, 1).otherwise(0)).alias("k"),
    )
    n, k = F.col("n"), F.col("k")
    p = k * 1.0 / n
    half = _WILSON_Z * F.sqrt((p * (1.0 - p) + _WILSON_Z2 / (4.0 * n)) / n)
    center = p + _WILSON_Z2 / (2.0 * n)
    denom = 1.0 + _WILSON_Z2 / n
    return agg.select(
        "event_type",
        "n",
        "k",
        _r6(p).alias("rate"),
        _r6((center - half) / denom).alias("wilson_lo"),
        _r6((center + half) / denom).alias("wilson_hi"),
    )


_COOCCUR_ORACLE = """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    totals AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
               FROM ut GROUP BY event_type),
    n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_all FROM events),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM ut a JOIN ut b ON a.user_id = b.user_id
                           AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.support,
           FLOOR(p.support * 1.0 / ta.n_users * 1000000.0 + 0.5) / 1000000.0
               AS confidence_a_to_b,
           FLOOR((p.support * 1.0 / n.n_all)
                 / ((ta.n_users * 1.0 / n.n_all) * (tb.n_users * 1.0 / n.n_all))
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM pairs p
    JOIN totals ta ON p.type_a = ta.event_type
    JOIN totals tb ON p.type_b = tb.event_type
    CROSS JOIN n
"""


@_register("events_type_cooccurrence", _COOCCUR_ORACLE)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise event-type co-occurrence with support / confidence /
    lift — the market-basket association triple (the 2-itemset core of
    Apriori/FP-growth) over the per-user behavior basket: which
    activity types travel together, and is the pairing more than
    chance (lift > 1)?

    Shape at scale: the ONLY per-row work is the distinct (user, type)
    collapse — event volume compresses to ≤|types| rows per user
    BEFORE the pair join, so the self-join on user_id fans out to at
    most C(|types|, 2) = 10 pairs per user here (bounded by the type
    vocabulary, not by traffic). Type totals are a |types|-row
    broadcast; lift's float path is identical-order in both engines
    over exact bigint counts. The canonical wrong plan — pairing raw
    events — explodes quadratically in per-user volume; pairing the
    distinct basket is the standard fix."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    totals = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    n_all = ev.agg(
        F.countDistinct("user_id").alias("n_all")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    ta = totals.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("na")
    )
    tb = totals.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("nb")
    )
    sup = F.col("support")
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .join(F.broadcast(n_all))
        .select(
            "type_a",
            "type_b",
            "support",
            _r6(sup * 1.0 / F.col("na")).alias("confidence_a_to_b"),
            _r6(
                (sup * 1.0 / F.col("n_all"))
                / (
                    (F.col("na") * 1.0 / F.col("n_all"))
                    * (F.col("nb") * 1.0 / F.col("n_all"))
                )
            ).alias("lift"),
        )
    )


_LAG_FEATURES_ORACLE = """
    WITH ordered AS (
        SELECT user_id, event_id, ts,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events
    )
    SELECT user_id, event_id,
           LAG(cents, 1) OVER w AS lag1_cents,
           LAG(cents, 2) OVER w AS lag2_cents,
           LAG(cents, 3) OVER w AS lag3_cents,
           CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
                AS BIGINT) AS prev3_sum_cents,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
                AS BIGINT) AS prev3_n
    FROM ordered
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@_register("events_lag_features", _LAG_FEATURES_ORACLE)
def events_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-feature frame generation — the feature-engineering pass that
    turns an event stream into supervised-learning rows: per user in
    (ts, event_id) order, the previous three values plus the
    trailing-3 sum/count (the rolling-mean numerator/denominator, kept
    as exact integers so the frame is engine-exact; the model divides).
    Every sequence model and gradient-boosted churn/uplift pipeline
    starts with exactly this wide frame.

    The event_id tiebreak makes LAG deterministic under duplicate
    timestamps — the classic silent bug in lag features. ONE shuffle on
    user_id serves all five window expressions (same partition + order
    → one Window node, one sort); values are frozen to cents BEFORE
    windowing so no float accumulation crosses rows. At 100 TB this is
    a single sorted pass per user partition, output 1:1 with input."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    base = ev.select("user_id", "event_id", "ts", cents.alias("cents"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wr = w.rowsBetween(-3, -1)
    return base.select(
        "user_id",
        "event_id",
        F.lag("cents", 1).over(w).alias("lag1_cents"),
        F.lag("cents", 2).over(w).alias("lag2_cents"),
        F.lag("cents", 3).over(w).alias("lag3_cents"),
        F.sum("cents").over(wr).alias("prev3_sum_cents"),
        F.count(F.lit(1)).over(wr).alias("prev3_n"),
    )


_MULTITOUCH_ORACLE = """
    WITH purchases AS (
        SELECT event_id AS purchase_id, user_id, ts AS pts
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT event_id AS touch_id, user_id, ts AS tts, event_type
        FROM events WHERE event_type <> 'purchase'
    ),
    matched AS (
        SELECT p.purchase_id, t.touch_id, t.event_type,
               CAST(COUNT(*) OVER (PARTITION BY p.purchase_id) AS BIGINT)
                   AS n_touches
        FROM purchases p
        JOIN touches t
          ON p.user_id = t.user_id
         AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL 30 MINUTE
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(CAST(FLOOR(1000000.0 / n_touches + 0.5) AS BIGINT))
                AS BIGINT) AS credit_micro
    FROM matched GROUP BY event_type
"""


@_register("events_multitouch_attribution", _MULTITOUCH_ORACLE)
def events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution: every purchase splits one unit
    of credit equally across the same user's touches in the preceding
    30 minutes, rolled up per channel (event_type) — the multi-touch
    generalization of events_attribution_join's last-touch interval
    join, and the batch twin of the stream-stream form. Credit
    fractions are frozen to integer micro-units per (purchase, touch)
    BEFORE the channel rollup, so the split sums are exact bigints.

    Plan: a user-keyed equi-join carries the interval as a residual
    range predicate (per-user fan-out bounded by touches-per-window,
    never quadratic in traffic), one purchase-partitioned window counts
    the split denominator, one groupBy closes. The same watermark
    bounds make this incremental in streaming form."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("pts"),
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("ts").alias("tts"),
        "event_type",
    )
    matched = (
        purchases.join(touches, "user_id")
        .filter(
            (F.col("tts") < F.col("pts"))
            & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 30 MINUTES"))
        )
        .select(
            "purchase_id",
            "event_type",
            F.count(F.lit(1))
            .over(W.partitionBy("purchase_id"))
            .alias("n_touches"),
        )
    )
    credit = F.floor(1000000.0 / F.col("n_touches") + F.lit(0.5)).cast("long")
    return matched.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum(credit).alias("credit_micro"),
    )


_MAD_ORACLE = """
    WITH c AS (
        SELECT event_type,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    med AS (SELECT event_type, median(cents) AS med FROM c GROUP BY event_type)
    SELECT c.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           median(abs(c.cents - m.med)) AS mad_cents
    FROM c JOIN med m ON c.event_type = m.event_type
    GROUP BY c.event_type
"""


@_register("events_grouped_agg_mad", _MAD_ORACLE)
def events_grouped_agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED-AGG pandas_udf (the vectorized UDAF tier), VALUE-EXACT
    under the oracle gate: per event_type, the median absolute
    deviation of value-cents computed with numpy inside a
    PandasUDFType.GROUPED_AGG function — the robust dispersion measure
    (outlier-resistant where stddev is not) that has no Spark built-in,
    which is precisely when this tier earns its cost. Completes the
    Python-execution matrix: scalar pandas_udf, grouped-agg pandas_udf,
    UDTF, mapInPandas, applyInPandas, applyInPandasWithState — all six
    now certified.

    Exactness without integer freezing: inputs are exact integer cents,
    numpy's median and DuckDB's median are both the interpolated
    50th percentile, and every intermediate (x.5 midpoints, absolute
    differences) is an exact binary fraction — verified bit-equal.
    Plan: the UDAF participates in a real hash aggregation (partial
    Arrow batches per group per partition would break median, so Spark
    routes GROUPED_AGG through a full shuffle on the key — the
    documented cost vs mergeable built-ins; for 100 TB-safe dispersion
    use approx_percentile-based MAD, certified in the sketch family)."""
    # UDAFs live in functions/udafs.py: that module keeps REAL type
    # hints (no future-annotations stringification), which is what
    # lets pandas_udf infer GROUPED_AGG from the Series -> scalar
    # signature instead of the deprecated PandasUDFType enum
    from user_feed_cdc_spark.functions.udafs import mad_cents, n_rows

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    return (
        ev.select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            n_rows("cents").alias("n"),
            mad_cents("cents").alias("mad_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution-shape profiling: higher moments, correlation, IQR fences
# ---------------------------------------------------------------------------

_MOMENTS_ORACLE = """
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(u) AS BIGINT) AS s1,
               CAST(SUM(u * u) AS BIGINT) AS s2,
               CAST(SUM(u * u * u) AS BIGINT) AS s3,
               CAST(SUM(u * u * u * u) AS BIGINT) AS s4,
               CAST(MIN(u) AS BIGINT) AS u_min,
               CAST(MAX(u) AS BIGINT) AS u_max
        FROM (SELECT event_type,
                     CAST(FLOOR(value + 0.5) AS BIGINT) AS u
              FROM events)
        GROUP BY event_type
    )
    SELECT event_type, n,
           FLOOR((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_units,
           FLOOR(((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
                   - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                   + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                  / pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                        - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                              * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)),
                        1.5))
                 * 1000000.0 + 0.5) / 1000000.0 AS skewness,
           FLOOR(((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
                   - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
                   + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                   - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                  / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                     * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                        - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                              * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
                  - 3.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS excess_kurtosis
    FROM s
    WHERE n >= 2 AND u_min < u_max
"""


@_register("events_moment_profile", _MOMENTS_ORACLE)
def events_moment_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment distribution profiling per event_type: mean,
    SKEWNESS and EXCESS KURTOSIS — the shape statistics a data-quality
    pass reads before choosing normalizations (a kurtosis spike says
    heavy tails → winsorize; skew says log-transform). Spark's native
    skewness()/kurtosis() are float-accumulation-order-dependent
    (undeterministic across partitionings AND engines), so the operator
    builds the raw power sums Σu..Σu⁴ as EXACT BIGINTs over whole-unit
    values (the anomaly-zscore trick, two moments up) and evaluates the
    classic raw→central conversions in fp64 with IDENTICAL op order in
    both engines — bit-equal inputs + identical correctly-rounded ops =
    hash-equal statistics, no tolerance needed.

    Headroom contract: u ≤ 561 (testdata pin) → u⁴ < 10^11, so Σu⁴
    stays under 2^63 to ~10^7 rows per group; beyond that, switch the
    accumulator to DECIMAL(38,0) (same plan, wider partial state) or
    split Σu⁴ per day and merge. One shuffle (map-side partials), five
    output rows."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events")
    u = F.floor(F.col("value") + F.lit(0.5)).cast("long")
    s = ev.select("event_type", u.alias("u")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("u").alias("s1"),
        F.sum(F.col("u") * F.col("u")).alias("s2"),
        F.sum(F.col("u") * F.col("u") * F.col("u")).alias("s3"),
        F.sum(F.col("u") * F.col("u") * F.col("u") * F.col("u")).alias("s4"),
        F.min("u").alias("u_min"),
        F.max("u").alias("u_max"),
    )
    # degenerate-group guard (the zipf n>=2 lesson, r07 ADVICE): a
    # zero-variance group makes m2 exactly 0 and the skew/kurtosis
    # divisions NaN, where the engines' FLOOR-of-NaN normalization
    # diverges — skip such groups in BOTH engines via the EXACT
    # integer test min(u) < max(u) (⟺ variance > 0), which unlike
    # n·Σu² > (Σu)² can never itself overflow
    s = s.filter((F.col("n") >= 2) & (F.col("u_min") < F.col("u_max")))
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    m2 = F.col("s2").cast("double") / nd - mean * mean
    m3 = (
        F.col("s3").cast("double") / nd
        - F.lit(3.0) * mean * (F.col("s2").cast("double") / nd)
        + F.lit(2.0) * mean * mean * mean
    )
    m4 = (
        F.col("s4").cast("double") / nd
        - F.lit(4.0) * mean * (F.col("s3").cast("double") / nd)
        + F.lit(6.0) * mean * mean * (F.col("s2").cast("double") / nd)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    return s.select(
        "event_type",
        "n",
        r2(mean, 6).alias("mean_units"),
        r2(m3 / F.pow(m2, F.lit(1.5)), 6).alias("skewness"),
        r2(m4 / (m2 * m2) - F.lit(3.0), 6).alias("excess_kurtosis"),
    )


_CORR_ORACLE = """
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(MIN(x) AS BIGINT) AS x_min,
               CAST(MAX(x) AS BIGINT) AS x_max,
               CAST(MIN(y) AS BIGINT) AS y_min,
               CAST(MAX(y) AS BIGINT) AS y_max
        FROM (SELECT event_type,
                     CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS x,
                     CAST(EXTRACT(hour FROM ts) AS BIGINT) AS y
              FROM events)
        GROUP BY event_type
    )
    SELECT event_type, n,
           FLOOR(((CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
                  / (sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                          - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                                * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                     * sqrt(CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
                            - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                                  * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))))
                 * 1000000.0 + 0.5) / 1000000.0 AS pearson_r
    FROM s
    WHERE n >= 2 AND x_min < x_max AND y_min < y_max
"""


@_register("events_corr_value_hour", _CORR_ORACLE)
def events_corr_value_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between event value (exact cents) and
    hour-of-day, per event_type — the seasonality probe ("do purchases
    get bigger at night?") and the bivariate member of the profiling
    family. Spark's corr() is a float-merge aggregate whose result
    depends on partition merge order; here the five co-moments
    (Σx, Σy, Σxy, Σx², Σy²) accumulate as EXACT BIGINTs (cents × hour
    products cap at ~1.3e6/row — overflow-free to ~10^12 rows) and r
    is evaluated in the moments-about-the-mean form (divide-by-n
    FIRST, so no n·Σx² bigint blowup) with identical fp64 op order in
    both engines. One shuffle, map-side partials, five rows out."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events")
    x = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    y = F.hour("ts").cast("long")
    s = (
        ev.select("event_type", x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )
    # zero-variance guard on either axis: a constant column makes a
    # denominator 0 and r NaN — skip the group in both engines via the
    # overflow-free integer test min < max (⟺ variance > 0)
    s = s.filter(
        (F.col("n") >= 2)
        & (F.col("x_min") < F.col("x_max"))
        & (F.col("y_min") < F.col("y_max"))
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    cov = F.col("sxy").cast("double") / nd - mx * my
    vx = F.col("sxx").cast("double") / nd - mx * mx
    vy = F.col("syy").cast("double") / nd - my * my
    return s.select(
        "event_type",
        "n",
        r2(cov / (F.sqrt(vx) * F.sqrt(vy)), 6).alias("pearson_r"),
    )


_IQR_ORACLE = """
    WITH c AS (
        SELECT event_type,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    q AS (
        SELECT event_type,
               quantile_cont(cents, 0.25) AS q1,
               quantile_cont(cents, 0.75) AS q3
        FROM c GROUP BY event_type
    )
    SELECT c.event_type,
           q.q1, q.q3,
           CAST(COUNT(*) FILTER (WHERE c.cents
                < q.q1 - 1.5 * (q.q3 - q.q1)) AS BIGINT) AS n_low,
           CAST(COUNT(*) FILTER (WHERE c.cents
                > q.q3 + 1.5 * (q.q3 - q.q1)) AS BIGINT) AS n_high
    FROM c JOIN q USING (event_type)
    GROUP BY c.event_type, q.q1, q.q3
"""


@_register("events_iqr_outliers", _IQR_ORACLE)
def events_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier fences per event_type: exact interpolated
    Q1/Q3 over integer cents, 1.5·IQR whiskers, and the count of
    events outside each fence — the ROBUST outlier detector beside
    the parametric z-score top-20 (events_anomaly_zscore): quartiles
    don't move when the outliers themselves get wilder. Exactness
    rides the events_grouped_agg_mad precedent: Spark percentile()
    and DuckDB quantile_cont share the rank = p·(n-1) interpolation,
    and over integer cents with quarter-step fractions every
    interpolated value is exactly representable in fp64 — bit-equal
    without a tolerance. Plan: one shuffle to per-type quantiles
    (exact percentile carries a per-group sorted sketch — at 100 TB
    swap in approx_percentile and certify the rank-error bound like
    sketch_value_quantiles_bounded), then the tiny 5-row fence frame
    broadcast-joins back onto one more scan for the conditional
    counts."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    c = ev.select("event_type", cents.alias("cents"))
    q = c.groupBy("event_type").agg(
        F.percentile("cents", F.lit(0.25)).alias("q1"),
        F.percentile("cents", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - F.lit(1.5) * iqr
    hi = F.col("q3") + F.lit(1.5) * iqr
    return (
        c.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.when(F.col("cents") < lo, 1)).alias("n_low"),
            F.count(F.when(F.col("cents") > hi, 1)).alias("n_high"),
        )
    )


@_register(
    "streaming_sliding_counts_live",
    """
    WITH g AS (
        SELECT event_type,
               make_timestamp((epoch_ms(ts) // 1800000) * 1800000 * 1000) AS grid,
               ts
        FROM events
    )
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM (
        SELECT UNNEST([grid, grid - INTERVAL 30 MINUTE]) AS window_start,
               event_type
        FROM g
    )
    GROUP BY window_start, event_type
    """,
)
def streaming_sliding_counts_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING windows live under the oracle gate — the overlapping-
    window streaming shape the five existing live gates don't cover
    (tumbling assigns 1 window/event; sliding assigns width/slide — the
    engine Expands each event into every containing window BEFORE the
    stateful agg, so state scales with OPEN WINDOWS × keys, not
    events). The events file stream replays through the SAME
    sliding_counts the batch twin (events_sliding_counts) certifies,
    1h windows every 30min with a 10-minute watermark, drained by
    availableNow through the memory sink in complete mode; the
    materialized per-(window, type) counts hash against the
    grid-unnest SQL. At 100 TB the sliding form is the dashboard
    smoother (rates over trailing windows updated sub-window); the
    Expand doubles pre-shuffle rows at width/slide=2 — the certified
    cost of overlap."""
    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
        run_to_memory,
        sliding_counts,
    )

    src = events_stream_dir(sf_dir)
    stream = events_file_stream(spark, src)
    agg = sliding_counts(stream, "1 hour", "30 minutes", watermark="10 minutes")
    return run_to_memory(
        spark, agg, "streaming_sliding_counts_live_sink", "complete",
        src_paths=(src,),
    )


_LOCF_USERS = 20  # bounded user window (spine = users x days stays tiny)

_LOCF_ORACLE = f"""
    WITH bounds AS (
        SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
        FROM events
    ),
    days AS (
        SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        FROM bounds
    ),
    users AS (
        SELECT DISTINCT user_id FROM events WHERE user_id < {_LOCF_USERS}
    ),
    daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events WHERE user_id < {_LOCF_USERS}
        GROUP BY 1, 2
    )
    SELECT u.user_id, d.day,
           COALESCE(daily.cents,
                    last_value(daily.cents IGNORE NULLS) OVER (
                        PARTITION BY u.user_id ORDER BY d.day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    0) AS cents_filled,
           daily.cents IS NULL AS was_filled
    FROM users u CROSS JOIN days d
    LEFT JOIN daily ON daily.user_id = u.user_id AND daily.day = d.day
"""


@_register("events_daily_locf", _LOCF_ORACLE)
def events_daily_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill with LAST-OBSERVATION-CARRIED-FORWARD: per (bounded)
    user, a dense daily spine where zero-event days inherit the most
    recent prior day's total (leading gaps fill 0) — the time-series
    densification a feature store runs before lag/rolling features so
    windows see a value every day (events_daily_spine surfaces gaps;
    this CLOSES them). The fill is `last(cents, ignorenulls=True)` over
    an unbounded-preceding row frame — one window pass, no self-join,
    no recursion; `was_filled` flags synthetic rows for downstream
    leakage audits.

    Plan: corpus day-bounds come from a 1-row broadcast aggregate
    (daily-spine pattern), the ≤{20}-user dim crossJoins the day spine
    (bounded build — whitelisted like the other tiny broadcasts), the
    per-(user, day) totals left-join on, and ONE window shuffle on
    user_id fills forward. At 100 TB the spine is |users|×|days| rows —
    generated, never scanned — and the single window partition per user
    carries |days| rows regardless of event volume."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    bounded = ev.filter(F.col("user_id") < _LOCF_USERS)
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    users = bounded.select("user_id").distinct()
    daily = bounded.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.sum(cents).alias("cents"))
    spine = users.crossJoin(F.broadcast(days))
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce(
                F.col("cents"),
                F.last("cents", ignorenulls=True).over(w),
                F.lit(0),
            ).alias("cents_filled"),
            F.col("cents").isNull().alias("was_filled"),
        )
    )


_AB_ORACLE = """
    WITH conv AS (
        SELECT event_type, user_id, user_id % 2 AS arm,
               MAX(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY event_type, user_id
    ),
    arms AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS k_a,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS k_b
        FROM conv GROUP BY event_type
    ),
    z AS (
        SELECT event_type, n_a, k_a, n_b, k_b,
               CAST(FLOOR(
                   ((k_a * 1.0 / n_a) - (k_b * 1.0 / n_b))
                   / sqrt(((k_a + k_b) * 1.0 / (n_a + n_b))
                          * (1.0 - (k_a + k_b) * 1.0 / (n_a + n_b))
                          * (1.0 / n_a + 1.0 / n_b))
                   * 1000000.0 + 0.5) AS BIGINT) AS z_micro
        FROM arms
    )
    SELECT event_type, n_a, k_a, n_b, k_b,
           z_micro / 1000000.0 AS z_score,
           abs(z_micro) >= 1959964 AS significant
    FROM z
    WHERE k_a + k_b > 0 AND k_a + k_b < n_a + n_b
"""


@_register("events_ab_test_ztest", _AB_ORACLE)
def events_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between experiment arms — the decision
    rule behind every A/B dashboard, beside the per-segment Wilson
    interval (events_conversion_wilson_ci): users split into arms by
    id parity (deterministic), per-user conversion collapses events
    FIRST (the correct randomization unit — testing on raw events
    would pseudo-replicate users), then the pooled-proportion z and a
    |z| ≥ z_crit verdict at α=0.05. Cross-engine contract: all counts
    are exact bigints from two partial-agged shuffles; z is one
    identically-ordered fp64 expression FROZEN to integer micro-units
    BEFORE the significance compare, so the verdict is an integer
    comparison no ULP can flip (1959964 micro = the two-sided 5%
    critical value 1.959964). At 100 TB this is two groupBys — user
    collapse then arm rollup — with |types| rows out; the same shape
    computes any per-unit metric test."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.groupBy("event_type", "user_id").agg(
        F.max(F.when(F.col("value") > 50.0, 1).otherwise(0)).alias("converted")
    ).withColumn("arm", F.col("user_id") % 2)
    arms = conv.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0)).alias("k_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0)).alias("k_b"),
    )
    # all-or-none pooled conversion makes the pooled variance exactly
    # 0 and z infinite — skip via integer compares (0 < Σk < Σn), the
    # same degenerate-group discipline as the moment/corr guards
    arms = arms.filter(
        (F.col("k_a") + F.col("k_b") > 0)
        & (F.col("k_a") + F.col("k_b") < F.col("n_a") + F.col("n_b"))
    )
    pa = F.col("k_a") * 1.0 / F.col("n_a")
    pb = F.col("k_b") * 1.0 / F.col("n_b")
    pool = (F.col("k_a") + F.col("k_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    z_micro = F.floor(
        (pa - pb)
        / F.sqrt(
            pool * (F.lit(1.0) - pool)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        )
        * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    return arms.select(
        "event_type",
        "n_a",
        "k_a",
        "n_b",
        "k_b",
        (z_micro / 1000000.0).alias("z_score"),
        (F.abs(z_micro) >= 1959964).alias("significant"),
    )


_DOD_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, cents,
           LAG(cents) OVER w AS prev_cents,
           CASE WHEN LAG(cents) OVER w IS NULL OR LAG(cents) OVER w = 0
                THEN NULL
                ELSE FLOOR((CAST(cents AS DOUBLE)
                            / CAST(LAG(cents) OVER w AS DOUBLE) - 1.0)
                           * 1000000.0 + 0.5) / 1000000.0
           END AS dod_growth
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


@_register("events_day_over_day_growth", _DOD_ORACLE)
def events_day_over_day_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth — the reporting primitive behind every
    "revenue up X% vs yesterday" tile: per-type daily cents totals,
    previous day's total via LAG, relative change micro-frozen; first
    days and zero-denominator days surface as explicit NULLs instead
    of infinities (the guard both engines share, same class as the
    zipf n≥2 fix). The day key comes from the rollup's GROUP BY, so
    LAG's order is total by construction — no tiebreak needed. One
    rollup shuffle + one window sort per event_type; output is
    |types|×|days| rows regardless of event volume, which is why this
    shape stays a dashboard query at 100 TB."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(cents).alias("cents"))
    w = W.partitionBy("event_type").orderBy("day")
    prev = F.lag("cents").over(w)
    growth = F.when(
        prev.isNull() | (prev == 0), F.lit(None).cast("double")
    ).otherwise(
        r2(F.col("cents").cast("double") / prev.cast("double") - 1.0, 6)
    )
    return daily.select(
        "event_type",
        "day",
        "cents",
        prev.alias("prev_cents"),
        growth.alias("dod_growth"),
    )


_EWMA_WEIGHTS = (8, 4, 2, 1)  # halving weights over current + 3 lags


_EWMA_ORACLE = """
    WITH seq AS (
        SELECT user_id, ts, event_id,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents,
               LAG(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT), 1)
                   OVER w AS l1,
               LAG(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT), 2)
                   OVER w AS l2,
               LAG(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT), 3)
                   OVER w AS l3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, ts, event_id, cents,
           FLOOR(CAST(8 * cents + COALESCE(4 * l1, 0) + COALESCE(2 * l2, 0)
                      + COALESCE(l3, 0) AS DOUBLE)
                 / CAST(8 + CASE WHEN l1 IS NULL THEN 0 ELSE 4 END
                          + CASE WHEN l2 IS NULL THEN 0 ELSE 2 END
                          + CASE WHEN l3 IS NULL THEN 0 ELSE 1 END AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS ewma_cents
    FROM seq
    WHERE user_id < 50
"""


@_register("events_ewma_values", _EWMA_ORACLE)
def events_ewma_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over each user's last 4
    events (halving weights 8:4:2:1) — the time-series SMOOTHING
    member of the feature family beside the raw lag frame
    (events_lag_features): recency-weighted spend is the standard
    behavioral feature where a plain trailing mean over-weights stale
    activity. True infinite-horizon EWMA is a per-row recursion no
    engine parallelizes; the bounded-window form is how feature
    stores actually ship it — expressible as K lag exprs on ONE
    window shuffle, weights renormalized over the lags that exist so
    early rows average over their real history instead of phantom
    zeros. All numerators/denominators are exact integers (weights ×
    cents), one micro-frozen fp64 division per row; the (ts,
    event_id) tiebreak makes every lag deterministic under duplicate
    timestamps. Bounded to user_id < 50 only for oracle cost — the
    plan is one WindowExec at any scale."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    w0, w1, w2, w3 = _EWMA_WEIGHTS
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id", "ts", "event_id", cents.alias("cents")
    ).select(
        "*",
        F.lag("cents", 1).over(w).alias("l1"),
        F.lag("cents", 2).over(w).alias("l2"),
        F.lag("cents", 3).over(w).alias("l3"),
    )
    num = (
        F.lit(w0) * F.col("cents")
        + F.coalesce(F.lit(w1) * F.col("l1"), F.lit(0))
        + F.coalesce(F.lit(w2) * F.col("l2"), F.lit(0))
        + F.coalesce(F.col("l3"), F.lit(0))
    )
    den = (
        F.lit(w0)
        + F.when(F.col("l1").isNull(), 0).otherwise(w1)
        + F.when(F.col("l2").isNull(), 0).otherwise(w2)
        + F.when(F.col("l3").isNull(), 0).otherwise(w3)
    )
    return base.select(
        "user_id",
        "ts",
        "event_id",
        "cents",
        r2(num.cast("double") / den.cast("double"), 6).alias("ewma_cents"),
    )


_HOLT_ORACLE = """
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents,
               ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) AS rn
        FROM events GROUP BY 1
    ),
    rec AS (
        SELECT rn, day, cents,
               CAST(cents AS DOUBLE) AS level,
               CAST(0 AS DOUBLE) AS trend,
               CAST(NULL AS DOUBLE) AS fitted
        FROM daily WHERE rn = 1
        UNION ALL
        SELECT d.rn, d.day, d.cents,
               0.5 * CAST(d.cents AS DOUBLE) + 0.5 * (r.level + r.trend),
               0.5 * ((0.5 * CAST(d.cents AS DOUBLE)
                       + 0.5 * (r.level + r.trend)) - r.level)
                   + 0.5 * r.trend,
               r.level + r.trend
        FROM rec r JOIN daily d ON d.rn = r.rn + 1
    )
    SELECT day, cents,
           FLOOR(level * 1000000.0 + 0.5) / 1000000.0 AS level,
           FLOOR(trend * 1000000.0 + 0.5) / 1000000.0 AS trend,
           FLOOR(fitted * 1000000.0 + 0.5) / 1000000.0 AS fitted
    FROM rec
"""


@_register("events_holt_linear_trend", _HOLT_ORACLE)
def events_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, α=β=1/2)
    over the daily revenue series — TRUE SEQUENTIAL RECURSION, the
    thing events_ewma_values' docstring explicitly declined ('a
    per-row recursion no engine parallelizes') — executed JVM-SIDE as
    a higher-order fold: the |days|-bounded series is collected into
    ONE array cell (sort_array(collect_list), a calendar-bounded row,
    never the driver) and `aggregate()` threads the (level, trend)
    state through it inside whole-stage codegen, appending per-day
    outputs; posexplode returns rows. No Python, no driver loop, no
    window — the pattern for any bounded-length recurrence (Kalman
    passes, HP filters) on top of an arbitrarily large event scan.

    Cross-engine exactness without an integer contract: one fp64
    recursion step is the LITERALLY IDENTICAL expression tree in the
    Spark lambda and the DuckDB recursive CTE — l' = 0.5·y + 0.5·(l+t)
    and t' = 0.5·(l'−l) + 0.5·t with l' spelled out textually in the
    trend line on BOTH engines — so ~30 sequential IEEE ops produce
    bit-identical doubles (the house float-order rule applied to a
    recursion instead of a single expression); outputs micro-frozen
    once, after the recursion. fitted_t = l_{t−1}+t_{t−1} is the
    one-step forecast (NULL on day 1, the standard init l₁=y₁, b₁=0).

    At 100 TB: the scan+rollup dominates and parallelizes fully; the
    fold touches |days| structs in one task — the right trade for a
    recurrence that is sequential by definition."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(cents).alias("cents")
    )
    one = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "cents"))).alias("a")
    )
    rows = one.select(
        F.explode(
            F.expr(
                """
                aggregate(
                  slice(a, 2, greatest(size(a) - 1, 0)),
                  named_struct(
                    'level', CAST(a[0].cents AS DOUBLE),
                    'trend', CAST(0.0D AS DOUBLE),
                    'rows', array(named_struct(
                        'day', a[0].day, 'cents', a[0].cents,
                        'level', CAST(a[0].cents AS DOUBLE),
                        'trend', CAST(0.0D AS DOUBLE),
                        'fitted', CAST(NULL AS DOUBLE)))
                  ),
                  (acc, x) -> named_struct(
                    'level', 0.5D * CAST(x.cents AS DOUBLE)
                              + 0.5D * (acc.level + acc.trend),
                    'trend', 0.5D * ((0.5D * CAST(x.cents AS DOUBLE)
                                      + 0.5D * (acc.level + acc.trend))
                                     - acc.level)
                              + 0.5D * acc.trend,
                    'rows', array_append(acc.rows, named_struct(
                        'day', x.day, 'cents', x.cents,
                        'level', 0.5D * CAST(x.cents AS DOUBLE)
                                  + 0.5D * (acc.level + acc.trend),
                        'trend', 0.5D * ((0.5D * CAST(x.cents AS DOUBLE)
                                          + 0.5D * (acc.level + acc.trend))
                                         - acc.level)
                                  + 0.5D * acc.trend,
                        'fitted', acc.level + acc.trend))
                  ),
                  acc -> acc.rows
                )
                """
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.day").alias("day"),
        F.col("r.cents").alias("cents"),
        r2(F.col("r.level"), 6).alias("level"),
        r2(F.col("r.trend"), 6).alias("trend"),
        r2(F.col("r.fitted"), 6).alias("fitted"),
    )


_DOW_ORACLE = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    per_dow AS (
        SELECT dow,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM daily GROUP BY dow
    ),
    total AS (
        SELECT CAST(SUM(n_days) AS BIGINT) AS all_days,
               CAST(SUM(cents) AS BIGINT) AS all_cents
        FROM per_dow
    )
    SELECT d.dow, d.n_days,
           FLOOR(CAST(d.cents AS DOUBLE) / CAST(d.n_days AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_daily_cents,
           FLOOR((CAST(d.cents AS DOUBLE) / CAST(d.n_days AS DOUBLE))
                 / (CAST(t.all_cents AS DOUBLE) / CAST(t.all_days AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS seasonal_index
    FROM per_dow d CROSS JOIN total t
"""


@_register("events_dow_seasonality", _DOW_ORACLE)
def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week SEASONALITY INDEX — the multiplicative decomposition
    building block (classical seasonal adjustment): each weekday's mean
    daily revenue relative to the all-days mean, index > 1 = a heavy
    day (ISO day numbers — Spark's dayofweek is 1=Sunday where
    DuckDB's is 0=Sunday, so both sides use the unambiguous isodow). This is the piece a forecast divides out before trending, and
    the simplest decomposition a 100 TB pipeline actually ships
    (day-level facts, 7-row model). Exactness: daily totals are exact
    bigint cents; the per-dow and corpus means divide exactly once
    each in mirrored fp64 order; the 1-row corpus aggregate broadcasts
    (the corpus-scalar pattern). Two rollup shuffles — (day) then
    (dow) — both map-side partialed; 7 rows out at any scale."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        (F.weekday(F.to_date("ts")) + 1).cast("long").alias("dow"),
    ).agg(F.sum(cents).alias("cents"))
    per_dow = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("cents").alias("cents")
    )
    total = per_dow.agg(
        F.sum("n_days").alias("all_days"), F.sum("cents").alias("all_cents")
    )
    mean_daily = F.col("cents").cast("double") / F.col("n_days").cast("double")
    corpus_mean = (
        F.col("all_cents").cast("double") / F.col("all_days").cast("double")
    )
    return per_dow.join(F.broadcast(total)).select(
        "dow",
        "n_days",
        r2(mean_daily, 6).alias("mean_daily_cents"),
        r2(mean_daily / corpus_mean, 6).alias("seasonal_index"),
    )


_GINI_ORACLE = """
    WITH per_user AS (
        SELECT user_id,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, user_id) AS r
        FROM per_user
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS total,
               CAST(SUM(r * cents) AS BIGINT) AS weighted
        FROM ranked
    ),
    decile AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS top_cents
        FROM ranked, s
        WHERE r > n - CAST(FLOOR(n / 10.0) AS BIGINT)
    )
    SELECT s.n AS n_users, s.total AS total_cents,
           FLOOR((2.0 * CAST(s.weighted AS DOUBLE)
                  / (CAST(s.n AS DOUBLE) * CAST(s.total AS DOUBLE))
                  - (CAST(s.n AS DOUBLE) + 1.0) / CAST(s.n AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS gini,
           FLOOR(CAST(d.top_cents AS DOUBLE) / CAST(s.total AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS top_decile_share
    FROM s CROSS JOIN decile d
"""


@_register("events_revenue_concentration", _GINI_ORACLE)
def events_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue CONCENTRATION — the Gini coefficient and top-decile
    share over per-user lifetime spend: the inequality measurement
    behind "whale" analysis, and for a data pipeline the skew forecast
    (a 0.9-Gini user distribution predicts exactly the celebrity-key
    problem the salted joins and AQE gates exist for). Gini uses the
    exact rank form G = 2·Σ(r·x)/(n·Σx) − (n+1)/n over cents totals
    sorted with a (cents, user_id) total order — Σ(r·x) is an exact
    BIGINT (r ≤ |users|, x exact cents), so both statistics are one
    mirrored fp64 expression over exact integers, micro-frozen.

    Plan note: the global ROW_NUMBER here windows over PER-USER
    AGGREGATES (|users| rows — 1500 at bench), not events; at 10⁹
    users the same two-level decomposition pipeline_curriculum_order
    certifies (banded offsets + within-band rank) replaces the single
    total order without changing a value. One rollup shuffle + one
    |users|-row window + a 1-row join."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    per_user = ev.groupBy("user_id").agg(F.sum(cents).alias("cents"))
    wr = W.orderBy("cents", "user_id")
    ranked = per_user.select(
        "cents", F.row_number().over(wr).alias("r")
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total"),
        F.sum(F.col("r") * F.col("cents")).alias("weighted"),
    )
    decile = (
        ranked.join(F.broadcast(s.select("n")))
        .filter(F.col("r") > F.col("n") - F.floor(F.col("n") / 10.0).cast("long"))
        .agg(F.sum("cents").alias("top_cents"))
    )
    nd = F.col("n").cast("double")
    gini = (
        2.0 * F.col("weighted").cast("double")
        / (nd * F.col("total").cast("double"))
        - (nd + F.lit(1.0)) / nd
    )
    share = F.col("top_cents").cast("double") / F.col("total").cast("double")
    return (
        s.join(F.broadcast(decile))
        .select(
            F.col("n").alias("n_users"),
            F.col("total").alias("total_cents"),
            r2(gini, 6).alias("gini"),
            r2(share, 6).alias("top_decile_share"),
        )
    )


def km_curve(cohort: DataFrame) -> DataFrame:
    """The Kaplan-Meier estimator proper over a (t_day, is_event)
    cohort frame (is_event 1 = event at t_day, 0 = censored at t_day;
    events precede censoring at ties): per-step at-risk counts from a
    suffix-sum window, survival as the running ln-sum product with the
    integer hit-zero short-circuit. Factored out of
    events_survival_km so tests can drive censoring patterns the
    corpus does not exhibit (censor times strictly interleaved
    between event times)."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as _r

    steps = cohort.groupBy("t_day").agg(
        F.sum("is_event").cast("long").alias("n_converted"),
        F.sum(1 - F.col("is_event")).cast("long").alias("n_censored"),
    )
    w_order = W.orderBy("t_day")
    w_tail = W.orderBy("t_day").rowsBetween(W.currentRow, W.unboundedFollowing)
    risk = steps.select(
        "t_day",
        "n_converted",
        "n_censored",
        F.sum(F.col("n_converted") + F.col("n_censored"))
        .over(w_tail)
        .cast("long")
        .alias("n_at_risk"),
    )
    km = risk.select(
        "t_day",
        "n_converted",
        "n_censored",
        "n_at_risk",
        F.max(
            F.when(F.col("n_converted") == F.col("n_at_risk"), 1).otherwise(0)
        )
        .over(w_order)
        .alias("hit_zero"),
        F.sum(
            F.when(
                F.col("n_converted") < F.col("n_at_risk"),
                F.log(
                    1.0
                    - F.col("n_converted").cast("double")
                    / F.col("n_at_risk").cast("double")
                ),
            ).otherwise(F.lit(0.0))
        )
        .over(w_order)
        .alias("lnsum"),
    )
    return km.select(
        "t_day",
        "n_at_risk",
        "n_converted",
        "n_censored",
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(_r(F.exp("lnsum"), 6))
        .alias("survival"),
    ).orderBy("t_day")


_KM_ORACLE = """
    WITH bounds AS (
        SELECT MAX(ts) - INTERVAL 14 DAY AS cutoff FROM events
    ),
    firsts AS (
        SELECT user_id, MIN(ts) AS f FROM events GROUP BY user_id
    ),
    purchases AS (
        SELECT user_id, MIN(ts) AS fp FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    cohort AS (
        SELECT CASE WHEN p.fp IS NOT NULL AND p.fp <= b.cutoff
                    THEN date_diff('day', CAST(u.f AS DATE),
                                   CAST(p.fp AS DATE))
                    ELSE date_diff('day', CAST(u.f AS DATE),
                                   CAST(b.cutoff AS DATE))
               END AS t_day,
               CASE WHEN p.fp IS NOT NULL AND p.fp <= b.cutoff
                    THEN 1 ELSE 0 END AS is_event
        FROM firsts u
        LEFT JOIN purchases p ON p.user_id = u.user_id
        CROSS JOIN bounds b
        WHERE u.f <= b.cutoff
    ),
    steps AS (
        SELECT CAST(t_day AS BIGINT) AS t_day,
               CAST(SUM(is_event) AS BIGINT) AS n_converted,
               CAST(SUM(1 - is_event) AS BIGINT) AS n_censored
        FROM cohort GROUP BY t_day
    ),
    risk AS (
        SELECT t_day, n_converted, n_censored,
               CAST(SUM(n_converted + n_censored) OVER (
                   ORDER BY t_day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS BIGINT) AS n_at_risk
        FROM steps
    ),
    km AS (
        SELECT t_day, n_converted, n_censored, n_at_risk,
               MAX(CASE WHEN n_converted = n_at_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY t_day) AS hit_zero,
               SUM(CASE WHEN n_converted < n_at_risk
                   THEN LN(1.0 - CAST(n_converted AS DOUBLE)
                           / CAST(n_at_risk AS DOUBLE))
                   ELSE 0.0 END) OVER (ORDER BY t_day) AS lnsum
        FROM risk
    )
    SELECT t_day, n_at_risk, n_converted, n_censored,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE FLOOR(EXP(lnsum) * 1000000.0 + 0.5) / 1000000.0
           END AS survival
    FROM km ORDER BY t_day
"""


@_register("events_survival_km", _KM_ORACLE)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER time-to-conversion curve: days from each user's
    first event to their first purchase, administratively censored at
    a study cutoff 14 days before corpus end (users first seen near
    the cutoff contribute short, genuinely-censored observation
    windows — the staggered-entry design every product-analytics
    retention curve runs). S(t) = prod over event days <= t of
    (1 - d_i/n_i), with the at-risk set n_i counting both later
    converters AND later-censored users — the estimator's whole point
    vs a naive ECDF, which would silently drop the censored mass.

    Cross-engine determinism: d_i and n_i are exact BIGINTs, so each
    factor is one fp64 division; the product runs as EXP(running SUM
    of LN factors) over the same (ORDER BY t_day) sequential frame in
    both engines, and the result is micro-frozen (ewma precedent). A
    day where everyone remaining converts has factor 0 — LN is
    short-circuited by an integer hit_zero flag (Spark LN(0) is NULL,
    DuckDB -inf; neither reaches the hash).

    Scale: two per-user rollups (one shuffle each, map-side combined)
    + a KM table bounded by STUDY DAYS, not users — the global-order
    window runs on ~30 rows regardless of corpus size. At 10^9 users
    nothing changes but the rollup width."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 14 DAYS")).alias("cutoff")
    )
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("f"))
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    converted = F.col("fp").isNotNull() & (F.col("fp") <= F.col("cutoff"))
    cohort = (
        firsts.join(purchases, "user_id", "left")
        .join(F.broadcast(cutoff))
        .filter(F.col("f") <= F.col("cutoff"))
        .select(
            F.when(
                converted,
                F.datediff(F.col("fp").cast("date"), F.col("f").cast("date")),
            )
            .otherwise(
                F.datediff(
                    F.col("cutoff").cast("date"), F.col("f").cast("date")
                )
            )
            .cast("long")
            .alias("t_day"),
            F.when(converted, F.lit(1)).otherwise(F.lit(0)).alias("is_event"),
        )
    )
    return km_curve(cohort)


_CUPED_ORACLE = """
    WITH bounds AS (
        SELECT MAX(ts) - INTERVAL 15 DAY AS cut FROM events
    ),
    per_user AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN ts <= cut THEN
                    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN ts > cut THEN
                    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS y
        FROM events, bounds
        GROUP BY user_id
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM per_user
    ),
    m AS (
        SELECT n,
               CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cov_xy,
               CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS var_x,
               CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS var_y
        FROM sums
    )
    SELECT n AS n_users,
           FLOOR(cov_xy / var_x * 1000000.0 + 0.5) / 1000000.0 AS theta,
           FLOOR(var_y * 100.0 + 0.5) / 100.0 AS var_raw,
           FLOOR((var_y - (cov_xy / var_x) * cov_xy) * 100.0 + 0.5) / 100.0
               AS var_cuped,
           FLOOR(((cov_xy / var_x) * cov_xy / var_y) * 100.0 * 1000000.0
                 + 0.5) / 1000000.0 AS var_reduction_pct
    FROM m
"""


@_register("events_cuped_adjustment", _CUPED_ORACLE)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013
    'Improving the sensitivity of online controlled experiments'):
    per-user PRE-period spend as the covariate X for POST-period spend
    Y (periods split 15 days before corpus end), theta = cov(X,Y)/
    var(X), and the headline number — the variance an experiment
    platform deletes for free, var_reduction = rho² (equivalently
    var(Y - theta·X) vs var(Y)). This is the adjustment that turns a
    two-week A/B test into a one-week one; it belongs next to the
    z-test (events_ab_test_ztest) as the sensitivity side of the
    experimentation surface.

    Determinism: one rollup builds per-user exact-cents (x, y); all
    five moment sums n, Σx, Σy, Σxy, Σx², Σy² are exact BIGINTs
    (anomaly-zscore precedent — native covar_pop/var_pop float merge
    order differs across engines); cov/var use the divide-by-n-FIRST
    mirrored order, and outputs are micro/cent-frozen. Scale: one
    map-side-combined per-user shuffle + a 1-row moment frame — the
    same shape at 10⁹ users."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r_

    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg((F.max("ts") - F.expr("INTERVAL 15 DAYS")).alias("cut"))
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    per_user = (
        ev.join(F.broadcast(cut))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") <= F.col("cut"), cents).otherwise(0))
            .alias("x"),
            F.sum(F.when(F.col("ts") > F.col("cut"), cents).otherwise(0))
            .alias("y"),
        )
    )
    sums = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    cov = F.col("sxy").cast("double") / nd - mx * my
    var_x = F.col("sxx").cast("double") / nd - mx * mx
    var_y = F.col("syy").cast("double") / nd - my * my
    theta = cov / var_x
    return sums.select(
        F.col("n").alias("n_users"),
        r_(theta, 6).alias("theta"),
        r_(var_y, 2).alias("var_raw"),
        r_(var_y - theta * cov, 2).alias("var_cuped"),
        r_(theta * cov / var_y * 100.0, 6).alias("var_reduction_pct"),
    )


_INTERVAL_JOIN_ORACLE = """
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT)
               AS secs_to_purchase
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
    ORDER BY c.user_id, click_id, purchase_id
"""


@_register("streaming_interval_join_live", _INTERVAL_JOIN_ORACLE)
def streaming_interval_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join live under the oracle gate — the
    seventh (and hardest) streaming family: click->purchase
    attribution where BOTH sides are unbounded streams, joined on
    user with the purchase constrained to [click_ts, click_ts+30min).
    Runs the SAME dual-mode attribution_join the batch twin and the
    pytest equivalence tier certify (streaming/windows.py:143) — here
    it is finally driven live and value-hashed by the external gate.
    This is the operator whose state management separates Structured
    Streaming from a micro-batch for-loop: each side buffers rows
    until the OTHER side's watermark passes the end of the join
    range — the time-bound condition plus both watermarks is what
    lets the engine compute a state-eviction horizon (an
    unbounded-condition inner join would hold every row forever —
    Spark runs it but can never evict; outer stream-stream joins it
    rejects outright without the watermark + time bound). The two
    sides are independent readStream instances over the same replayed
    feed (Kafka-twin topology: two topics, one broker), the join
    emits attribution pairs in append mode (the only mode
    stream-stream joins support), and the drained sink is hashed
    against the batch interval-join SQL — certifying the watermarked
    streaming execution loses nothing the batch semantics owe.
    secs_to_purchase is whole-second epoch arithmetic, exact in both
    engines.

    At 100 TB/day: state per side is bounded by (watermark + range)
    of stream time, partitioned by user_id — the celebrity-user skew
    that inflates one state partition is the same key-salting problem
    the batch join gates cover; the 30-min range keeps per-key state
    to minutes of traffic regardless of corpus size."""
    from user_feed_cdc_spark.streaming.windows import (
        attribution_join,
        events_file_stream,
        events_stream_dir,
        run_to_memory,
    )

    src = events_stream_dir(sf_dir)
    clicks = events_file_stream(spark, src).filter(
        F.col("event_type") == "click"
    )
    purchases = events_file_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    joined = attribution_join(
        clicks, purchases, horizon="30 minutes", watermark="1 hour"
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts"))
        .cast("long")
        .alias("secs_to_purchase"),
    )
    return run_to_memory(
        spark, joined, "streaming_interval_join_live_sink", "append",
        src_paths=(src, src),
    )


_LEFT_OUTER_JOIN_ORACLE = """
    WITH c AS (
        SELECT user_id, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id AS p_user, event_id AS purchase_id,
               ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT LEAST(
                 (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
                 (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
               ) - INTERVAL 1 HOUR AS wm_ts
    ),
    j AS (
        SELECT c.user_id, c.click_id, c.click_ts,
               p.purchase_id, p.purchase_ts
        FROM c LEFT JOIN p
          ON p.p_user = c.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts < c.click_ts + INTERVAL 30 MINUTE
    )
    SELECT user_id, click_id, purchase_id,
           CAST(date_diff('second', click_ts, purchase_ts) AS BIGINT)
               AS secs_to_purchase
    FROM j, wm
    WHERE purchase_id IS NOT NULL
       OR click_ts + INTERVAL 30 MINUTE + INTERVAL 1 SECOND < wm.wm_ts
"""


@_register("streaming_left_outer_join_live", _LEFT_OUTER_JOIN_ORACLE)
def streaming_left_outer_join_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join live under the oracle
    gate — the join-mode completion of streaming_interval_join_live
    (inner, green r09). The outer side is the semantics Structured
    Streaming can only offer BECAUSE of the eviction machinery: a
    click's NULL-padded row may be emitted only when the engine can
    PROVE no future purchase will match — i.e. when the global
    watermark (the MIN across both streams' watermarks) passes
    click_ts + range. Unmatched clicks younger than that horizon are
    still legitimately in state when the replay drains, so the gate
    mirrors the horizon exactly as the chained-rollup entry mirrors
    its closed-window rule: both engines keep matched pairs
    unconditionally and null rows only where click_ts + 30min + 1s <
    min(max_click_ts, max_purchase_ts) − 1h — the 1 s guard band
    keeping the comparison independent of the engine's eviction
    strictness at the exact boundary (the cutoff literal is computed
    once from the table during planning and applied IDENTICALLY to
    the drained sink and the oracle, so a boundary row is kept or
    dropped by both engines together). Empirically the replayed
    stream emits every null row under the unguarded cutoff
    (207/207 at sf0.001) — the guard is belt-and-braces, not a
    coverage hole.

    At 100 TB/day the posture is the inner entry's (state bounded by
    watermark + range per user key) plus the outer-specific cost:
    unmatched left rows hold state until the FULL horizon, so the
    null-row fraction — the abandonment rate in this domain — is the
    state multiplier to capacity-plan for."""
    import datetime

    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
        run_to_memory,
    )

    ev = load_table(spark, sf_dir, "events")
    # one scan for both per-type maxima (was two separate agg jobs)
    mc, mp = ev.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
    ).first()
    cutoff = (
        min(mc, mp)
        - datetime.timedelta(hours=1)
        - datetime.timedelta(minutes=30, seconds=1)
    )

    src = events_stream_dir(sf_dir)
    c = (
        events_file_stream(spark, src)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    p = (
        events_file_stream(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = c.join(
        p,
        (c.user_id == p.p_user)
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "leftOuter",
    ).select(
        "user_id",
        "click_id",
        "click_ts",
        "purchase_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts"))
        .cast("long")
        .alias("secs_to_purchase"),
    )
    sink = run_to_memory(
        spark, joined, "streaming_left_outer_join_live_sink", "append",
        src_paths=(src, src),
    )
    return sink.filter(
        F.col("purchase_id").isNotNull()
        | (F.col("click_ts") < F.lit(cutoff))
    ).drop("click_ts")


_POWER_ORACLE = """
    WITH conv AS (
        SELECT event_type, user_id,
               MAX(CASE WHEN value > 200.0 THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY event_type, user_id
    ),
    arms AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS k
        FROM conv GROUP BY event_type
    ),
    p AS (
        SELECT event_type, n_users, k,
               CAST(k AS DOUBLE) / CAST(n_users AS DOUBLE) AS p1
        FROM arms
        WHERE k > 0 AND k < n_users AND
              CAST(k AS DOUBLE) / CAST(n_users AS DOUBLE) + 0.02 < 1.0
    ),
    f AS (
        SELECT event_type, n_users, p1, p1 + 0.02 AS p2,
               (p1 + (p1 + 0.02)) / 2.0 AS pbar
        FROM p
    )
    SELECT event_type, n_users,
           FLOOR(p1 * 1000000.0 + 0.5) / 1000000.0 AS baseline_rate,
           CAST(CEIL(FLOOR(
               ((1.959963984540054 * SQRT(2.0 * pbar * (1.0 - pbar))
                 + 0.8416212335729143
                   * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
                * (1.959963984540054 * SQRT(2.0 * pbar * (1.0 - pbar))
                   + 0.8416212335729143
                     * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2))))
               / (0.02 * 0.02)
               * 1000000.0 + 0.5) / 1000000.0) AS BIGINT)
               AS n_required_per_arm
    FROM f
    ORDER BY event_type
"""


@_register("events_power_analysis", _POWER_ORACLE)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B SAMPLE-SIZE (power) analysis — the planning half of the
    experimentation surface, beside the decision half
    (events_ab_test_ztest) and the sensitivity half
    (events_cuped_adjustment): per metric (event_type), the users
    PER ARM needed to detect a +2pp absolute lift from the observed
    baseline conversion (value > 200 cent-threshold — chosen so every
    arm is NON-degenerate at every driver SF: 0 < k < n and
    p1 + mde < 1, keeping the certified set non-empty; a vacuous
    empty-set hash would certify nothing) at alpha = 0.05 (two-sided)
    with 80% power —
    the classic two-proportion formula n = (z_a*sqrt(2*pbar*qbar) +
    z_b*sqrt(p1*q1 + p2*q2))^2 / mde^2 with the normal quantiles as
    exact literals. Cross-engine contract: baseline (k, n) are exact
    bigints; the formula uses only +,*,/ and SQRT (IEEE-correctly-
    rounded on every engine — deliberately no pow/ln anywhere on
    the value path; even the final squaring is a literal multiply),
    micro-frozen before the CEIL so the integer sample size cannot
    straddle a ULP. Degenerate metrics (all-or-none conversion, or a
    baseline within the MDE of 1.0) are skipped by integer/frozen
    compares — the z-test's discipline. Scale: the same two rollups
    as the z-test; output is |metrics| rows at any corpus size."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r6

    ev = load_table(spark, sf_dir, "events")
    conv = ev.groupBy("event_type", "user_id").agg(
        F.max(F.when(F.col("value") > 200.0, 1).otherwise(0)).alias("converted")
    )
    arms = conv.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("converted").alias("k")
    )
    p1 = F.col("k").cast("double") / F.col("n_users").cast("double")
    sel = arms.filter(
        (F.col("k") > 0) & (F.col("k") < F.col("n_users")) & (p1 + 0.02 < 1.0)
    )
    p2 = p1 + F.lit(0.02)
    pbar = (p1 + p2) / F.lit(2.0)
    root = (
        F.lit(1.959963984540054)
        * F.sqrt(F.lit(2.0) * pbar * (F.lit(1.0) - pbar))
        + F.lit(0.8416212335729143)
        * F.sqrt(p1 * (F.lit(1.0) - p1) + p2 * (F.lit(1.0) - p2))
    )
    n_req = F.ceil(
        F.floor(
            (root * root) / F.lit(0.02 * 0.02) * 1000000.0
            + F.lit(0.5)
        )
        / 1000000.0
    ).cast("long")
    return sel.select(
        "event_type",
        "n_users",
        r6(p1, 6).alias("baseline_rate"),
        n_req.alias("n_required_per_arm"),
    ).orderBy("event_type")


_TWO_LEVEL_ORACLE = """
    WITH m AS (
        SELECT MAX(ts) - INTERVAL 10 MINUTE AS wm FROM events
    )
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events, m
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm
    GROUP BY day_start
    ORDER BY day_start
"""


@_register("streaming_two_level_rollup_live", _TWO_LEVEL_ORACLE)
def streaming_two_level_rollup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED STATEFUL streaming — two windowed aggregations in ONE
    query (hourly partials re-aggregated into daily totals), the
    multiple-stateful-operators capability Spark gained in 3.5 via
    window_time(): the second groupBy windows over the FIRST window's
    event-time column, so both operators share one watermark lineage
    and the engine tracks two state stores in a single query. This is
    the streaming form of the daily→weekly sketch rollup's argument —
    pre-aggregate at fine grain once, coarsen downstream without
    reprocessing raw events (the daily operator's input is 24 rows per
    day, not the day's event volume). Chained stateful aggs run in
    APPEND mode only, so the drain emits exactly the daily windows the
    watermark has CLOSED (window end <= max event time - 10 min); the
    oracle mirrors that horizon explicitly — the final, still-open day
    is withheld by both engines, certifying the emission semantics,
    not just the sums. Counts and cents are exact bigints end-to-end.

    At 100 TB/day: state is |open hourly windows| + |open daily
    windows| — bounded by the watermark, independent of event volume;
    the cascade is how a production metrics tree (minute→hour→day)
    runs as one query instead of three jobs re-reading each other's
    sinks."""
    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
        run_to_memory,
    )

    src = events_stream_dir(sf_dir)
    stream = events_file_stream(spark, src)
    hourly = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
            ).alias("cents"),
        )
    )
    daily = (
        hourly.groupBy(F.window(F.window_time("w"), "1 day").alias("d"))
        .agg(F.sum("n").alias("n_events"), F.sum("cents").alias("cents"))
        .select(F.col("d.start").alias("day_start"), "n_events", "cents")
    )
    return run_to_memory(
        spark, daily, "streaming_two_level_rollup_live_sink", "append",
        src_paths=(src,),
    )


_STATEFUL_TOTALS_ORACLE = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           FLOOR(SUM(value) * 100.0 + 0.5) / 100.0 AS total_value,
           MAX(ts) AS last_ts
    FROM events
    GROUP BY user_id
    ORDER BY user_id
"""


@_register("streaming_stateful_totals_live", _STATEFUL_TOTALS_ORACLE)
def streaming_stateful_totals_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL operator live under the oracle gate — the
    applyInPandasWithState tier (arbitrary per-key GroupState, the API
    for accumulators no built-in window expresses) finally driven by
    the external hash gate rather than pytest alone: the events
    replay streams through running_user_totals (streaming/
    stateful.py:57 — per-user lifetime n/total/last_ts state,
    update-mode emission per micro-batch), drained availableNow into
    the memory sink. With the single-file replay each user emits
    exactly once, so the materialized state equals the batch per-user
    rollup the oracle computes. total_value crosses the Python
    boundary as a pandas float sum — certified through the half-up
    cent round, which sits 0.5 ulp-of-a-cent from any boundary
    because event values are cent-grained (the float-sum jitter of
    ~1e-12 cannot reach it); n/last_ts are exact int/µs.

    At 100 TB: state partitions by user across executors, Arrow
    batches stream per key, and the state store checkpoints with the
    query — the fraud-score/rate-limit/feature-freshness accumulator
    shape (reference connection_state.py:4-12 generalized from one
    global counter)."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2_
    from user_feed_cdc_spark.streaming.stateful import running_user_totals
    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
        run_to_memory,
    )

    from user_feed_cdc_spark.streaming.windows import (
        stream_partition_scope,
        stream_state_partitions,
    )

    src = events_stream_dir(sf_dir)
    stream = events_file_stream(spark, src)
    totals = running_user_totals(stream)
    # Python-tier stateful stage: the per-key pandas update is
    # CPU-bound in Python workers, so partition count must not drop
    # below the executor parallelism (state-store overhead is the
    # SECONDARY cost here, unlike the JVM state operators) — size by
    # max(input-derived, defaultParallelism).
    n_parts = max(
        stream_state_partitions(src),
        spark.sparkContext.defaultParallelism,
    )
    with stream_partition_scope(spark, n=n_parts):
        sink = run_to_memory(
            spark, totals, "streaming_stateful_totals_live_sink", "update"
        )
    # Update mode appends one row per (user, micro-batch) to the memory
    # sink; with a multi-file source the replay runs several batches, so
    # reduce to each user's FINAL state (n_events is strictly increasing
    # across a user's emissions — max-struct picks the last one) rather
    # than assuming a single-file single-batch layout.
    final = sink.groupBy("user_id").agg(
        F.max(F.struct("n_events", "total_value", "last_ts")).alias("s")
    )
    return final.select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        r2_(F.col("s.total_value"), 2).alias("total_value"),
        F.col("s.last_ts").alias("last_ts"),
    ).orderBy("user_id")


_STICKINESS_ORACLE = """
    WITH pairs AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)
            AS day FROM events
    ),
    dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM pairs GROUP BY day
    ),
    wau AS (
        SELECT d.day, CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS wau
        FROM dau d
        JOIN pairs p
          ON p.day >= d.day - INTERVAL 6 DAY AND p.day <= d.day
        GROUP BY d.day
    )
    SELECT d.day, d.dau, w.wau,
           FLOOR(CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS stickiness
    FROM dau d JOIN wau w ON w.day = d.day
    ORDER BY d.day
"""


@_register("events_stickiness_ratio", _STICKINESS_ORACLE)
def events_stickiness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU STICKINESS per day — the engagement ratio every growth
    dashboard leads with: daily actives over trailing-7-day actives,
    both EXACT distinct counts. The rolling distinct is the
    interesting operator: COUNT(DISTINCT) does not decompose over a
    sliding window (a user active twice in the week counts once), so
    the plan collapses events to distinct (user, day) pairs FIRST —
    cohort-sized, not event-sized — then fans each pair into the ≤7
    trailing day buckets it serves via a generated offset explode and
    re-counts distinct per bucket. Fan-out is bounded by 7·|pairs|,
    and every count/ratio is exact-integer/micro-frozen.

    At 100 TB the pair collapse is the whole game: events shrink to
    |users|·|active days| before any window math, and the 7× replica
    join replaces the unbounded self-join a naive rolling-distinct
    would plan. (The HLL path — sketch_union_daily_to_weekly — is the
    approximate cousin for when even the pair frame is too wide.)"""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r6

    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    fanned = pairs.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
    ).select(
        "user_id", F.expr("day + make_interval(0,0,0,off)").alias("w_day")
    )
    wau = (
        fanned.join(
            dau.select(F.col("day").alias("w_day")), "w_day", "left_semi"
        )
        .groupBy("w_day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.day == wau.w_day)
        .select(
            "day",
            "dau",
            "wau",
            r6(
                F.col("dau").cast("double") / F.col("wau").cast("double"), 6
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


_GROWTH_ORACLE = """
    WITH pairs AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)
            AS day FROM events
    ),
    seq AS (
        SELECT user_id, day,
               MIN(day) OVER (PARTITION BY user_id) AS first_day,
               LAG(day) OVER (PARTITION BY user_id ORDER BY day)
                   AS prev_day,
               LEAD(day) OVER (PARTITION BY user_id ORDER BY day)
                   AS next_day
        FROM pairs
    ),
    active AS (
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS dau,
               CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN prev_day = day - INTERVAL 1 DAY
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
               CAST(SUM(CASE WHEN day > first_day
                              AND (prev_day IS NULL
                                   OR prev_day < day - INTERVAL 1 DAY)
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_resurrected
        FROM seq GROUP BY day
    ),
    churn AS (
        SELECT day + INTERVAL 1 DAY AS churn_day,
               CAST(SUM(CASE WHEN next_day IS NULL
                              OR next_day > day + INTERVAL 1 DAY
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
        FROM seq GROUP BY day
    )
    SELECT a.day, a.dau, a.n_new, a.n_retained, a.n_resurrected,
           COALESCE(c.n_churned, 0) AS n_churned
    FROM active a LEFT JOIN churn c ON c.churn_day = a.day
    ORDER BY a.day
"""


@_register("events_growth_accounting", _GROWTH_ORACLE)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROWTH ACCOUNTING (the Social-Capital/a16z framework every
    consumer dashboard reports): each day's actives decomposed into
    NEW (first-ever day), RETAINED (also active yesterday), and
    RESURRECTED (returning after a gap), plus yesterday's actives who
    CHURNED today — with the books forced to balance: dau = new +
    retained + resurrected by construction (the three cases partition
    the active set on prev-day state), and dau(d) - dau(d-1) = new +
    resurrected - churned. One distinct (user, day) collapse — cohort-
    sized, never event-sized — then a single per-user window sort
    yields first/prev/next day for every classification; churn posts
    to the following day via the LEAD side of the same shuffle. All
    counts exact bigints.

    At 100 TB: one shuffle on user_id for the window, one rollup on
    day; |users|·|active days| rows in flight, with the same two-level
    decomposition escape (curriculum pattern) if per-user histories
    ever exceed a partition."""
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    wu = W.partitionBy("user_id")
    wo = wu.orderBy("day")
    seq = pairs.select(
        "user_id",
        "day",
        F.min("day").over(wu).alias("first_day"),
        F.lag("day").over(wo).alias("prev_day"),
        F.lead("day").over(wo).alias("next_day"),
    )
    one_day = F.expr("INTERVAL 1 DAY")
    active = seq.groupBy("day").agg(
        F.count(F.lit(1)).alias("dau"),
        F.sum(
            F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
        ).alias("n_new"),
        F.sum(
            F.when(F.col("prev_day") == F.col("day") - one_day, 1).otherwise(0)
        ).alias("n_retained"),
        F.sum(
            F.when(
                (F.col("day") > F.col("first_day"))
                & (
                    F.col("prev_day").isNull()
                    | (F.col("prev_day") < F.col("day") - one_day)
                ),
                1,
            ).otherwise(0)
        ).alias("n_resurrected"),
    )
    churn = (
        seq.groupBy((F.col("day") + one_day).alias("churn_day"))
        .agg(
            F.sum(
                F.when(
                    F.col("next_day").isNull()
                    | (F.col("next_day") > F.col("day") + one_day),
                    1,
                ).otherwise(0)
            ).alias("n_churned")
        )
    )
    return (
        active.join(churn, active.day == churn.churn_day, "left")
        .select(
            "day",
            "dau",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n_churned"), F.lit(0)).alias("n_churned"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Bit-packed activity bitmaps (the roaring-bitmap pattern, bigint-sized)
# ---------------------------------------------------------------------------


@_register(
    "events_activity_bitmap",
    """
    WITH bm AS (
        SELECT user_id,
               CAST(bit_or(CAST(1 AS BIGINT) << hour(ts)) AS BIGINT)
                   AS hour_bitmap,
               CAST(bit_or(CAST(1 AS BIGINT) << CAST(dayofweek(ts) AS INT))
                   AS BIGINT) AS dow_bitmap
        FROM events
        GROUP BY user_id
    )
    SELECT user_id, hour_bitmap,
           CAST(bit_count(hour_bitmap) AS BIGINT) AS n_active_hours,
           CAST(bit_count(hour_bitmap & 4064) AS BIGINT) AS work_hours,
           CAST(bit_count((hour_bitmap & (-hour_bitmap)) - 1) AS BIGINT)
               AS first_hour,
           CAST(bit_count(dow_bitmap) AS BIGINT) AS n_active_dows,
           CASE WHEN (hour_bitmap & 63) <> 0 THEN 1 ELSE 0 END AS night_flag
    FROM bm
    """,
)
def events_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-packed per-user activity bitmaps — the roaring-bitmap /
    bitmap-index pattern at bigint size: one 24-bit hour-of-day mask
    and one 7-bit day-of-week mask per user, built by BIT_OR
    aggregation (shiftleft(1, hour) partials OR-combine map-side, so
    the shuffle moves ONE bigint per user per mask regardless of event
    count — the whole point of bitmaps at 100 TB, where count-distinct
    and set-overlap questions become popcounts over pre-ORed masks).
    Derived columns are pure bit arithmetic, identical in both
    engines: active-hour popcount, business-hours popcount (mask
    0b111111100000 = hours 5-11 … 4064 = bits 5..11), lowest set bit
    via bit_count((b & -b) - 1) (no log2, no float), day-of-week
    popcount, and a night-activity flag (hours 0-5, mask 63).
    Day-of-week numbering: Spark dayofweek() is 1=Sunday..7=Saturday
    and DuckDB dayofweek() is 0=Sunday..6=Saturday — one bit of the
    8-bit window differs, so the POPCOUNT (not the raw dow mask) is
    the certified column. Mergeable like a sketch: daily bitmaps OR
    into weekly into monthly without recount (same algebra the HLL
    union entry certifies for cardinality)."""
    ev = load_table(spark, sf_dir, "events")
    bm = ev.groupBy("user_id").agg(
        F.bit_or(F.expr("shiftleft(1L, hour(ts))")).alias("hour_bitmap"),
        F.bit_or(F.expr("shiftleft(1L, dayofweek(ts))")).alias("dow_bitmap"),
    )
    b = F.col("hour_bitmap")
    return bm.select(
        "user_id",
        "hour_bitmap",
        F.bit_count(b).cast("long").alias("n_active_hours"),
        F.bit_count(b.bitwiseAND(F.lit(4064))).cast("long").alias("work_hours"),
        F.bit_count(b.bitwiseAND(-b) - 1).cast("long").alias("first_hour"),
        F.bit_count(F.col("dow_bitmap")).cast("long").alias("n_active_dows"),
        F.when(b.bitwiseAND(F.lit(63)) != 0, 1).otherwise(0).alias("night_flag"),
    )


# ---------------------------------------------------------------------------
# PSI drift monitor: value distribution, first vs second half of the month
# ---------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_WIDTH = 5000  # cents per fixed bin; bin 9 is open-ended


@_register(
    "events_psi_drift",
    f"""
    WITH e AS (
        SELECT CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS period,
               LEAST({_PSI_BINS - 1},
                     CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                         // {_PSI_WIDTH}) AS bin
        FROM events
    ),
    counts AS (
        SELECT b.bin,
               CAST(COALESCE(SUM(CASE WHEN e.period = 0 THEN 1 END), 0)
                    AS BIGINT) AS n_a,
               CAST(COALESCE(SUM(CASE WHEN e.period = 1 THEN 1 END), 0)
                    AS BIGINT) AS n_b
        FROM range(0, {_PSI_BINS}) AS b(bin)
        LEFT JOIN e ON e.bin = b.bin
        GROUP BY b.bin
    ),
    tot AS (
        SELECT CAST(SUM(n_a) AS BIGINT) AS na_tot,
               CAST(SUM(n_b) AS BIGINT) AS nb_tot
        FROM counts
    ),
    contrib AS (
        SELECT c.bin, c.n_a, c.n_b,
               CAST(FLOOR(LN(CAST((c.n_a + 1) * (t.nb_tot + {_PSI_BINS})
                                  AS DOUBLE)
                             / CAST((c.n_b + 1) * (t.na_tot + {_PSI_BINS})
                                    AS DOUBLE))
                          * 1000000.0 + 0.5) AS BIGINT) AS lr_micro,
               CAST(FLOOR((CAST(c.n_a + 1 AS DOUBLE)
                           / CAST(t.na_tot + {_PSI_BINS} AS DOUBLE)
                           - CAST(c.n_b + 1 AS DOUBLE)
                             / CAST(t.nb_tot + {_PSI_BINS} AS DOUBLE))
                          * 1000000000.0 + 0.5) AS BIGINT) AS diff_nano
        FROM counts c, tot t
    )
    SELECT bin, n_a, n_b,
           CAST(lr_micro * diff_nano AS BIGINT) AS contrib_e15,
           CAST(SUM(lr_micro * diff_nano) OVER () AS BIGINT) AS psi_e15
    FROM contrib
    """,
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the month — THE production drift monitor for a feature/score
    column (PSI < 0.1 stable, > 0.25 action): fixed 50-dollar cents
    bins over event value, Laplace-smoothed (+1 per bin so empty bins
    stay finite), PSI = sum (p_i - q_i) * ln(p_i / q_i). Cross-engine
    exactness is the zipf/surprisal recipe applied to a two-sample
    statistic: the log-ratio collapses to ONE division of exact bigint
    cross-products — ln((n_a+1)(NB+10) / ((n_b+1)(NA+10))) — frozen to
    micro units, the probability diff frozen to nano units, and the
    per-bin contribution is their INTEGER product (1e-15 units, max
    ~5e15, safely bigint), so the sum order cannot matter. The bin
    spine is generated 0..{_PSI_BINS - 1} so structurally-empty bins
    still emit rows (a drift monitor that silently drops an empty bin
    under-reports the shift into it). Scale: one conditional-agg
    shuffle keyed by bin (10 groups, map-side collapse), totals as a
    1-row broadcast (whitelisted) — the monitor costs one scan
    regardless of corpus size, which is why PSI (not a KS test needing
    a global sort) is the 100 TB drift gate of choice."""
    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.dayofmonth("ts") <= 15, 0).otherwise(1).alias("period"),
        F.least(
            F.lit(_PSI_BINS - 1),
            F.expr(
                f"CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) DIV {_PSI_WIDTH}"
            ),
        ).alias("bin"),
    )
    spine = spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
    counts = (
        spine.join(ev, "bin", "left_outer")
        .groupBy("bin")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("period") == 0, 1)), F.lit(0)
            ).cast("long").alias("n_a"),
            F.coalesce(
                F.sum(F.when(F.col("period") == 1, 1)), F.lit(0)
            ).cast("long").alias("n_b"),
        )
    )
    tot = counts.agg(
        F.sum("n_a").cast("long").alias("na_tot"),
        F.sum("n_b").cast("long").alias("nb_tot"),
    )
    smooth = _PSI_BINS
    lr_micro = F.floor(
        F.log(
            ((F.col("n_a") + 1) * (F.col("nb_tot") + smooth)).cast("double")
            / ((F.col("n_b") + 1) * (F.col("na_tot") + smooth)).cast("double")
        )
        * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    diff_nano = F.floor(
        (
            (F.col("n_a") + 1).cast("double")
            / (F.col("na_tot") + smooth).cast("double")
            - (F.col("n_b") + 1).cast("double")
              / (F.col("nb_tot") + smooth).cast("double")
        )
        * 1000000000.0
        + F.lit(0.5)
    ).cast("long")
    contrib = counts.crossJoin(F.broadcast(tot)).select(
        "bin", "n_a", "n_b",
        (lr_micro * diff_nano).cast("long").alias("contrib_e15"),
    )
    return contrib.withColumn(
        "psi_e15",
        F.sum("contrib_e15").over(W.rowsBetween(W.unboundedPreceding,
                                                W.unboundedFollowing)),
    )


# ---------------------------------------------------------------------------
# Half-sample bootstrap CI for the median (deterministic hash replicas)
# ---------------------------------------------------------------------------

_HS_REPLICAS = 16


@_register(
    "events_median_halfsample_ci",
    f"""
    WITH rep AS (
        SELECT b.b,
               CAST(FLOOR(e.value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events e
        JOIN range(0, {_HS_REPLICAS}) AS b(b)
          ON CAST('0x' || substr(md5(CAST(e.event_id AS VARCHAR)
                                      || ':' || CAST(b.b AS VARCHAR)), 1, 4)
                  AS BIGINT) % 2 = 0
    ),
    ranked AS (
        SELECT b, cents,
               ROW_NUMBER() OVER (PARTITION BY b ORDER BY cents) AS rn,
               COUNT(*) OVER (PARTITION BY b) AS n
        FROM rep
    ),
    med AS (
        SELECT CAST(b AS BIGINT) AS b, CAST(ANY_VALUE(n) AS BIGINT) AS n,
               CAST(SUM(cents * CASE WHEN (n + 1) // 2 = (n + 2) // 2
                                     THEN 2 ELSE 1 END) AS BIGINT)
                   AS median2x_cents
        FROM ranked
        WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
        GROUP BY b
    )
    SELECT b, n, median2x_cents,
           CAST(MIN(median2x_cents) OVER () AS BIGINT) AS ci_low2x_cents,
           CAST(MAX(median2x_cents) OVER () AS BIGINT) AS ci_high2x_cents
    FROM med
    """,
)
def events_median_halfsample_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-sample bootstrap CI for the median event value —
    {_HS_REPLICAS} DETERMINISTIC half-sample replicas (membership =
    one md5 parity bit of event_id x replica, so every engine and
    every rerun draws the same 'random' halves), an exact interpolated
    median per replica (kept integer as 2x cents: the two middle
    order statistics summed, doubled when they coincide), and the
    replica min/max as the CI band. This is the practitioner's
    no-distribution-assumptions uncertainty for a SCALE-HOSTILE
    statistic: a median needs a global order, so classic n-resample
    bootstrap is n x that cost, while hash-replica membership is a
    free scan-side bit — the replicate fan-out moves only (b, cents)
    pairs and each replica's median is a per-partition rank pick, the
    same shape Spark's percentile machinery uses. Ranking ties on
    cents only: duplicate cents make row order ambiguous but the
    VALUES at ranks k1/k2 are multiset-determined, so the pick is
    deterministic anyway. At 100 TB: replicas shard by (b) across the
    cluster and the {_HS_REPLICAS}x fan-out of one bigint column is
    the entire overhead (GK sketches answer the same question
    approximately; this is the exact-arm certification)."""
    from user_feed_cdc_spark.sources.tables import fan_out

    # fan_out: the replica explode + per-(event,replica) md5 membership
    # filter run in the SCAN stage — a single local file otherwise pins
    # |events|x{replicas} hashes to one task (no-op at real scale)
    ev = fan_out(
        load_table(spark, sf_dir, "events").select(
            "event_id",
            F.floor(F.col("value") * 100.0 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    rep = (
        ev.select(
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_HS_REPLICAS - 1))).alias("b"),
        )
        .filter(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("event_id").cast("string"),
                            F.lit(":"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0
        )
    )
    wb = W.partitionBy("b")
    ranked = rep.select(
        "b", "cents",
        F.row_number().over(wb.orderBy("cents")).alias("rn"),
        F.count(F.lit(1)).over(wb).alias("n"),
    )
    med = (
        ranked.filter(
            (F.col("rn") == F.expr("(n + 1) DIV 2"))
            | (F.col("rn") == F.expr("(n + 2) DIV 2"))
        )
        .groupBy("b")
        .agg(
            F.any_value("n").cast("long").alias("n"),
            F.sum(
                F.col("cents")
                * F.when(
                    F.expr("(n + 1) DIV 2 = (n + 2) DIV 2"), 2
                ).otherwise(1)
            ).cast("long").alias("median2x_cents"),
        )
        .select(F.col("b").cast("long").alias("b"), "n", "median2x_cents")
    )
    whole = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return med.select(
        "b", "n", "median2x_cents",
        F.min("median2x_cents").over(whole).cast("long").alias("ci_low2x_cents"),
        F.max("median2x_cents").over(whole).cast("long").alias("ci_high2x_cents"),
    )


# ---------------------------------------------------------------------------
# Interval-overlap join: activity sessions × error incidents
# ---------------------------------------------------------------------------

_INC_MIN_ERRORS = 2  # errors per hour that constitute an incident


@_register(
    "events_incident_overlap_join",
    f"""
    WITH flags AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts)
                         - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id))
                         >= 1800000000
                         OR LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sess AS (
        SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM flags
        )
        GROUP BY user_id, sid
    ),
    inc AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS incident_hour,
               MIN(ts) AS incident_start, MAX(ts) AS incident_end
        FROM events
        WHERE event_type = 'error'
        GROUP BY 1
        HAVING COUNT(*) >= {_INC_MIN_ERRORS}
    )
    SELECT s.user_id, s.session_start, s.session_end,
           i.incident_hour,
           CAST(epoch_us(LEAST(s.session_end, i.incident_end))
                - epoch_us(GREATEST(s.session_start, i.incident_start))
                AS BIGINT) AS overlap_us
    FROM sess s
    JOIN (
        SELECT UNNEST(generate_series(
                   CAST(date_trunc('hour', session_start) AS TIMESTAMP),
                   CAST(date_trunc('hour', session_end) AS TIMESTAMP),
                   INTERVAL 1 HOUR)) AS h,
               user_id, session_start, session_end
        FROM sess
    ) sh ON sh.user_id = s.user_id
        AND sh.session_start = s.session_start
    JOIN inc i ON i.incident_hour = sh.h
    WHERE s.session_start <= i.incident_end
      AND i.incident_start <= s.session_end
    """,
)
def events_incident_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP join — the second range-join shape beside the
    point-in-interval form (range_join_user_pairs): per-user activity
    sessions (30-min gaps-and-islands over raw spans) against
    error-burst incident windows (hours with >= {_INC_MIN_ERRORS}
    errors, spanning first-to-last error), emitting every
    session x incident pair whose CLOSED intervals overlap plus the
    exact overlap in integer microseconds. The scale pattern under
    certification is BUCKET + RESIDUAL: neither side can equi-join on
    an interval, so sessions explode to the hour grid they cover,
    the join runs on the hour key (incidents are hour-keyed by
    construction), and the true overlap predicate applies as a
    residual — turning an unbounded inequality join into a hash join
    whose fan-out is bounded by interval length / bucket width, the
    standard interval-join decomposition every engine (and Spark's own
    range-join hints) uses. All comparisons are on raw timestamps and
    epoch-microsecond bigints — no floats anywhere. At 100 TB: bucket
    width trades fan-out vs residual selectivity; hour buckets keep
    the exploded side ~session-hours rows, and AQE broadcasts the
    (small) incident table."""
    ev = load_table(spark, sf_dir, "events")
    wuo = W.partitionBy("user_id").orderBy("ts", "event_id")
    lag_us = F.unix_micros(F.lag("ts").over(wuo))
    flags = ev.select(
        "user_id", "ts",
        F.when(
            lag_us.isNull()
            | (F.unix_micros(F.col("ts")) - lag_us >= 1_800_000_000),
            1,
        ).otherwise(0).alias("new_session"),
    )
    sess = (
        flags.withColumn(
            "sid",
            F.sum("new_session").over(
                W.partitionBy("user_id").orderBy("ts").rowsBetween(
                    W.unboundedPreceding, 0
                )
            ),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .drop("sid")
    )
    inc = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("incident_hour"))
        .agg(
            F.min("ts").alias("incident_start"),
            F.max("ts").alias("incident_end"),
            F.count(F.lit(1)).alias("n_err"),
        )
        .filter(F.col("n_err") >= _INC_MIN_ERRORS)
        .drop("n_err")
    )
    sh = sess.select(
        "user_id", "session_start", "session_end",
        F.explode(
            F.expr(
                "sequence(date_trunc('hour', session_start),"
                " date_trunc('hour', session_end), interval 1 hour)"
            )
        ).alias("h"),
    )
    joined = sh.join(inc, F.col("h") == F.col("incident_hour")).filter(
        (F.col("session_start") <= F.col("incident_end"))
        & (F.col("incident_start") <= F.col("session_end"))
    )
    return joined.select(
        "user_id", "session_start", "session_end", "incident_hour",
        (
            F.unix_micros(F.least("session_end", "incident_end"))
            - F.unix_micros(F.greatest("session_start", "incident_start"))
        ).cast("long").alias("overlap_us"),
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend (median of pairwise slopes) over daily revenue
# ---------------------------------------------------------------------------


@_register(
    "events_theil_sen_trend",
    """
    WITH daily AS (
        SELECT CAST(date_diff('day',
                    (SELECT MIN(CAST(ts AS DATE)) FROM events),
                    CAST(ts AS DATE)) AS BIGINT) AS d,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT a.d AS d1, b.d AS d2,
               CAST(b.rev - a.rev AS DOUBLE) / CAST(b.d - a.d AS DOUBLE)
                   AS slope
        FROM daily a JOIN daily b ON b.d > a.d
    ),
    ranked AS (
        SELECT slope,
               ROW_NUMBER() OVER (ORDER BY slope, d1, d2) AS rn,
               COUNT(*) OVER () AS np
        FROM pairs
    ),
    ts_med AS (
        SELECT CAST(ANY_VALUE(np) AS BIGINT) AS n_pairs,
               CAST(SUM(CAST(FLOOR(slope * 1000000.0 + 0.5) AS BIGINT)
                        * CASE WHEN (np + 1) // 2 = (np + 2) // 2
                               THEN 2 ELSE 1 END) AS BIGINT)
                   AS slope2x_micro
        FROM ranked WHERE rn IN ((np + 1) // 2, (np + 2) // 2)
    ),
    ols AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(COUNT(*) * SUM(d * rev) - SUM(d) * SUM(rev) AS BIGINT)
                   AS num,
               CAST(COUNT(*) * SUM(d * d) - SUM(d) * SUM(d) AS BIGINT) AS den
        FROM daily
    )
    SELECT o.n_days, t.n_pairs, t.slope2x_micro,
           CAST(FLOOR(CAST(o.num AS DOUBLE) / CAST(o.den AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) AS ols_slope_micro
    FROM ts_med t, ols o
    """,
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily revenue — the median of all
    pairwise day-to-day slopes, the estimator that shrugs off the
    outlier days that twist OLS (29.3% breakdown point vs OLS's one
    bad point), reported beside the OLS slope from exact bigint
    moment sums so the robustness gap is visible in one row. Slope
    ordering uses the raw IEEE quotient (ONE division of exact bigint
    cents/day diffs — deterministic in both engines); the two middle
    order statistics are micro-frozen and summed (2x-units, the
    even/odd-median trick the half-sample CI entry uses). The pair
    frame is |days| choose 2 — BOUNDED BY THE CALENDAR, not the
    corpus (435 pairs for a month, ~66k for a decade), so the
    quadratic step is a constant-size epilogue to one daily-rollup
    shuffle; at 100 TB only the rollup grows. Day index is anchored
    to MIN(date) so the x-axis is integer days with no timezone
    skew."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    daily = (
        ev.crossJoin(F.broadcast(base))
        .groupBy(
            F.datediff(F.col("ts").cast("date"), F.col("d0"))
            .cast("long")
            .alias("d")
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
            ).alias("rev")
        )
    )
    a = daily.select(F.col("d").alias("d1"), F.col("rev").alias("r1"))
    b = daily.select(F.col("d").alias("d2"), F.col("rev").alias("r2"))
    pairs = a.join(b, F.col("d2") > F.col("d1")).select(
        "d1", "d2",
        (
            (F.col("r2") - F.col("r1")).cast("double")
            / (F.col("d2") - F.col("d1")).cast("double")
        ).alias("slope"),
    )
    whole = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = pairs.select(
        "slope",
        F.row_number().over(W.orderBy("slope", "d1", "d2")).alias("rn"),
        F.count(F.lit(1)).over(whole).alias("np"),
    )
    ts_med = (
        ranked.filter(
            (F.col("rn") == F.expr("(np + 1) DIV 2"))
            | (F.col("rn") == F.expr("(np + 2) DIV 2"))
        )
        .agg(
            F.any_value("np").cast("long").alias("n_pairs"),
            F.sum(
                F.floor(F.col("slope") * 1000000.0 + F.lit(0.5)).cast("long")
                * F.when(
                    F.expr("(np + 1) DIV 2 = (np + 2) DIV 2"), 2
                ).otherwise(1)
            ).cast("long").alias("slope2x_micro"),
        )
    )
    ols = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (
            F.count(F.lit(1)) * F.sum(F.col("d") * F.col("rev"))
            - F.sum("d") * F.sum("rev")
        ).cast("long").alias("num"),
        (
            F.count(F.lit(1)) * F.sum(F.col("d") * F.col("d"))
            - F.sum("d") * F.sum("d")
        ).cast("long").alias("den"),
    )
    return ts_med.crossJoin(F.broadcast(ols)).select(
        "n_days", "n_pairs", "slope2x_micro",
        F.floor(
            F.col("num").cast("double") / F.col("den").cast("double")
            * 1000000.0
            + F.lit(0.5)
        ).cast("long").alias("ols_slope_micro"),
    )


# ---------------------------------------------------------------------------
# 2-D Mahalanobis outliers (value × hour) from exact co-moment sums
# ---------------------------------------------------------------------------

_MAHA_TOPK = 20


@_register(
    "events_mahalanobis_outliers",
    f"""
    WITH pts AS (
        SELECT event_id,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) // 100 AS x,
               CAST(hour(ts) AS BIGINT) AS y
        FROM events
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pts
    ),
    scored AS (
        SELECT p.event_id, p.x, p.y,
               CAST(FLOOR(
                   (CAST(m.n * m.syy - m.sy * m.sy AS DOUBLE)
                        * CAST(m.n * p.x - m.sx AS DOUBLE)
                        * CAST(m.n * p.x - m.sx AS DOUBLE)
                    - 2.0 * CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                        * CAST(m.n * p.x - m.sx AS DOUBLE)
                        * CAST(m.n * p.y - m.sy AS DOUBLE)
                    + CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
                        * CAST(m.n * p.y - m.sy AS DOUBLE)
                        * CAST(m.n * p.y - m.sy AS DOUBLE))
                   / (CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
                        * CAST(m.n * m.syy - m.sy * m.sy AS DOUBLE)
                      - CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                        * CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE))
                   * 1000000.0 + 0.5) AS BIGINT)
                   AS d2_micro
        FROM pts p, m
    )
    SELECT event_id, x, y, d2_micro
    FROM scored
    ORDER BY d2_micro DESC, event_id
    LIMIT {_MAHA_TOPK}
    """,
)
def events_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_MAHA_TOPK} MULTIVARIATE outliers by 2-D Mahalanobis
    distance over (value-dollars, hour-of-day) — the correlation-aware
    generalization of the per-axis z-score entry: a point can be
    normal on each axis yet far from the joint ellipse, and d² =
    (p-mu)' SIGMA^-1 (p-mu) is what catches it. The 2x2 inverse is
    CLOSED FORM, so everything derives from five exact bigint co-moment
    sums (the moment-profile recipe): centered coordinates n*x-Sx,
    covariance entries n*Sxx-Sx² etc. are all exact integers; the
    quadratic form then runs in fp64 with an IDENTICAL operation order
    in both engines (products would overflow int64 at ~1e32, so the
    doubles are loads of exact integers — no accumulated float error,
    just one deterministic expression), micro-frozen before the
    top-{_MAHA_TOPK} pick so the cutoff cannot ULP-flip. Scale: one
    partial+final co-moment agg (1 row broadcast back), score is a
    scan-side projection, TakeOrderedAndProject closes — the same
    2-pass shape as the z-score entry, independent of corpus size.
    Value uses dollars (cents DIV 100) to keep x² sums far from bigint
    range at any SF."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        F.expr("CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) DIV 100").alias("x"),
        F.hour("ts").cast("long").alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    cxx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    cyy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    cxy = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (F.col("n") * F.col("x") - F.col("sx")).cast("double")
    dy = (F.col("n") * F.col("y") - F.col("sy")).cast("double")
    # C = n²·Σ and the centered coords are n·(p-mu), so the quadratic
    # form over adj(C)/det(C) IS d² directly — the n factors cancel
    # (n⁴ in the numerator against n⁴ in det). Σ d²_i = 2n exactly
    # (population covariance, 2-D), pinned by pytest.
    d2 = F.floor(
        (cyy * dx * dx - F.lit(2.0) * cxy * dx * dy + cxx * dy * dy)
        / (cxx * cyy - cxy * cxy)
        * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    return (
        pts.crossJoin(F.broadcast(m))
        .select("event_id", "x", "y", d2.alias("d2_micro"))
        .orderBy(F.col("d2_micro").desc(), "event_id")
        .limit(_MAHA_TOPK)
    )


# ---------------------------------------------------------------------------
# Sequence-pattern matching (MATCH_RECOGNIZE / CEP emulation)
# ---------------------------------------------------------------------------

_SEQ_PATTERN = "v[^e]*c[^e]*p"  # view → click → purchase, no error between


@_register(
    "events_sequence_pattern",
    f"""
    WITH seqs AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS seq
        FROM events
        GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(seq) AS BIGINT) AS n_events,
           CASE WHEN regexp_matches(seq, '{_SEQ_PATTERN}')
                THEN 1 ELSE 0 END AS matched,
           CAST(len(regexp_extract_all(seq, '{_SEQ_PATTERN}')) AS BIGINT)
               AS n_matches
    FROM seqs
    """,
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-SEQUENCE pattern matching — the MATCH_RECOGNIZE / CEP
    operator class, emulated the classic way Spark (which lacks
    MATCH_RECOGNIZE) does it: each user's event-type stream collapses
    to a letter string in exact (ts, event_id) order, and the pattern
    'view, then click, then purchase, with no error anywhere between'
    becomes the regex {_SEQ_PATTERN!r} evaluated per user — matched
    flag plus non-overlapping match count (both engines scan leftmost
    greedy non-overlapping, verified identical). The alphabet is the
    5 event types' distinct initials, so one char per event. Scale:
    ONE groupBy shuffle moving single chars per event; the per-user
    string is bounded by per-user activity, and a real deployment
    bounds it harder by sessionizing first (the session entry's
    gaps-and-islands key slots in as a second GROUP BY column
    unchanged). The regex then runs scan-side over the grouped rows —
    no joins, no explosion, which is exactly why the string-fold
    emulation is the standard pattern for funnels-with-exclusion at
    warehouse scale (Snowflake/Flink expose MATCH_RECOGNIZE; this IS
    its NFA run, one user at a time)."""
    ev = load_table(spark, sf_dir, "events")
    seqs = (
        ev.select(
            "user_id", "ts", "event_id",
            F.substring("event_type", 1, 1).alias("ch"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "ch"))
                ).getField("ch"),
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("long").alias("n_events"),
        F.when(
            F.col("seq").rlike(_SEQ_PATTERN), 1
        ).otherwise(0).alias("matched"),
        F.expr(f"regexp_count(seq, '{_SEQ_PATTERN}')").cast("long").alias(
            "n_matches"
        ),
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection over daily revenue
# ---------------------------------------------------------------------------

_CUSUM_BASELINE_DAYS = 7


@_register(
    "events_cusum_changepoint",
    f"""
    WITH daily AS (
        SELECT CAST(date_diff('day',
                    (SELECT MIN(CAST(ts AS DATE)) FROM events),
                    CAST(ts AS DATE)) AS BIGINT) AS d,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM events GROUP BY 1
    ),
    base AS (
        SELECT CAST(SUM(rev) AS BIGINT) AS base_sum,
               CAST(COUNT(*) AS BIGINT) AS n0
        FROM daily WHERE d < {_CUSUM_BASELINE_DAYS}
    ),
    cusum AS (
        SELECT d.d, d.rev,
               CAST(b.n0 * SUM(d.rev) OVER (ORDER BY d.d
                                            ROWS UNBOUNDED PRECEDING)
                    - (ROW_NUMBER() OVER (ORDER BY d.d)) * b.base_sum
                    AS BIGINT) AS s_scaled
        FROM daily d, base b
    ),
    stats AS (
        SELECT COUNT(*) AS n_days,
               MAX(ABS(s_scaled)) AS max_abs,
               MIN(CASE WHEN ABS(s_scaled) =
                        (SELECT MAX(ABS(s_scaled)) FROM cusum)
                   THEN d * 4 + CAST(SIGN(s_scaled) AS BIGINT) + 1 END) AS enc
        FROM cusum
    )
    SELECT CAST(n_days AS BIGINT) AS n_days,
           CAST(max_abs AS BIGINT) AS max_abs_cusum_scaled,
           CAST(enc // 4 AS BIGINT) AS change_day,
           CAST(enc % 4 - 1 AS BIGINT) AS direction
    FROM stats
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on daily revenue — the classical
    monitoring statistic beside the PSI entry (PSI asks 'did the
    distribution drift between two snapshots'; CUSUM asks WHEN the
    level shifted): S_d = running sum of deviations from the
    first-{_CUSUM_BASELINE_DAYS}-day baseline mean, change point =
    argmax |S_d|. Everything stays in EXACT integers by
    cross-multiplying the baseline mean away — S_scaled(d) =
    n0 * prefix_sum(rev) - rank(d) * baseline_sum, bigint cents — so
    the argmax day and direction cannot ULP-flip. Ties at max |S|
    resolve to the EARLIEST day, and direction is decoded from that
    same row (a single min over an enc = day*4 + sign+1 packing), so a
    simultaneous +peak/-peak tie cannot report a direction belonging
    to a different day than change_day. Scale: one daily-rollup shuffle, one ordered
    prefix-sum window over |days| rows, a 1-row baseline broadcast
    (whitelisted) — the detector is calendar-sized no matter the
    corpus. On this stationary generator the detected shift is noise
    (pinned small relative to n0*sigma*sqrt(n) by pytest), which is
    itself the monitoring contract: a flat series must not alarm."""
    ev = load_table(spark, sf_dir, "events")
    base_day = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    daily = (
        ev.crossJoin(F.broadcast(base_day))
        .groupBy(
            F.datediff(F.col("ts").cast("date"), F.col("d0"))
            .cast("long")
            .alias("d")
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
            ).alias("rev")
        )
    )
    base = daily.filter(F.col("d") < _CUSUM_BASELINE_DAYS).agg(
        F.sum("rev").cast("long").alias("base_sum"),
        F.count(F.lit(1)).cast("long").alias("n0"),
    )
    wd = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    cusum = daily.crossJoin(F.broadcast(base)).select(
        "d",
        (
            F.col("n0") * F.sum("rev").over(wd)
            - F.row_number().over(W.orderBy("d")) * F.col("base_sum")
        ).cast("long").alias("s_scaled"),
    )
    peak = cusum.agg(F.max(F.abs(F.col("s_scaled"))).alias("peak"))
    return (
        cusum.crossJoin(F.broadcast(peak))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.any_value("peak").cast("long").alias("max_abs_cusum_scaled"),
            # Encode (day, sign) of every peak-tied row into one bigint,
            # enc = d*4 + sign+1 (sign+1 in {0,1,2}, d >= 0), and take the
            # MIN: both fields then decode from the SAME earliest-tied
            # row, so direction can never belong to a different day than
            # change_day when a +peak and a -peak tie at equal |S|.
            F.min(
                F.when(
                    F.abs(F.col("s_scaled")) == F.col("peak"),
                    F.col("d") * 4
                    + F.signum(F.col("s_scaled")).cast("long")
                    + 1,
                )
            ).alias("_enc"),
        )
        .select(
            "n_days",
            "max_abs_cusum_scaled",
            (F.col("_enc") / 4).cast("long").alias("change_day"),
            (F.col("_enc") % 4 - 1).cast("long").alias("direction"),
        )
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of daily revenue (lags 1..7)
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7


@_register(
    "events_autocorrelation",
    f"""
    WITH daily AS (
        SELECT CAST(date_diff('day',
                    (SELECT MIN(CAST(ts AS DATE)) FROM events),
                    CAST(ts AS DATE)) AS BIGINT) AS d,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT l.lag, a.rev AS x, b.rev AS y
        FROM range(1, {_ACF_MAX_LAG + 1}) AS l(lag)
        JOIN daily a ON TRUE
        JOIN daily b ON b.d = a.d + l.lag
    ),
    sums AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM lagged GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
           CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                      / SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                      / SQRT(CAST(n * syy - sy * sy AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS acf_micro
    FROM sums
    """,
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily revenue at lags 1..{_ACF_MAX_LAG} —
    the third leg of the time-series monitoring kit (PSI: distribution
    drift; CUSUM: level shift; ACF: periodicity — a weekly cycle shows
    as a lag-7 spike). Each lag's Pearson r comes from exact bigint
    co-moment sums over the (x_t, x_(t+lag)) pairs; the only float ops
    are one division and two IEEE-exact SQRTs (the safe subset per
    the cross-engine rule: no pow, no ln on the value path), frozen to
    micro units. The lag join is daily-vs-daily on d+lag — an
    equi-join on a calendar-sized frame, so like the Theil-Sen entry
    the cost is ONE daily-rollup shuffle and a constant-size epilogue;
    the lag spine explodes {_ACF_MAX_LAG}x |days| rows, nothing
    corpus-sized."""
    ev = load_table(spark, sf_dir, "events")
    base_day = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    daily = (
        ev.crossJoin(F.broadcast(base_day))
        .groupBy(
            F.datediff(F.col("ts").cast("date"), F.col("d0"))
            .cast("long")
            .alias("d")
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
            ).alias("rev")
        )
    )
    a = daily.select(
        F.col("d").alias("da"), F.col("rev").alias("x"),
        F.explode(
            F.sequence(F.lit(1), F.lit(_ACF_MAX_LAG))
        ).alias("lag"),
    )
    b = daily.select(F.col("d").alias("db"), F.col("rev").alias("y"))
    lagged = a.join(b, F.col("db") == F.col("da") + F.col("lag"))
    sums = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    deny = F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return sums.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.floor(num / denx / deny * 1000000.0 + F.lit(0.5)).cast("long").alias(
            "acf_micro"
        ),
    )


@_register(
    "streaming_activity_bitmap_live",
    """
    SELECT user_id,
           CAST(bit_or(CAST(1 AS BIGINT) << hour(ts)) AS BIGINT)
               AS hour_bitmap,
           CAST(bit_count(bit_or(CAST(1 AS BIGINT) << hour(ts))) AS BIGINT)
               AS n_active_hours
    FROM events
    GROUP BY user_id
    """,
)
def streaming_activity_bitmap_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BITMAP aggregate live under the oracle gate — sixth live
    streaming family after fixed windows, merging windows, dedup
    state, stream joins, and HLL distinct: per-user hour-of-day masks
    accumulate by BIT_OR over the replayed event file stream (complete
    mode, availableNow drain, memory sink hashed against the batch
    GROUP BY). BIT_OR is idempotent and commutative, which makes it
    the ideal streaming accumulator: replays, retries, and
    out-of-order arrival CANNOT corrupt the state (a|a = a), so unlike
    counters it needs no exactly-once reasoning to stay correct — the
    property that makes bitmap presence state the production choice
    for 'was user X active in hour H' at 100 TB, and the streaming
    half of the batch events_activity_bitmap entry's OR-mergeability
    story. State is ONE bigint per user per mask — the smallest
    per-key streaming state in the whole registry."""
    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
        run_to_memory,
    )

    src = events_stream_dir(sf_dir)
    stream = events_file_stream(spark, src)
    bm = stream.groupBy("user_id").agg(
        F.bit_or(F.expr("shiftleft(1L, hour(ts))")).alias("hour_bitmap")
    )
    agg = bm.select(
        "user_id", "hour_bitmap",
        F.bit_count(F.col("hour_bitmap")).cast("long").alias("n_active_hours"),
    )
    return run_to_memory(
        spark, agg, "streaming_activity_bitmap_live_sink", "complete",
        src_paths=(src,),
    )


# ---------------------------------------------------------------------------
# Sweep-line interval concurrency: peak simultaneous sessions per day
# ---------------------------------------------------------------------------

_CONC_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap, microseconds
# Revision of the concurrent-sessions DELTA DERIVATION (the explode →
# (ts, ±1, day) shape cached under conc_deltas). Declared beside the
# gap constant so the cache key and the logic live in one place: bump
# this on ANY change to the delta derivation, or the scratch cache
# silently serves stale deltas (r11 ADVICE).
_CONC_DELTAS_REV = 2


@_register(
    "events_max_concurrent_sessions",
    f"""
    WITH s AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts)
                         - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                  ORDER BY ts))
                         > {_CONC_GAP_US}
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ),
    sid AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
        FROM s
    ),
    sess AS (
        SELECT user_id, sid,
               MIN(ts) AS s_start,
               MAX(ts) + INTERVAL 30 MINUTE AS s_end
        FROM sid GROUP BY user_id, sid
    ),
    deltas AS (
        SELECT s_start AS ts, 1 AS delta FROM sess
        UNION ALL
        SELECT s_end AS ts, -1 AS delta FROM sess
    ),
    run AS (
        SELECT CAST(ts AS DATE) AS day, delta,
               SUM(delta) OVER (ORDER BY ts, delta) AS run_all
        FROM deltas
    )
    SELECT day,
           CAST(MAX(run_all) AS BIGINT) AS peak_concurrency,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sessions_started
    FROM run GROUP BY day
    """,
)
def events_max_concurrent_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak CONCURRENT sessions per day — the sweep-line / interval-
    stabbing pattern the registry lacked (events_incident_overlap_join
    asks 'which intervals overlap'; this asks 'how many at once', the
    capacity-planning number): 30-min-gap sessions become [first_event,
    last_event + 30 min) intervals, each interval emits a +1 at start
    and a -1 at end, and the running sum of deltas in (ts, delta)
    order IS the live-session count — the -1-before-+1 tie rule gives
    half-open semantics, so back-to-back sessions never double-count.

    Scale shape: the session build is the certified gaps-and-islands
    pair of per-user windows; the sweep is NOT one global ordered
    window (which would single-thread 100 TB) but the two-level
    prefix-sum trick the pipeline family pins — a per-DAY partitioned
    running sum plus a |days|-row carry frame (cumulative sum of prior
    days' delta totals, broadcast back), and carry + local_run equals
    the global cumsum exactly because integer addition reassociates.
    The oracle computes the straightforward single-window global
    cumsum, certifying the decomposition. Ties are safe under RANGE
    frames in both engines: peers aggregate together, so equal-(ts,
    delta) groups see one deterministic value and the per-day MAX
    cannot depend on intra-tie order. Session gaps compare in exact
    MICROSECONDS (unix_micros/epoch_us) — a whole-second cast would
    disagree with the oracle on sub-second gaps. Days fully inside a
    long session emit no row (no delta falls on them) — the output is
    the peak at state-change points, which is where the max lives."""
    ev = load_table(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
    sess = (
        ev.select("user_id", "ts")
        .withColumn(
            "sid",
            F.sum(F.when(gap > _CONC_GAP_US, 1).otherwise(0)).over(wu),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("s_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("s_end"),
        )
    )
    # ONE pass builds both deltas per session (explode of a 2-struct
    # array — the union-of-two-selects form re-ran the per-user
    # session windows twice), and the materialization makes the
    # compact ±1 frame (2 rows/session, far smaller than events)
    # readable by both the local-run and carry branches without
    # re-deriving it from the raw scan: 4 events scans -> 1. The
    # materialization is a scratch parquet cached per (sf, source
    # mtime) — not localCheckpoint, whose RDD blocks linger for the
    # session until ContextCleaner/GC notices (r09 ADVICE); the
    # scratch file has deterministic stale-generation cleanup and
    # repeat invocations skip the sessionization entirely. At cluster
    # scale the same point is persist()+unpersist() bracketing the
    # job — sessions, not events, is what you pin.
    deltas_src = sess.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("s_start").alias("ts"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col("s_end").alias("ts"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("d")
    ).select(
        F.col("d.ts").alias("ts"),
        F.col("d.delta").alias("delta"),
        F.to_date("d.ts").alias("day"),
    )
    from user_feed_cdc_spark.sources.formats import cached_fixture

    # Cache key folds in the sessionization LOGIC, not just the source
    # (r10 ADVICE): unlike the txn-log fixtures (pure functions of the
    # data), the deltas depend on the gap constant and struct shape —
    # a code change here must invalidate the scratch, not silently
    # reuse stale deltas until testdata regenerates. The revision
    # lives in _CONC_DELTAS_REV beside _CONC_GAP_US (r11 ADVICE).
    path = cached_fixture(
        "conc_deltas",
        sf_dir,
        f":gap={_CONC_GAP_US}:v={_CONC_DELTAS_REV}",
        lambda root: deltas_src.write.mode("overwrite").parquet(root),
        tag="concdeltas",
    )
    deltas = spark.read.schema("ts timestamp, delta int, day date").parquet(
        path
    )
    local = deltas.withColumn(
        "run_local",
        F.sum("delta").over(W.partitionBy("day").orderBy("ts", "delta")),
    )
    carry = (
        deltas.groupBy("day")
        .agg(F.sum("delta").alias("dtot"))
        .withColumn(
            "carry",
            F.coalesce(
                F.sum("dtot").over(
                    W.orderBy("day").rowsBetween(
                        W.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("day", "carry")
    )
    return (
        local.join(F.broadcast(carry), "day")
        .groupBy("day")
        .agg(
            F.max(F.col("carry") + F.col("run_local"))
            .cast("long")
            .alias("peak_concurrency"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_sessions_started"),
        )
    )


_HOLT_WINTERS_ORACLE = """
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) - 1
                    AS BIGINT) AS i
        FROM events GROUP BY 1
    ),
    init0 AS (
        SELECT CAST(SUM(cents) AS DOUBLE) / 7.0 AS l0
        FROM daily WHERE i < 7
    ),
    init AS (
        SELECT l0,
               (SELECT list(CAST(d.cents AS DOUBLE) - l0 ORDER BY d.i)
                FROM daily d WHERE d.i < 7) AS s0
        FROM init0
    ),
    rec AS (
        SELECT CAST(6 AS BIGINT) AS i, l0 AS level,
               CAST(0 AS DOUBLE) AS trend, s0 AS s,
               CAST(NULL AS DATE) AS day, CAST(NULL AS BIGINT) AS cents,
               CAST(NULL AS DOUBLE) AS seasonal,
               CAST(NULL AS DOUBLE) AS fitted
        FROM init
        UNION ALL
        SELECT x.i,
               0.5 * (CAST(x.cents AS DOUBLE)
                      - r.s[CAST(x.i % 7 AS INT) + 1])
                   + 0.5 * (r.level + r.trend),
               0.5 * ((0.5 * (CAST(x.cents AS DOUBLE)
                              - r.s[CAST(x.i % 7 AS INT) + 1])
                       + 0.5 * (r.level + r.trend)) - r.level)
                   + 0.5 * r.trend,
               list_transform(range(0, 7), j -> CASE WHEN j = x.i % 7 THEN
                   0.5 * (CAST(x.cents AS DOUBLE)
                          - (0.5 * (CAST(x.cents AS DOUBLE)
                                    - r.s[CAST(x.i % 7 AS INT) + 1])
                             + 0.5 * (r.level + r.trend)))
                       + 0.5 * r.s[CAST(x.i % 7 AS INT) + 1]
                   ELSE r.s[CAST(j AS INT) + 1] END),
               x.day, x.cents,
               0.5 * (CAST(x.cents AS DOUBLE)
                      - (0.5 * (CAST(x.cents AS DOUBLE)
                                - r.s[CAST(x.i % 7 AS INT) + 1])
                         + 0.5 * (r.level + r.trend)))
                   + 0.5 * r.s[CAST(x.i % 7 AS INT) + 1],
               r.level + r.trend + r.s[CAST(x.i % 7 AS INT) + 1]
        FROM rec r JOIN daily x ON x.i = r.i + 1
    )
    SELECT day, cents,
           FLOOR(level * 1000000.0 + 0.5) / 1000000.0 AS level,
           FLOOR(trend * 1000000.0 + 0.5) / 1000000.0 AS trend,
           FLOOR(seasonal * 1000000.0 + 0.5) / 1000000.0 AS seasonal,
           FLOOR(fitted * 1000000.0 + 0.5) / 1000000.0 AS fitted
    FROM rec WHERE day IS NOT NULL
"""


@_register("events_holt_winters_seasonal", _HOLT_WINTERS_ORACLE)
def events_holt_winters_seasonal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt-Winters ADDITIVE SEASONAL smoothing (level + trend +
    period-7 seasonal state, alpha=beta=gamma=1/2) over the daily
    revenue series — the triple-exponential extension of
    events_holt_linear_trend, carrying a SEVEN-SLOT seasonal vector
    through the same JVM-side fold: warm-up on the first 7 days
    (level = their integer-exact mean, seasonal_j = y_j - level,
    trend = 0), then per day the recurrence updates level, trend, and
    the day's seasonal slot while the other six ride along unchanged
    — the array update is exact, so only the ~5 float ops per step
    need the expression-tree contract. fitted = l + b + s_k is the
    one-step seasonal forecast.

    Cross-engine exactness: the Spark `aggregate()` lambda and the
    DuckDB recursive CTE spell the IDENTICAL IEEE expression trees
    (new level textually inlined inside trend and seasonal, the
    seasonal slot rotated by index mod 7 on both sides, the warm-up
    mean computed as an INTEGER sum divided once), micro-frozen after
    the recursion — the r10 sequential-fp64 pattern extended to a
    vector-valued state. Series shorter than 8 days yield the empty
    frame on both engines.

    At 100 TB the scan+rollup parallelizes fully; the fold touches
    |days| structs in one task — the correct trade for a recurrence
    that is sequential by definition."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(cents).alias("cents")
    )
    one = (
        daily.agg(
            F.sort_array(F.collect_list(F.struct("day", "cents"))).alias("a")
        )
        .withColumn(
            "l0",
            F.expr(
                "CAST(aggregate(slice(a, 1, 7), 0L, (s, x) -> s + x.cents)"
                " AS DOUBLE) / 7.0D"
            ),
        )
        .withColumn(
            "s0",
            F.expr("transform(slice(a, 1, 7),"
                   " x -> CAST(x.cents AS DOUBLE) - l0)"),
        )
    )
    new_l = (
        "0.5D * (CAST(x.cents AS DOUBLE)"
        " - element_at(acc.s, pmod(acc.i, 7) + 1))"
        " + 0.5D * (acc.level + acc.trend)"
    )
    new_b = (
        f"0.5D * (({new_l}) - acc.level) + 0.5D * acc.trend"
    )
    new_sk = (
        f"0.5D * (CAST(x.cents AS DOUBLE) - ({new_l}))"
        " + 0.5D * element_at(acc.s, pmod(acc.i, 7) + 1)"
    )
    rows = one.select(
        F.explode(
            F.expr(
                f"""
                aggregate(
                  slice(a, 8, greatest(size(a) - 7, 0)),
                  named_struct(
                    'i', 7,
                    'level', l0,
                    'trend', 0.0D,
                    's', s0,
                    'rows', CAST(array() AS array<struct<
                        day: date, cents: bigint, level: double,
                        trend: double, seasonal: double,
                        fitted: double>>)
                  ),
                  (acc, x) -> named_struct(
                    'i', acc.i + 1,
                    'level', {new_l},
                    'trend', {new_b},
                    's', transform(acc.s, (v, j) ->
                        IF(j = pmod(acc.i, 7), {new_sk}, v)),
                    'rows', array_append(acc.rows, named_struct(
                        'day', x.day, 'cents', x.cents,
                        'level', {new_l},
                        'trend', {new_b},
                        'seasonal', {new_sk},
                        'fitted', acc.level + acc.trend
                                  + element_at(acc.s, pmod(acc.i, 7) + 1)))
                  ),
                  acc -> acc.rows
                )
                """
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.day").alias("day"),
        F.col("r.cents").alias("cents"),
        r2(F.col("r.level"), 6).alias("level"),
        r2(F.col("r.trend"), 6).alias("trend"),
        r2(F.col("r.seasonal"), 6).alias("seasonal"),
        r2(F.col("r.fitted"), 6).alias("fitted"),
    )


# Benford expected first-digit frequencies, frozen to ppm ONCE as
# literals (floor(log10(1+1/d)*1e6)) — the same nine integers appear in
# the oracle, so no cross-engine log is ever evaluated.
_BENFORD_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}

_BENFORD_ORACLE = """
    WITH cents AS (
        SELECT CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS c
        FROM events
        WHERE CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) > 0
    ),
    digits AS (
        SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM cents GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM digits)
    SELECT d, n,
           CAST((n * 1000000) // total AS BIGINT) AS observed_ppm,
           CAST(CASE d WHEN 1 THEN 301029 WHEN 2 THEN 176091
                WHEN 3 THEN 124938 WHEN 4 THEN 96910 WHEN 5 THEN 79181
                WHEN 6 THEN 66946 WHEN 7 THEN 57991 WHEN 8 THEN 51152
                ELSE 45757 END AS BIGINT) AS expected_ppm,
           CAST(ABS((n * 1000000) // total
                    - CASE d WHEN 1 THEN 301029 WHEN 2 THEN 176091
                      WHEN 3 THEN 124938 WHEN 4 THEN 96910
                      WHEN 5 THEN 79181 WHEN 6 THEN 66946
                      WHEN 7 THEN 57991 WHEN 8 THEN 51152
                      ELSE 45757 END) AS BIGINT) AS deviation_ppm
    FROM digits, tot
"""


@_register("events_benford_first_digit", _BENFORD_ORACLE)
def events_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit audit over transaction amounts — the
    classic fraud/data-quality screen (fabricated or systematically
    generated values betray themselves by a flat first-digit
    distribution where organic magnitudes follow log10(1+1/d)): cents
    amounts keep their leading digit by STRING head (identical integer
    formatting on both engines — no float log anywhere), counts roll
    up per digit, and observed frequencies are integer-ppm against the
    nine Benford constants frozen once as literals shared by the plan
    and the oracle. deviation_ppm is the per-digit distance a
    monitoring rule would threshold; here the synthetic uniform-ish
    values SHOULD deviate — the audit's honest output is the measured
    distance, not a verdict.

    Scale: one scan projecting a single string head, a 9-group
    aggregate with map-side combine, a 1-row total broadcast — the
    cheapest possible standing data-quality probe."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    digits = (
        ev.select(cents.alias("c"))
        .filter(F.col("c") > 0)
        .select(
            F.substring(F.col("c").cast("string"), 1, 1)
            .cast("long")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # materialization barrier: the 9-row digit table feeds BOTH the
    # total collect and the output projection — without it each job
    # re-runs the full scan+aggregate (guide §2.4 via the
    # dedup_simhash barrier rule; the checkpoint is 9 rows).
    digits = digits.localCheckpoint(eager=False)
    # sum over an empty/all-nonpositive frame is NULL — coerce instead
    # of interpolating 'DIV NoneL' into the expression (r12 ADVICE).
    # A degenerate corpus (total == 0) means `digits` itself is EMPTY,
    # so the entry returns the same empty frame the DuckDB oracle
    # produces (r13 ADVICE — a loud refusal here was an engine/oracle
    # asymmetry); the dummy divisor below is never observable because
    # no row survives to evaluate it.
    total = int(digits.agg(F.sum("n")).first()[0] or 0) or 1
    expected = F.create_map(
        *[F.lit(x) for kv in _BENFORD_PPM.items() for x in kv]
    )
    return digits.select(
        "d",
        "n",
        F.expr(f"(n * 1000000L) DIV {total}L").alias("observed_ppm"),
        expected[F.col("d")].cast("long").alias("expected_ppm"),
        F.abs(
            F.expr(f"(n * 1000000L) DIV {total}L")
            - expected[F.col("d")].cast("long")
        ).alias("deviation_ppm"),
    )


# ---------------------------------------------------------------------------
# Multivariate OLS from exact co-moments (closed-form normal equations)
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(z) AS BIGINT) AS sz,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(z * z) AS BIGINT) AS szz,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * z) AS BIGINT) AS sxz,
               CAST(SUM(y * z) AS BIGINT) AS syz,
               CAST(MIN(x) AS BIGINT) AS x_min,
               CAST(MAX(x) AS BIGINT) AS x_max,
               CAST(MIN(y) AS BIGINT) AS y_min,
               CAST(MAX(y) AS BIGINT) AS y_max,
               CAST(MIN(z) AS BIGINT) AS z_min,
               CAST(MAX(z) AS BIGINT) AS z_max
        FROM (SELECT event_type,
                     CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x,
                     CAST(dayofweek(ts) + 1 AS BIGINT) AS y,
                     CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS z
              FROM events)
        GROUP BY event_type
    ),
    m AS (
        SELECT event_type, n,
               CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
               CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
               CAST(sz AS DOUBLE) / CAST(n AS DOUBLE) AS mz,
               sxx, syy, szz, sxy, sxz, syz,
               x_min, x_max, y_min, y_max, z_min, z_max
        FROM s
    ),
    v AS (
        SELECT event_type, n, mx, my, mz,
               CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - mx * mx AS vxx,
               CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) - my * my AS vyy,
               CAST(szz AS DOUBLE) / CAST(n AS DOUBLE) - mz * mz AS vzz,
               CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - mx * my AS vxy,
               CAST(sxz AS DOUBLE) / CAST(n AS DOUBLE) - mx * mz AS vxz,
               CAST(syz AS DOUBLE) / CAST(n AS DOUBLE) - my * mz AS vyz,
               x_min, x_max, y_min, y_max, z_min, z_max
        FROM m
    ),
    d AS (
        SELECT *, vxx * vyy - vxy * vxy AS det
        FROM v
        WHERE n >= 3 AND x_min < x_max AND y_min < y_max
              AND z_min < z_max
    ),
    b AS (
        SELECT event_type, n, mx, my, mz, vxz, vyz, vzz,
               (vxz * vyy - vyz * vxy) / det AS b_hour,
               (vyz * vxx - vxz * vxy) / det AS b_dow
        FROM d
        WHERE det <> 0.0
    )
    SELECT event_type, n,
           FLOOR(b_hour * 1000000.0 + 0.5) / 1000000.0 AS b_hour,
           FLOOR(b_dow * 1000000.0 + 0.5) / 1000000.0 AS b_dow,
           FLOOR((mz - b_hour * mx - b_dow * my) * 1000000.0 + 0.5)
               / 1000000.0 AS intercept,
           FLOOR((b_hour * vxz + b_dow * vyz) / vzz * 1000000.0 + 0.5)
               / 1000000.0 AS r_squared
    FROM b
"""


@_register("events_ols_value_hour_dow", _OLS_ORACLE)
def events_ols_value_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed MULTIVARIATE linear regression solved closed-form —
    value_cents ~ hour + day-of-week per event_type, the supervised
    rung of the exact-moment family (r12 VERDICT directive 5, beside
    Pearson/Theil-Sen/Mahalanobis). The nine co-moments (Σx, Σy, Σz,
    Σx², Σy², Σz², Σxy, Σxz, Σyz) accumulate as EXACT BIGINTs in one
    map-side-combined aggregate (per-row products cap at ~2.5e9, so
    the sums are overflow-free to ~10^9 rows per group; beyond that
    the same plan runs on DECIMAL(38)), then the 2x2 normal equations
    are solved by Cramer's rule in the divide-by-n-FIRST
    moments-about-the-mean form with the IDENTICAL fp64 expression
    tree in both engines (the events_corr_value_hour contract): exact
    integers in, deterministic doubles out, no iterative fitting and
    no merge-order dependence anywhere. Degenerate groups (constant
    regressor/response, collinear hour/dow) are excluded by
    overflow-free integer min<max guards plus a det<>0 filter both
    engines evaluate on the same double.

    Output: per event_type the fitted slopes (cents per hour-of-day
    step, cents per weekday step), intercept, and R² — the "does
    revenue have a time-of-day/day-of-week structure" audit.

    At 100 TB: ONE narrow shuffle of 16 numbers per group with full
    map-side partial aggregation; the driver solves nothing — the
    closed form is a projection over the aggregate row. This is the
    canonical pattern for fitting millions of small per-segment
    models: group, accumulate exact sufficient statistics, solve in
    the SELECT."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r6

    ev = load_table(spark, sf_dir, "events")
    x = F.hour("ts").cast("long")
    y = F.dayofweek("ts").cast("long")
    z = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    s = (
        ev.select("event_type", x.alias("x"), y.alias("y"), z.alias("z"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum("z").alias("sz"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("z") * F.col("z")).alias("szz"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("z")).alias("sxz"),
            F.sum(F.col("y") * F.col("z")).alias("syz"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
    )
    s = s.filter(
        (F.col("n") >= 3)
        & (F.col("x_min") < F.col("x_max"))
        & (F.col("y_min") < F.col("y_max"))
        & (F.col("z_min") < F.col("z_max"))
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    mz = F.col("sz").cast("double") / nd
    vxx = F.col("sxx").cast("double") / nd - mx * mx
    vyy = F.col("syy").cast("double") / nd - my * my
    vzz = F.col("szz").cast("double") / nd - mz * mz
    vxy = F.col("sxy").cast("double") / nd - mx * my
    vxz = F.col("sxz").cast("double") / nd - mx * mz
    vyz = F.col("syz").cast("double") / nd - my * mz
    det = vxx * vyy - vxy * vxy
    s = s.withColumn("det", det).filter(F.col("det") != 0.0)
    b_hour = (vxz * vyy - vyz * vxy) / F.col("det")
    b_dow = (vyz * vxx - vxz * vxy) / F.col("det")
    return s.select(
        "event_type",
        "n",
        r6(b_hour, 6).alias("b_hour"),
        r6(b_dow, 6).alias("b_dow"),
        r6(mz - b_hour * mx - b_dow * my, 6).alias("intercept"),
        r6((b_hour * vxz + b_dow * vyz) / vzz, 6).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# Logistic regression via unrolled Newton iterations (certified exactly)
# ---------------------------------------------------------------------------

_LOGIT_ITERS = 3


def _logistic_oracle() -> str:
    """Generate the DuckDB twin of the Newton solve: per-hour exact
    counts, then _LOGIT_ITERS unrolled iterations, each an ORDERED
    list_reduce fold over the 24-row table with the per-term fp64
    expression spelled identically to the Spark side (the
    k-means/PageRank unrolled-oracle treatment)."""
    term = (
        "{'g0': CAST(e.k AS DOUBLE) - CAST(e.n AS DOUBLE)"
        " * (1.0 / (1.0 + exp(-(b0 + b1 * CAST(e.h AS DOUBLE))))),"
        " 'g1': (CAST(e.k AS DOUBLE) - CAST(e.n AS DOUBLE)"
        " * (1.0 / (1.0 + exp(-(b0 + b1 * CAST(e.h AS DOUBLE))))))"
        " * CAST(e.h AS DOUBLE),"
        " 'aa': CAST(e.n AS DOUBLE)"
        " * (1.0 / (1.0 + exp(-(b0 + b1 * CAST(e.h AS DOUBLE)))))"
        " * (1.0 - (1.0 / (1.0 + exp(-(b0 + b1 * CAST(e.h AS DOUBLE)))))),"
        " 'bb': CAST(e.n AS DOUBLE)"
        " * (1.0 / (1.0 + exp(-(b0 + b1 * CAST(e.h AS DOUBLE)))))"
        " * (1.0 - (1.0 / (1.0 + exp(-(b0 + b1 * CAST(e.h AS DOUBLE))))))"
        " * CAST(e.h AS DOUBLE),"
        " 'cc': CAST(e.n AS DOUBLE)"
        " * (1.0 / (1.0 + exp(-(b0 + b1 * CAST(e.h AS DOUBLE)))))"
        " * (1.0 - (1.0 / (1.0 + exp(-(b0 + b1 * CAST(e.h AS DOUBLE))))))"
        " * CAST(e.h AS DOUBLE) * CAST(e.h AS DOUBLE)}"
    )
    ctes = [
        """
    WITH hrs AS (
        SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
        FROM events GROUP BY 1
    ),
    arr AS (
        SELECT list({'h': h, 'n': n, 'k': k} ORDER BY h) AS hs,
               CAST(SUM(n) AS BIGINT) AS n_total,
               CAST(SUM(k) AS BIGINT) AS n_pos
        FROM hrs
    ),
    i0 AS (SELECT hs, n_total, n_pos, CAST(0.0 AS DOUBLE) AS b0,
                  CAST(0.0 AS DOUBLE) AS b1 FROM arr)"""
    ]
    for it in range(_LOGIT_ITERS):
        ctes.append(f"""
    s{it + 1} AS (
        SELECT hs, n_total, n_pos, b0, b1,
               list_reduce(list_prepend(
                   {{'g0': CAST(0.0 AS DOUBLE), 'g1': CAST(0.0 AS DOUBLE),
                    'aa': CAST(0.0 AS DOUBLE), 'bb': CAST(0.0 AS DOUBLE),
                    'cc': CAST(0.0 AS DOUBLE)}},
                   list_transform(hs, e -> {term})
               ), (acc, x) -> {{'g0': acc.g0 + x.g0, 'g1': acc.g1 + x.g1,
                               'aa': acc.aa + x.aa, 'bb': acc.bb + x.bb,
                               'cc': acc.cc + x.cc}}) AS s
        FROM i{it}
    ),
    i{it + 1} AS (
        SELECT hs, n_total, n_pos,
               b0 + (s.cc * s.g0 - s.bb * s.g1)
                   / (s.aa * s.cc - s.bb * s.bb) AS b0,
               b1 + (s.aa * s.g1 - s.bb * s.g0)
                   / (s.aa * s.cc - s.bb * s.bb) AS b1
        FROM s{it + 1}
    )""")
    return (
        ",".join(ctes)
        + f"""
    SELECT n_total, n_pos,
           FLOOR(b0 * 1000000.0 + 0.5) / 1000000.0 AS b0,
           FLOOR(b1 * 1000000.0 + 0.5) / 1000000.0 AS b1,
           FLOOR((1.0 / (1.0 + exp(-(b0 + b1 * 12.0)))) * 1000000.0 + 0.5)
               / 1000000.0 AS p_noon
    FROM i{_LOGIT_ITERS}
    WHERE n_pos > 0 AND n_pos < n_total AND len(hs) >= 2
"""
    )


@_register("events_logistic_purchase_hour", _logistic_oracle())
def events_logistic_purchase_hour(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOGISTIC regression P(purchase | hour-of-day) via unrolled
    Newton-Raphson — the iterative-supervised rung of the certified-ML
    family (r12 VERDICT directive 5, beside the closed-form OLS and
    the unrolled k-means/PageRank loops). The trick that makes an
    ITERATIVE float algorithm hash-certifiable: the regressor has 24
    distinct values, so the sufficient statistics collapse to EXACT
    per-hour (n, k) bigints in one distributed aggregate, and each
    Newton step is then a DETERMINISTIC ascending-hour fold over that
    24-row table — Spark's transform+aggregate over a sorted struct
    array, DuckDB's list_transform+list_reduce over the same ordered
    list, per-term fp64 expressions textually identical, additions in
    identical order. Three iterations from beta = 0; gradient and
    Fisher-information sums feed a 2x2 Cramer solve per step. Output:
    corpus counts, fitted intercept/slope, and the predicted noon
    purchase probability. Degenerate corpora (no positives, no
    negatives, constant hour) are excluded by identical guards.

    At 100 TB: ONE shuffle of 24 exact rows regardless of corpus
    size, then the driver-free fold runs in a single projection over
    a 1-row frame — iterative ML at aggregate cost, the grouped-
    sufficient-statistics pattern every low-cardinality-feature GLM
    admits."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r6

    ev = load_table(spark, sf_dir, "events")
    hrs = (
        ev.groupBy(F.hour("ts").cast("long").alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("long").alias("k"),
        )
    )
    cur = hrs.agg(
        F.array_sort(F.collect_list(F.struct("h", "n", "k"))).alias("hs"),
        F.sum("n").alias("n_total"),
        F.sum("k").alias("n_pos"),
    ).select(
        "hs", "n_total", "n_pos",
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1"),
    )

    one = F.lit(1.0)

    def term(e):
        xh = e["h"].cast("double")
        nd = e["n"].cast("double")
        kd = e["k"].cast("double")
        p = one / (one + F.exp(-(F.col("b0") + F.col("b1") * xh)))
        return F.struct(
            (kd - nd * p).alias("g0"),
            ((kd - nd * p) * xh).alias("g1"),
            (nd * p * (one - p)).alias("aa"),
            (nd * p * (one - p) * xh).alias("bb"),
            (nd * p * (one - p) * xh * xh).alias("cc"),
        )

    zero = F.struct(
        F.lit(0.0).alias("g0"), F.lit(0.0).alias("g1"),
        F.lit(0.0).alias("aa"), F.lit(0.0).alias("bb"),
        F.lit(0.0).alias("cc"),
    )

    def merge(acc, x):
        return F.struct(
            (acc["g0"] + x["g0"]).alias("g0"),
            (acc["g1"] + x["g1"]).alias("g1"),
            (acc["aa"] + x["aa"]).alias("aa"),
            (acc["bb"] + x["bb"]).alias("bb"),
            (acc["cc"] + x["cc"]).alias("cc"),
        )

    for _ in range(_LOGIT_ITERS):
        s = F.aggregate(F.transform(F.col("hs"), term), zero, merge)
        cur = cur.select(
            "hs", "n_total", "n_pos", "b0", "b1", s.alias("s")
        ).select(
            "hs", "n_total", "n_pos",
            (
                F.col("b0")
                + (F.col("s.cc") * F.col("s.g0") - F.col("s.bb") * F.col("s.g1"))
                / (F.col("s.aa") * F.col("s.cc") - F.col("s.bb") * F.col("s.bb"))
            ).alias("b0"),
            (
                F.col("b1")
                + (F.col("s.aa") * F.col("s.g1") - F.col("s.bb") * F.col("s.g0"))
                / (F.col("s.aa") * F.col("s.cc") - F.col("s.bb") * F.col("s.bb"))
            ).alias("b1"),
        )

    p_noon = one / (one + F.exp(-(F.col("b0") + F.col("b1") * F.lit(12.0))))
    return cur.filter(
        (F.col("n_pos") > 0)
        & (F.col("n_pos") < F.col("n_total"))
        & (F.size("hs") >= 2)
    ).select(
        "n_total",
        "n_pos",
        r6(F.col("b0"), 6).alias("b0"),
        r6(F.col("b1"), 6).alias("b1"),
        r6(p_noon, 6).alias("p_noon"),
    )


# ---------------------------------------------------------------------------
# Poisson regression via unrolled Newton (the count-GLM family member)
# ---------------------------------------------------------------------------


def _poisson_oracle() -> str:
    """DuckDB twin of the Poisson Newton solve: exact per-dow
    (n_days, purchase_sum) counts, intercept-only MLE start
    b0 = ln(Y/N), then _LOGIT_ITERS ordered list_reduce folds with
    per-term fp64 expressions textually identical to the Spark side
    (the events_logistic_purchase_hour treatment for the log link)."""
    term = (
        "{'g0': CAST(e.y AS DOUBLE) - CAST(e.n AS DOUBLE)"
        " * exp(b0 + b1 * CAST(e.x AS DOUBLE)),"
        " 'g1': (CAST(e.y AS DOUBLE) - CAST(e.n AS DOUBLE)"
        " * exp(b0 + b1 * CAST(e.x AS DOUBLE))) * CAST(e.x AS DOUBLE),"
        " 'aa': CAST(e.n AS DOUBLE) * exp(b0 + b1 * CAST(e.x AS DOUBLE)),"
        " 'bb': CAST(e.n AS DOUBLE) * exp(b0 + b1 * CAST(e.x AS DOUBLE))"
        " * CAST(e.x AS DOUBLE),"
        " 'cc': CAST(e.n AS DOUBLE) * exp(b0 + b1 * CAST(e.x AS DOUBLE))"
        " * CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)}"
    )
    ctes = [
        """
    WITH days AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    dows AS (
        SELECT CAST(dayofweek(d) + 1 AS BIGINT) AS x,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS y
        FROM days GROUP BY 1
    ),
    arr AS (
        SELECT list({'x': x, 'n': n, 'y': y} ORDER BY x) AS xs,
               CAST(SUM(n) AS BIGINT) AS n_days,
               CAST(SUM(y) AS BIGINT) AS y_total
        FROM dows
    ),
    i0 AS (
        SELECT xs, n_days, y_total,
               ln(CAST(y_total AS DOUBLE) / CAST(n_days AS DOUBLE)) AS b0,
               CAST(0.0 AS DOUBLE) AS b1
        FROM arr
    )"""
    ]
    for it in range(_LOGIT_ITERS):
        ctes.append(f"""
    s{it + 1} AS (
        SELECT xs, n_days, y_total, b0, b1,
               list_reduce(list_prepend(
                   {{'g0': CAST(0.0 AS DOUBLE), 'g1': CAST(0.0 AS DOUBLE),
                    'aa': CAST(0.0 AS DOUBLE), 'bb': CAST(0.0 AS DOUBLE),
                    'cc': CAST(0.0 AS DOUBLE)}},
                   list_transform(xs, e -> {term})
               ), (acc, q) -> {{'g0': acc.g0 + q.g0, 'g1': acc.g1 + q.g1,
                               'aa': acc.aa + q.aa, 'bb': acc.bb + q.bb,
                               'cc': acc.cc + q.cc}}) AS s
        FROM i{it}
    ),
    i{it + 1} AS (
        SELECT xs, n_days, y_total,
               b0 + (s.cc * s.g0 - s.bb * s.g1)
                   / (s.aa * s.cc - s.bb * s.bb) AS b0,
               b1 + (s.aa * s.g1 - s.bb * s.g0)
                   / (s.aa * s.cc - s.bb * s.bb) AS b1
        FROM s{it + 1}
    )""")
    return (
        ",".join(ctes)
        + f"""
    SELECT n_days, y_total,
           FLOOR(b0 * 1000000.0 + 0.5) / 1000000.0 AS b0,
           FLOOR(b1 * 1000000.0 + 0.5) / 1000000.0 AS b1,
           FLOOR(exp(b0 + b1 * 2.0) * 1000000.0 + 0.5) / 1000000.0
               AS rate_monday
    FROM i{_LOGIT_ITERS}
    WHERE y_total > 0 AND len(xs) >= 2
"""
    )


@_register("events_poisson_daily_purchases", _poisson_oracle())
def events_poisson_daily_purchases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """POISSON regression of daily purchase COUNTS on day-of-week —
    the count-GLM member of the certified supervised family (OLS =
    gaussian, logistic = binomial, this = poisson; all three solved
    from exact grouped sufficient statistics). Daily counts collapse
    to exact per-dow (n_days, purchase_sum) bigints — zero-purchase
    days included, because the day grid comes from ALL events — then
    Newton-Raphson with the canonical log link runs as _LOGIT_ITERS
    deterministic ascending-dow folds starting from the intercept-only
    MLE b0 = ln(Y/N) (the exact-integer ratio both engines divide and
    log identically; a cold beta = 0 start overshoots for lambda >> 1,
    the classic Poisson-Newton failure the warm start removes).
    Per-term fp64 expressions are textually identical on both engines,
    outputs micro-frozen once. rate_monday = exp(b0 + 2*b1) is the
    fitted expectation a capacity planner reads off.

    At 100 TB: one day-grain rollup (map-side combined) then a 7-row
    fold in a projection — corpus-size-independent iterative ML, the
    grouped-sufficient-statistics collapse that any low-cardinality
    GLM admits."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r6

    ev = load_table(spark, sf_dir, "events")
    days = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("y")
    )
    dows = days.groupBy(F.dayofweek("d").cast("long").alias("x")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("y")
    )
    cur = dows.agg(
        F.array_sort(F.collect_list(F.struct("x", "n", "y"))).alias("xs"),
        F.sum("n").alias("n_days"),
        F.sum("y").alias("y_total"),
    ).select(
        "xs", "n_days", "y_total",
        F.log(
            F.col("y_total").cast("double") / F.col("n_days").cast("double")
        ).alias("b0"),
        F.lit(0.0).alias("b1"),
    )

    def term(e):
        xd = e["x"].cast("double")
        nd = e["n"].cast("double")
        yd = e["y"].cast("double")
        lam = F.exp(F.col("b0") + F.col("b1") * xd)
        return F.struct(
            (yd - nd * lam).alias("g0"),
            ((yd - nd * lam) * xd).alias("g1"),
            (nd * lam).alias("aa"),
            (nd * lam * xd).alias("bb"),
            (nd * lam * xd * xd).alias("cc"),
        )

    zero = F.struct(
        F.lit(0.0).alias("g0"), F.lit(0.0).alias("g1"),
        F.lit(0.0).alias("aa"), F.lit(0.0).alias("bb"),
        F.lit(0.0).alias("cc"),
    )

    def merge(acc, q):
        return F.struct(
            (acc["g0"] + q["g0"]).alias("g0"),
            (acc["g1"] + q["g1"]).alias("g1"),
            (acc["aa"] + q["aa"]).alias("aa"),
            (acc["bb"] + q["bb"]).alias("bb"),
            (acc["cc"] + q["cc"]).alias("cc"),
        )

    for _ in range(_LOGIT_ITERS):
        s = F.aggregate(F.transform(F.col("xs"), term), zero, merge)
        cur = cur.select(
            "xs", "n_days", "y_total", "b0", "b1", s.alias("s")
        ).select(
            "xs", "n_days", "y_total",
            (
                F.col("b0")
                + (F.col("s.cc") * F.col("s.g0") - F.col("s.bb") * F.col("s.g1"))
                / (F.col("s.aa") * F.col("s.cc") - F.col("s.bb") * F.col("s.bb"))
            ).alias("b0"),
            (
                F.col("b1")
                + (F.col("s.aa") * F.col("s.g1") - F.col("s.bb") * F.col("s.g0"))
                / (F.col("s.aa") * F.col("s.cc") - F.col("s.bb") * F.col("s.bb"))
            ).alias("b1"),
        )

    rate = F.exp(F.col("b0") + F.col("b1") * F.lit(2.0))
    return cur.filter(
        (F.col("y_total") > 0) & (F.size("xs") >= 2)
    ).select(
        "n_days",
        "y_total",
        r6(F.col("b0"), 6).alias("b0"),
        r6(F.col("b1"), 6).alias("b1"),
        r6(rate, 6).alias("rate_monday"),
    )


# ---------------------------------------------------------------------------
# Dynamic-gap session windows (r14 — per-event gap expressions)
# ---------------------------------------------------------------------------

_DYNAMIC_SESSION_ORACLE = """
    WITH gapped AS (
        SELECT user_id, ts,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents,
               ts + CASE event_type
                    WHEN 'purchase' THEN INTERVAL 60 MINUTE
                    WHEN 'error' THEN INTERVAL 5 MINUTE
                    ELSE INTERVAL 30 MINUTE END AS ev_end
        FROM events
    ),
    seq AS (
        SELECT user_id, ts, cents, ev_end,
               -- strictly GREATER: Spark merges TOUCHING intervals
               -- (an event at exactly the running-max end joins the
               -- session) — pinned by
               -- test_dynamic_session_running_max_semantics
               CASE WHEN MAX(ev_end) OVER (
                        PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                    OR ts > MAX(ev_end) OVER (
                        PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    )
                    THEN 1 ELSE 0 END AS new_session
        FROM gapped
    ),
    islands AS (
        SELECT user_id, ts, cents, ev_end,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING)
                   AS session_id
        FROM seq
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ev_end) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM islands
    GROUP BY user_id, session_id
"""


@_register("events_dynamic_session_stats", _DYNAMIC_SESSION_ORACLE)
def events_dynamic_session_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC-GAP session windows — session_window with a PER-EVENT
    gap expression (Spark 3.2+): purchases hold a session open 60
    minutes, errors only 5, everything else 30, the
    engagement-weighted sessionization real product analytics use.
    The semantics are interval-merge, not prev-row distance: each
    event contributes [ts, ts+gap(event)) and a new session starts
    only when an event's ts clears the RUNNING MAX of all previous
    events' ends — a long-gap purchase can cover several short-gap
    errors after it, which a LAG-based oracle would mis-split. The
    DuckDB twin therefore runs the running-max gaps-and-islands form,
    and session_end = MAX(ts + gap) certifies Spark's window.end
    composition exactly (session_start = MIN ts). Values ride as
    exact cents.

    Scale: one shuffle on user_id into the session-merge (the same
    exchange the fixed-gap form pays); gap evaluation is a scan-stage
    CASE in whole-stage codegen. In streaming this exact expression
    is watermark-finalizable — the batch twin certifies the
    semantics."""
    return _dynamic_session_agg(load_table(spark, sf_dir, "events"))


def _dynamic_session_agg(ev: DataFrame) -> DataFrame:
    """The shared dynamic-gap sessionization plan — identical for the
    batch entry and the live streaming gate (batch-stream equivalence
    is the certified property, so the plan must literally be one)."""
    # session_window demands CalendarIntervalType; INTERVAL literals
    # are DayTimeIntervalType in ANSI mode — CAST(string AS INTERVAL)
    # is the calendar-interval spelling
    gap = F.expr(
        "CAST(CASE event_type WHEN 'purchase' THEN '60 minutes' "
        "WHEN 'error' THEN '5 minutes' "
        "ELSE '30 minutes' END AS INTERVAL)"
    )
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
            ).alias("total_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_cents",
        )
    )


@_register("streaming_dynamic_session_live", _DYNAMIC_SESSION_ORACLE)
def streaming_dynamic_session_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic-gap sessions LIVE — the 19th live streaming
    certification (r14 VERDICT gap 4): the batch entry's docstring
    claims the per-event gap expression is watermark-finalizable in
    streaming, and this gate makes the claim load-bearing. The events
    parquet replays as a file stream, the IDENTICAL shared plan
    (_dynamic_session_agg — session_window with the per-event CASE
    gap) aggregates it in complete mode, availableNow drains it
    through the memory sink, and the materialized sessions hash
    against the same running-max gaps-and-islands oracle as the batch
    twin. Complete mode re-emits merged session state every trigger —
    exactly what makes the replay equal the batch run; the streaming
    engine must MERGE sessions whose DYNAMIC extents overlap as
    events arrive, the stateful-merge path fixed-gap
    streaming_session_stats_live cannot exercise.

    At 100 TB this is the engagement-weighted sessionization job run
    as a nightly availableNow backfill: same code as the 24/7 stream,
    certified by driver hash instead of analogy."""
    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
        run_to_memory,
    )

    src = events_stream_dir(sf_dir)
    stream = events_file_stream(spark, src)
    return run_to_memory(
        spark,
        _dynamic_session_agg(stream),
        "streaming_dynamic_session_live_sink",
        "complete",
        src_paths=(src,),
    )
