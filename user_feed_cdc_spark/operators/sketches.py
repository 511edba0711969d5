"""Mergeable sketch operators (Apache DataSketches HLL via Spark
built-ins). The 100 TB pattern these enable: sketch once per
partition/day at ingest, then MERGE sketches for any rollup — a distinct
count over a year of data becomes a union of 365 tiny sketches instead
of a shuffle of every user id ever seen. Estimates are approximate
(±~2% at default lgK), so these are rows-only entries with a
tolerance-vs-exact property test (tests/test_operators.py) instead of a
hash oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from user_feed_cdc_spark.functions.numeric import round_half_up as r2
from user_feed_cdc_spark.registry import registry
from user_feed_cdc_spark.sources.tables import load_table

QUERIES, ORACLES, _register = registry()


@_register("sketch_distinct_users", None)  # approximate → rows-only
def sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user HLL sketches, PLUS the corpus total
    computed by unioning the per-type sketches — no second scan of the
    input, demonstrating sketch mergeability (the reason to store
    sketches, not counts, in a rollup table)."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    per_est = per.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    total = (
        per.agg(F.hll_union_agg("sk").alias("sk"))
        .select(
            F.lit("ALL").alias("event_type"),
            F.hll_sketch_estimate("sk").alias("approx_users"),
        )
    )
    return per_est.unionByName(total)


@_register("sketch_value_quantiles", None)  # approximate → rows-only
def sketch_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-event-type value quantiles via approx_percentile
    (Greenwald-Khanna): the scale companion to agg_percentiles' exact
    buffers. Exact percentiles hold every group value in memory — fine
    for 3 bounded groups, fatal for high-cardinality keys at 100 TB;
    the GK sketch is fixed-size per group and mergeable across
    partitions, so the plan is an ordinary 2-phase hash aggregate.
    Accuracy (rel. error ≤ 1/accuracy=1e-4) is pinned against the exact
    path by tests/test_operators.py."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_percentile("value", F.lit(0.5), F.lit(10000)).alias("p50_approx"),
        F.approx_percentile("value", F.lit(0.95), F.lit(10000)).alias("p95_approx"),
        F.count(F.lit(1)).alias("n"),
    )


_HLL_BOUND_ORACLE = """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_5pct
    FROM events
    GROUP BY event_type
"""


@_register("sketch_distinct_users_bounded", _HLL_BOUND_ORACLE)
def sketch_distinct_users_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-gated error-bound certification for the HLL path: per
    event_type, the EXACT distinct count (matching the oracle's) plus a
    boolean asserting the HLL estimate landed within 5% of it. HLL
    register merges are commutative (per-register max), so the estimate
    is deterministic regardless of partitioning — if a Spark upgrade or
    a conf change ever degraded the sketch beyond the bound, the boolean
    flips and the value-hash gate fails. This is the strongest oracle an
    approximate operator admits: the oracle can't reproduce the
    estimate, but it can hold the estimator to its contract."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("_approx"),
    )
    within = (
        F.abs(F.col("_approx") - F.col("exact_users"))
        / F.col("exact_users")
        <= 0.05
    )
    return agg.select("event_type", "exact_users", within.alias("within_5pct"))


_GK_BOUND_ORACLE = """
    SELECT event_type,
           FLOOR(quantile_cont(value, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50_exact,
           FLOOR(quantile_cont(value, 0.95) * 10000.0 + 0.5) / 10000.0 AS p95_exact,
           COUNT(*) AS n,
           TRUE AS p50_in_rank_window,
           TRUE AS p95_in_rank_window
    FROM events
    GROUP BY event_type
"""


@_register("sketch_value_quantiles_bounded", _GK_BOUND_ORACLE)
def sketch_value_quantiles_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-gated error-bound certification for the GK/approx_percentile
    path (the quantile twin of sketch_distinct_users_bounded): per
    event_type, the EXACT p50/p95 (matching the oracle's quantile_cont
    bitwise — same linear interpolation, same half-up rounding) plus
    booleans asserting the approx_percentile estimate landed inside the
    exact ±1%-rank value window [percentile(p-0.01), percentile(p+0.01)].
    approx_percentile(accuracy=1e4) contracts rank error ≤ n/1e4 ranks —
    orders of magnitude tighter than the 1%-rank window at sf scale — so
    the boolean is robustly TRUE unless the estimator itself breaks,
    which is exactly when the value-hash gate should go red. All six
    aggregates ride one 2-phase hash aggregate: one scan, one shuffle of
    5 groups."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("_p50"),
        F.expr("percentile(value, 0.95)").alias("_p95"),
        F.count(F.lit(1)).alias("n"),
        F.approx_percentile("value", F.lit(0.5), F.lit(10000)).alias("_a50"),
        F.approx_percentile("value", F.lit(0.95), F.lit(10000)).alias("_a95"),
        F.expr("percentile(value, 0.49)").alias("_lo50"),
        F.expr("percentile(value, 0.51)").alias("_hi50"),
        F.expr("percentile(value, 0.94)").alias("_lo95"),
        F.expr("percentile(value, 0.96)").alias("_hi95"),
    )
    return agg.select(
        "event_type",
        r2(F.col("_p50"), 4).alias("p50_exact"),
        r2(F.col("_p95"), 4).alias("p95_exact"),
        "n",
        F.col("_a50").between(F.col("_lo50"), F.col("_hi50")).alias(
            "p50_in_rank_window"
        ),
        F.col("_a95").between(F.col("_lo95"), F.col("_hi95")).alias(
            "p95_in_rank_window"
        ),
    )


# Count-min sketch geometry: 3 independent md5-derived hash rows x 8192
# buckets. At 1500 keys/row (sf0.1) the per-row collision rate is ~17%,
# so the min-over-rows estimate is exact for >99% of keys; width scales
# the memory/error trade-off (eps ~ e/width) without touching the plan.
_CMS_DEPTH = 3
_CMS_WIDTH = 8192

# Spark-side bucket id for hash row d over a BIGINT user_id: fold the
# first 8 hex chars of md5("d:user") into [0, width). Same construction
# the oracle twin reproduces with DuckDB's '0x' cast (the
# similarity_lsh_md5_buckets pattern).
def _cms_bucket_expr(d: int) -> str:
    return (
        f"CAST(conv(substr(md5(concat('{d}:', CAST(user_id AS STRING))), 1, 8),"
        f" 16, 10) AS BIGINT) % {_CMS_WIDTH}"
    )


def _cms_bucket_sql(d: str) -> str:
    return (
        f"CAST('0x' || substr(md5(CAST({d} AS VARCHAR) || ':' ||"
        f" CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % {_CMS_WIDTH}"
    )


_CMS_ORACLE_BODY = f"""
    WITH tbl AS (
        SELECT event_type, d AS depth, {_cms_bucket_sql('d')} AS bucket,
               COUNT(*) AS cnt
        FROM events, range({_CMS_DEPTH}) t(d)
        GROUP BY 1, 2, 3
    ),
    cand AS (SELECT DISTINCT event_type, user_id FROM events),
    cand_b AS (
        SELECT event_type, user_id, d AS depth, {_cms_bucket_sql('d')} AS bucket
        FROM cand, range({_CMS_DEPTH}) t(d)
    ),
    est AS (
        SELECT c.event_type, c.user_id, MIN(t.cnt) AS est_count
        FROM cand_b c
        JOIN tbl t USING (event_type, depth, bucket)
        GROUP BY 1, 2
    )
"""

_CMS_TOP_ORACLE = f"""
    {_CMS_ORACLE_BODY},
    ranked AS (
        SELECT event_type, user_id, est_count,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY est_count DESC, user_id
               ) AS rn
        FROM est
    )
    SELECT event_type, user_id, est_count FROM ranked WHERE rn <= 5
"""


def _cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, user_id, est_count) for every key, from a
    declarative count-min sketch: one pass builds the (depth, bucket)
    count table — map-side partial agg collapses each input split to at
    most depth x width rows before the shuffle, the sketch's whole point
    — and the candidate keys probe it with an equi-join on (event_type,
    depth, bucket), taking MIN over rows. Bucket counts are pure SUMs,
    so per-day/per-shard sketch tables merge by addition at 100 TB; the
    candidate-probe join stays proportional to DISTINCT keys, never to
    raw events."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    depth_buckets = F.array(
        *[F.expr(_cms_bucket_expr(d)) for d in range(_CMS_DEPTH)]
    )
    hashed = ev.select(
        "event_type", "user_id", F.posexplode(depth_buckets).alias("depth", "bucket")
    )
    tbl = hashed.groupBy("event_type", "depth", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cand = (
        ev.distinct()
        .select(
            "event_type",
            "user_id",
            F.posexplode(depth_buckets).alias("depth", "bucket"),
        )
    )
    return (
        cand.join(tbl, ["event_type", "depth", "bucket"])
        .groupBy("event_type", "user_id")
        .agg(F.min("cnt").alias("est_count"))
    )


@_register("sketch_top_users", _CMS_TOP_ORACLE)
def sketch_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters per event_type from the count-min sketch: top-5
    users by CMS-estimated count (ties broken by user_id). The md5-
    derived integer hash rows make every bucket id — and therefore every
    estimate and the final ranking, collisions included — bit-identical
    across engines, so the full sketch pipeline sits under the value-
    hash gate: the mergeable-summary answer to 'who are the top posters'
    that at 100 TB replaces a full (user, count) shuffle with a
    depth x width table."""
    from pyspark.sql import Window as W

    est = _cms_estimates(spark, sf_dir)
    win = W.partitionBy("event_type").orderBy(
        F.desc("est_count"), F.asc("user_id")
    )
    return (
        est.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 5)
        .select("event_type", "user_id", "est_count")
    )


_CMS_BOUND_ORACLE = f"""
    {_CMS_ORACLE_BODY},
    exact AS (
        SELECT event_type, user_id, COUNT(*) AS exact_count
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT e.event_type, e.user_id, e.exact_count, s.est_count,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_type
                   ORDER BY e.exact_count DESC, e.user_id
               ) AS rn
        FROM exact e JOIN est s USING (event_type, user_id)
    )
    SELECT event_type, user_id, exact_count, est_count,
           TRUE AS no_underestimate
    FROM ranked WHERE rn <= 5
"""


@_register("sketch_top_users_bounded", _CMS_BOUND_ORACLE)
def sketch_top_users_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-bound certification for the CMS path: the EXACT top-5 users
    per event_type (plain groupBy count — the oracle's ground truth)
    joined to their CMS estimates, plus a boolean asserting the sketch's
    structural one-sided guarantee est >= exact (a CMS bucket count is
    the key's count plus colliding keys' counts, so it can never
    undercount; the oracle pins TRUE). Overestimate magnitude is
    probabilistic (~eps x N) and is held to a tolerance by pytest, not
    the hash gate — the HLL/GK bounded-entry division of labor."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    win = W.partitionBy("event_type").orderBy(
        F.desc("exact_count"), F.asc("user_id")
    )
    top = (
        exact.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )
    est = _cms_estimates(spark, sf_dir)
    return top.join(est, ["event_type", "user_id"]).select(
        "event_type",
        "user_id",
        "exact_count",
        "est_count",
        (F.col("est_count") >= F.col("exact_count")).alias("no_underestimate"),
    )


# Bloom geometry: 3 md5-derived hash functions x 16384 bits. At ~1500
# member keys (sf0.1) the fill factor is ~0.24 → false-positive rate
# ~1.4%; the whole filter is 2 KB packed, the canonical broadcastable
# prefilter. Mergeable by construction: the bit set of a union of
# member shards is the union of their bit sets.
_BLOOM_K = 3
_BLOOM_BITS = 16384


def _bloom_bit_expr(d: int) -> str:
    return (
        f"CAST(conv(substr(md5(concat('bloom{d}:', CAST(user_id AS STRING))),"
        f" 1, 8), 16, 10) AS BIGINT) % {_BLOOM_BITS}"
    )


def _bloom_bit_sql(d: str) -> str:
    return (
        f"CAST('0x' || substr(md5('bloom' || CAST({d} AS VARCHAR) || ':' ||"
        f" CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % {_BLOOM_BITS}"
    )


_BLOOM_ORACLE = f"""
    WITH members AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    bits AS (
        SELECT DISTINCT {_bloom_bit_sql('d')} AS bit
        FROM members, range({_BLOOM_K}) t(d)
    ),
    cand AS (SELECT DISTINCT event_type, user_id FROM events),
    cand_bits AS (
        SELECT event_type, user_id, {_bloom_bit_sql('d')} AS bit
        FROM cand, range({_BLOOM_K}) t(d)
    ),
    probe AS (
        SELECT c.event_type, c.user_id,
               BOOL_AND(b.bit IS NOT NULL) AS pass
        FROM cand_bits c LEFT JOIN bits b USING (bit)
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT c.event_type, c.user_id, m.user_id IS NOT NULL AS is_member
        FROM cand c LEFT JOIN members m USING (user_id)
    )
    SELECT p.event_type,
           COUNT(*) AS n_candidates,
           COUNT(CASE WHEN t.is_member THEN 1 END) AS n_true_members,
           COUNT(CASE WHEN p.pass THEN 1 END) AS n_bloom_pass,
           TRUE AS no_false_negatives
    FROM probe p
    JOIN truth t ON p.event_type = t.event_type AND p.user_id = t.user_id
    GROUP BY p.event_type
"""


@_register("sketch_bloom_prefilter", _BLOOM_ORACLE)
def sketch_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefilter, fully hash-gated: the member set (users
    who purchased) is folded into a {16384}-bit bloom ({3} md5-derived
    hashes — bit-identical across engines, so even the false POSITIVES
    are certified), and every (event_type, user) candidate probes it.
    Output per event_type: candidate count, true-member count (the
    exact semi-join the bloom approximates), bloom-pass count, and the
    structural guarantee that no true member is rejected (a member's
    bits are all set by construction; the oracle pins TRUE).

    This is the fourth mergeable-sketch family (HLL distinct, GK
    quantiles, CMS heavy hitters, Bloom membership) and the engine
    shape of semi-join pushdown: at 100 TB the ~2 KB bit set ships to
    every scan task and drops non-members before the real join
    shuffles anything — Spark's own runtime bloom-filter join rewrite,
    built declaratively. The bit-position set here rides a broadcast
    hash join (Spark auto-broadcasts the <= k·|members| rows); packing
    positions into 64-bit words via bit-OR aggregation is the same
    plan with a smaller payload."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    members = (
        ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    bit_arr = F.array(*[F.expr(_bloom_bit_expr(d)) for d in range(_BLOOM_K)])
    member_bits = (
        members.select(F.explode(bit_arr).alias("bit"))
        .distinct()
        .withColumn("_set", F.lit(1))
    )
    cand = ev.distinct()
    probe = (
        cand.select("event_type", "user_id", F.explode(bit_arr).alias("bit"))
        .join(F.broadcast(member_bits), "bit", "left")
        .groupBy("event_type", "user_id")
        .agg((F.min(F.coalesce(F.col("_set"), F.lit(0))) == 1).alias("pass"))
    )
    truth = cand.join(
        members.withColumn("_m", F.lit(1)), "user_id", "left"
    ).select("event_type", "user_id", F.col("_m").isNotNull().alias("is_member"))
    joined = probe.join(truth, ["event_type", "user_id"])
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.count(F.when(F.col("is_member"), 1)).alias("n_true_members"),
        F.count(F.when(F.col("pass"), 1)).alias("n_bloom_pass"),
        F.min(
            F.when(~F.col("is_member") | F.col("pass"), 1).otherwise(0)
        ).cast("boolean").alias("no_false_negatives"),
    )


_OVERLAP_BOUND_ORACLE = """
    WITH pc AS (
        SELECT user_id, COUNT(*) AS f FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    vc AS (
        SELECT user_id, COUNT(*) AS f FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    mp AS (SELECT quantile_cont(f, 0.5) AS m FROM pc),
    mv AS (SELECT quantile_cont(f, 0.5) AS m FROM vc),
    ha AS (SELECT user_id FROM pc, mp WHERE f >= m),
    hb AS (SELECT user_id FROM vc, mv WHERE f >= m)
    SELECT (SELECT COUNT(*) FROM ha) AS n_a,
           (SELECT COUNT(*) FROM hb) AS n_b,
           (SELECT COUNT(*) FROM ha JOIN hb USING (user_id))
               AS exact_overlap,
           TRUE AS within_15pct
"""


@_register("sketch_distinct_overlap_bounded", _OVERLAP_BOUND_ORACLE)
def sketch_distinct_overlap_bounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Set-intersection estimation by HLL inclusion-exclusion —
    |A∩B| ≈ est(A) + est(B) − est(A∪B) — held to a ±15% bound against
    the exact overlap, hash-gated like the other error-bound certs.
    This is the audience-overlap question (how many heavy purchasers
    are also heavy viewers?) answered from three mergeable sketches:
    at 100 TB the two cohort sketches and their union sketch are each
    a few KB of pre-aggregated state per segment, so ANY pairwise
    overlap query runs driver-side over stored sketches instead of
    re-joining user sets — inclusion-exclusion is what makes HLL a
    set algebra, not just a counter. The tolerance is wider than the
    single-set cert's 5% because subtraction compounds the relative
    error of three estimates against a smaller denominator.

    Cohorts: users with above-median purchase / view frequency (the
    RFM median-broadcast pattern — data-derived, engine-exact integer
    counts compared against an interpolated median)."""
    ev = load_table(spark, sf_dir, "events")

    def heavy(event_type: str) -> DataFrame:
        per = (
            ev.filter(F.col("event_type") == event_type)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("f"))
        )
        med = per.agg(F.expr("percentile(f, 0.5)").alias("m"))
        return (
            per.join(F.broadcast(med))
            .filter(F.col("f") >= F.col("m"))
            .select("user_id")
        )

    ha, hb = heavy("purchase"), heavy("view")
    est = lambda df, name: df.agg(  # noqa: E731
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(f"_e_{name}"),
        F.count(F.lit(1)).alias(f"n_{name}"),
    )
    exact = (
        ha.join(hb, "user_id")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    row = (
        est(ha, "a")
        .crossJoin(est(hb, "b"))
        .crossJoin(
            ha.unionByName(hb).agg(
                F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("_e_u")
            )
        )
        .crossJoin(exact)
    )
    est_overlap = F.col("_e_a") + F.col("_e_b") - F.col("_e_u")
    # zero overlap makes the relative bound undefined (Divide -> NULL
    # would hash-mismatch the oracle's TRUE); the cert is vacuous there
    within = F.when(F.col("exact_overlap") == 0, F.lit(True)).otherwise(
        F.abs(est_overlap - F.col("exact_overlap"))
        / F.col("exact_overlap")
        <= 0.15
    )
    return row.select(
        "n_a", "n_b", "exact_overlap", within.alias("within_15pct")
    )


_UNION_BOUND_ORACLE = """
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_5pct
    FROM events
    GROUP BY 1
"""


@_register("sketch_union_daily_to_weekly", _UNION_BOUND_ORACLE)
def sketch_union_daily_to_weekly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The mergeable-sketch rollup that justifies sketches at 100 TB:
    per-DAY HLL sketches of active users are built once (the expensive
    pass over raw events), then WEEKLY actives come from
    hll_union_agg over the 7 stored daily sketches — no second scan of
    the events. This entry runs both levels in one plan and holds the
    merged weekly estimate to ±5% of the exact weekly distinct, hash-
    gated like the other error-bound certs (register-wise max is
    commutative/associative, so the merged estimate is deterministic
    under any partitioning or merge order).

    In production the daily sketch column IS the stored rollup table
    (a few KB per day); month/quarter/arbitrary-range actives are
    further unions of the same sketches — count-distinct becomes an
    algebra over stored state instead of a scan. The exact weekly
    count exists here only as the certification witness."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    weekly_est = daily.groupBy(
        F.date_trunc("week", "day").cast("date").alias("week")
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
    )
    weekly_exact = ev.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("week")
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    joined = weekly_est.join(weekly_exact, "week")
    within = (
        F.abs(F.col("_est") - F.col("exact_users")) / F.col("exact_users")
        <= 0.05
    )
    return joined.select(
        "week", "n_days", "exact_users", within.alias("within_5pct")
    )


_SS_K = 6  # space-saving counter budget (< the ~16 distinct buckets)

_SS_HH_ORACLE = f"""
    WITH b AS (
        SELECT CASE WHEN cents <= 1 THEN CAST(0 AS BIGINT)
               ELSE CAST(length(bin(cents)) - 1 AS BIGINT) END AS bucket
        FROM (SELECT CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
              FROM events)
    ),
    c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS exact_count
          FROM b GROUP BY bucket),
    n AS (SELECT CAST(SUM(exact_count) AS BIGINT) AS n_stream FROM c)
    SELECT c.bucket, c.exact_count,
           TRUE AS present, TRUE AS within_bound, TRUE AS stream_reconciled
    FROM c, n WHERE c.exact_count * {_SS_K} > n.n_stream
    ORDER BY c.bucket
"""


def _space_saving_summaries(iterator):
    """Per-partition space-saving (Metwally et al., 'Efficient
    computation of frequent and top-k elements in data streams'):
    _SS_K counters over the partition's bucket stream, evicting the
    minimum counter (smallest bucket id on ties, for determinism) and
    inheriting its count. Emits the partition summary — at most _SS_K
    (bucket, est) rows plus the partition's exact stream length — so
    only k rows per partition ever shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    counters: dict[int, int] = {}
    n = 0
    for pdf in iterator:
        cents = np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype("int64")
        for c in cents:
            b = max(int(c).bit_length() - 1, 0)
            n += 1
            if b in counters:
                counters[b] += 1
            elif len(counters) < _SS_K:
                counters[b] = 1
            else:
                m = min(counters.values())
                victim = min(k for k, v in counters.items() if v == m)
                del counters[victim]
                counters[b] = m + 1
    if n:
        yield pd.DataFrame(
            {
                "bucket": list(counters),
                "est": list(counters.values()),
                "pid": [pid] * len(counters),
                "n_part": [n] * len(counters),
            }
        )


@_register("sketch_heavy_hitters_bounded", _SS_HH_ORACLE)
def sketch_heavy_hitters_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPACE-SAVING heavy hitters with the MERGEABLE-summary guarantee
    certified (Agarwal et al., 'Mergeable summaries'): per-partition
    k-counter sketches over the power-of-two bucket of event value (a
    log-scaled value histogram — the classic latency/revenue-band
    stream, geometrically skewed even over uniform values), merged by
    plain counter addition. The deterministic contract, certified per
    TRUE heavy hitter (exact share > 1/k): (a) the key IS in the merged
    summary — count > n/k globally forces count_p > n_p/k in some
    partition, and per-partition space-saving never drops such a key;
    (b) |merged_est - exact| * k <= n — present partitions overcount by
    at most their min counter <= n_p/k, absent ones undercount by at
    most the same, summing to n/k; (c) the summaries' stream length
    reconciles exactly with the certification scan. All three are
    integer comparisons (the bucket itself is bit-length arithmetic,
    never float log2, whose half-ulp at power-of-2 boundaries differs
    between engines' libm).

    Why this beats groupBy-count at 100 TB: the exact rollup shuffles
    one row per DISTINCT key (billions for user/url-grade keys); the
    sketch shuffles k rows per PARTITION regardless of cardinality,
    and summaries merge associatively — per-day sketches union into
    monthly answers without rescanning (the HLL/GK/CMS division of
    labor, completed with the deterministic-bound frequency member).
    The CMS twin (sketch_top_users_bounded) certifies one-sided
    probabilistic error; this one certifies two-sided deterministic
    error. The exact side here exists only as the certification
    oracle."""
    from user_feed_cdc_spark.sources.tables import fan_out

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    bucket = (
        F.when(cents <= 1, F.lit(0))
        .otherwise(F.length(F.conv(cents.cast("string"), 10, 2)) - 1)
        .cast("long")
    )
    exact = (
        ev.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    totals = exact.agg(F.sum("exact_count").alias("n_stream"))

    summaries = fan_out(ev.select("value")).mapInPandas(
        _space_saving_summaries,
        schema="bucket long, est long, pid int, n_part long",
    ).persist()
    # persisted because TWO subtrees read it (merge + reconciliation):
    # without the cache the per-partition Python fold over the full
    # stream would execute twice — at scale that doubles the operator's
    # dominant cost. Left to expire with the session (dedup_semantic
    # precedent: never unpersist a frame the caller hasn't drained).
    merged = summaries.groupBy("bucket").agg(F.sum("est").alias("est_sum"))
    ss_total = (
        summaries.select("pid", "n_part")
        .distinct()
        .agg(F.sum("n_part").alias("n_ss"))
    )
    return (
        exact.join(F.broadcast(totals))
        .filter(F.col("exact_count") * _SS_K > F.col("n_stream"))
        .join(F.broadcast(merged), "bucket", "left")
        .join(F.broadcast(ss_total))
        .select(
            "bucket",
            "exact_count",
            F.col("est_sum").isNotNull().alias("present"),
            (
                F.abs(F.coalesce(F.col("est_sum"), F.lit(0)) - F.col("exact_count"))
                * _SS_K
                <= F.col("n_stream")
            ).alias("within_bound"),
            (F.col("n_ss") == F.col("n_stream")).alias("stream_reconciled"),
        )
        .orderBy("bucket")
    )
