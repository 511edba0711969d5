"""Core relational operator coverage (SURVEY.md §2.3 E8).

The reference has no general relational operators (SURVEY.md §2.2) — this
module provides the full batch surface the rebuilt engine needs: scans,
filter/project with pushdown, every join flavor, hash aggregation with
partial/final stages, distinct aggs, rollup/cube, ranking + analytic
windows with frames, sort/limit/top-k, set ops, and the scalar function
library (string/date/math/json).

Every function takes ``(spark, sf_dir)`` and returns a DataFrame; the
matching DuckDB oracle SQL lives in ``ORACLES`` under the same key.
Aggregates are explicitly rounded the same way on both sides so the
driver's value-hash comparison is stable across engines.

Scale notes per operator are inline: what shuffles, what broadcasts,
what AQE does at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from user_feed_cdc_spark.functions.numeric import round_half_up as r2
from user_feed_cdc_spark.registry import registry
from user_feed_cdc_spark.sources.tables import load_table

QUERIES, ORACLES, _register = registry()


# ---------------------------------------------------------------------------
# Scan / filter / project
# ---------------------------------------------------------------------------


@_register(
    "filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_quantity,
           FLOOR(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) / 100.0 AS net_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_discount > 0.05 AND l_quantity < 25
    """,
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + projection; predicates and the 6-column ReadSchema reach the
    parquet scan (PushedFilters in .explain) — at 100 TB this is the
    difference between reading 4 columns and reading 11."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_discount") > 0.05)
        & (F.col("l_quantity") < 25)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        r2(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@_register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: hash aggregate over 2 low-cardinality keys.
    Map-side partial aggregation means the shuffle carries ~|groups| rows
    per task regardless of input size — safe at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "agg_distinct",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           ROUND(SUM(o_totalprice), 2) AS total_revenue
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation: Spark expands to a two-stage plan
    (partial distinct on (status, custkey), then final) — no driver-side
    distinct set, scales with key cardinality not row count."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
    )


@_register(
    "rollup_flag_status",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — Spark expands to a single Expand+hash-agg,
    one pass over the data."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(AVG(o_totalprice), 4) AS avg_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "orders")
    return li.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@_register(
    "join_inner",
    """
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join. No broadcast hint on customer: it scales with SF
    (150k rows × SF), so a forced hint would bypass AQE's size check and
    OOM executors at large SF — AQE/autoBroadcastJoinThreshold picks
    broadcast when (and only when) the build side actually fits."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@_register(
    "join_broadcast_dim",
    """
    SELECT p.p_brand,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 20
    GROUP BY p.p_brand
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim broadcast join: part is a dimension (2k rows at sf0.01,
    still tiny at 100 TB fact scale); broadcasting avoids shuffling the
    lineitem fact table entirely."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 20)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "join_semi",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS). Same shape as the reference feed lookup
    `user_activity ⋉ followers` (reference: main.py:148-168)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@_register(
    "join_anti",
    """
    SELECT c_custkey, c_name, FLOOR(c_acctbal * 100.0 + 0.5) / 100.0 AS acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select(
        "c_custkey", "c_name", r2(F.col("c_acctbal")).alias("acctbal")
    )


@_register(
    "join_left_outer",
    """
    SELECT n.n_name,
           COUNT(s.s_suppkey) AS n_suppliers,
           ROUND(COALESCE(SUM(s.s_acctbal), 0), 2) AS total_bal
    FROM nation n LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        nation.join(supplier, supplier.s_nationkey == nation.n_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.count("s_suppkey").alias("n_suppliers"),
            F.round(F.coalesce(F.sum("s_acctbal"), F.lit(0.0)), 2).alias("total_bal"),
        )
    )


@_register(
    "join_full_outer",
    """
    WITH od AS (
        SELECT o_orderdate AS day, COUNT(*) AS n_orders
        FROM orders WHERE o_orderdate >= DATE '1995-01-01'
                      AND o_orderdate < DATE '1995-02-01'
        GROUP BY o_orderdate
    ),
    ed AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
        FROM events GROUP BY CAST(ts AS DATE)
    )
    SELECT COALESCE(od.day, ed.day) AS day,
           COALESCE(od.n_orders, 0) AS n_orders,
           COALESCE(ed.n_events, 0) AS n_events
    FROM od FULL JOIN ed ON od.day = ed.day
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join aligning two daily activity series whose key
    ranges barely overlap (TPC-H 1995 order days vs the events table's
    days), so BOTH null sides are exercised. Both inputs pre-aggregate
    to one row per day before the join — the shuffle carries |days|
    rows, not raw facts, and AQE picks the join strategy for the tiny
    aligned sides."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-02-01")
    )
    od = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    ed = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        od.join(ed, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )


@_register(
    "null_safe_funcs",
    """
    SELECT c_custkey,
           NULLIF(c_mktsegment, 'BUILDING') AS seg_nb,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_fill,
           (NULLIF(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM 'AUTOMOBILE')
               AS is_auto,
           CASE WHEN NULLIF(c_mktsegment, 'BUILDING') IS NULL
                THEN 'was_null' ELSE 'had_value' END AS nvl2_tag
    FROM customer WHERE c_custkey <= 200
    """,
)
def null_safe_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics coverage: NULLIF to manufacture nulls, COALESCE to
    fill them, null-safe equality (Spark `<=>` / SQL IS NOT DISTINCT
    FROM — false, never null, on a null input), and the NVL2 branch
    form. All narrow per-row expressions inside whole-stage codegen."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    seg_nb = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        "c_custkey",
        seg_nb.alias("seg_nb"),
        F.coalesce(seg_nb, F.lit("OTHER")).alias("seg_fill"),
        seg_nb.eqNullSafe(F.lit("AUTOMOBILE")).alias("is_auto"),
        F.nvl2(seg_nb, F.lit("had_value"), F.lit("was_null")).alias("nvl2_tag"),
    )


@_register(
    "join_multiway_region_revenue",
    """
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
      AND o.o_orderdate >= TIMESTAMP '1994-01-01'
    GROUP BY n.n_name
    """,
)
def join_multiway_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join. nation/region are genuinely bounded dims
    (25/5 rows at any SF) → explicit broadcast; customer scales with SF so
    it gets NO hint — AQE demotes/promotes based on the measured size.
    Only lineitem⋈orders is a guaranteed shuffle join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp")
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Windows
# ---------------------------------------------------------------------------


@_register(
    "window_topk_per_customer",
    """
    SELECT o_custkey, o_orderkey, FLOOR(o_totalprice * 100.0 + 0.5) / 100.0 AS totalprice, rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
)
def window_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key top-k — the feed-read pattern (reference:
    cassandra-init.cql:14-15 clustering DESC). Spark pushes a per-partition
    rank limit before the shuffle (WindowGroupLimit), so the shuffle carries
    ≤k rows per key."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            r2(F.col("o_totalprice")).alias("totalprice"),
            "rn",
        )
    )


@_register(
    "window_running_analytics",
    """
    SELECT s_suppkey, l_orderkey, l_linenumber,
           FLOOR(SUM(l_quantity) OVER w * 100.0 + 0.5) / 100.0 AS running_qty,
           FLOOR(LAG(l_extendedprice, 1, 0.0) OVER w * 100.0 + 0.5) / 100.0 AS prev_price,
           RANK() OVER (PARTITION BY s_suppkey ORDER BY l_extendedprice DESC) AS price_rank
    FROM (SELECT l_suppkey AS s_suppkey, l_orderkey, l_linenumber,
                 l_quantity, l_extendedprice, l_shipdate
          FROM lineitem WHERE l_suppkey <= 10)
    WINDOW w AS (PARTITION BY s_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def window_running_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows with explicit frames: running sum, lag, rank.
    Deterministic ordering via full tiebreak (shipdate, orderkey, linenumber)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 10)
    w = W.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    frame = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_rank = W.partitionBy("l_suppkey").orderBy(F.col("l_extendedprice").desc())
    return li.select(
        F.col("l_suppkey").alias("s_suppkey"),
        "l_orderkey",
        "l_linenumber",
        r2(F.sum("l_quantity").over(frame)).alias("running_qty"),
        r2(F.lag("l_extendedprice", 1, 0.0).over(w)).alias("prev_price"),
        F.rank().over(w_rank).alias("price_rank"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops
# ---------------------------------------------------------------------------


@_register(
    "window_rank_family",
    """
    SELECT o_orderkey, o_orderstatus,
           DENSE_RANK() OVER w AS drank,
           NTILE(4) OVER w AS quartile,
           FLOOR(PERCENT_RANK() OVER w * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
           FLOOR(CUME_DIST() OVER w * 1000000.0 + 0.5) / 1000000.0 AS cume
    FROM orders
    WHERE o_custkey <= 50
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining ranking functions: dense_rank, ntile, percent_rank,
    cume_dist (exact rationals — (rank-1)/(n-1) and rank/n — so the
    doubles agree bitwise across engines). Full tiebreak ordering keeps
    ntile assignment deterministic."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.dense_rank().over(w).alias("drank"),
        F.ntile(4).over(w).alias("quartile"),
        r2(F.percent_rank().over(w), 6).alias("pct_rank"),
        r2(F.cume_dist().over(w), 6).alias("cume"),
    )


@_register(
    "sort_limit_topk",
    """
    SELECT l_orderkey, l_linenumber, FLOOR(l_extendedprice * 100.0 + 0.5) / 100.0 AS price
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 20
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — each task keeps a
    k-heap, driver merges k·tasks rows. Never a full global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", r2(F.col("l_extendedprice")).alias("price"))
        .limit(20)
    )


@_register(
    "set_ops",
    """
    WITH o_open AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
         o_done AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    SELECT 'both' AS bucket, COUNT(*) AS n
      FROM (SELECT o_custkey FROM o_open INTERSECT SELECT o_custkey FROM o_done)
    UNION ALL
    SELECT 'open_only' AS bucket, COUNT(*) AS n
      FROM (SELECT o_custkey FROM o_open EXCEPT SELECT o_custkey FROM o_done)
    UNION ALL
    SELECT 'all_distinct' AS bucket, COUNT(*) AS n
      FROM (SELECT o_custkey FROM o_open UNION SELECT o_custkey FROM o_done)
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer-key sets."""
    orders = load_table(spark, sf_dir, "orders")
    o_open = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    o_done = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    both = o_open.intersect(o_done).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("bucket"), "n"
    )
    open_only = o_open.subtract(o_done).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("open_only").alias("bucket"), "n")
    all_distinct = o_open.union(o_done).distinct().agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("all_distinct").alias("bucket"), "n")
    return both.unionAll(open_only).unionAll(all_distinct)


# ---------------------------------------------------------------------------
# Scalar function library
# ---------------------------------------------------------------------------


@_register(
    "string_funcs",
    """
    SELECT p_partkey,
           UPPER(p_brand) AS brand_upper,
           SUBSTRING(p_name, 1, 8) AS name_prefix,
           LENGTH(p_name) AS name_len,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           REPLACE(p_type, ' ', '_') AS type_snake
    FROM part
    WHERE p_name LIKE '%a%' AND CONTAINS(p_type, 'O')
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.filter(
        F.col("p_name").like("%a%") & F.col("p_type").contains("O")
    ).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
    )


@_register(
    "date_funcs",
    """
    SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(MONTH(o_orderdate) AS INT) AS order_month,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1993-01-01'
    GROUP BY 1, 2
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderdate") >= F.lit("1993-01-01").cast("timestamp"))
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@_register(
    "date_arithmetic",
    """
    SELECT o_orderkey,
           date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) AS days_since_epoch_start,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month_start,
           o_orderdate + INTERVAL 1 MONTH AS next_month,
           CAST(YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS INT) AS yyyymm
    FROM orders
    WHERE o_orderkey <= 2000
    """,
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal arithmetic: day diffs, month truncation, interval
    addition (add_months and DuckDB's + INTERVAL share end-of-month
    clamping), composite period keys."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    return orders.select(
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate"), F.lit("1992-01-01").cast("timestamp")
        ).alias("days_since_epoch_start"),
        F.date_trunc("month", "o_orderdate").alias("order_month_start"),
        F.add_months("o_orderdate", 1).cast("timestamp").alias("next_month"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("yyyymm"),
    )


@_register(
    "math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           FLOOR(SQRT(l_extendedprice) * 10000.0 + 0.5) / 10000.0 AS price_sqrt,
           FLOOR(LN(l_extendedprice) * 1000000.0 + 0.5) / 1000000.0 AS price_ln,
           CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
           CAST(CEIL(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
           ABS(l_quantity - 25) AS qty_dist
    FROM lineitem
    WHERE l_orderkey <= 1000
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        r2(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        r2(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.abs(F.col("l_quantity") - 25).alias("qty_dist"),
    )


@_register(
    "case_when_pivot",
    """
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_open,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_final,
           COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def case_when_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (manual pivot) — one pass, no shuffle beyond
    the group-by."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0.0)), 2
        ).alias("qty_open"),
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0.0)), 2
        ).alias("qty_final"),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_discounted"),
    )


@_register(
    "json_extract",
    """
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction on events.props (JVM-side get_json_object —
    no Python in the loop)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            (F.get_json_object("props", "$.k").cast("bigint") % 10).alias("k_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@_register(
    "subquery_scalar_and_correlated",
    """
    SELECT c.c_custkey, c.c_name, COUNT(*) AS n_big_orders
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > (SELECT 1.5 * AVG(o_totalprice) FROM orders)
      AND EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
    GROUP BY c.c_custkey, c.c_name
    """,
)
def subquery_scalar_and_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (uncorrelated AVG threshold — planned as a 1-row
    broadcast) + correlated EXISTS (decorrelated by Catalyst into a
    left-semi join): customers' orders above 1.5× the global average
    price, restricted to customers with at least one finished order."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, COUNT(*) AS n_big_orders
        FROM {c} c JOIN {o} o ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice > (SELECT 1.5 * AVG(o_totalprice) FROM {o2})
          AND EXISTS (SELECT 1 FROM {o3} o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
        GROUP BY c.c_custkey, c.c_name
        """,
        c=customer,
        o=orders,
        o2=orders,
        o3=orders,
    )


@_register(
    "agg_percentiles",
    """
    SELECT o_orderstatus,
           FLOOR(quantile_cont(o_totalprice, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50,
           FLOOR(quantile_cont(o_totalprice, 0.95) * 10000.0 + 0.5) / 10000.0 AS p95,
           FLOOR(MIN(o_totalprice) * 100.0 + 0.5) / 100.0 AS p_min,
           FLOOR(MAX(o_totalprice) * 100.0 + 0.5) / 100.0 AS p_max
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — Spark `percentile` and
    DuckDB `quantile_cont` agree bitwise) + min/max per group. Exact
    percentile buffers the group's values, so at 100 TB prefer
    approx_percentile (t-digest) for high-cardinality groups; this entry
    pins the exact semantics on bounded group counts."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        r2(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        r2(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
        r2(F.min("o_totalprice")).alias("p_min"),
        r2(F.max("o_totalprice")).alias("p_max"),
    )


@_register(
    "array_funcs",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           FLOOR(list_sum(CAST(embedding AS DOUBLE[])) * 10000.0 + 0.5) / 10000.0 AS vec_sum,
           FLOOR(CAST(list_max(embedding) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS vec_max,
           FLOOR(CAST(embedding[1] AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS first_dim
    FROM embeddings
    WHERE vec_id < 100
    """,
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar-function coverage over the embedding column: size,
    element-fold sum (same left-to-right order as DuckDB list_sum so the
    doubles agree bitwise), max, positional access."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    vec_sum = F.aggregate(
        F.col("embedding").cast("array<double>"),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        r2(vec_sum, 4).alias("vec_sum"),
        r2(F.array_max("embedding").cast("double"), 4).alias("vec_max"),
        r2(F.element_at("embedding", 1).cast("double"), 4).alias("first_dim"),
    )


@_register(
    "grouping_sets_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice), 2) AS revenue,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube specialize)
    + grouping_id to disambiguate NULL-as-total from NULL-as-value.
    One Expand + single hash agg pass, same as rollup/cube."""
    li = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_extendedprice), 2) AS revenue,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
        """,
        li=li,
    )


@_register(
    "window_range_frame",
    """
    SELECT o_custkey, o_orderkey,
           FLOOR(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
           ) * 100.0 + 0.5) / 100.0 AS trailing_30d_spend
    FROM orders
    WHERE o_custkey <= 100
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame keyed on event time (trailing 30-day spend per
    customer) — value-based frames complement the ROWS frames in
    window_running_analytics. The frame bound is computed per row from
    the ORDER BY value, so ties at the same date aggregate together
    (ROWS frames would split them arbitrarily)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("long"))
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        r2(F.sum("o_totalprice").over(w)).alias("trailing_30d_spend"),
    )


@_register(
    "agg_salted_hot_keys",
    """
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def agg_salted_hot_keys(spark: SparkSession, sf_dir: str, n_salts: int = 8) -> DataFrame:
    """Two-stage SALTED aggregation: stage 1 groups on (user_id, salt) so
    a hot key's rows spread over n_salts reducers, stage 2 merges the
    partials per user. The oracle is the plain GROUP BY — identical
    result, skew-proof plan. SUM/COUNT re-aggregate losslessly
    (sum-of-sums); the value sum is rounded only once, after the final
    merge, so salting does not perturb the float result vs the oracle
    beyond normal partial-agg reordering (integer count is exact).
    This is the manual pattern for when AQE skew handling can't help
    (skew in a groupBy, not a join)."""
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salts)))
    partial = salted.groupBy("user_id", "_salt").agg(
        F.count(F.lit(1)).alias("pn"), F.sum("value").alias("pv")
    )
    return partial.groupBy("user_id").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("pv"), 2).alias("total_value"),
    )


@_register(
    "events_hourly_rollup",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling-window aggregation via F.window (same operator the
    streaming path uses; epoch-aligned 1h windows == date_trunc('hour'))."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
            "total_value",
        )
    )


@_register(
    "unpivot_flag_measures",
    """
    WITH agg AS (
        SELECT l_returnflag,
               FLOOR(SUM(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty,
               FLOOR(SUM(l_extendedprice) * 100.0 + 0.5) / 100.0 AS sum_price,
               FLOOR(SUM(l_discount) * 100.0 + 0.5) / 100.0 AS sum_disc
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM agg
    """,
)
def unpivot_flag_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-flag measure columns → long
    (key, measure, value) rows — the inverse of case_when_pivot and the
    standard feature-table → training-example reshaping. Spark's
    `unpivot` plans an Expand over the already-aggregated input (3
    output rows per group row, zero extra shuffles beyond the
    aggregation's own)."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        r2(F.sum("l_quantity"), 2).alias("sum_qty"),
        r2(F.sum("l_extendedprice"), 2).alias("sum_price"),
        r2(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "value"
    )


@_register(
    "agg_sorted_strings",
    """
    SELECT o_orderstatus,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
               AS keys_csv,
           COUNT(*) AS n
    FROM orders WHERE o_custkey <= 5
    GROUP BY o_orderstatus
    """,
)
def agg_sorted_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG ... WITHIN GROUP — the ANSI
    form Spark 4 implements natively; DuckDB's twin is string_agg with
    ORDER BY). The explicit within-group ORDER makes the concatenation
    deterministic under any partitioning — without it the result depends
    on merge order, the classic distributed-agg trap. Bounded input by
    contract: string aggs materialize the whole group, so at 100 TB this
    runs on pre-filtered/bucketed slices (here o_custkey <= 5), never on
    raw fact tables."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 5)
    return orders.groupBy("o_orderstatus").agg(
        F.expr(
            "listagg(CAST(o_orderkey AS STRING), ',')"
            " WITHIN GROUP (ORDER BY o_orderkey)"
        ).alias("keys_csv"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "join_lateral_topk",
    """
    SELECT n.n_name, t.c_custkey,
           FLOOR(t.c_acctbal * 100.0 + 0.5) / 100.0 AS acctbal
    FROM nation n, LATERAL (
        SELECT c_custkey, c_acctbal
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 2
    ) t
    """,
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 customers per nation by
    balance) — the SQL-standard per-row-subquery join Spark 3.4+
    decorrelates into a join + per-key limit instead of executing the
    inner query once per outer row. Same answer as the window top-k
    pattern (window_topk_per_customer) but exercises the decorrelation
    path: a LATERAL the optimizer can't decorrelate would be a
    per-row re-scan at 100 TB, so this entry pins that the rewrite
    happens (no nested-loop in the plan gate)."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("_lat_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    # rounding via r2 (not SQL-text FLOOR): a bare 100.0 literal in Spark
    # SQL is DECIMAL, which would turn the result column decimal-typed
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM _lat_nation n, LATERAL (
            SELECT c_custkey, c_acctbal
            FROM _lat_customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 2
        ) t
        """
    ).select("n_name", "c_custkey", r2(F.col("c_acctbal")).alias("acctbal"))


@_register(
    "window_value_functions",
    """
    SELECT l_suppkey AS s_suppkey, l_orderkey, l_linenumber,
           FLOOR(FIRST_VALUE(l_extendedprice) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
           ) * 100.0 + 0.5) / 100.0 AS first_price,
           FLOOR(LAST_VALUE(l_extendedprice) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) * 100.0 + 0.5) / 100.0 AS last_price,
           FLOOR(NTH_VALUE(l_extendedprice, 2) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) * 100.0 + 0.5) / 100.0 AS second_price
    FROM lineitem WHERE l_suppkey <= 10
    """,
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The value-picking window family (first_value / last_value /
    nth_value). The frame matters and is explicit: first_value rides
    the default running frame, but last_value and nth_value over the
    default frame see only up to the CURRENT row (the classic
    last_value gotcha — it returns the current row's value), so both
    take an explicit unbounded-both-ends frame to mean "the partition's
    last / second". Full tiebreak ordering keeps every pick
    deterministic; one shuffle+sort per partition key serves all three."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 10)
    w = W.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return li.select(
        F.col("l_suppkey").alias("s_suppkey"),
        "l_orderkey",
        "l_linenumber",
        r2(F.first("l_extendedprice").over(w)).alias("first_price"),
        r2(F.last("l_extendedprice").over(full)).alias("last_price"),
        r2(F.nth_value("l_extendedprice", 2).over(full)).alias("second_price"),
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@_register(
    "pivot_event_type_revenue",
    """
    SELECT user_id % 10 AS user_bucket,
    """
    + ",\n".join(
        f"       ROUND(SUM(CASE WHEN event_type = '{t}' THEN value END), 2)"
        f" AS {t}"
        for t in _EVENT_TYPES
    )
    + """
    FROM events
    GROUP BY user_id % 10
    """,
)
def pivot_event_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native pivot API (`RelationalGroupedDataset.pivot`) — per
    user-id bucket, total event value pivoted into one column per
    event_type. The pivot values are passed EXPLICITLY: without the
    list, Spark first runs a separate distinct-scan job to discover
    the columns — an extra full pass over the fact table that at
    100 TB costs as much as the query itself and makes the output
    schema data-dependent (schema drift when a new type appears).
    With explicit values the pivot compiles to exactly the
    CASE-WHEN conditional aggregation of `case_when_pivot` — one
    scan, one shuffle on the group key, map-side partials — while
    keeping the ergonomic wide-table API. The oracle IS that
    CASE-WHEN form, pinning the equivalence."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.round(F.sum("value"), 2))
    )


@_register(
    "agg_argmax_funcs",
    """
    SELECT event_type,
           arg_max(user_id,
                   CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) * 1000000000
                   + user_id) AS top_value_user,
           arg_min(user_id,
                   CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) * 1000000000
                   + user_id) AS bottom_value_user,
           FLOOR(MAX(value) * 100.0 + 0.5) / 100.0 AS max_value,
           FLOOR(MIN(value) * 100.0 + 0.5) / 100.0 AS min_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_argmax_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The argmax aggregate family (max_by / min_by — SQL:2023 ANY_VALUE
    cousins Spark ships natively): per event_type, WHICH user produced
    the highest / lowest event value. Equal values are real in this data
    (2-decimal values collide), and bare max_by ties are
    partition-order-dependent — the classic distributed-argmax trap —
    so the ordering key packs (value_cents, user_id) into one bigint:
    deterministic under any partitioning, and expressible identically
    in the oracle (whose arg_max takes only scalar keys — DuckDB rejects
    struct keys). PRECONDITION: the packing is a valid lexicographic
    (value_cents, user_id) order only while user_id < 10^9 and
    value_cents < 9.2*10^9 (bigint headroom); the testdata contract
    test pins both. At id ranges beyond that, the production form is
    max_by(user_id, struct(value_cents, user_id)) — Spark structs
    compare lexicographically — which the scalar-keyed oracle cannot
    express, so the packed form is what gets hash-certified; the two
    forms are pinned equal on driver data by
    tests/test_operators.py::test_argmax_struct_key_matches_packed_key. One groupBy
    with map-side partial max_by merges; argmax never sorts or windows
    — at 100 TB this replaces the ROW_NUMBER()-then-filter idiom with
    a single agg whose state is one (key, arg) pair per group."""
    ev = load_table(spark, sf_dir, "events")
    key = (
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
        * F.lit(1000000000)
        + F.col("user_id")
    )
    return ev.groupBy("event_type").agg(
        F.max_by("user_id", key).alias("top_value_user"),
        F.min_by("user_id", key).alias("bottom_value_user"),
        (F.floor(F.max("value") * 100.0 + F.lit(0.5)) / 100.0).alias(
            "max_value"
        ),
        (F.floor(F.min("value") * 100.0 + F.lit(0.5)) / 100.0).alias(
            "min_value"
        ),
    )


_JOIN_SALTS = 8


@_register(
    "join_salted_skew",
    """
    WITH dim AS (
        SELECT DISTINCT event_type, length(event_type) AS weight
        FROM events
    )
    SELECT e.event_type, d.weight,
           COUNT(*) AS n_events,
           FLOOR(SUM(e.value) * d.weight * 100.0 + 0.5) / 100.0
               AS weighted_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type, d.weight
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED fact-dim join — the join-side twin of
    agg_salted_hot_keys: a low-cardinality/skewed join key (5 event
    types over millions of rows) concentrates each key's rows on one
    task in a plain shuffle join, so the fact side is salted with
    pmod(xxhash64(event_id), 8) and the dim side is
    replicated x8 (explode of the salt sequence) — the join
    runs on (key, salt), spreading every hot key over 8
    tasks. The oracle is the UNSALTED logical join: certifying that
    salting is a pure physical rewrite (same rows, same aggregates,
    exact-sum float path preserved because the per-key SUM is computed
    before the single weight multiply). At 100 TB the dim stays
    broadcast-sized after replication (|dim| x salts rows); when even
    that outgrows broadcast, the same (key, salt) equi-join shuffles
    both sides with the skew already dissolved — which is what AQE
    skew-join does adaptively, expressed here as an explicit,
    planner-independent rewrite."""
    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.select("event_type").distinct()
        .withColumn("weight", F.length("event_type"))
    )
    dim_rep = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALTS - 1)))
    )
    salted = ev.withColumn(
        "_salt",
        F.pmod(F.xxhash64("event_id"), F.lit(_JOIN_SALTS)).cast("int"),
    )
    joined = salted.join(F.broadcast(dim_rep), ["event_type", "_salt"])
    return joined.groupBy("event_type", "weight").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.floor(F.sum("value") * F.col("weight") * 100.0 + F.lit(0.5))
            / 100.0
        ).alias("weighted_value"),
    )


@_register(
    "join_null_aware_anti",
    """
    WITH s AS (
        SELECT CASE WHEN o_custkey % 100 = 37 THEN NULL
                    ELSE o_custkey END AS k
        FROM orders
    )
    SELECT (SELECT COUNT(*) FROM customer) AS n_customers,
           (SELECT COUNT(*) FROM customer
            WHERE c_custkey NOT IN (SELECT k FROM s)) AS n_not_in_raw,
           (SELECT COUNT(*) FROM customer
            WHERE c_custkey NOT IN (SELECT k FROM s WHERE k IS NOT NULL))
               AS n_not_in_filtered
    """,
)
def join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with a nullable subquery — the null-aware anti join, the
    one join whose SEMANTICS (not just plan) differ from LEFT ANTI:
    ``x NOT IN (S)`` is never TRUE once S contains a NULL (x <> NULL is
    UNKNOWN), so the raw count is provably ZERO while the
    null-filtered form returns the real customers-without-orders count.
    Both counts ride one row under the hash gate: the zero certifies
    that Spark implements the tri-valued semantics (Spark plans this as
    a null-aware anti join — a broadcast hash join variant that
    short-circuits on the null flag rather than scanning per probe),
    and the filtered count certifies the useful form every style guide
    rewrites NOT IN into. Nulls are injected deterministically
    (custkey % 100 = 37) since the testdata has none.

    At 100 TB the lesson IS the operator: an accidental nullable NOT IN
    column turns the whole query into a constant-empty result after a
    full build-side scan — the filtered rewrite (or LEFT ANTI, which
    treats NULL as simply non-matching) is the production form."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return spark.sql(
        """
        WITH s AS (
            SELECT CASE WHEN o_custkey % 100 = 37 THEN NULL
                        ELSE o_custkey END AS k
            FROM {o}
        )
        SELECT (SELECT COUNT(*) FROM {c}) AS n_customers,
               (SELECT COUNT(*) FROM {c}
                WHERE c_custkey NOT IN (SELECT k FROM s)) AS n_not_in_raw,
               (SELECT COUNT(*) FROM {c}
                WHERE c_custkey NOT IN
                      (SELECT k FROM s WHERE k IS NOT NULL))
                   AS n_not_in_filtered
        """,
        o=orders,
        c=customer,
    )


@_register(
    "sql_udf_pricing",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           FLOOR(SUM(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0
                           + 0.5) / 100.0) * 100.0 + 0.5) / 100.0
               AS net_revenue
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sql_udf_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (CREATE FUNCTION ... RETURN <expr> — the
    catalog-resident function surface Spark 4 added): the
    rounded-net-price formula is DEFINED ONCE as a named SQL function
    and referenced from the query; Catalyst INLINES the body into the
    plan, so unlike Python UDFs this abstraction costs nothing — the
    optimized plan is byte-identical to writing the expression inline,
    which the oracle (inlined formula) certifies. This is how shared
    business logic (pricing rules, scoring formulas) is centralized
    across a 100 TB warehouse without a per-row function-call tax or a
    Python runtime on the executors."""
    li = load_table(spark, sf_dir, "lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE "
        "RETURN FLOOR(p * (1.0 - d) * 100.0 + 0.5) / 100.0"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n,
               -- SQL-text literals are DECIMAL (unlike DataFrame lit):
               -- cast the rounded quotient back to the double the
               -- oracle computes (exact int / 100 -> same nearest double)
               CAST(FLOOR(SUM(net_price(l_extendedprice, l_discount))
                          * 100.0 + 0.5) / 100.0 AS DOUBLE) AS net_revenue
        FROM {li}
        GROUP BY l_returnflag
        """,
        li=li,
    )


@_register(
    "json_variant_stats",
    """
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY 1, 2
    """,
)
def json_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through the VARIANT type (Spark 4's
    open-format answer to shredded JSON columns): `parse_json` turns
    `events.props` into a VARIANT once, `variant_get` extracts typed
    paths without re-parsing the text per access — the difference that
    matters when a query touches many paths of the same document. At
    100 TB the VARIANT column is stored parsed (binary-encoded), so
    path access is a sub-column read rather than a JSON parse of every
    row — this entry certifies the extraction semantics against the
    string-path oracle (get_json_object twin `json_extract` pins the
    older API; this pins the VARIANT one)."""
    ev = load_table(spark, sf_dir, "events")
    # try_parse_json: lenient like the oracle CAST path and the
    # try_variant_get below — a malformed row yields NULLs, not an error
    v = F.try_parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type", (F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("k").alias("max_k"),
        )
    )


@_register(
    "sql_pipe_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(SUM(l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.5)
               / 100.0 AS revenue
    FROM lineitem
    WHERE l_quantity > 10
    GROUP BY l_returnflag, l_linestatus
    HAVING COUNT(*) > 100
    """,
)
def sql_pipe_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (|>, Spark 4 / GoogleSQL "Pipe Query Syntax",
    Shute et al. VLDB 2024): the filtered-aggregate-having pricing
    rollup written as a linear pipeline — FROM |> WHERE |> AGGREGATE
    |> WHERE |> SELECT — instead of inside-out SQL. Each |> stage
    lowers to exactly the clause it names, so the optimized plan is
    the same scan → partial agg → final agg → filter Catalyst builds
    for the HAVING form; the oracle IS that classic form, certifying
    the pipe surface is pure syntax with zero plan tax. The post-
    AGGREGATE WHERE is the HAVING equivalent — semantics pinned by the
    hash gate, not by analogy."""
    li = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        FROM {li}
        |> WHERE l_quantity > 10
        |> AGGREGATE
               COUNT(*) AS n,
               CAST(FLOOR(SUM(l_extendedprice * (1.0 - l_discount))
                          * 100.0 + 0.5) / 100.0 AS DOUBLE) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n > 100
        |> SELECT l_returnflag, l_linestatus, n, revenue
        """,
        li=li,
    )


@_register(
    "union_by_name_evolution",
    """
    WITH legacy AS (
        SELECT event_id, user_id,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events WHERE event_id % 2 = 0
    ),
    current AS (
        SELECT event_id, user_id,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents,
               event_type
        FROM events WHERE event_id % 2 = 1
    ),
    unioned AS (
        SELECT * FROM legacy UNION ALL BY NAME SELECT * FROM current
    )
    SELECT user_id % 10 AS user_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE event_type IS NULL) AS BIGINT)
               AS n_legacy,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(SUM(cents) AS BIGINT) AS cents_sum
    FROM unioned
    GROUP BY 1
    """,
)
def union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution UNION: a legacy generation (no event_type
    column) and a current generation unioned BY NAME with
    allowMissingColumns=True, the DataFrame-level answer to mixed-
    generation data the reader-level mergeSchema entry
    (source_schema_evolution) certifies one layer down. Positional
    UNION would silently misalign columns the moment one side reorders
    or gains a field — the classic corruption-without-an-error; by-name
    union resolves columns like the lake resolves files, NULL-filling
    the legacy side. The certified aggregate pins both the NULL-fill
    (n_legacy counts exactly the even-event rows) and value integrity
    across the union (exact cents sum). Plan: the union is a zero-cost
    logical node over two scans of the same parquet with disjoint
    pushed filters; one shuffle for the rollup. At 100 TB this is how
    a query spans a table's pre- and post-migration partitions without
    rewriting history."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    legacy = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", cents.alias("cents")
    )
    current = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", cents.alias("cents"), "event_type"
    )
    unioned = legacy.unionByName(current, allowMissingColumns=True)
    return unioned.groupBy((F.col("user_id") % 10).alias("user_bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("event_type").isNull(), 1)).alias("n_legacy"),
        F.countDistinct("event_type").alias("n_types"),
        F.sum("cents").alias("cents_sum"),
    )


@_register(
    "string_collation_groups",
    """
    WITH toks AS (
        SELECT CASE WHEN doc_id % 2 = 0 THEN upper(tok) ELSE lower(tok) END
                   AS tok
        FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '')[1] AS tok
            FROM documents
        )
        WHERE tok IS NOT NULL
    )
    SELECT min(tok) AS canonical,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_variants
    FROM toks
    GROUP BY lower(tok)
    HAVING COUNT(*) >= 3
    """,
)
def string_collation_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATIONS as the engine-level answer to case folding:
    each document's first token is deterministically case-mangled
    (even doc_id → UPPER, odd → lower) and then grouped under the
    UTF8_LCASE collation — the comparison/grouping/join semantics
    live in the TYPE, so every downstream operator (GROUP BY, joins,
    ORDER BY, =) folds case without wrapping lower() around each
    reference, and the optimizer still prunes/pushes on the column.
    Certification trick: a collated GROUP BY's key REPRESENTATIVE is
    whichever variant a partition saw first (nondeterministic under
    any parallelism — the same trap as bare max_by ties), so the
    certified output re-canonicalizes each group with min() over the
    ORIGINAL UTF8_BINARY column and the oracle reproduces it with
    GROUP BY lower(). At 100 TB collation beats expression-wrapped
    lower(): the fold happens inside the hash/compare (no derived
    column doubling the shuffle width), and dictionary-encoded parquet
    pages compare without materializing folded copies."""
    docs = load_table(spark, sf_dir, "documents")
    tok = F.filter(F.split("text", " "), lambda t: t != "").getItem(0)
    mangled = F.when(F.col("doc_id") % 2 == 0, F.upper(tok)).otherwise(
        F.lower(tok)
    )
    toks = docs.select(mangled.alias("tok")).filter(F.col("tok").isNotNull())
    return (
        toks.groupBy(F.collate(F.col("tok"), "UTF8_LCASE").alias("k"))
        .agg(
            F.min("tok").alias("canonical"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("tok").alias("n_variants"),
        )
        .filter(F.col("n") >= 3)
        .select("canonical", "n", "n_variants")
    )


@_register(
    "window_distribution_ranks",
    """
    WITH per_user AS (
        SELECT event_type, user_id,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY event_type, user_id
    )
    SELECT event_type, user_id, cents,
           ntile(4) OVER w AS quartile,
           FLOOR(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0
               AS pct_rank,
           FLOOR(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0
               AS cume
    FROM per_user
    WINDOW w AS (PARTITION BY event_type ORDER BY cents DESC, user_id)
    """,
)
def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTION-rank window family — ntile / percent_rank /
    cume_dist — completing the ranking windows beside row_number/rank/
    dense_rank (window_rank_family) and the value-pickers
    (window_value_functions): per event_type, each user's spend
    quartile, relative rank in [0,1], and cumulative share of users at
    or above. The determinism rule all three inherit: the window ORDER
    must be a TOTAL order ((cents DESC, user_id) — the tiebreak makes
    ntile bucket boundaries and both ratios partition-order-
    independent; bare ORDER BY cents would let equal spenders swap
    quartiles between runs). percent_rank's (rank-1)/(n-1) and
    cume_dist's peers/n are exact small-integer divisions — identical
    fp64 in both engines, micro-rounded only as belt-and-braces. One
    shuffle for the per-user totals, one window sort per event_type;
    at 100 TB this is the segmentation pass behind \"top-quartile
    customer\" labels (the RFM entry's median splits, generalized to
    arbitrary quantile buckets)."""
    from pyspark.sql import Window as W

    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(cents).alias("cents")
    )
    w = W.partitionBy("event_type").orderBy(F.col("cents").desc(), "user_id")
    return per_user.select(
        "event_type",
        "user_id",
        "cents",
        F.ntile(4).over(w).alias("quartile"),
        r2(F.percent_rank().over(w), 6).alias("pct_rank"),
        r2(F.cume_dist().over(w), 6).alias("cume"),
    )


@_register(
    "tpch_q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount)
                               * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue_cents DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority), adapted to the driver star schema
    (o_orderpriority stands in for the generator's o_shippriority,
    cutoff shifted into the data's date range): unshipped orders from
    one market segment ranked by pending revenue — the canonical
    3-way fact⋈fact⋈dim benchmark join with selective predicates on
    EVERY table. What the plan must do at 100 TB: push all three
    predicates into their scans (segment, order date, ship date — each
    kills most of its table before any join), broadcast the filtered
    customer keys, let AQE pick the orders⋈lineitem side, and close
    with TakeOrderedAndProject, never a global sort. Revenue is frozen
    to per-row cents BEFORE the sum (TPC-H's DECIMAL arithmetic made
    cross-engine exact as bigint cents), with (date, orderkey)
    tiebreaks so the top-10 is a total order."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-03-15"
    )
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0
        + F.lit(0.5)
    ).cast("long")
    return (
        li.join(
            orders.join(
                F.broadcast(cust.select("c_custkey")),
                orders.o_custkey == F.col("c_custkey"),
            ).select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(cents).alias("revenue_cents"))
        .orderBy(
            F.col("revenue_cents").desc(), "o_orderdate", "l_orderkey"
        )
        .limit(10)
    )


@_register(
    "tpch_q18_large_orders",
    """
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS qty_cents
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) > 30000
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT)
               AS total_cents,
           b.qty_cents
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY total_cents DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total lineitem
    quantity exceeds a threshold, joined back to their customers — the
    canonical HAVING-driven semi-reduction. The shape that matters at
    100 TB: the ONLY full-table shuffle is the lineitem rollup (one
    map-side-combined groupBy on l_orderkey); the HAVING filter then
    collapses it to a handful of keys (473 of 147k orders at sf0.1),
    and that tiny survivor frame is BROADCAST into both the orders and
    customer joins — the fact tables are probed in place, never
    re-shuffled. Classic Q18 re-joins lineitem to recompute the sum;
    carrying qty_cents through the broadcast frame makes that third
    scan unnecessary. Quantities are frozen to exact cents BEFORE
    aggregation so the HAVING boundary (> 30000 cents = 300 units) is
    an integer compare in both engines; top-100 closes with
    TakeOrderedAndProject on (total_cents desc, date, orderkey) — a
    total order, never a global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_cents = F.floor(F.col("l_quantity") * 100.0 + F.lit(0.5)).cast("long")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty_cents).alias("qty_cents"))
        .filter(F.col("qty_cents") > 30000)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sel = orders.join(
        F.broadcast(big), orders.o_orderkey == big.l_orderkey
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("total_cents"),
        "qty_cents",
    )
    return (
        cust.join(F.broadcast(sel), cust.c_custkey == sel.o_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "total_cents", "qty_cents",
        )
        .orderBy(F.col("total_cents").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@_register(
    "tpch_q17_small_quantity_revenue",
    """
    WITH sel AS (
        SELECT l.l_partkey,
               CAST(FLOOR(l.l_quantity * 100.0 + 0.5) AS BIGINT) AS qty_c,
               CAST(FLOOR(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)
                   AS price_c
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23'
    ),
    avgq AS (
        SELECT l_partkey,
               CAST(SUM(qty_c) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM sel GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lines,
           CAST(SUM(sel.price_c) AS BIGINT) AS lost_revenue_cents,
           FLOOR((CAST(SUM(sel.price_c) AS DOUBLE) / 700.0) * 100.0 + 0.5)
               / 100.0 AS avg_yearly_dollars
    FROM sel
    JOIN avgq ON sel.l_partkey = avgq.l_partkey
    WHERE sel.qty_c * 5 * avgq.n < avgq.s
    """,
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): lineitems of one brand
    whose quantity is below 20% of that part's average quantity — the
    canonical CORRELATED scalar subquery, decorrelated here one step
    further than the textbook agg-plus-rejoin: the per-part (sum,
    count) ride a WINDOW over the brand-filtered slice, so lineitem is
    scanned ONCE (the rejoin form evaluates the filtered subtree
    twice — Spark does not share subplans) and shuffled once. At
    100 TB: brand predicate pushed into the part scan, the surviving
    ~1/25 of part keys BROADCAST into lineitem (the fact table never
    shuffles for the filter), then ONE exchange of the filtered slice
    on l_partkey serves both the per-part aggregate and the threshold
    probe. The 0.2·avg comparison is done as qty·5·n < sum over exact
    cent/count integers, so no float division sits on the predicate
    boundary; the /7.0 'average yearly' output division happens once,
    on the final 1-row frame."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    sel = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select(
        "l_partkey",
        F.floor(F.col("l_quantity") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("qty_c"),
        F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
    )
    wp = W.partitionBy("l_partkey")
    small = sel.select(
        "qty_c",
        "price_c",
        F.sum("qty_c").over(wp).alias("s"),
        F.count(F.lit(1)).over(wp).alias("n"),
    ).filter(F.col("qty_c") * 5 * F.col("n") < F.col("s"))
    return small.agg(
        F.count(F.lit(1)).alias("n_small_lines"),
        F.sum("price_c").alias("lost_revenue_cents"),
    ).select(
        "n_small_lines",
        "lost_revenue_cents",
        r2(F.col("lost_revenue_cents").cast("double") / 700.0, 2).alias(
            "avg_yearly_dollars"
        ),
    )


@_register(
    "tpch_q21_waiting_suppliers",
    """
    WITH j AS (
        SELECT l.l_orderkey, l.l_suppkey,
               date_diff('day', o.o_orderdate, l.l_shipdate) > 45 AS late
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
    ),
    per AS (
        SELECT l_orderkey, l_suppkey, late,
               COUNT(DISTINCT l_suppkey) OVER (PARTITION BY l_orderkey)
                   AS n_supp,
               COUNT(DISTINCT CASE WHEN late THEN l_suppkey END)
                   OVER (PARTITION BY l_orderkey) AS n_late
        FROM j
    ),
    waiting AS (
        SELECT DISTINCT l_suppkey, l_orderkey
        FROM per
        WHERE late AND n_supp > 1 AND n_late = 1
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM waiting w
    JOIN supplier s ON s.s_suppkey = w.l_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted to the
    driver schema (late = shipped >45 days after the order date, since
    the generator has no commit/receipt dates): suppliers who were the
    ONLY late supplier on a finished multi-supplier order. The classic
    form is the optimizer torture test — a correlated EXISTS (another
    supplier on the order) AND a correlated NOT EXISTS (no OTHER late
    supplier) against the same fact table, i.e. three lineitem scans.
    Decorrelated here into ONE windowed pass: both existential
    conditions collapse to per-order distinct-supplier counts
    (n_supp > 1 replaces EXISTS, late AND n_late = 1 replaces the
    NOT EXISTS), computed by two COUNT(DISTINCT) window exprs sharing
    a single hash exchange on l_orderkey. At 100 TB: one lineitem
    scan instead of three, the orders status filter pushed and joined
    pre-window (co-partitioned on the same key the window needs), the
    supplier dim a broadcast, and top-100 via TakeOrderedAndProject.
    The DISTINCT (supp, order) collapse before the final count keeps
    multi-lineitem orders from over-counting a supplier."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 45
        ).alias("late"),
    )
    w = W.partitionBy("l_orderkey")
    per = j.select(
        "l_orderkey",
        "l_suppkey",
        "late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.size(
            F.collect_set(
                F.when(F.col("late"), F.col("l_suppkey"))
            ).over(w)
        ).alias("n_late"),
    )
    waiting = (
        per.filter(F.col("late") & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .select("l_suppkey", "l_orderkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(F.broadcast(supp), waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


_SQL_SCRIPTING_ORACLE = """
    WITH b AS (SELECT MIN(o_totalprice) AS base FROM orders),
    counts AS (
        SELECT t.k,
               (SELECT COUNT(*) FROM orders, b
                WHERE o_totalprice > base * power(2.0, CAST(t.k AS DOUBLE))
               ) AS n,
               (SELECT COALESCE(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                                         AS BIGINT)), 0)
                FROM orders, b
                WHERE o_totalprice > base * power(2.0, CAST(t.k AS DOUBLE))
               ) AS cents
        FROM range(0, 64) AS t(k)
    )
    SELECT CAST(k AS BIGINT) AS doublings,
           CAST(n AS BIGINT) AS survivors,
           CAST(cents AS BIGINT) AS survivor_cents
    FROM counts WHERE n < 100 ORDER BY k LIMIT 1
"""


@_register("sql_scripting_control_flow", _SQL_SCRIPTING_ORACLE)
def sql_scripting_control_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4's BEGIN...END procedural blocks) with
    SESSION VARIABLES and a DATA-DEPENDENT loop, hash-certified: the
    script DECLAREs variables, seeds one from a scalar subquery over
    the table (MIN order price), then runs a WHILE loop that DOUBLES
    the cutoff until fewer than 100 orders survive — re-querying the
    table each iteration through the variable — and returns the final
    (doublings, survivors, survivor cents). Control flow is certified
    against a DuckDB closed form (first k in 0..64 whose survivor
    count drops under the threshold): a loop that runs one iteration
    long or short, or a variable binding that goes stale, moves every
    column. Cross-engine float safety: multiplying a double by 2^k is
    EXACT in IEEE 754 (exponent arithmetic, no rounding), so both
    engines evaluate the identical cutoff bit-for-bit — the one
    scaling family where an iterated float comparison is safe across
    engines.

    Scale: each iteration is one aggregate over the table (pushed
    filter, map-side combine); the loop state is a session variable on
    the driver — SQL scripting is control plane, the data work stays
    declarative per statement."""
    # the script touches only o_totalprice — bind the view to the one
    # column so every loop iteration's analysis and scan stay narrow
    # (guide §2.3 "project before"; pruning already reached the parquet
    # scan, this also keeps each statement's plan minimal)
    load_table(spark, sf_dir, "orders").select(
        "o_totalprice"
    ).createOrReplaceTempView("orders_script_v")
    return spark.sql("""
    BEGIN
      DECLARE base DOUBLE;
      DECLARE k INT DEFAULT 0;
      DECLARE n BIGINT;
      DECLARE cents BIGINT;
      SET base = (SELECT MIN(o_totalprice) FROM orders_script_v);
      SET n = (SELECT COUNT(*) FROM orders_script_v
               WHERE o_totalprice > base);
      WHILE n >= 100 DO
        SET k = k + 1;
        SET n = (SELECT COUNT(*) FROM orders_script_v
                 WHERE o_totalprice > base * POWER(2.0D, k));
      END WHILE;
      SET cents = (SELECT COALESCE(SUM(CAST(FLOOR(o_totalprice * 100.0D
                                                  + 0.5D) AS BIGINT)), 0L)
                   FROM orders_script_v
                   WHERE o_totalprice > base * POWER(2.0D, k));
      SELECT CAST(k AS BIGINT) AS doublings,
             n AS survivors,
             cents AS survivor_cents;
    END
    """)
