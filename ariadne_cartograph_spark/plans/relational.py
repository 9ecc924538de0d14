"""Relational operator surface (SURVEY.md §2 rows J6, A5, W3-W6, P14).

The reference contains a single relational query (a 2-column projection,
`/root/reference/update_ways_metadata.py:22`); the full join / aggregate
/ window / set-op surface below is the driver-contract layer ([C] rows)
expressed with built-in Catalyst operators — zero custom rules, per
SURVEY.md §4.2.

Scale design notes appear per query; the recurring ones:
- only CONSTANT-SIZE dimensions (`region` = 5 rows, `nation` = 25 rows
  at every scale factor) and one-row/model-sized aggregates carry an
  explicit `broadcast()` hint. SF-scaling tables (`part`, `supplier`,
  `customer`) are deliberately UN-hinted: an explicit hint overrides
  AQE's size check, and at the 100 TB north star `part`/`supplier` are
  billions of rows — a forced broadcast OOMs the executors. AQE
  (`spark.sql.adaptive.enabled`) still picks BroadcastHashJoin for them
  at bench scale (pinned by `tests/test_plan_shapes.py`), so nothing is
  lost locally and the plan survives the scale-up;
- aggregates are declarative `groupBy` → Tungsten partial+final hash
  aggregation (map-side combine) — no driver-side accumulation;
- top-k uses `orderBy().limit(k)` which Spark plans as
  TakeOrderedAndProject (per-partition heap + merge, no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.money import money, money_sum
from ..session import work_dir
from ..sources.tables import load_table
from .catalog import register

# --------------------------------------------------------------------------
# Aggregations (A5): TPC-H Q1-style pricing summary — the canonical
# wide hash-aggregate. Map-side partial agg keeps shuffle tiny (6 groups).
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    headline=True,
    tags=["S10", "A4", "A5"],
    oracle="""
SELECT l_returnflag, l_linestatus,
       -- money sums accumulate in exact DECIMAL (see functions/money.py):
       -- double accumulation lands on half-cent midpoints at scale and
       -- rounds differently per engine/partitioning.
       CAST(round(sum(CAST(l_quantity AS DECIMAL(27,2))), 2) AS DOUBLE)      AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(27,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(27,6))), 2) AS DOUBLE) AS sum_charge,
       CAST(avg(l_quantity) AS FLOAT)                               AS avg_qty,
       CAST(avg(l_extendedprice) AS FLOAT)                          AS avg_price,
       CAST(avg(l_discount) AS FLOAT)                               AS avg_disc,
       count(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            money_sum(disc_price, scale=4).alias("sum_disc_price"),
            money_sum(disc_price * (1 + F.col("l_tax")), scale=6).alias("sum_charge"),
            F.avg("l_quantity").cast("float").alias("avg_qty"),
            F.avg("l_extendedprice").cast("float").alias("avg_price"),
            F.avg("l_discount").cast("float").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Multi-way join + top-k (J6 + W4): TPC-H Q3-style shipping priority.
# --------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    headline=True,
    tags=["J6", "W4"],
    oracle="""
SELECT l_orderkey,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))), 2) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


# --------------------------------------------------------------------------
# Star join over all dimensions (J6): TPC-H Q5-style regional revenue.
# region/nation/supplier are broadcast — the lineitem side never moves
# for dimension lookups, only for the customer⋈orders co-shuffle.
# --------------------------------------------------------------------------


@register(
    "q5_region_revenue",
    headline=True,
    tags=["J6", "A5"],
    oracle="""
SELECT n_name, CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            # supplier scales with SF — no hint; AQE broadcasts when small.
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# --------------------------------------------------------------------------
# Scan-dominant aggregate (A5 + P1): TPC-H Q6-style forecast revenue.
# The discount/quantity predicates are on untouched double columns, so
# they push into the parquet scan (row-group skipping at 100 TB); the
# date predicate applies post-conversion (nanos → timestamp). Plan is
# scan → filter → 1-row partial+final agg: no shuffle of data rows at
# all, just the scalar merge.
# --------------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    headline=True,
    tags=["A5", "P1", "P14"],
    oracle="""
SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(27,4))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(F.col("l_extendedprice") * F.col("l_discount"), scale=4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Returned-items report (J6 + W4): TPC-H Q10-style. Fact side filters
# first (returnflag + date window), THEN joins — at 100 TB the join
# input is a small fraction of lineitem; customer join co-shuffles on
# custkey; final top-k is TakeOrderedAndProject, never a global sort.
# --------------------------------------------------------------------------


@register(
    "q10_returned_items",
    headline=True,
    tags=["J6", "A5", "W4"],
    oracle="""
SELECT c_custkey, c_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))), 2) AS DOUBLE) AS revenue,
       round(c_acctbal, 2) AS acctbal,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
                "revenue"
            )
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Conditional aggregation over a join (J6 + A5): TPC-H Q14-style promo
# share. The CASE WHEN rides inside the partial aggregate (one pass);
# part is broadcast — the only lineitem movement is the scan itself.
# --------------------------------------------------------------------------


@register(
    "q14_promo_revenue",
    headline=True,
    tags=["J6", "A5", "P14"],
    oracle="""
SELECT CAST(100.00 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
            / sum(l_extendedprice * (1 - l_discount)) AS FLOAT) AS promo_share,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate <  TIMESTAMP '1997-04-01'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(0.0))
                / F.sum(disc_price)
            )
            .cast("float")
            .alias("promo_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Semi / anti joins (J6). Spark plans these as broadcast/shuffled
# hash joins with semi/anti build sides — no row duplication, no
# post-join distinct needed.
# --------------------------------------------------------------------------


@register(
    "join_semi_orders_with_big_items",
    tags=["J6"],
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
ORDER BY o_orderkey
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@register(
    "join_anti_customers_without_orders",
    tags=["J6"],
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_outer_customer_order_stats",
    tags=["J6", "A5"],
    oracle="""
SELECT c_custkey, c_mktsegment,
       count(o_orderkey)                          AS n_orders,
       CAST(round(coalesce(sum(CAST(o_totalprice AS DECIMAL(27,2))), 0), 2) AS DOUBLE) AS total_spent
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
ORDER BY c_custkey
""",
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(money_sum("o_totalprice"), F.lit(0.0)).alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# Non-equi (theta) join (J6): equi key + range residual. Catalyst plans
# the equi part as the join key and evaluates the band as a post-join
# filter — still a hash join, not a nested loop.
# --------------------------------------------------------------------------


@register(
    "join_range_price_band",
    tags=["J6"],
    oracle="""
SELECT p_partkey, count(*) AS n_in_band,
       CAST(avg(l_extendedprice) AS FLOAT) AS avg_band_price
FROM part
JOIN lineitem ON l_partkey = p_partkey
            AND l_extendedprice BETWEEN p_retailprice * 5 AND p_retailprice * 20
GROUP BY p_partkey
ORDER BY p_partkey
""",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (li.l_partkey == part.p_partkey)
        & (li.l_extendedprice >= part.p_retailprice * 5)
        & (li.l_extendedprice <= part.p_retailprice * 20)
    )
    return (
        part.join(li, cond)
        .groupBy("p_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_in_band"),
            F.avg("l_extendedprice").cast("float").alias("avg_band_price"),
        )
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# Grouping sets (A5): rollup / cube with grouping() markers so the
# NULL-as-subtotal rows hash identically to the oracle's.
# --------------------------------------------------------------------------


@register(
    "agg_rollup_orders",
    tags=["A5"],
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus)  AS g_status,
       grouping(o_orderpriority) AS g_priority,
       count(*) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2) AS DOUBLE) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
            F.count(F.lit(1)).alias("n"),
            money_sum("o_totalprice").alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "g_status", "g_priority", "n", "total")
        .orderBy("g_status", "g_priority", "o_orderstatus", "o_orderpriority")
    )


@register(
    "agg_cube_lineitem",
    tags=["A5"],
    oracle="""
SELECT l_returnflag, l_linestatus,
       grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
       count(*) AS n, CAST(round(sum(CAST(l_quantity AS DECIMAL(27,2))), 2) AS DOUBLE) AS qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY g_rf, g_ls, l_returnflag, l_linestatus
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_rf"),
            F.grouping("l_linestatus").cast("long").alias("g_ls"),
            F.count(F.lit(1)).alias("n"),
            money_sum("l_quantity").alias("qty"),
        )
        .select("l_returnflag", "l_linestatus", "g_rf", "g_ls", "n", "qty")
        .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")
    )


@register(
    "agg_distinct_counts",
    tags=["A5"],
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_filtered",
    tags=["A5"],
    oracle="""
SELECT o_orderstatus,
       count(*) FILTER (WHERE o_totalprice > 1000)  AS n_big,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,2))) FILTER (WHERE o_orderpriority = '1-URGENT'), 2) AS DOUBLE) AS urgent_total
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.when(F.col("o_totalprice") > 1000, 1)).alias("n_big"),
            F.count(F.when(urgent, 1)).alias("n_urgent"),
            money_sum(F.when(urgent, F.col("o_totalprice"))).alias("urgent_total"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Windows (W3): ranking, running aggregates, lag/lead.
# --------------------------------------------------------------------------


@register(
    "window_topn_per_group",
    tags=["W1", "W3"],
    oracle="""
SELECT * FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) t
WHERE rn <= 3
ORDER BY o_orderpriority, rn
""",
)
def window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_orderpriority", "rn")
    )


@register(
    "window_running_total",
    tags=["W3"],
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,2)))
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
         AS running_total,
       rank()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
       dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS status_drank,
       ntile(4)     OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS quartile
FROM orders
ORDER BY o_custkey, o_orderkey
""",
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w_run = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_rank = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    w_status = W.partitionBy("o_custkey").orderBy("o_orderstatus")
    w_nt = W.partitionBy("o_custkey").orderBy("o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.sum(money("o_totalprice")).over(w_run), 2).cast("double").alias("running_total"),
            F.rank().over(w_rank).alias("price_rank"),
            F.dense_rank().over(w_status).alias("status_drank"),
            F.ntile(4).over(w_nt).alias("quartile"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_lag_lead_events",
    tags=["W3"],
    oracle="""
SELECT user_id, event_id, event_type,
       round(value - lag(value)  OVER w, 2) AS delta_prev,
       lead(event_type) OVER w              AS next_type,
       round(first_value(value) OVER w, 2)  AS first_val
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
""",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
            F.lead("event_type").over(w).alias("next_type"),
            F.round(F.first("value").over(w), 2).alias("first_val"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# Sort / limit / top-k (W4) — planned as TakeOrderedAndProject.
# --------------------------------------------------------------------------


@register(
    "topk_orders_by_price",
    tags=["W4"],
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
""",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# Set operations (W5).
# --------------------------------------------------------------------------


@register(
    "set_intersect_nations",
    tags=["W5"],
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
""",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp).orderBy("nationkey")


@register(
    "set_except_nations",
    tags=["W5"],
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
""",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.subtract(supp).orderBy("nationkey")


@register(
    "set_union_all_counts",
    tags=["W5"],
    oracle="""
SELECT nationkey, count(*) AS n FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey FROM supplier
) u
GROUP BY nationkey
ORDER BY nationkey
""",
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return (
        cust.unionAll(supp)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------------
# Scalar function surface (P14): strings, dates, math, conditionals, JSON.
# All stay inside whole-stage codegen — no UDFs.
# --------------------------------------------------------------------------


@register(
    "scalar_string_funcs",
    tags=["P14"],
    oracle="""
SELECT p_partkey,
       upper(p_brand)                      AS brand_upper,
       substr(p_name, 1, 8)                AS name_prefix,
       length(p_name)                      AS name_len,
       concat(p_brand, ':', p_type)        AS brand_type,
       replace(p_type, 'ECONOMY', 'ECO')   AS type_short,
       contains(p_name, 'a')               AS has_a
FROM part
WHERE p_name LIKE '%a%' OR p_type LIKE 'S%'
ORDER BY p_partkey
""",
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("%a%") | F.col("p_type").like("S%"))
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_upper"),
            F.substring("p_name", 1, 8).alias("name_prefix"),
            F.length("p_name").alias("name_len"),
            F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
            F.replace(F.col("p_type"), F.lit("ECONOMY"), F.lit("ECO")).alias("type_short"),
            F.col("p_name").contains("a").alias("has_a"),
        )
        .orderBy("p_partkey")
    )


@register(
    "scalar_date_funcs",
    tags=["P14"],
    oracle="""
SELECT year(ts) AS y, month(ts) AS m, dayofmonth(ts) AS d, hour(ts) AS h,
       count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(27,2))), 2) AS DOUBLE) AS total
FROM events
GROUP BY year(ts), month(ts), dayofmonth(ts), hour(ts)
ORDER BY y, m, d, h
""",
)
def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.year("ts").alias("y"),
            F.month("ts").alias("m"),
            F.dayofmonth("ts").alias("d"),
            F.hour("ts").alias("h"),
        )
        .agg(F.count(F.lit(1)).alias("n"), money_sum("value").alias("total"))
        .orderBy("y", "m", "d", "h")
    )


@register(
    "scalar_case_when",
    tags=["P14"],
    oracle="""
SELECT CASE WHEN value < 50 THEN 'low'
            WHEN value < 150 THEN 'mid'
            ELSE 'high' END AS bucket,
       event_type, count(*) AS n, CAST(avg(value) AS FLOAT) AS avg_value
FROM events
GROUP BY 1, 2
ORDER BY bucket, event_type
""",
)
def scalar_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 50, "low").when(F.col("value") < 150, "mid").otherwise("high")
    )
    return (
        ev.groupBy(bucket.alias("bucket"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").cast("float").alias("avg_value"))
        .orderBy("bucket", "event_type")
    )


@register(
    "scalar_json_extract",
    tags=["P3", "P14"],
    oracle="""
SELECT CAST(props->>'$.k' AS BIGINT) % 10 AS k_mod,
       count(*) AS n, CAST(avg(value) AS FLOAT) AS avg_value
FROM events
GROUP BY 1
ORDER BY k_mod
""",
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSON text → typed value: same pattern as the reference's
    # json.loads(geojson)['coordinates'] (update_ways_metadata.py:25),
    # done engine-side with get_json_object.
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy((k % 10).alias("k_mod"))
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").cast("float").alias("avg_value"))
        .orderBy("k_mod")
    )


# --------------------------------------------------------------------------
# Subqueries (J6 family): scalar + correlated EXISTS/IN, decorrelated by
# Catalyst into joins.
# --------------------------------------------------------------------------


@register(
    "subquery_above_avg_orders",
    tags=["J6"],
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
ORDER BY o_orderkey
""",
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_sq_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM _sq_orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM _sq_orders)
        ORDER BY o_orderkey
        """
    )


@register(
    "subquery_correlated_max_item",
    tags=["J6"],
    oracle="""
SELECT o_orderkey,
       (SELECT round(max(l_extendedprice), 2) FROM lineitem
        WHERE l_orderkey = o_orderkey) AS max_item_price
FROM orders
WHERE o_orderstatus = 'O'
ORDER BY o_orderkey
""",
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_sq2_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_sq2_lineitem")
    return spark.sql(
        """
        SELECT o_orderkey,
               (SELECT round(max(l_extendedprice), 2) FROM _sq2_lineitem
                WHERE l_orderkey = o_orderkey) AS max_item_price
        FROM _sq2_orders
        WHERE o_orderstatus = 'O'
        ORDER BY o_orderkey
        """
    )


@register(
    "agg_grouping_sets",
    tags=["A5"],
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus) AS g_status,
       grouping(o_orderpriority) AS g_priority,
       count(*) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (A5) — the general form behind
    cube/rollup; Spark plans one Expand + hash aggregate, identical
    shape to the rollup plan."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
               count(*) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2) AS DOUBLE) AS total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
        """
    )


@register(
    "subquery_exists_waiting_orders",
    tags=["J6"],
    oracle="""
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def subquery_exists_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS decorrelated by Catalyst into
    a left-semi hash join — the oracle-contract subquery surface (J6)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_ex_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_ex_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM _ex_orders
        WHERE EXISTS (
          SELECT 1 FROM _ex_lineitem
          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@register(
    "join_cross_region_pairs",
    tags=["J6"],
    oracle="""
SELECT a.r_name AS region_a, b.r_name AS region_b
FROM region a CROSS JOIN region b
WHERE a.r_name < b.r_name
ORDER BY region_a, region_b
""",
)
def join_cross_region_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (J6) — tiny dims, broadcast nested loop."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    a = r.select(F.col("r_name").alias("region_a"))
    b = r.select(F.col("r_name").alias("region_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("region_a") < F.col("region_b"))
        .orderBy("region_a", "region_b")
    )


@register(
    "agg_approx_distinct",
    tags=["A5"],
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS exact_parts,
       count(*) AS n_rows,
       TRUE AS approx_within_5pct
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per group — the at-scale
    substitute for exact COUNT(DISTINCT). The estimate itself has no
    cross-engine twin, so the hash-checked contract is a bounds check:
    Spark emits the EXACT distinct count plus a boolean asserting the
    HLL estimate landed within ±5% of it (rsd=0.02 → ~3σ); the oracle
    emits the exact count and literal TRUE. An out-of-bounds estimate
    flips the boolean and fails the value hash.

    Shape: dedup to (flag, partkey) FIRST, then count/sketch the
    deduped rows. Mixing COUNT(DISTINCT) with plain aggs in one pass
    forces an Expand (input x #distinct-aggs) and feeds every raw row
    through the HLL update; the HLL sketch is duplicate-insensitive,
    so sketching the deduped keys yields bit-identical registers while
    the first-stage hash agg combines map-side. Measured 7.0s -> 1.0s
    at sf1, values identical."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_returnflag", "l_partkey").agg(
        F.count(F.lit(1)).alias("c")
    )
    exact = F.count(F.lit(1))
    approx = F.approx_count_distinct("l_partkey", rsd=0.02)
    return (
        per_key.groupBy("l_returnflag")
        .agg(
            exact.alias("exact_parts"),
            F.sum("c").alias("n_rows"),
            (
                F.abs(approx.cast("double") / exact.cast("double") - F.lit(1.0))
                <= F.lit(0.05)
            ).alias("approx_within_5pct"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_salted_revenue",
    tags=["A5"],
    oracle="""
SELECT l_returnflag,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(27,2))), 2) AS DOUBLE) AS revenue,
       count(*) AS n,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py) proven
    value-identical to the plain GROUP BY the oracle runs — the rewrite
    a 100 TB job applies when one group key is hot enough to straggle."""
    from ..operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", money("l_extendedprice").alias("l_extendedprice")
    )
    out = salted_agg(
        li,
        ["l_returnflag"],
        {
            "revenue": ("l_extendedprice", "sum"),
            "n": ("l_extendedprice", "count"),
            "min_price": ("l_extendedprice", "min"),
            "max_price": ("l_extendedprice", "max"),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.round("revenue", 2).cast("double").alias("revenue"),
        "n",
        F.round("min_price", 2).cast("double").alias("min_price"),
        F.round("max_price", 2).cast("double").alias("max_price"),
    ).orderBy("l_returnflag")


@register(
    "window_range_frame",
    tags=["W3"],
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,2)))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                       RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
         AS nearby_total,
       count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                      RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS nearby_n
FROM orders
ORDER BY o_custkey, o_orderkey
""",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) window frames — the W3 frame kind not
    exercised by the ROWS-based running total."""
    orders = load_table(spark, sf_dir, "orders")
    w_trail = W.partitionBy("o_custkey").orderBy("o_orderkey").rangeBetween(-1000, 0)
    w_sym = W.partitionBy("o_custkey").orderBy("o_orderkey").rangeBetween(-1000, 1000)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum(money("o_totalprice")).over(w_trail), 2).cast("double").alias("nearby_total"),
            F.count(F.lit(1)).over(w_sym).alias("nearby_n"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "agg_pivot_priority_by_status",
    tags=["A5", "P14"],
    oracle="""
SELECT o_orderstatus,
       CAST(round(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END AS DECIMAL(27,2))), 2) AS DOUBLE) AS urgent,
       CAST(round(sum(CAST(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice ELSE 0 END AS DECIMAL(27,2))), 2) AS DOUBLE) AS high,
       CAST(round(sum(CAST(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice ELSE 0 END AS DECIMAL(27,2))), 2) AS DOUBLE) AS medium,
       CAST(round(sum(CAST(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM')
                      THEN o_totalprice ELSE 0 END AS DECIMAL(27,2))), 2) AS DOUBLE) AS other
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (A5): `groupBy().pivot()` compiles to exactly the
    conditional-aggregation plan of the oracle — one pass, one shuffle,
    no per-pivot-value scans. The pivot value list is given explicitly:
    at 100 TB, omitting it costs a separate distinct-values job."""
    orders = load_table(spark, sf_dir, "orders")
    known = ["1-URGENT", "2-HIGH", "3-MEDIUM"]
    bucket = (
        F.when(F.col("o_orderpriority").isin(known), F.col("o_orderpriority"))
        .otherwise("other")
    )
    return (
        orders.withColumn("prio", bucket)
        .groupBy("o_orderstatus")
        .pivot("prio", known + ["other"])
        .agg(money_sum("o_totalprice"))
        .select(
            "o_orderstatus",
            F.coalesce(F.col("1-URGENT"), F.lit(0.0)).alias("urgent"),
            F.coalesce(F.col("2-HIGH"), F.lit(0.0)).alias("high"),
            F.coalesce(F.col("3-MEDIUM"), F.lit(0.0)).alias("medium"),
            F.coalesce(F.col("other"), F.lit(0.0)).alias("other"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "fuzzy_join_part_names",
    headline=True,
    tags=["J6", "W6", "U5"],
    oracle="""
WITH n AS (
  SELECT p_name AS s, count(*) AS cnt, sum(p_partkey) AS sumk
  FROM part GROUP BY p_name),
cross_pairs AS (
  SELECT CAST(levenshtein(a.s, b.s) AS INT) AS dist,
         a.cnt * b.cnt AS n_pairs,
         a.cnt * b.sumk + b.cnt * a.sumk AS key_checksum
  FROM n a, n b
  WHERE a.s < b.s AND levenshtein(a.s, b.s) <= 2),
same AS (
  SELECT 0 AS dist, cnt * (cnt - 1) // 2 AS n_pairs,
         (cnt - 1) * sumk AS key_checksum
  FROM n WHERE cnt >= 2)
SELECT dist,
       CAST(sum(n_pairs) AS BIGINT) AS n_pairs,
       CAST(sum(key_checksum) AS BIGINT) AS key_checksum
FROM (SELECT * FROM cross_pairs UNION ALL SELECT * FROM same)
GROUP BY dist
ORDER BY dist
""",
)
def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance self-join (operators/fuzzy.py, PassJoin pigeonhole
    candidates): all part pairs whose names are within Levenshtein
    distance 2, aggregated per distance. The oracle verifies by BRUTE
    FORCE over the distinct-name universe (a different candidate
    scheme than the engine's PassJoin segments — the completeness of
    the pigeonhole generation is exactly what it cross-checks) and
    re-expands pair counts with the same group-size algebra; collapsing
    first keeps the oracle linear in table rows, so the entry
    hash-checks at every scale including the sf1 replica."""
    from ..operators.fuzzy import fuzzy_pair_stats

    part = load_table(spark, sf_dir, "part")
    return fuzzy_pair_stats(part, "p_partkey", "p_name", d=2).orderBy("dist")


@register(
    "agg_unpivot_lineitem_measures",
    tags=["A5", "P14"],
    oracle="""
SELECT l_returnflag, measure,
       CAST(round(sum(CAST(value AS DECIMAL(27,2))), 2) AS DOUBLE) AS total,
       count(*) AS n
FROM (
  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
GROUP BY l_returnflag, measure
ORDER BY l_returnflag, measure
""",
)
def agg_unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (A5): `DataFrame.unpivot` compiles to a single
    Expand node — ONE scan of the four measure columns fanned to
    (measure, value) rows before the hash aggregate, where the oracle's
    UNION ALL formulation scans the table four times. At 100 TB that is
    a 4× scan saving; the aggregate stays map-side combinable on the
    (flag, measure) key."""
    li = load_table(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    return (
        li.unpivot("l_returnflag", measures, "measure", "value")
        .groupBy("l_returnflag", "measure")
        .agg(
            money_sum("value").alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag", "measure")
    )


@register(
    "explode_priority_words",
    tags=["P4", "P14"],
    oracle="""
SELECT o_orderpriority, ord - 1 AS pos, word, count(*) AS n
FROM (SELECT o_orderpriority,
             unnest(string_split(o_orderpriority, '-')) AS word,
             generate_subscripts(string_split(o_orderpriority, '-'), 1) AS ord
      FROM orders)
GROUP BY o_orderpriority, pos, word
ORDER BY o_orderpriority, pos, word
""",
)
def explode_priority_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode/UNNEST (P4) in the oracle gate — the same
    order-preserving explode the geometry assembly (J3) relies on,
    checked against DuckDB's UNNEST WITH ORDINALITY semantics."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderpriority",
            F.posexplode(F.split("o_orderpriority", "-")).alias("pos", "word"),
        )
        .groupBy("o_orderpriority", "pos", "word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority", "pos", "word")
    )


@register(
    "window_rank_variants",
    tags=["W3"],
    oracle="""
SELECT c_custkey, o_orderkey,
       rank()         OVER w AS rnk,
       dense_rank()   OVER w AS drnk,
       ntile(4)       OVER w AS quartile,
       CAST(percent_rank() OVER w AS FLOAT) AS pct_rank,
       CAST(cume_dist()    OVER w AS FLOAT) AS cdist
FROM orders JOIN customer ON o_custkey = c_custkey
WINDOW w AS (PARTITION BY c_custkey ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY c_custkey, rnk, o_orderkey
""",
)
def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining W3 ranking functions (rank/dense_rank/ntile/
    percent_rank/cume_dist) in one window — a single sort-within-
    partition serves all five; no extra shuffles per function."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).cast("float").alias("pct_rank"),
            F.cume_dist().over(w).cast("float").alias("cdist"),
        )
        .orderBy("c_custkey", "rnk", "o_orderkey")
    )


@register(
    "agg_ordered_string_concat",
    tags=["A5", "P14"],
    oracle="""
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       count(*) AS n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
""",
)
def agg_ordered_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list is NOT deterministic
    across partitions/retries, so the order is imposed explicitly with
    sort_array before joining — the only safe way to oracle-match (or
    reproduce) a string_agg at scale."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("r_name")
    )


# ---------------------------------------------------------------------------
# S4/J1/J5 — the reference's sink: INSERT … ON CONFLICT (gid) DO UPDATE
# (/root/reference/update_ways_metadata.py:50-54) as a pure dataflow.
# ---------------------------------------------------------------------------


@register(
    "merge_upsert_metadata",
    tags=["S4", "J1", "J5"],
    oracle="""
WITH existing AS (
  SELECT o_orderkey AS gid,
         CAST(o_totalprice % 1000 AS DOUBLE) / 1000 AS popularity,
         CAST(o_custkey % 100 AS DOUBLE) / 100 AS greenery
  FROM orders WHERE o_orderkey % 2 = 0),
updates AS (
  SELECT o_orderkey AS gid,
         CAST(o_totalprice % 777 AS DOUBLE) / 777 AS popularity
  FROM orders WHERE o_orderkey % 3 = 0)
SELECT COALESCE(e.gid, u.gid) AS gid,
       CAST(COALESCE(u.popularity, e.popularity) AS FLOAT) AS popularity,
       CAST(e.greenery AS FLOAT) AS greenery
FROM existing e FULL OUTER JOIN updates u ON e.gid = u.gid
ORDER BY gid
""",
)
def merge_upsert_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's upsert-sink semantics (operators/merge.merge_into:
    full-outer join + column-wise coalesce ≙ ON CONFLICT DO UPDATE,
    update_ways_metadata.py:50-54) hash-checked against DuckDB running
    the equivalent FULL OUTER JOIN: a popularity-only update batch must
    overwrite matched popularity, preserve greenery on matched rows,
    insert unmatched rows with NULL greenery, and keep untouched rows
    (J5: the key join is the FK surface — no lost or duplicated gids)."""
    from ..operators.merge import merge_into

    orders = load_table(spark, sf_dir, "orders")
    existing = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("gid"),
        ((F.col("o_totalprice") % 1000) / 1000).alias("popularity"),
        ((F.col("o_custkey") % 100).cast("double") / 100).alias("greenery"),
    )
    updates = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("gid"),
        ((F.col("o_totalprice") % 777) / 777).alias("popularity"),
    )
    merged = merge_into(existing, updates, key="gid", update_cols=["popularity"])
    return merged.select(
        "gid",
        F.col("popularity").cast("float").alias("popularity"),
        F.col("greenery").cast("float").alias("greenery"),
    ).orderBy("gid")


@register(
    "merge_upsert_bucketed",
    tags=["S4", "J1"],
    oracle="""
WITH existing AS (
  SELECT o_orderkey AS gid,
         CAST(o_totalprice % 1000 AS DOUBLE) / 1000 AS popularity,
         CAST(o_custkey % 100 AS DOUBLE) / 100 AS greenery
  FROM orders WHERE o_orderkey % 2 = 0),
updates AS (
  SELECT o_orderkey AS gid,
         CAST(o_totalprice % 777 AS DOUBLE) / 777 AS popularity
  FROM orders WHERE o_orderkey % 3 = 0)
SELECT COALESCE(e.gid, u.gid) AS gid,
       CAST(COALESCE(u.popularity, e.popularity) AS FLOAT) AS popularity,
       CAST(e.greenery AS FLOAT) AS greenery
FROM existing e FULL OUTER JOIN updates u ON e.gid = u.gid
ORDER BY gid
""",
)
def merge_upsert_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same ON CONFLICT semantics as merge_upsert_metadata, but
    MATERIALIZED through the bucketed copy-on-write table
    (operators/merge.ParquetMergeTable, n_buckets=16): seed commit,
    then a popularity-only upsert that scans and rewrites ONLY the
    buckets holding updated gids, then a read back through the snapshot
    manifest. Hash-identical to the layout-free oracle — the bucketing
    is purely physical (the 100 TB MERGE posture: O(touched buckets)
    per batch, not O(table))."""
    from ..operators.merge import ParquetMergeTable

    orders = load_table(spark, sf_dir, "orders")
    existing = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("gid"),
        ((F.col("o_totalprice") % 1000) / 1000).alias("popularity"),
        ((F.col("o_custkey") % 100).cast("double") / 100).alias("greenery"),
    )
    updates = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("gid"),
        ((F.col("o_totalprice") % 777) / 777).alias("popularity"),
    )
    t = ParquetMergeTable(
        spark,
        work_dir(),
        key="gid",
        n_buckets=16,
    )
    t.upsert(existing)
    t.upsert(updates, update_cols=["popularity"])
    return t.read().select(
        "gid",
        F.col("popularity").cast("float").alias("popularity"),
        F.col("greenery").cast("float").alias("greenery"),
    ).orderBy("gid")


@register(
    "merge_optimize_pruned_scan",
    tags=["S4", "S10", "A5"],
    oracle="""
SELECT date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS o_day,
       count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2) AS DOUBLE) AS revenue
FROM orders
WHERE date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) >= 2750
  AND date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) <  2780
GROUP BY 1 ORDER BY 1
""",
)
def merge_optimize_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE + data-skipping end-to-end under the driver hash: seed
    a plain MERGE table from orders (insert order uncorrelated with
    date), ``optimize()`` range-clusters it on the integer day key into
    16 stats-tracked files with disjoint day ranges, then a narrow
    30-day ``read_pruned`` window aggregates — reading only the files
    whose range overlaps (pruning effectiveness itself is pinned in
    tests/test_merge_stats.py; correctness vs a plain SQL filter is
    pinned here). Clustering keys are integers on purpose: manifest
    stats persist JSON scalars, so a timestamp clusters via its epoch-
    day derivation — the standard lakehouse date-partition-key move."""
    from ..operators.merge import ParquetMergeTable

    orders = load_table(spark, sf_dir, "orders")
    seed = orders.select(
        F.col("o_orderkey").alias("gid"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        ).alias("o_day"),
        F.col("o_totalprice"),
    )
    t = ParquetMergeTable(
        spark,
        work_dir(),
        key="gid",
        stats_cols=["o_day"],
    )
    t.upsert(seed)
    t.optimize(["o_day"], n_files=16)
    return (
        t.read_pruned([("o_day", ">=", 2750), ("o_day", "<", 2780)])
        .groupBy("o_day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum("o_totalprice").alias("revenue"),
        )
        .orderBy("o_day")
    )


@register(
    "merge_stats_metadata_only",
    tags=["S4", "A5"],
    oracle="""
WITH keys AS (
  SELECT DISTINCT o_orderkey AS gid FROM orders
  WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0),
v AS (
  SELECT k.gid,
         date_diff('day', DATE '1990-01-01',
                   CAST(o.o_orderdate AS DATE)) AS o_day
  FROM keys k JOIN orders o ON o.o_orderkey = k.gid)
SELECT count(*) AS n_rows,
       min(o_day) AS min_day,
       max(o_day) AS max_day,
       CAST(0 AS BIGINT) AS n_nulls
FROM v
""",
)
def merge_stats_metadata_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only table statistics under the driver hash: two
    bucketed commits (seed + incremental batch, so the manifest mixes
    carried and fresh stats entries), then ``stats_summary`` answers
    exact count / min / max / nulls by folding the manifest JSON —
    zero data files read — and the result is hash-checked against the
    oracle computing the same statistics relationally from the
    derivation. The 100 TB story: "how many rows, what date range" is
    a catalog lookup, not a cluster job."""
    from ..operators.merge import ParquetMergeTable

    orders = load_table(spark, sf_dir, "orders")

    def batch(pred):
        return orders.filter(pred).select(
            F.col("o_orderkey").alias("gid"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
            ).alias("o_day"),
        )

    t = ParquetMergeTable(
        spark,
        work_dir(),
        key="gid",
        n_buckets=8,
        stats_cols=["o_day"],
    )
    t.upsert(batch(F.col("o_orderkey") % 2 == 0))
    t.upsert(batch(F.col("o_orderkey") % 3 == 0))
    s = t.stats_summary(["o_day"])
    assert s is not None, "stats_summary declined on a fully-stats'd table"
    return spark.createDataFrame(
        [
            (
                s["rows"],
                int(s["cols"]["o_day"]["min"]),
                int(s["cols"]["o_day"]["max"]),
                s["cols"]["o_day"]["nulls"],
            )
        ],
        "n_rows bigint, min_day int, max_day int, n_nulls bigint",
    )


@register(
    "merge_change_feed",
    tags=["S4", "J1", "J6"],
    oracle="""
WITH v1 AS (
  SELECT o_orderkey AS gid, o_totalprice AS price
  FROM orders WHERE o_orderkey % 2 = 0),
batch AS (
  SELECT o_orderkey AS gid, o_totalprice + 100.0 AS price
  FROM orders WHERE o_orderkey % 3 = 0),
v2 AS (
  SELECT COALESCE(b.gid, v1.gid) AS gid,
         COALESCE(b.price, v1.price) AS price
  FROM v1 FULL OUTER JOIN batch b ON v1.gid = b.gid),
v3 AS (SELECT * FROM v2 WHERE gid % 7 <> 0),
d AS (
  SELECT COALESCE(v1.gid, v3.gid) AS gid,
         CASE WHEN v1.gid IS NULL THEN 'insert'
              WHEN v3.gid IS NULL THEN 'delete'
              WHEN v1.price = v3.price THEN 'unchanged'
              ELSE 'update' END AS change,
         v1.price AS old_p, v3.price AS new_p
  FROM v1 FULL OUTER JOIN v3 ON v1.gid = v3.gid)
SELECT change,
       count(*) AS n,
       CAST(sum(gid) AS BIGINT) AS key_checksum,
       CAST(round(sum(CAST(COALESCE(new_p, 0) - COALESCE(old_p, 0)
                           AS DECIMAL(27,2))), 2) AS DOUBLE) AS price_delta
FROM d GROUP BY change ORDER BY change
""",
)
def merge_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED through the real table (ParquetMergeTable.
    changes): seed commit (even keys) → upsert batch (+100.00 price on
    %3 keys: updates where they overlap the seed, inserts where they
    don't) → delete commit (%7 keys) → ``changes(1)`` classifies every
    key across [v1, current] via the retained-version time travel +
    one full-outer snapshot diff. The oracle replays the same three
    derivations relationally. Additive price edit on purpose (the
    snapshot_change_feed precedent): multiplicative rounding lands on
    half-cent double boundaries where engines disagree. Summary keyed
    by change type with an exact key checksum pinning membership."""
    from ..operators.merge import ParquetMergeTable

    orders = load_table(spark, sf_dir, "orders")
    t = ParquetMergeTable(
        spark,
        work_dir(),
        key="gid",
        retain_versions=5,
    )
    t.upsert(
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            F.col("o_orderkey").alias("gid"), F.col("o_totalprice").alias("price")
        )
    )
    t.upsert(
        orders.filter(F.col("o_orderkey") % 3 == 0).select(
            F.col("o_orderkey").alias("gid"),
            (F.col("o_totalprice") + 100.0).alias("price"),
        )
    )
    t.delete(
        orders.filter(F.col("o_orderkey") % 7 == 0).select(
            F.col("o_orderkey").alias("gid")
        )
    )
    return (
        t.changes(1)
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("gid").cast("bigint").alias("key_checksum"),
            money_sum(
                F.coalesce(F.col("new_price"), F.lit(0.0))
                - F.coalesce(F.col("old_price"), F.lit(0.0))
            ).alias("price_delta"),
        )
        .orderBy("change")
    )


@register(
    "merge_scd2_history",
    tags=["S4", "J1", "W3"],
    oracle="""
WITH v1 AS (
  SELECT o_orderkey AS gid, o_totalprice AS price
  FROM orders WHERE o_orderkey % 2 = 0),
b2 AS (
  SELECT o_orderkey AS gid, o_totalprice + 100.0 AS price
  FROM orders WHERE o_orderkey % 3 = 0),
v2 AS (
  SELECT COALESCE(b.gid, v1.gid) AS gid, COALESCE(b.price, v1.price) AS price
  FROM v1 FULL OUTER JOIN b2 b ON v1.gid = b.gid),
v3 AS (SELECT * FROM v2 WHERE gid % 5 <> 0),
b4 AS (
  SELECT o_orderkey AS gid, o_totalprice + 50.0 AS price
  FROM orders WHERE o_orderkey % 7 = 0),
v4 AS (
  SELECT COALESCE(b.gid, v3.gid) AS gid, COALESCE(b.price, v3.price) AS price
  FROM v3 FULL OUTER JOIN b4 b ON v3.gid = b.gid),
snaps AS (
  SELECT gid, price, 1 AS v FROM v1
  UNION ALL SELECT gid, price, 2 FROM v2
  UNION ALL SELECT gid, price, 3 FROM v3
  UNION ALL SELECT gid, price, 4 FROM v4),
marked AS (
  SELECT gid, price, v,
         CASE WHEN lag(v) OVER w IS NULL
                OR lag(v) OVER w <> v - 1
                OR lag(price) OVER w <> price
              THEN 1 ELSE 0 END AS is_start
  FROM snaps WINDOW w AS (PARTITION BY gid ORDER BY v)),
segd AS (
  SELECT gid, price, v,
         CAST(sum(is_start) OVER (PARTITION BY gid ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg
  FROM marked),
intervals AS (
  SELECT gid, seg, min(v) AS v_from, max(v) AS v_max, max(price) AS price
  FROM segd GROUP BY gid, seg),
scd AS (
  SELECT gid, price, v_from,
         CASE WHEN v_max = 4 THEN NULL ELSE v_max + 1 END AS v_to
  FROM intervals)
SELECT v_from, v_to, count(*) AS n,
       CAST(sum(gid) AS BIGINT) AS key_checksum,
       CAST(round(sum(CAST(price AS DECIMAL(27,2))), 2) AS DOUBLE) AS price_total
FROM scd GROUP BY v_from, v_to ORDER BY v_from, v_to
""",
)
def merge_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE 2 reconstruction from the merge table's retained
    versions (the lakehouse history shape: "what was each key's value,
    valid over which version interval"): four commits — seed (even
    keys), +100.00 upsert (%3), delete (%5), +50.00 upsert (%7, which
    RE-INSERTS keys deleted at v3 — the gap case a naive lag-only
    reconstruction merges into one interval) — then the per-key
    validity intervals come from ONE union of the four time-travel
    snapshots + a lag window: an interval starts at first appearance,
    at a value change, or after a presence gap; it closes at the next
    version (v_to = v_max+1) unless it reaches the head (NULL = open).
    The oracle replays all four snapshot derivations relationally and
    runs the same reconstruction. Summary keyed by (v_from, v_to) with
    an exact key checksum pinning interval membership."""
    from ..operators.merge import ParquetMergeTable

    orders = load_table(spark, sf_dir, "orders")

    def sel(pred, delta):
        return orders.filter(pred).select(
            F.col("o_orderkey").alias("gid"),
            (F.col("o_totalprice") + delta).alias("price"),
        )

    t = ParquetMergeTable(
        spark,
        work_dir(),
        key="gid",
        retain_versions=8,
    )
    t.upsert(sel(F.col("o_orderkey") % 2 == 0, 0.0))
    t.upsert(sel(F.col("o_orderkey") % 3 == 0, 100.0))
    t.delete(
        orders.filter(F.col("o_orderkey") % 5 == 0).select(
            F.col("o_orderkey").alias("gid")
        )
    )
    t.upsert(sel(F.col("o_orderkey") % 7 == 0, 50.0))

    snaps = None
    for v in (1, 2, 3, 4):
        s = t.read(v).select("gid", "price", F.lit(v).alias("v"))
        snaps = s if snaps is None else snaps.unionByName(s)
    w = W.partitionBy("gid").orderBy("v")
    marked = snaps.select(
        "gid",
        "price",
        "v",
        F.when(
            F.lag("v").over(w).isNull()
            | (F.lag("v").over(w) != F.col("v") - 1)
            | (F.lag("price").over(w) != F.col("price")),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    seg = marked.withColumn(
        "seg",
        F.sum("is_start")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint"),
    )
    intervals = seg.groupBy("gid", "seg").agg(
        F.min("v").alias("v_from"),
        F.max("v").alias("v_max"),
        F.max("price").alias("price"),
    )
    scd = intervals.select(
        "gid",
        "price",
        "v_from",
        F.when(F.col("v_max") == 4, F.lit(None).cast("int"))
        .otherwise(F.col("v_max") + 1)
        .alias("v_to"),
    )
    return (
        scd.groupBy("v_from", "v_to")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("gid").cast("bigint").alias("key_checksum"),
            money_sum("price").alias("price_total"),
        )
        .orderBy("v_from", "v_to")
    )


@register(
    "agg_grouping_structures",
    tags=["A5"],
    oracle="""
SELECT 'rollup' AS src,
       COALESCE(o_orderpriority, '<all>') AS prio,
       COALESCE(o_orderstatus, '<all>') AS status,
       count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2) AS DOUBLE) AS revenue
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
UNION ALL
SELECT 'cube', COALESCE(o_orderpriority, '<all>'), COALESCE(o_orderstatus, '<all>'),
       count(*), CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2) AS DOUBLE)
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
UNION ALL
SELECT 'gsets', COALESCE(o_orderpriority, '<all>'), COALESCE(o_orderstatus, '<all>'),
       count(*), CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2) AS DOUBLE)
FROM orders GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
ORDER BY src, prio, status
""",
)
def agg_grouping_structures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three multi-grouping structures (A5) in one union-tagged,
    hash-checked result: ROLLUP and CUBE via the DataFrame API,
    GROUPING SETS via Spark SQL (the API has no direct form). Keys are
    coalesced to '<all>' so the NULLs that encode aggregate levels
    compare cleanly. One window slot covers the full grouping surface;
    the standalone rollup/cube/grouping-sets probes remain registered
    past the driver window."""
    o = load_table(spark, sf_dir, "orders")

    def shape(grouped, src: str) -> DataFrame:
        return (
            grouped.agg(
                F.count(F.lit(1)).alias("n"),
                money_sum("o_totalprice").alias("revenue"),
            )
            .select(
                F.lit(src).alias("src"),
                F.coalesce("o_orderpriority", F.lit("<all>")).alias("prio"),
                F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
                "n",
                "revenue",
            )
        )

    rollup = shape(o.rollup("o_orderpriority", "o_orderstatus"), "rollup")
    cube = shape(o.cube("o_orderpriority", "o_orderstatus"), "cube")
    view = "orders_gsets_" + sf_dir.strip("/").replace("/", "_").replace(".", "_")
    o.createOrReplaceTempView(view)
    gsets = spark.sql(
        f"""
        SELECT 'gsets' AS src,
               COALESCE(o_orderpriority, '<all>') AS prio,
               COALESCE(o_orderstatus, '<all>') AS status,
               count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2) AS DOUBLE) AS revenue
        FROM {view}
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )
    return rollup.unionByName(cube).unionByName(gsets).orderBy("src", "prio", "status")


@register(
    "agg_approx_percentile",
    tags=["A5"],
    oracle="""
SELECT l_returnflag,
       -- interpolated quantiles are division-derived: cast to FLOAT,
       -- never round (half-cent midpoints round differently across
       -- engines — caught at sf0.001)
       CAST(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE) AS FLOAT) AS exact_p50,
       CAST(CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE) AS FLOAT) AS exact_p95,
       TRUE AS approx_within_1pct
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) per group — the
    at-scale substitute for exact quantiles over a shuffle-heavy sort.
    Same bounds-check contract as agg_approx_distinct: Spark emits the
    EXACT interpolated quantiles (median/p95 via percentile()) plus a
    boolean asserting the sketch landed within ±1% relative error of
    each; the oracle computes the exact quantiles (quantile_cont, the
    same interpolating definition) and literal TRUE. An out-of-bounds
    sketch flips the boolean and fails the value hash."""
    li = load_table(spark, sf_dir, "lineitem")
    exact50 = F.expr("percentile(l_extendedprice, 0.5)")
    exact95 = F.expr("percentile(l_extendedprice, 0.95)")
    ap50 = F.expr("approx_percentile(l_extendedprice, 0.5, 10000)")
    ap95 = F.expr("approx_percentile(l_extendedprice, 0.95, 10000)")
    ok = (
        (F.abs(ap50 / exact50 - F.lit(1.0)) <= F.lit(0.01))
        & (F.abs(ap95 / exact95 - F.lit(1.0)) <= F.lit(0.01))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            exact50.cast("float").alias("exact_p50"),
            exact95.cast("float").alias("exact_p95"),
            ok.alias("approx_within_1pct"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# TPC-H breadth (J6/A5/W4): structurally distinct classic shapes beyond
# the q1/q3/q5/q6/q10/q14 set — bi-directional nation-pair volume (q7),
# lateness-by-priority conditional aggregation (q12 adapted: the
# synthetic lineitem has no shipmode/commitdate, lateness = shipped
# >60 days after order), outer-join count distribution (q13), argmax
# against an aggregated subquery (q15), group-HAVING join-back (q18),
# disjunctive multi-predicate pushdown (q19), and scalar-subquery
# filter + NOT IN anti-join (q22 adapted: every customer has orders, so
# "inactive" = no high-value order). Tail entries: their J6/A5/W4 tags
# are window-covered; evidence runs through the local parity harness.
# --------------------------------------------------------------------------


@register(
    "q7_nation_volume",
    tags=["J6", "A5"],
    oracle="""
SELECT supp_nation, cust_nation, l_year, CAST(round(sum(CAST(volume AS DECIMAL(27,4))), 2) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-style: volume between a nation pair by year. Both nation dims
    broadcast; the disjunctive pair filter lands after the dim joins,
    so lineitem shuffles only for the orders co-join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q12_late_by_priority",
    tags=["J6", "A5"],
    oracle="""
SELECT o_orderpriority,
       count(*) FILTER (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS n_late,
       count(*) AS n_items
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q12_late_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-style conditional aggregation: late-shipment counts per
    order priority (adapted: lateness from shipdate vs orderdate)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.when(late, F.lit(1))).alias("n_late"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q13_order_count_distribution",
    tags=["J6", "A5"],
    oracle="""
WITH c_orders AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist
FROM c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: two-level aggregation over a left outer join — customers
    bucketed by how many orders they placed (count(col) skips the
    nulls the outer join manufactures)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q15_top_supplier",
    tags=["J6", "A5", "W4"],
    oracle="""
WITH rev AS (
  SELECT l_suppkey, CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: argmax against an aggregated subquery (the classic view +
    max pattern). The revenue frame is computed once and self-compared
    via a 1-row broadcast crossJoin — no unpartitioned window, no
    second scan of lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4
            ).alias("total_revenue")
        )
    )
    gmax = rev.agg(F.max("total_revenue").alias("__gmax"))
    return (
        rev.crossJoin(F.broadcast(gmax))
        .filter(F.col("total_revenue") == F.col("__gmax"))
        .join(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q18_large_orders",
    tags=["J6", "A5", "W4"],
    oracle="""
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
SELECT c_name, o_orderkey, round(o_totalprice, 2) AS total_price, round(sum_qty, 1) AS sum_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_price DESC, o_orderkey
LIMIT 20
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: HAVING over a big aggregation, joined back to its
    dimensions, top-k by price. Quantities are integral doubles, so the
    HAVING threshold compares exactly on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sum_qty"))
        .filter(F.col("__sum_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            F.round("__sum_qty", 1).alias("sum_qty"),
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q19_disjunctive_revenue",
    tags=["J6", "A5", "P14"],
    oracle="""
SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: disjunction of conjunctive brand/size/quantity predicates —
    Catalyst splits the OR across the join (part-only conjuncts prune
    the part side, lineitem-only conjuncts push to the scan). part is
    SF-scaling, so no broadcast hint — AQE decides."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def band(brand: str, size_hi: int, q_lo: int, q_hi: int) -> F.Column:
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(
            band("Brand#12", 15, 1, 11)
            | band("Brand#23", 25, 10, 20)
            | band("Brand#3", 35, 20, 30)
        )
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q22_wealthy_inactive",
    tags=["J6", "A5"],
    oracle="""
WITH avg_bal AS (SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0),
big_buyers AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 450000.0)
SELECT c_nationkey, count(*) AS numcust, CAST(round(sum(CAST(c_acctbal AS DECIMAL(27,2))), 2) AS DOUBLE) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > ab
  AND c_custkey NOT IN (SELECT o_custkey FROM big_buyers)
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
)
def q22_wealthy_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-style: scalar-subquery filter (above-average balance) plus
    anti-join against high-value buyers (adapted: the synthetic corpus
    has no customers without orders at all). The scalar attaches via
    1-row broadcast crossJoin; the NOT IN compiles to a left-anti
    join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__ab")
    )
    big_buyers = (
        orders.filter(F.col("o_totalprice") > 450000.0)
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__ab"))
        .join(big_buyers, cust.c_custkey == big_buyers.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money_sum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# Iterative graph analytics (operators/graph.pagerank) over a
# relational-derived graph: the undirected bipartite customer–supplier
# trading graph (edge ⇔ the pair co-occurs on an order line; suppliers
# carry negated ids so the two key spaces cannot collide). The oracle
# unrolls the SAME fixed iteration count as chained CTEs — DuckDB
# replays init + every round, so the driver hash covers the iterative
# algorithm end-to-end, not just its final shape.
# --------------------------------------------------------------------------

_PR_D = 0.85
_PR_ITER = 3


def _pagerank_oracle(d: float = _PR_D, n_iter: int = _PR_ITER) -> str:
    ctes = [
        """pairs AS (
  SELECT DISTINCT o.o_custkey AS u, -l.l_suppkey AS v
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
e AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
verts AS (SELECT DISTINCT u FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
pr0 AS (SELECT u AS node_id, 1.0 / (SELECT n FROM nn) AS pr FROM verts)"""
    ]
    for t in range(1, n_iter + 1):
        ctes.append(f"""pr{t} AS (
  SELECT v.u AS node_id,
         (1.0 - {d}) / (SELECT n FROM nn)
           + {d} * coalesce(s.s, 0.0) AS pr
  FROM verts v LEFT JOIN (
    SELECT e.v AS node_id, sum(p.pr / d.deg) AS s
    FROM e JOIN pr{t - 1} p ON p.node_id = e.u JOIN deg d ON d.u = e.u
    GROUP BY e.v) s ON s.node_id = v.u)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node_id, CAST(pr AS FLOAT) AS pr FROM pr{n_iter} ORDER BY node_id"
    )


@register("graph_pagerank_trading", tags=["J6", "A5"], oracle=_pagerank_oracle())
def graph_pagerank_trading(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), (-F.col("l_suppkey")).alias("v"))
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return pagerank(edges, d=_PR_D, n_iter=_PR_ITER).orderBy("node_id")


# --------------------------------------------------------------------------
# Triangle counting (operators/graph.triangle_participation) over the
# top-partner trading graph: each supplier keeps its 3 most frequent
# co-suppliers (shared-order count; count desc / id asc tiebreak —
# deterministic), edges are the undirected union. The k-NN-style
# sparsification is the point: the RAW co-supplier graph is
# near-complete (every supplier eventually shares an order with every
# other — sf0.1 measured ~500k edges over 1000 nodes and ~10⁸
# triangles), while the top-k graph has ≤ 3n edges at EVERY scale.
# Strong triadic closures over it are the meaningful analytics. The
# engine runs the degree-ordered-orientation scheme (wedge fan-out
# bounded by oriented out-degree — the skew-safe distributed counter,
# Schank/Wagner 2005); the oracle enumerates triangles with the
# DIFFERENT naive id-ordered scheme, so the hash cross-checks the
# orientation logic itself.
# --------------------------------------------------------------------------


@register(
    "graph_triangle_count",
    tags=["J6", "A5", "W1"],
    oracle="""
WITH los AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
co AS (SELECT x.s AS a, y.s AS b, count(*) AS cnt
       FROM los x JOIN los y ON x.o = y.o AND x.s < y.s
       GROUP BY x.s, y.s),
dir AS (SELECT a AS u, b AS v, cnt FROM co
        UNION ALL SELECT b AS u, a AS v, cnt FROM co),
top3 AS (SELECT u, v FROM (
           SELECT u, v,
                  row_number() OVER (PARTITION BY u
                                     ORDER BY cnt DESC, v ASC) AS rn
           FROM dir) WHERE rn <= 3),
e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM top3),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
nodes AS (SELECT unnest([x, y, z]) AS node_id FROM tri)
SELECT node_id, count(*) AS n_triangles
FROM nodes GROUP BY node_id ORDER BY node_id
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    x, y = li.alias("x"), li.alias("y")
    co = (
        x.join(y, (F.col("x.o") == F.col("y.o")) & (F.col("x.s") < F.col("y.s")))
        .groupBy(F.col("x.s").alias("a"), F.col("y.s").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    directed = co.select(
        F.col("a").alias("u"), F.col("b").alias("v"), "cnt"
    ).unionByName(co.select(F.col("b").alias("u"), F.col("a").alias("v"), "cnt"))
    w = W.partitionBy("u").orderBy(F.desc("cnt"), F.asc("v"))
    top3 = (
        directed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("u", "v")
    )
    edges = top3.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    from ..operators.graph import triangle_participation

    return triangle_participation(edges).orderBy("node_id")


# --------------------------------------------------------------------------
# Degree assortativity (r14, graph-stats depth next to the triangle
# census): Newman's degree-degree Pearson correlation over the same
# top-3 co-supplier graph, with every edge counted in both
# orientations (the standard undirected convention, so Σj = Σk by
# symmetry). All six sufficient statistics are exact integer sums from
# ONE aggregate over the directed edge list joined twice against the
# broadcastable degree table; the correlation itself is computed
# driver-side from the collected 1-row exact ints with one IEEE
# multiply/sqrt/divide — mirrored literally by the oracle (HUGEINT
# sums, CAST DOUBLE at the same points), the dim-correlation pattern.
# --------------------------------------------------------------------------


@register(
    "graph_degree_assortativity",
    tags=["J6", "A5"],
    oracle="""
WITH los AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
co AS (SELECT x.s AS a, y.s AS b, count(*) AS cnt
       FROM los x JOIN los y ON x.o = y.o AND x.s < y.s
       GROUP BY x.s, y.s),
dir AS (SELECT a AS u, b AS v, cnt FROM co
        UNION ALL SELECT b AS u, a AS v, cnt FROM co),
top3 AS (SELECT u, v FROM (
           SELECT u, v,
                  row_number() OVER (PARTITION BY u
                                     ORDER BY cnt DESC, v ASC) AS rn
           FROM dir) WHERE rn <= 3),
e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM top3),
dir2 AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
deg AS (SELECT u, count(*) AS dg FROM dir2 GROUP BY u),
je AS (SELECT du.dg AS j, dv.dg AS k
       FROM dir2 JOIN deg du ON du.u = dir2.u JOIN deg dv ON dv.u = dir2.v),
s AS (SELECT count(*) AS m, sum(j) AS sj, sum(k) AS sk,
             sum(j*j) AS sjj, sum(k*k) AS skk, sum(j*k) AS sjk
      FROM je)
SELECT CAST(m AS BIGINT) AS n_directed_edges,
       CAST(CASE WHEN m*sjj - sj*sj = 0 OR m*skk - sk*sk = 0 THEN NULL
            ELSE CAST(m*sjk - sj*sk AS DOUBLE)
                 / sqrt(CAST(m*sjj - sj*sj AS DOUBLE)
                        * CAST(m*skk - sk*sk AS DOUBLE))
            END AS FLOAT) AS assortativity
FROM s
""",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from pyspark.sql.window import Window as W

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    x, y = li.alias("x"), li.alias("y")
    co = (
        x.join(y, (F.col("x.o") == F.col("y.o")) & (F.col("x.s") < F.col("y.s")))
        .groupBy(F.col("x.s").alias("a"), F.col("y.s").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    directed = co.select(
        F.col("a").alias("u"), F.col("b").alias("v"), "cnt"
    ).unionByName(co.select(F.col("b").alias("u"), F.col("a").alias("v"), "cnt"))
    w = W.partitionBy("u").orderBy(F.desc("cnt"), F.asc("v"))
    top3 = (
        directed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("u", "v")
    )
    edges = top3.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    dir2 = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = dir2.groupBy("u").agg(F.count(F.lit(1)).alias("dg"))
    je = (
        dir2.join(F.broadcast(deg).withColumnRenamed("dg", "j"), "u")
        .join(
            F.broadcast(deg.select(F.col("u").alias("v"), F.col("dg").alias("k"))),
            "v",
        )
        .select("j", "k")
    )
    row = je.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("j").alias("sj"),
        F.sum("k").alias("sk"),
        F.sum(F.col("j") * F.col("j")).alias("sjj"),
        F.sum(F.col("k") * F.col("k")).alias("skk"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
    ).first()
    m, sj, sk = int(row["m"]), int(row["sj"] or 0), int(row["sk"] or 0)
    sjj, skk, sjk = int(row["sjj"] or 0), int(row["skk"] or 0), int(row["sjk"] or 0)
    dx, dy, num = m * sjj - sj * sj, m * skk - sk * sk, m * sjk - sj * sk
    r = (
        None
        if dx == 0 or dy == 0
        else float(num) / math.sqrt(float(dx) * float(dy))
    )
    return spark.createDataFrame(
        [(m, r)], "n_directed_edges long, assortativity float"
    )


# --------------------------------------------------------------------------
# Local clustering coefficient (r14 continuation): per-node
# 2·tri(v) / (deg(v)·(deg(v)−1)) over the same top-3 co-supplier graph
# as the triangle census — the standard "how clique-like is each
# node's neighborhood" statistic. Quantized by exact integer division
# (2·tri·1e6 DIV deg·(deg−1)), so the value hash is libm-free and
# bit-identical by construction; degree-1 nodes get NULL (undefined).
# The engine counts triangles with the degree-ordered orientation
# (operators/graph.py — skew-safe wedge fan-out); the oracle
# re-enumerates them with the naive id-ordered scheme AND recomputes
# degrees independently, so the hash cross-checks both statistics.
# --------------------------------------------------------------------------


@register(
    "graph_clustering_coefficient",
    tags=["J6", "A5", "W1"],
    oracle="""
WITH los AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
co AS (SELECT x.s AS a, y.s AS b, count(*) AS cnt
       FROM los x JOIN los y ON x.o = y.o AND x.s < y.s
       GROUP BY x.s, y.s),
dir AS (SELECT a AS u, b AS v, cnt FROM co
        UNION ALL SELECT b AS u, a AS v, cnt FROM co),
top3 AS (SELECT u, v FROM (
           SELECT u, v,
                  row_number() OVER (PARTITION BY u
                                     ORDER BY cnt DESC, v ASC) AS rn
           FROM dir) WHERE rn <= 3),
e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM top3),
dir2 AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
deg AS (SELECT u AS node_id, count(*) AS degree FROM dir2 GROUP BY u),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
tn AS (SELECT node_id, count(*) AS n_triangles
       FROM (SELECT unnest([x, y, z]) AS node_id FROM tri)
       GROUP BY node_id)
SELECT deg.node_id,
       CAST(deg.degree AS BIGINT) AS degree,
       CAST(coalesce(tn.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN deg.degree >= 2
                 THEN (2 * coalesce(tn.n_triangles, 0) * 1000000)
                      // (deg.degree * (deg.degree - 1))
                 ELSE NULL END AS BIGINT) AS cc_micro
FROM deg LEFT JOIN tn ON tn.node_id = deg.node_id
ORDER BY deg.node_id
""",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    x, y = li.alias("x"), li.alias("y")
    co = (
        x.join(y, (F.col("x.o") == F.col("y.o")) & (F.col("x.s") < F.col("y.s")))
        .groupBy(F.col("x.s").alias("a"), F.col("y.s").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    directed = co.select(
        F.col("a").alias("u"), F.col("b").alias("v"), "cnt"
    ).unionByName(co.select(F.col("b").alias("u"), F.col("a").alias("v"), "cnt"))
    w = W.partitionBy("u").orderBy(F.desc("cnt"), F.asc("v"))
    top3 = (
        directed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("u", "v")
    )
    # one materialization of the co-occurrence subtree: both the degree
    # branch and triangle_participation (which would otherwise each
    # recompute the o×s self-join lineage) read this checkpoint
    edges = (
        top3.select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    from ..operators.graph import triangle_participation

    dir2 = edges.select(F.col("a").alias("node_id")).unionByName(
        edges.select(F.col("b").alias("node_id"))
    )
    deg = dir2.groupBy("node_id").agg(F.count(F.lit(1)).alias("degree"))
    tri = triangle_participation(edges)
    return (
        deg.join(tri, "node_id", "left")
        .select(
            "node_id",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "(2 * coalesce(n_triangles, 0) * 1000000)"
                    " DIV (degree * (degree - 1))"
                ),
            )
            .cast("long")
            .alias("cc_micro"),
        )
        .orderBy("node_id")
    )


# --------------------------------------------------------------------------
# Round-4 TPC-H breadth: the remaining standard shapes expressible
# without a partsupp table (q2/q11/q16/q20 need it; the testdata has
# none). q4/q21 use shipdate-based lateness (no commit/receipt dates in
# this schema) — the join/subquery SHAPES are the point, documented as
# -style adaptations.
# --------------------------------------------------------------------------


@register(
    "q4_order_priority",
    tags=["J6", "A5"],
    oracle="""
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape: correlated EXISTS with a non-equi condition
    against the outer row (late line ⇔ shipped >90 days after the
    order date) → left-semi join with a compound condition; Catalyst
    decorrelates to one shuffle pair."""
    orders = load_table(spark, sf_dir, "orders")
    # Implied predicate on the big side: every qualifying line has
    # l_shipdate > o_orderdate + 90d and o_orderdate >= 1996-01-01, so
    # l_shipdate > 1996-01-01 + 90d. Catalyst cannot derive a range
    # constraint through the non-equi join condition, so state it
    # explicitly — it pushes to the lineitem scan and drops the ~60%
    # of lines shipped before the window from the join probe.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .filter(
            F.col("l_shipdate")
            > F.lit("1996-01-01").cast("timestamp") + F.expr("INTERVAL 90 DAYS")
        )
    )
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q8_market_share",
    tags=["J6", "A5"],
    oracle="""
WITH all_sales AS (
  SELECT CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO')
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END)
            / sum(volume) AS FLOAT) AS mkt_share
FROM all_sales GROUP BY o_year ORDER BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8 shape: 8-table star join (two roles for nation), year
    extraction, conditional-aggregate share. Constant-size dims
    (nation/region) broadcast-hinted; SF-scaling part/supplier left to
    AQE. The fact scans once. Share is division-derived → f32
    (SURVEY §5.2)."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ["lineitem", "part", "supplier", "orders", "customer", "nation", "region"]}
    n1 = t["nation"].alias("n1")
    n2 = t["nation"].alias("n2")
    sales = (
        t["lineitem"]
        .join(t["part"].filter(F.col("p_type") == "PROMO"),
              F.col("p_partkey") == F.col("l_partkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
              F.col("n1.n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            F.col("n2.n_name").alias("supp_nation"),
        )
    )
    return (
        sales.groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_2", F.col("volume")).otherwise(0.0))
                / F.sum("volume")
            )
            .cast("float")
            .alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q17_small_quantity_revenue",
    tags=["J6", "A5"],
    oracle="""
SELECT CAST(sum(l.l_extendedprice) / 7.0 AS FLOAT) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                      FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 shape: correlated scalar-aggregate subquery (per-part
    average quantity) → aggregate once on the key, join back; never a
    per-row re-scan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    # Only the filtered brand's partkeys ever consume the per-part
    # average, and the semi join filters whole partkey groups (never
    # rows within a group), so each surviving group's avg is unchanged.
    # Pre-filtering cuts the aggregate's shuffle by the brand
    # selectivity (~1/25); Catalyst cannot push the join's key set up
    # through the aggregate on its own.
    avg_q = (
        li.join(
            part.select("p_partkey"),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("__q20"))
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(avg_q.withColumnRenamed("l_partkey", "__pk"), F.col("__pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("__q20"))
        .agg((F.sum("l_extendedprice") / 7.0).cast("float").alias("avg_yearly"))
    )


@register(
    "q21_waiting_supplier",
    tags=["J6", "A5", "W1"],
    oracle="""
WITH order_ship AS (
  SELECT l_orderkey, max(l_shipdate) AS max_ship,
         count(DISTINCT l_suppkey) AS n_supp
  FROM lineitem GROUP BY l_orderkey)
SELECT s.s_name, count(DISTINCT l.l_orderkey) AS numwait
FROM lineitem l
JOIN order_ship os ON os.l_orderkey = l.l_orderkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE o.o_orderstatus = 'F'
  AND os.n_supp > 1
  AND l.l_shipdate = os.max_ship
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
""",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 shape, shipdate adaptation: the supplier whose line
    shipped LAST in a finished multi-supplier order "kept it waiting".
    The EXISTS/NOT-EXISTS pair of standard q21 becomes one per-order
    aggregate (max ship + distinct-supplier count) joined back — same
    semantics on this schema, one shuffle on the order key instead of
    two correlated self-scans."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = load_table(spark, sf_dir, "supplier")
    # n_supp is only ever tested as "> 1"; min != max over the non-null
    # supplier key is the same predicate without the count-distinct
    # rewrite (which plans as a second Exchange pair over the full
    # lineitem aggregate).
    order_ship = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("max_ship"),
        (F.min("l_suppkey") != F.max("l_suppkey")).alias("multi_supp"),
    ).withColumnRenamed("l_orderkey", "__ok")
    return (
        li.join(order_ship, F.col("__ok") == F.col("l_orderkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .filter(F.col("multi_supp") & (F.col("l_shipdate") == F.col("max_ship")))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@register(
    "snapshot_change_feed",
    tags=["S4", "J1", "J6"],
    oracle="""
WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders),
v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0
              THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 7 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000 AS o_orderkey, 100.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 13 = 0),
d AS (
  SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
         CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
              WHEN v2.o_orderkey IS NULL THEN 'delete'
              WHEN v1.o_totalprice = v2.o_totalprice THEN 'unchanged'
              ELSE 'update' END AS change,
         v1.o_totalprice AS old_p, v2.o_totalprice AS new_p
  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
SELECT change,
       count(*) AS n,
       CAST(sum(coalesce(o_orderkey, 0)) AS BIGINT) AS key_checksum,
       CAST(round(sum(CAST(coalesce(new_p, 0) - coalesce(old_p, 0) AS DECIMAL(27,2))), 2) AS DOUBLE) AS price_delta
FROM d GROUP BY change ORDER BY change
""",
)
def snapshot_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (operators/merge.snapshot_diff): two versions
    of orders derived deterministically (deletes at key%7=0, +100.00
    price updates at key%11=0 — an ADDITIVE edit on purpose: a
    multiplicative round(p*1.1, 2) lands on half-cent double-rounding
    boundaries where engines disagree; synthetic inserts from key%13=0),
    classified per key through one null-safe full-outer join; the
    oracle replays the same derivation and classification. Summary is
    per change type with an exact key checksum pinning membership."""
    from ..operators.merge import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.select("o_orderkey", "o_totalprice")
    v2 = (
        orders.filter(F.col("o_orderkey") % 7 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 100.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                F.lit(100.0).alias("o_totalprice"),
            )
        )
    )
    d = snapshot_diff(v1, v2, "o_orderkey", ["o_totalprice"])
    return (
        d.groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("o_orderkey"), F.lit(0))).cast("bigint").alias("key_checksum"),
            money_sum(
                F.coalesce(F.col("new_o_totalprice"), F.lit(0.0))
                - F.coalesce(F.col("old_o_totalprice"), F.lit(0.0))
            ).alias("price_delta"),
        )
        .orderBy("change")
    )


# --------------------------------------------------------------------------
# TPC-H completion set (q2/q9/q11/q16/q20): the five shapes that need a
# part↔supplier relation. The corpus has no partsupp table, so lineitem
# IS that relation — each query keeps its standard plan shape (the part
# it exists to exercise) with the supply attributes derived from
# lineitem facts. Thresholds that TPC-H states as absolute constants
# (q11's value fraction, q20's availqty bound) become scale-invariant
# comparisons against the group average, computed in exact integer
# cents so the boundary is bit-identical across engines at every SF.
# --------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    tags=["J6", "A5", "W1", "W4"],
    oracle="""
WITH supply AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         min(l_extendedprice) AS supplycost
  FROM lineitem GROUP BY 1, 2
), cand AS (
  SELECT p_partkey, p_brand, s_acctbal, s_name, n_name, supplycost
  FROM part
  JOIN supply   ON partkey = p_partkey
  JOIN supplier ON s_suppkey = suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE p_size <= 15 AND p_type = 'LARGE' AND r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, supplycost
FROM cand
WHERE supplycost = (SELECT min(supplycost) FROM cand c2
                    WHERE c2.p_partkey = cand.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2 shape (min-cost supplier per part, correlated-min
    subquery): supplycost = the lowest extended price this supplier
    ever shipped the part at (raw double MIN — pure selection, no
    arithmetic, so the correlated equality is exact cross-engine).

    Plan: lineitem aggregates once to the (part, supplier) supply
    relation (map-side combinable); the region-filtered supplier dim
    joins un-hinted (AQE broadcasts at bench scale; at 100 TB supplier
    is huge and the filter still prunes 4/5 of it before the shuffle);
    the correlated min is a per-part window over the already-joined
    candidates — one extra shuffle on p_partkey, no second lineitem
    scan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "LARGE")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("supplycost")
    )
    eur_supp = (
        supp.join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    cand = (
        supply.join(part, supply.l_partkey == part.p_partkey)
        .join(eur_supp, supply.l_suppkey == eur_supp.s_suppkey)
        .select("p_partkey", "p_brand", "s_acctbal", "s_name", "n_name", "supplycost")
    )
    pmin = F.min("supplycost").over(W.partitionBy("p_partkey"))
    return (
        cand.withColumn("__pmin", pmin)
        .filter(F.col("supplycost") == F.col("__pmin"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "supplycost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q9_product_profit",
    tags=["J6", "A5", "P14"],
    oracle="""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                      - p_retailprice * l_quantity * 0.1
                      AS DECIMAL(27,4))), 2) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, CAST(year(o_orderdate) AS INT)
ORDER BY nation, o_year DESC
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9 shape (product-type profit by nation and year — the
    5-way join + reaggregation). No partsupp ⇒ unit cost is modeled as
    10% of p_retailprice; profit = revenue − cost·qty, summed in exact
    decimal (scale 4 captures the double product exactly enough that
    both engines round the same total). The profit expression is
    written with identical association order on both sides so the
    IEEE-double intermediate is bit-identical before the decimal cast.

    Plan: lineitem joins the two SF-scaling dims (part filtered on
    name, supplier) un-hinted — AQE broadcasts them at bench scale,
    shuffle-joins at 100 TB; nation (25 rows) broadcasts; orders joins
    on the natural l_orderkey key. Group-by is a 2-level key (25
    nations × 7 years) — partial agg collapses it map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * F.lit(0.1)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(money_sum(profit, scale=4).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "q11_important_parts",
    tags=["A5", "J6"],
    oracle="""
WITH partval AS (
  SELECT l_partkey AS partkey,
         sum(CAST(l_extendedprice AS DECIMAL(27,2))) AS val
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'ASIA'
  GROUP BY 1
), tot AS (
  SELECT count(*) AS c, CAST(sum(val) * 100 AS BIGINT) AS t_cents FROM partval
)
SELECT partkey, CAST(val AS DOUBLE) AS value
FROM partval, tot
WHERE CAST(val * 100 AS BIGINT) * c * 2 > t_cents * 3
ORDER BY value DESC, partkey
""",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q11 shape (important stock: per-part value filtered
    against a scalar aggregate of the same frame). TPC-H's absolute
    fraction constant becomes scale-invariant: keep parts whose ASIA
    supply value exceeds 1.5× the per-part average, compared as
    2·count·value_cents > 3·total_cents in exact BIGINT cents — the
    boundary cannot flip with partitioning or engine rounding. (At
    extreme corpus sizes the cents·count product nears int64 range;
    the production variant would compare against the decimal average
    directly — noted, not needed below ~10^14 cents.)

    Plan: the region-filtered supplier side prunes before the lineitem
    join; partval is one hash agg; the scalar total is a 1-row
    broadcast crossJoin back onto partval — partval itself is computed
    once (Spark reuses the exchange under AQE), never rescanning
    lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_suppliers = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey")
    )
    partval = (
        li.join(asia_suppliers, li.l_suppkey == asia_suppliers.s_suppkey, "left_semi")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(money("l_extendedprice")).alias("val"))
    )
    tot = partval.agg(
        F.count(F.lit(1)).alias("__c"),
        (F.sum("val") * 100).cast("bigint").alias("__t_cents"),
    )
    return (
        partval.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("val") * 100).cast("bigint") * F.col("__c") * 2
            > F.col("__t_cents") * 3
        )
        .select("partkey", F.col("val").cast("double").alias("value"))
        .orderBy(F.desc("value"), "partkey")
    )


@register(
    "q16_supplier_part_counts",
    tags=["A5", "J6"],
    oracle="""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16 shape (distinct-supplier count per part attribute
    triple, excluding a blacklist via NOT IN): the blacklist predicate
    ("complaints" in standard TPC-H) becomes negative account balance.

    Plan: the part-side conjuncts (brand/type/size-set) prune the part
    scan; the blacklist anti-join is against a filtered supplier
    projection (un-hinted — AQE broadcasts it; it stays small relative
    to supplier at any SF); countDistinct plans as the standard
    two-phase expand+agg, partially aggregated map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q20_promotion_suppliers",
    tags=["J6", "A5"],
    oracle="""
WITH shipped AS (
  SELECT l_suppkey AS suppkey,
         sum(CAST(l_quantity AS DECIMAL(27,2))) AS qty
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey, l_partkey
), tot AS (
  SELECT count(*) AS c, CAST(sum(qty) * 100 AS BIGINT) AS t_cents FROM shipped
)
SELECT s_name, n_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'MIDDLE EAST'
  AND s_suppkey IN (
    SELECT suppkey FROM shipped, tot
    WHERE CAST(qty * 100 AS BIGINT) * c * 2 > t_cents * 3)
ORDER BY s_name
""",
)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20 shape (the nested-IN semi-join chain: parts by name
    prefix → per-(supplier, part) shipped volume in one year → the
    suppliers moving outsized volume, restricted to one region).
    TPC-H's `availqty > 0.5 × shipped` bound (availqty doesn't exist
    here) becomes: the (supplier, part) pair shipped more than 1.5×
    the average pair volume — same exact-cents comparison as q11.

    Plan: the part name-filter semi-join prunes lineitem before its
    aggregation (with the date filter pushed to the scan); the heavy
    set is id-only; the outer supplier⋈nation⋈region is dimension-
    sized per region and semi-joins the heavy ids — every exchange in
    the chain carries keys or small aggregates, never lineitem rows
    past the first groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    red_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "MIDDLE EAST"
    )
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(red_parts, li.l_partkey == red_parts.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(money("l_quantity")).alias("qty"))
        .select(F.col("l_suppkey").alias("suppkey"), "qty")
    )
    tot = shipped.agg(
        F.count(F.lit(1)).alias("__c"),
        (F.sum("qty") * 100).cast("bigint").alias("__t_cents"),
    )
    heavy = (
        shipped.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("qty") * 100).cast("bigint") * F.col("__c") * 2
            > F.col("__t_cents") * 3
        )
        .select("suppkey")
        .distinct()
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(heavy, supp.s_suppkey == heavy.suppkey, "left_semi")
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


# --------------------------------------------------------------------------
# Array / higher-order-function scalar surface (P14 depth): per-order
# quantity arrays exercised through the HOF family — sort, distinct,
# fold (aggregate ↔ list_sum), index-lambda transform over a generated
# sequence (adjacent gaps), slice, and join — with every value integer
# so the hash is exact. One shuffle (the collect_list groupBy); all HOF
# work is row-local codegen after it.
# --------------------------------------------------------------------------


@register(
    "scalar_array_funcs",
    tags=["P14", "A5"],
    oracle="""
WITH a AS (
  SELECT l_orderkey, list_sort(list(CAST(l_quantity AS BIGINT))) AS arr
  FROM lineitem GROUP BY l_orderkey)
SELECT l_orderkey,
       CAST(len(arr) AS BIGINT) AS n_items,
       CAST(len(list_distinct(arr)) AS BIGINT) AS n_distinct_qty,
       CAST(list_sum(arr) AS BIGINT) AS qty_sum,
       CASE WHEN len(arr) > 1 THEN
         CAST(list_max(list_transform(range(1, len(arr)),
                                      i -> arr[i + 1] - arr[i])) AS BIGINT)
       END AS max_gap,
       array_to_string(list_transform(arr[1:3], x -> CAST(x AS VARCHAR)), ',')
         AS first3
FROM a ORDER BY l_orderkey
""",
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    arr = F.col("arr")
    n = F.size(arr)
    gaps = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.element_at(arr, i + 1) - F.element_at(arr, i),
    )
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(F.col("l_quantity").cast("long"))
            ).alias("arr")
        )
        .select(
            "l_orderkey",
            n.cast("bigint").alias("n_items"),
            F.size(F.array_distinct(arr)).cast("bigint").alias("n_distinct_qty"),
            F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x).alias(
                "qty_sum"
            ),
            F.when(n > 1, F.array_max(gaps)).cast("bigint").alias("max_gap"),
            F.array_join(
                F.transform(F.slice(arr, 1, 3), lambda x: x.cast("string")), ","
            ).alias("first3"),
        )
        .orderBy("l_orderkey")
    )
