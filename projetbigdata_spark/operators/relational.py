"""Relational operator core (SURVEY.md §7 phase 1).

The reference has no df.join / df.filter / groupBy anywhere — its join
and filter semantics hide in broadcast-dict probes and Python lambdas
(SURVEY.md §2.3/§2.4). This module is the full relational surface those
semantics map onto, as pure built-in DataFrame plans over the TPC-H-ish
tables, each hash-checked against a DuckDB oracle.

Scale notes per query are inline; the common rules:
  - dimension tables (region/nation/supplier/part at 100 TB they stay
    small) -> F.broadcast, no shuffle of the fact side;
  - fact⋈fact joins (orders⋈lineitem) -> sort-merge on the key, AQE
    handles skew; both sides pre-filtered before the shuffle;
  - every aggregate goes through Catalyst hash-agg with map-side
    partial aggregation, so shuffle volume is |groups|, not |rows|;
  - float aggregates rounded in BOTH engines to absorb summation-order
    ulp differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projetbigdata_spark.session import tune
from projetbigdata_spark.sources.catalog import load_events, load_table


# --------------------------------------------------------------------------
# q1_pricing_summary — TPC-H Q1 shape: scan-filter-agg on the fact table.
# The filter pushes into the parquet scan (PushedFilters), the agg is
# partial+final hash-agg: shuffle carries 6 groups, not 600k rows.
# --------------------------------------------------------------------------
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                               AS sum_qty,
       round(sum(l_extendedprice), 2)                          AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)       AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4)                               AS avg_qty,
       round(avg(l_extendedprice), 4)                          AS avg_price,
       round(avg(l_discount), 4)                               AS avg_disc,
       count(*)                                                AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# q3_shipping_priority — selective dim filter + fact⋈fact join + top-k.
# customer is small -> broadcast into orders (no shuffle of orders);
# orders⋈lineitem is the one real shuffle (sort-merge on l_orderkey).
# --------------------------------------------------------------------------
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    joined = (
        li.join(
            # no broadcast HINT on customer: it is fact-scale (SF x
            # 150k rows) — the module's own dim rule excludes it. At
            # small sf the statistics-based planner still broadcasts
            # it under the threshold; at scale AQE picks SMJ instead
            # of OOMing on a forced multi-TB broadcast build.
            orders.join(cust, F.col("o_custkey") == F.col("c_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    # exact decimal sum, as in q7_nation_volume (half-cent rounding)
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(disc), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# q5_local_supplier — the full star join. All four dims broadcast; the
# only shuffles are orders⋈lineitem and the final 25-group agg.
# --------------------------------------------------------------------------
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")

    nations_in_region = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    # customer and supplier must be in the same nation (TPC-H Q5 semantics)
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))  # fact-scale: no hint
        .join(
            F.broadcast(sup),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            F.broadcast(nations_in_region),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return joined.groupBy("n_name").agg(F.round(revenue, 2).alias("revenue"))


Q5_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# join_semi / join_anti — the reference's F2 dictionary-membership filter
# (script3.py:75-77 `if w in dico`) is a LEFT SEMI join; its complement
# (unseen-token drop) is LEFT ANTI. Expressed on customer⋈orders.
# Broadcast of the filtered orders-key side keeps it shuffle-free when
# the probe set is small; at 100 TB with a huge probe set AQE picks SMJ.
# --------------------------------------------------------------------------
def join_semi_customers_with_urgent_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tune(spark)
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_nationkey")
    )


SEMI_SQL = """
SELECT c_custkey, c_name, c_nationkey
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


def join_anti_customers_without_urgent_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # "without URGENT orders" (not "without any orders") so the fixture
    # is non-empty at every sf — a 0-row result would match any oracle.
    tune(spark)
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


ANTI_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE NOT EXISTS
      (SELECT 1 FROM orders
       WHERE o_orderpriority = '1-URGENT' AND o_custkey = c.c_custkey)
"""
# NOT EXISTS, not NOT IN: a single NULL key on either side makes
# NOT IN return zero rows while Spark's left_anti keeps every
# non-matching row — NOT EXISTS shares left_anti's null semantics.


# --------------------------------------------------------------------------
# join_range — non-equi residual on an equi key: lineitems shipped more
# than 400 days after the order date. Equi join carries the shuffle;
# the range predicate evaluates as a cheap post-join filter (never a
# cartesian product — the 100 TB-safe way to express range joins).
# --------------------------------------------------------------------------
def join_range_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(
        orders,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 400 DAYS")),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("late_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("late_value"),
    )


RANGE_SQL = """
SELECT o_orderpriority,
       count(*) AS late_lines,
       round(sum(l_extendedprice), 2) AS late_value
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
           AND l_shipdate > o_orderdate + INTERVAL 400 DAY
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# scalar_functions — P1/P5-style projection pipeline: string, date,
# math, conditional expressions, all single-pass codegen, zero shuffle.
# --------------------------------------------------------------------------
def scalar_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey"),
        F.upper(F.col("o_orderstatus")).alias("status_upper"),
        F.substring(F.col("o_orderpriority"), 1, 1).cast("int").alias("priority_rank"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        # doubled-price: *2 is exact in binary floating point, so the
        # round() can't land on an engine-dependent half-way case
        F.round(F.col("o_totalprice") * 2, 2).alias("price_doubled"),
        F.when(F.col("o_totalprice") > 100000, F.lit("big"))
        .when(F.col("o_totalprice") > 10000, F.lit("mid"))
        .otherwise(F.lit("small"))
        .alias("size_class"),
        F.concat_ws("-", F.col("o_orderstatus"), F.col("o_orderpriority")).alias(
            "status_priority"
        ),
        (F.col("o_orderkey") % 7).cast("bigint").alias("bucket7"),
    )


SCALAR_SQL = """
SELECT o_orderkey,
       upper(o_orderstatus)                          AS status_upper,
       CAST(substr(o_orderpriority, 1, 1) AS INT)    AS priority_rank,
       CAST(year(o_orderdate) AS INT)                AS order_year,
       CAST(month(o_orderdate) AS INT)               AS order_month,
       round(o_totalprice * 2, 2)                    AS price_doubled,
       CASE WHEN o_totalprice > 100000 THEN 'big'
            WHEN o_totalprice > 10000  THEN 'mid'
            ELSE 'small' END                         AS size_class,
       concat_ws('-', o_orderstatus, o_orderpriority) AS status_priority,
       o_orderkey % 7                                AS bucket7
FROM orders
"""


# --------------------------------------------------------------------------
# json_extract — get_json_object over events.props (SURVEY.md §7 phase 1
# names this explicitly). Stays in codegen; no UDF.
# --------------------------------------------------------------------------
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    e = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select(F.col("event_type"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


JSON_SQL = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS INT))  AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS INT))  AS max_k
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# agg_rollup / agg_cube / grouping sets — the multi-level agg surface
# (SURVEY.md §2.5 extension). Hash-agg handles all grouping sets in one
# shuffle (Expand + partial agg).
# --------------------------------------------------------------------------
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cust = load_table(spark, sf_dir, "customer")
    joined = cust.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )


ROLLUP_SQL = """
SELECT r_name, n_name,
       count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(avg(o_totalprice), 2) AS avg_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --------------------------------------------------------------------------
# agg_distinct — count_distinct + conditional agg; partial aggregation
# still applies (distinct handled via Expand or two-phase agg by AQE).
# --------------------------------------------------------------------------
def agg_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)).alias(
            "n_urgent"
        ),
    )


DISTINCT_SQL = """
SELECT o_orderstatus,
       count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
FROM orders
GROUP BY o_orderstatus
"""


# --------------------------------------------------------------------------
# set operations (SURVEY.md §2.8 U1-U3): union / intersect / except as
# first-class plans. Nation keys of customers vs suppliers.
# --------------------------------------------------------------------------
def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    cust_nations = (
        load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    )
    supp_nations = (
        load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    )
    both = cust_nations.intersect(supp_nations).withColumn("tag", F.lit("both"))
    cust_only = cust_nations.subtract(supp_nations).withColumn("tag", F.lit("cust_only"))
    return both.unionByName(cust_only)


SETOPS_SQL = """
WITH c AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
     s AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
SELECT nk, 'both' AS tag      FROM (SELECT nk FROM c INTERSECT SELECT nk FROM s)
UNION ALL
SELECT nk, 'cust_only' AS tag FROM (SELECT nk FROM c EXCEPT    SELECT nk FROM s)
"""


# --------------------------------------------------------------------------
# topk_customers — global sort + limit (TakeOrderedAndProject: a top-k
# per partition then a k-row merge on the driver — no full sort at scale).
# --------------------------------------------------------------------------
def topk_customers_by_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
        .orderBy(F.col("acctbal").desc(), F.col("c_custkey"))
        .limit(25)
    )


TOPK_SQL = """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
FROM customer
ORDER BY acctbal DESC, c_custkey
LIMIT 25
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    "join_semi_urgent": join_semi_customers_with_urgent_orders,
    "join_anti_no_urgent": join_anti_customers_without_urgent_orders,
    "join_range_late": join_range_late_shipments,
    "scalar_functions": scalar_functions_orders,
    "json_extract": json_extract_events,
    "agg_rollup": agg_rollup_region_nation,
    "agg_cube": agg_cube_status_priority,
    "agg_distinct": agg_distinct_orders,
    "set_ops": set_ops_nations,
    "topk_customers": topk_customers_by_balance,
}

ORACLE_SQL = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_local_supplier": Q5_SQL,
    "join_semi_urgent": SEMI_SQL,
    "join_anti_no_urgent": ANTI_SQL,
    "join_range_late": RANGE_SQL,
    "scalar_functions": SCALAR_SQL,
    "json_extract": JSON_SQL,
    "agg_rollup": ROLLUP_SQL,
    "agg_cube": CUBE_SQL,
    "agg_distinct": DISTINCT_SQL,
    "set_ops": SETOPS_SQL,
    "topk_customers": TOPK_SQL,
}
