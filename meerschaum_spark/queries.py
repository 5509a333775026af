"""Query catalog: every operator exposed through ``__spark_entry__``.

Each entry pairs a Spark DataFrame implementation with an ANSI-SQL oracle
string DuckDB runs on the same parquet tables. Naming/aliasing is identical
on both sides (the driver sorts columns by name and hashes values).

Numeric determinism: double aggregates are computed in DECIMAL (exact,
order-insensitive) and cast to DOUBLE at the end on BOTH sides — a
double-typed sum would drift between engines with summation order.

The catalog is the coverage map for SURVEY.md §2: scans (S*), projections/
filters (P*), joins (J*), aggregations (A*), windows (W*), sorts/limits
(O*), plus the pipe-semantics operators (sync-time, backtrack,
incremental split, dedup-keep-last) re-expressed as pure DataFrame plans.
"""

from __future__ import annotations

import contextlib
import datetime
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from meerschaum_spark.params import (
    combine_filters,
    datetime_filter,
    params_to_filter,
)
from meerschaum_spark.sources import load_table
from meerschaum_spark.sources.tables import canonicalize_ts

from meerschaum_spark.catalog import DEC, HASH60_SQL, ORACLE, QUERIES, QueryFn, dec as _dec, floordiv_spark, floordiv_sql, hash60, query, sum_dbl as _sum_dbl
from meerschaum_spark.functions.persist import pin as _pin

UTC = datetime.timezone.utc


# ===========================================================================
# TPC-H-style analytics (read path: scan → filter → join → agg → sort/limit)
# ===========================================================================

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                    * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE)
               AS sum_disc_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                    * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
                    * (CAST(1 AS DECIMAL(18,6)) + CAST(l_tax AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE)
               AS sum_charge,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price,
           CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast(DEC) + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(datetime.datetime(1998, 9, 2)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sum_dbl(_dec("l_quantity"), "sum_qty"),
            _sum_dbl(_dec("l_extendedprice"), "sum_base_price"),
            _sum_dbl(disc_price, "sum_disc_price"),
            _sum_dbl(charge, "sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(_dec("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                    * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE)
               AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = datetime.datetime(1998, 3, 15)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff))
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_sum_dbl(revenue, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q5_region_revenue",
    """
    SELECT n.n_name,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                    * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE)
               AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime.datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime.datetime(1997, 1, 1))))
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp),
              (li.l_suppkey == supp.s_suppkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_sum_dbl(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "q6_revenue_forecast",
    """
    SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                    * CAST(l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(datetime.datetime(1996, 1, 1)))
            & (F.col("l_shipdate") < F.lit(datetime.datetime(1997, 1, 1)))
            & (F.col("l_discount") >= 0.03) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_sum_dbl(_dec("l_extendedprice") * _dec("l_discount"), "revenue"))
    )


@query(
    "top_brands_by_revenue",
    """
    SELECT p.p_brand,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                    * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE)
               AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY revenue DESC, p.p_brand
    LIMIT 5
    """,
)
def top_brands_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(_sum_dbl(revenue, "revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("revenue").desc(), "p_brand")
        .limit(5)
    )


@query(
    "customer_top_orders",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    ORDER BY o_custkey, rnk
    """,
)
def customer_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.select("o_custkey", "o_orderkey", "o_totalprice",
                      F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
        .orderBy("o_custkey", "rnk")
    )


@query(
    "urgent_orders_with_late_items",
    """
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def urgent_orders_with_late_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o, l = orders.alias("o"), li.alias("l")
    cond = (F.col("l.l_orderkey") == F.col("o.o_orderkey")) & (
        F.col("l.l_shipdate") > F.col("o.o_orderdate") + F.expr("INTERVAL 60 DAY"))
    return (
        o.join(l, on=cond, how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                    * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE)
               AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime.datetime(1997, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime.datetime(1997, 7, 1))))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_sum_dbl(revenue, "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q14_promo_share",
    """
    SELECT CAST(100.0 AS DOUBLE)
             * CAST(CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                        THEN CAST(l.l_extendedprice AS DECIMAL(18,6))
                             * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))
                        ELSE CAST(0 AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                        * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE)
             AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-02-01'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (CASE) aggregation over a broadcast join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime.datetime(1997, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime.datetime(1997, 2, 1))))
    part = load_table(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev) \
             .otherwise(F.lit(0).cast(DEC))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg((F.lit(100.0) * F.sum(promo).cast("double")
              / F.sum(rev).cast("double")).alias("promo_share"))
    )


@query(
    "q16_supplier_part_counts",
    """
    SELECT p.p_brand, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size IN (1, 5, 9, 13)
      AND p.p_brand != 'Brand#1'
    GROUP BY p.p_brand, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 5, 9, 13) & (F.col("p_brand") != "Brand#1"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


@query(
    "q18_large_volume_customers",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING subquery → semi-join on an aggregated key set."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
           .filter(F.col("q") > 250).select("l_orderkey"))
    return (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .join(big.withColumnRenamed("l_orderkey", "_big_ok"),
              F.col("o_orderkey") == F.col("_big_ok"), "left_semi")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(_sum_dbl(_dec("l_quantity"), "total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "q22_idle_customers",
    """
    SELECT substr(c.c_name, 10, 2) AS cntry, count(*) AS n_cust,
           CAST(CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                                  / count(*)
                         FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY substr(c.c_name, 10, 2)
    ORDER BY cntry
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery + anti-join (NOT EXISTS). The scalar avg is a
    double of a decimal sum / count — deterministic both engines."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    stats = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double")
         / F.count(F.lit(1))).alias("avg_bal"))
    rich = (cust.crossJoin(F.broadcast(stats))
            .filter(F.col("c_acctbal") > F.col("avg_bal")))
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(datetime.datetime(2000, 1, 1)))
    idle = rich.join(recent,
                     rich.c_custkey == recent.o_custkey, "left_anti")
    return (
        idle.groupBy(F.substring("c_name", 10, 2).alias("cntry"))
        .agg(F.count(F.lit(1)).alias("n_cust"),
             _sum_dbl(_dec("c_acctbal"), "total_bal"))
        .orderBy("cntry")
    )


# ===========================================================================
# Pipe-semantics operators on `events` (the engine's own query surface)
# ===========================================================================

_B1 = datetime.datetime(2024, 1, 10)
_E1 = datetime.datetime(2024, 1, 20)


@query(
    "events_bounded_params",
    f"""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
      AND event_type IN ('click', 'view')
      AND user_id != 3
      AND value IS NOT NULL
    ORDER BY ts, event_id
    """,
)
def events_bounded_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+P3+P4: the unified params/bounds filter engine, verbatim engine code."""
    ev = load_table(spark, sf_dir, "events")
    cond = combine_filters(
        datetime_filter("ts", _B1, _E1),
        params_to_filter({"event_type": ["click", "view"], "value": "_None"}),
        F.col("user_id") != 3,
    )
    return (ev.filter(cond)
            .select("event_id", "ts", "user_id", "event_type", "value")
            .orderBy("ts", "event_id"))


@query(
    "events_sync_time",
    "SELECT max(ts) AS sync_time FROM events",
)
def events_sync_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: newest datetime value."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(F.max("ts").alias("sync_time"))


@query(
    "events_per_user_sync_times",
    "SELECT user_id, max(ts) AS sync_time FROM events GROUP BY user_id ORDER BY user_id",
)
def events_per_user_sync_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/J6: per-id sync times (the join-fetch CTE source)."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("user_id").agg(F.max("ts").alias("sync_time"))
            .orderBy("user_id"))


@query(
    "events_rowcount_bounded",
    """
    SELECT count(*) AS rowcount FROM events
    WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
      AND event_type = 'purchase'
    """,
)
def events_rowcount_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: bounded rowcount with params."""
    ev = load_table(spark, sf_dir, "events")
    cond = combine_filters(datetime_filter("ts", _B1, _E1),
                           params_to_filter({"event_type": "purchase"}))
    return ev.filter(cond).agg(F.count(F.lit(1)).alias("rowcount"))


@query(
    "events_distinct_users",
    "SELECT count(DISTINCT user_id) AS n_users FROM events",
)
def events_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: distinct count."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(F.countDistinct("user_id").alias("n_users"))


@query(
    "events_meta_probes",
    """
    SELECT max(ts) AS sync_time,
           count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-10'
                              AND ts < TIMESTAMP '2024-01-20'
                              AND event_type = 'purchase') AS bounded_rowcount,
           count(DISTINCT user_id) AS n_users
    FROM events
    """,
)
def events_meta_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2+A5 composed into ONE scan (conditional aggregation): newest
    datetime, bounded+param rowcount, distinct-id count. One catalog slot
    carries three metadata operators past the driver gate's 50-entry
    recording cap; the single-purpose forms remain registered below it."""
    ev = load_table(spark, sf_dir, "events")
    cond = combine_filters(datetime_filter("ts", _B1, _E1),
                           params_to_filter({"event_type": "purchase"}))
    return ev.agg(
        F.max("ts").alias("sync_time"),
        F.count(F.when(cond, F.lit(1))).alias("bounded_rowcount"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "events_dedup_keep_last",
    """
    SELECT event_id, ts, user_id, event_type, value FROM (
      SELECT e.*, row_number() OVER (
          PARTITION BY ts, user_id ORDER BY event_id DESC) AS rn
      FROM events e
    ) WHERE rn = 1
    ORDER BY ts, event_id
    """,
)
def events_dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W3: window-rank dedup on the pipe's index cols (keep-last)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("ts", "user_id").orderBy(F.col("event_id").desc())
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("event_id", "ts", "user_id", "event_type", "value")
            .orderBy("ts", "event_id"))


@query(
    "events_backtrack_slice",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE ts >= (SELECT max(ts) - INTERVAL 1 DAY FROM events)
    ORDER BY ts DESC, event_id
    """,
)
def events_backtrack_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: the backtrack window — begin = sync_time − backtrack_minutes."""
    ev = load_table(spark, sf_dir, "events")
    st = ev.agg((F.max("ts") - F.expr("INTERVAL 1 DAY")).alias("b"))
    return (ev.join(F.broadcast(st), F.col("ts") >= F.col("b"))
            .select("event_id", "ts", "user_id", "event_type", "value")
            .orderBy(F.col("ts").desc(), "event_id"))


@query(
    "events_incremental_unseen",
    """
    WITH existing AS (
      SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-15'
    ), incoming AS (
      SELECT event_id, ts, user_id, event_type, value + 1 AS value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
    )
    SELECT i.* FROM incoming i
    WHERE NOT EXISTS (
      SELECT 1 FROM existing e
      WHERE e.ts IS NOT DISTINCT FROM i.ts
        AND e.user_id IS NOT DISTINCT FROM i.user_id
    )
    ORDER BY ts, event_id
    """,
)
def events_incremental_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3: the sync diff's unseen split (null-safe anti-join on index cols)."""
    ev = load_table(spark, sf_dir, "events")
    existing = ev.filter(F.col("ts") < F.lit(datetime.datetime(2024, 1, 15)))
    incoming = (ev.filter(datetime_filter("ts", _B1, _E1))
                .withColumn("value", F.col("value") + 1))
    i, e = incoming.alias("i"), existing.alias("e")
    cond = (F.col("i.ts").eqNullSafe(F.col("e.ts"))
            & F.col("i.user_id").eqNullSafe(F.col("e.user_id")))
    return (i.join(e, on=cond, how="left_anti")
            .select("event_id", "ts", "user_id", "event_type", "value")
            .orderBy("ts", "event_id"))


@query(
    "events_incremental_update",
    """
    WITH existing AS (
      SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-15'
    ), incoming AS (
      SELECT event_id, ts, user_id, event_type, value + 1 AS value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
    )
    SELECT i.* FROM incoming i
    WHERE EXISTS (
      SELECT 1 FROM existing e
      WHERE e.ts IS NOT DISTINCT FROM i.ts
        AND e.user_id IS NOT DISTINCT FROM i.user_id
    )
    ORDER BY ts, event_id
    """,
)
def events_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: the sync diff's update split (left-semi on index cols)."""
    ev = load_table(spark, sf_dir, "events")
    existing = ev.filter(F.col("ts") < F.lit(datetime.datetime(2024, 1, 15)))
    incoming = (ev.filter(datetime_filter("ts", _B1, _E1))
                .withColumn("value", F.col("value") + 1))
    i, e = incoming.alias("i"), existing.alias("e")
    cond = (F.col("i.ts").eqNullSafe(F.col("e.ts"))
            & F.col("i.user_id").eqNullSafe(F.col("e.user_id")))
    return (i.join(e, on=cond, how="left_semi")
            .select("event_id", "ts", "user_id", "event_type", "value")
            .orderBy("ts", "event_id"))


@query(
    "events_hourly_rollup",
    """
    SELECT date_trunc('hour', ts) AS bucket, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(value) AS avg_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time_bucket rollup (continuous aggregate analogue)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _sum_dbl(_dec("value"), "sum_value"),
            (F.sum(_dec("value")).cast("double") / F.count("value")).alias("avg_value"),
        )
        .orderBy("bucket", "event_type")
    )


@query(
    "pipe_sync_roundtrip",
    """
    SELECT (SELECT count(*) FROM events) AS n_rows,
           1 AS second_sync_noop,
           1 AS update_detected
    """,
)
def pipe_sync_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine itself under the correctness gate: replay events through
    a Pipe in two overlapping batches (late-data style), re-sync for
    idempotence, mutate one row for update detection. The oracle pins the
    invariants: stored rows == source rows, overlap re-sync is a no-op,
    and a changed value registers as exactly one update."""
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe

    # one cache for the four sync batches: every sync below derives from
    # this frame, and an uncached plan would rescan + re-canonicalize the
    # source parquet per sync action (a real caller holds the DataFrame
    # exactly like this)
    events = load_table(spark, sf_dir, "events").persist()
    instance = tempfile.mkdtemp(prefix="mrsm_q_sync_")
    try:
        pipe = Pipe("catalog", "events", instance=instance, spark=spark,
                    columns={"datetime": "ts", "id": "event_id"})
        cut_lo = datetime.datetime(2024, 1, 10)
        pipe.sync(events.filter(F.col("ts") < F.lit(datetime.datetime(2024, 1, 20))))
        pipe.sync(events.filter(F.col("ts") >= F.lit(cut_lo)))
        second = pipe.sync(events)  # full overlap → must change nothing
        # sync the one mutated row as a literal dict batch — the
        # reference's canonical small-batch form, which also exercises
        # the driver-local stats fast path (no probe jobs)
        first_row = events.orderBy("ts").limit(1).collect()
        mutated = dict(first_row[0].asDict())
        mutated["value"] = -1.0
        third = pipe.sync([mutated])
        n_rows = pipe.get_rowcount()
        noop = int(second.inserted == 0 and second.updated == 0)
        upd = int(third.inserted == 0 and third.updated == 1)
        return spark.createDataFrame(
            [(n_rows, noop, upd)],
            "n_rows long, second_sync_noop int, update_detected int")
    finally:
        events.unpersist()
        shutil.rmtree(instance, ignore_errors=True)


@query(
    "events_value_percentiles",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99,
           min(value) AS min_value, max(value) AS max_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``; at 100 TB swap for percentile_approx and
    drop the oracle to rows-only)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("p50"),
             F.expr("percentile(value, 0.9)").alias("p90"),
             F.expr("percentile(value, 0.99)").alias("p99"),
             F.min("value").alias("min_value"),
             F.max("value").alias("max_value"))
        .orderBy("event_type")
    )


@query(
    "events_asof_attribution",
    """
    SELECT event_id, ts, user_id, last_click_ts
    FROM (
      SELECT event_id, ts, user_id, event_type,
             last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_ts
      FROM events)
    WHERE event_type = 'purchase'
    ORDER BY ts, event_id
    """,
)
def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark lacks a native one): each purchase attributed to
    the user's most recent strictly-preceding click, via a last-ignore-
    nulls window over the interleaved stream — one shuffle on user_id, no
    range explosion. (The applyInPandas/merge_asof form would be the
    fallback for cross-TABLE as-ofs.)"""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")),
        ignorenulls=True).over(w)
    return (ev.withColumn("last_click_ts", last_click)
            .filter(F.col("event_type") == "purchase")
            .select("event_id", "ts", "user_id", "last_click_ts")
            .orderBy("ts", "event_id"))


@query(
    "events_asof_candle_join",
    """
    WITH c AS (
      SELECT event_type, bucket_end, value AS close FROM (
        SELECT event_type,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS bucket_end,
               value,
               row_number() OVER (PARTITION BY event_type,
                                               date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      WHERE rn = 1),
    l AS (SELECT event_id, ts, event_type FROM events
          WHERE event_id % 101 = 0)
    SELECT l.event_id, l.ts, l.event_type,
           c.bucket_end AS candle_end, c.close
    FROM l ASOF LEFT JOIN c
      ON l.event_type = c.event_type AND l.ts >= c.bucket_end
    ORDER BY l.event_id
    """,
)
def events_asof_candle_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The general CROSS-TABLE as-of join (``functions.asof.asof_join``):
    each sampled event is joined to the most recent COMPLETED hourly
    candle of its event_type (greatest candle end ≤ event ts,
    inclusive; first-hour events keep a null candle — left semantics).
    The union-merge shape costs ONE shuffle on the by-key with zero
    range explosion — the plan Spark's own non-equi range join cannot
    produce — and the oracle is DuckDB's NATIVE ``ASOF LEFT JOIN``, so
    the operator's semantics are pinned against an independent
    first-class implementation rather than a hand-built rewrite."""
    from meerschaum_spark.functions.asof import asof_join
    ev = load_table(spark, sf_dir, "events")
    candles = (
        ev.groupBy("event_type",
                   F.date_trunc("hour", F.col("ts")).alias("b"))
        .agg(F.max_by("value", F.struct("ts", "event_id")).alias("close"))
        .select("event_type",
                (F.col("b") + F.expr("INTERVAL 1 HOUR")).alias("bucket_end"),
                "close"))
    left = (ev.filter(F.col("event_id") % 101 == 0)
            .select("event_id", "ts", "event_type"))
    out = asof_join(left, candles, left_ts="ts", right_ts="bucket_end",
                    by="event_type", how="left")
    return (out.select("event_id", "ts", "event_type",
                       F.col("bucket_end").alias("candle_end"), "close")
            .orderBy("event_id"))


@query(
    "events_daily_cube",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           count(*) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY CUBE(date_trunc('day', ts), event_type)
    ORDER BY day NULLS FIRST, event_type NULLS FIRST
    """,
)
def events_daily_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup across (day, event_type) — grouping-set totals the
    reference never had; free on Spark."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.cube(F.date_trunc("day", F.col("ts")).alias("day"),
                F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"),
             _sum_dbl(_dec("value"), "sum_value"))
        .orderBy(F.col("day").asc_nulls_first(),
                 F.col("event_type").asc_nulls_first())
    )


@query(
    "events_type_pivot",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'view')     AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event types to columns (conditional-aggregation form in the
    oracle; Spark's .pivot with an explicit value list avoids the extra
    distinct-values job)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0, ["click", "view", "purchase", "signup", "error"])
        .orderBy("day")
    )


@query(
    "events_sessionization",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + running sum).

    The gap is compared at microsecond precision (``unix_micros``) so a
    sub-second difference straddling the 30-minute boundary classifies
    identically to the oracle's full-precision ``ts - lag(ts) >
    INTERVAL 30 MINUTE``; ``cast('long')`` would truncate to whole
    seconds. The oracle CASTs its running sum to BIGINT because DuckDB's
    integer ``sum()`` returns HUGEINT (Arrow decimal128(38,0)), which
    the driver's value hash does not normalize against Spark's bigint."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_micros(F.col("ts"))
           - F.unix_micros(F.lag(F.col("ts")).over(w)))
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0)
    return (
        ev.withColumn("new_session", new_sess)
        .withColumn("session_id", F.sum("new_session").over(wsum))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
        .orderBy("user_id", "session_id")
    )


_STREAM_SESSION_SQL = """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """

_STREAM_RUN_COUNTER = [0]


#: conf key for the streaming state-store backend
_STATE_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming."
                     "state.RocksDBStateStoreProvider")


@contextlib.contextmanager
def _stream_replay_confs(spark: SparkSession, state_store: str | None = None):
    """Confs for replaying a bounded table through a streaming query:
    nanos-tolerant parquet reads, and state/shuffle partitions sized to
    the replay rather than the batch session default — every state-store
    partition spins its own store (and, for applyInPandasWithState, its
    own Python worker) PER micro-batch, so 32 near-empty partitions cost
    ~2 s of pure overhead at sf0.1. A production stream sizes this by
    key cardinality and throughput; the partition count is fixed at the
    checkpoint's first start either way.

    ``state_store='rocksdb'`` (or env ``SPARK_GRAFT_STATE_STORE=rocksdb``)
    opts the replay into Spark's RocksDB state-store provider — the
    large-key-space backend: per-key state lives off-heap/on-disk with
    changelog checkpointing instead of resident JVM hash maps, which is
    what a 100 TB stream with 10⁸+ distinct keys needs. Default stays
    the in-memory HDFS-backed provider (right for test-sized replays;
    the provider is pinned into the checkpoint at first start, so
    flipping it mid-checkpoint is refused by Spark itself)."""
    import os as _os
    prev_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong",
                                "false")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    n = max(4, spark.sparkContext.defaultParallelism // 4)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    store = (state_store
             or _os.environ.get("SPARK_GRAFT_STATE_STORE", "")).lower()
    prev_provider = spark.conf.get(_STATE_PROVIDER_KEY, None)
    if store == "rocksdb":
        spark.conf.set(_STATE_PROVIDER_KEY, _ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev_nanos)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if store == "rocksdb":
            if prev_provider is None:
                spark.conf.unset(_STATE_PROVIDER_KEY)
            else:
                spark.conf.set(_STATE_PROVIDER_KEY, prev_provider)


def _replay_events_to_sink(spark: SparkSession, sf_dir: str, build,
                           prefix: str,
                           output_mode: str = "append") -> str:
    """THE streaming-replay contract, in one place: replay
    ``<sf_dir>/events.parquet`` as an availableNow stream through
    ``build(stream)`` into a fresh uniquely-named memory sink; returns
    the sink table name. Covers the counter-unique sink (later queries
    must not mutate an earlier one), the schema'd directory source with
    a filename filter, ts canonicalization, exception surfacing, and
    the 300 s drain guard (a timed-out replay would silently aggregate
    a PARTIAL stream). Single-source sites share this; multi-stream
    shapes (the interval join) keep their own plumbing."""
    import os as _os

    _STREAM_RUN_COUNTER[0] += 1
    sink = f"_mrsm_stream_{prefix}_{_STREAM_RUN_COUNTER[0]}"
    path = _os.path.join(sf_dir, "events.parquet")
    with _stream_replay_confs(spark):
        raw = spark.read.parquet(path)  # schema probe under nanosAsLong
        stream = (spark.readStream.schema(raw.schema)
                  .option("pathGlobFilter", "events.parquet")
                  .parquet(sf_dir))
        stream = canonicalize_ts(stream, ["ts"])
        q = (build(stream).writeStream.format("memory").queryName(sink)
             .outputMode(output_mode).trigger(availableNow=True).start())
        finished = q.awaitTermination(300)
        if q.exception() is not None:
            raise q.exception()
        if not finished:
            q.stop()
            raise TimeoutError(
                f"streaming replay ({prefix}) did not finish in 300 s")
    return sink


@query("streaming_sessionization", _STREAM_SESSION_SQL)
def streaming_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful STREAMING sessionizer (applyInPandasWithState,
    cross-batch state) replayed over the events table with an availableNow
    trigger — and checked against the same batch SQL oracle as
    events_sessionization. Proving the streaming operator reproduces the
    batch window bit-for-bit is the strongest §2.10 correctness statement
    the engine can make."""
    from meerschaum_spark.streaming.stateful import stateful_sessionize

    sink = _replay_events_to_sink(
        spark, sf_dir,
        lambda s: stateful_sessionize(s, gap_seconds=30 * 60,
                                      order_cols=["event_id"]),
        "sess")
    return (
        spark.table(sink)
        # streaming sessions are 0-based; the batch running sum is 1-based
        .groupBy("user_id", (F.col("session_id") + 1).alias("session_id"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
        .orderBy("user_id", "session_id")
    )


@query(
    "streaming_hourly_rollup",
    """
    SELECT date_trunc('hour', ts) AS bucket, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(value) AS avg_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly rollup as a STREAMING windowed aggregate: tumbling
    1-hour event-time windows over the replayed events stream, complete
    output mode, availableNow trigger — checked against the same oracle
    as the batch events_hourly_rollup. Decimal accumulation keeps the
    streaming partial aggregates order-insensitive, so the stream and the
    batch produce identical doubles."""

    _STREAM_RUN_COUNTER[0] += 1
    def agg(stream):
        return (
            stream.groupBy(F.window("ts", "1 hour"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 _sum_dbl(_dec("value"), "sum_value"),
                 (F.sum(_dec("value")).cast("double")
                  / F.count("value")).alias("avg_value"))
        )

    sink = _replay_events_to_sink(spark, sf_dir, agg, "roll",
                                  output_mode="complete")
    return (
        spark.table(sink)
        .select(F.col("window.start").alias("bucket"), "event_type",
                "n_events", "sum_value", "avg_value")
        .orderBy("bucket", "event_type")
    )


@query(
    "q13_customer_order_distribution",
    """
    WITH c_orders AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey)
    SELECT c_count, count(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (o_comment filter omitted — column not in the
    corpus): customers LEFT JOIN orders, orders-per-customer, then the
    distribution of those counts. Exercises outer join + double
    aggregation; count(col) must skip NULLs from the outer side."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


@query(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
                 AS total_revenue_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           CAST(CAST(r.total_revenue_dec AS VARCHAR) AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue_dec = (SELECT max(total_revenue_dec) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: quarterly revenue per supplier, keep the max. The max
    is compared in EXACT decimal (a double max could tie-break
    differently across engines). The 1-row max side is broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter((F.col("l_shipdate") >= F.lit(datetime.datetime(1996, 1, 1)))
                  & (F.col("l_shipdate") < F.lit(datetime.datetime(1996, 4, 1))))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_dec("l_extendedprice")
                   * (F.lit(1).cast(DEC) - _dec("l_discount")))
             .alias("total_revenue_dec"))
    )
    top = rev.agg(F.max("total_revenue_dec").alias("max_rev"))
    return (
        rev.join(F.broadcast(top),
                 rev["total_revenue_dec"] == top["max_rev"])
        .join(sup, sup["s_suppkey"] == rev["supplier_no"])
        .select("s_suppkey", "s_name",
                F.col("total_revenue_dec").cast("double")
                .alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@query(
    "q17_small_quantity_revenue",
    """
    WITH pq AS (
      SELECT l.l_partkey,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(18,6))) AS DECIMAL(28,6))
                 AS sum_qty,
             count(*) AS cnt
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#23'
      GROUP BY l.l_partkey)
    SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS VARCHAR)
                AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN pq ON l.l_partkey = pq.l_partkey
    WHERE CAST(5 AS DECIMAL(18,6)) * CAST(l.l_quantity AS DECIMAL(18,6))
          * pq.cnt < pq.sum_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders of one
    brand's parts. The correlated AVG subquery becomes a broadcast join
    of per-part aggregates; the threshold compare is cross-multiplied
    (5·qty·cnt < sum_qty) so both engines evaluate EXACT decimal
    arithmetic — a decimal division would round differently per
    engine's scale rules."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand_parts = part.filter(F.col("p_brand") == "Brand#23") \
                      .select("p_partkey")
    pq = (
        li.join(F.broadcast(brand_parts),
                li["l_partkey"] == brand_parts["p_partkey"])
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_quantity")).cast("decimal(28,6)").alias("sum_qty"),
             F.count(F.lit(1)).alias("cnt"))
    )
    small = (
        li.alias("l")
        .join(F.broadcast(pq.alias("pq")),
              F.col("l.l_partkey") == F.col("pq.l_partkey"))
        .filter(F.lit(5).cast(DEC) * _dec("l.l_quantity") * F.col("pq.cnt")
                < F.col("pq.sum_qty"))
    )
    return small.agg(
        (F.sum(_dec("l.l_extendedprice")).cast("double") / F.lit(7.0))
        .alias("avg_yearly"))


@query(
    "events_funnel",
    """
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_view_click_purchase
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase, strictly
    increasing timestamps per user): each stage is a groupBy-min plus an
    inequality join against the previous stage's first-touch time. The
    per-stage tables are user-cardinality (small) — the event scan stays
    the only big input, read once per stage with the event_type filter
    pushed down."""
    ev = load_table(spark, sf_dir, "events")

    def first_after(prev: DataFrame, prev_t: str, etype: str,
                    out_t: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype).alias("e")
        p = F.broadcast(prev).alias("p")
        return (e.join(p, (F.col("e.user_id") == F.col("p.user_id"))
                       & (F.col("e.ts") > F.col(f"p.{prev_t}")))
                .groupBy(F.col("e.user_id").alias("user_id"))
                .agg(F.min("e.ts").alias(out_t)))

    # Each stage's output is user-cardinality (tiny); materialize it so
    # the next stage joins stored rows instead of replaying the previous
    # stages' event scans — otherwise counting stage 3 re-runs stages 1+2
    # and the three counts cost six event scans. Eager checkpoints also
    # make the counts themselves metadata-cheap.
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t1"))
         .transform(_pin))
    c = first_after(v, "t1", "click", "t2").transform(_pin)
    p = first_after(c, "t2", "purchase", "t3").transform(_pin)
    counts = [df.count() for df in (v, c, p)]
    return spark.createDataFrame(
        [tuple(counts)],
        "n_view long, n_view_click long, n_view_click_purchase long")


#: windowFunnel chain deadline: every step must land within this many
#: µs of the anchoring 'view' (6 h)
FUNNEL_WINDOW_US = 6 * 3_600_000_000


@query(
    "events_window_funnel",
    f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
    d1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
    d2 AS (SELECT DISTINCT c.user_id FROM e c
           WHERE c.event_type = 'click' AND EXISTS (
             SELECT 1 FROM e v
             WHERE v.user_id = c.user_id AND v.event_type = 'view'
               AND v.us < c.us AND c.us <= v.us + {FUNNEL_WINDOW_US})),
    d3 AS (SELECT DISTINCT p.user_id FROM e p
           WHERE p.event_type = 'purchase' AND EXISTS (
             SELECT 1 FROM e c, e v
             WHERE c.user_id = p.user_id AND v.user_id = p.user_id
               AND c.event_type = 'click' AND v.event_type = 'view'
               AND v.us < c.us AND c.us < p.us
               AND p.us <= v.us + {FUNNEL_WINDOW_US}))
    SELECT * FROM (
      SELECT 1 AS depth, (SELECT count(*) FROM d1) AS n_users
      UNION ALL SELECT 2, (SELECT count(*) FROM d2)
      UNION ALL SELECT 3, (SELECT count(*) FROM d3))
    ORDER BY depth
    """,
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed conversion funnel — the ClickHouse ``windowFunnel(T)``
    analogue: a user reaches depth d when SOME strictly-increasing
    view < click < purchase chain prefix of length d fits inside
    ``[view.ts, view.ts + T]``. Unlike ``events_funnel`` (first-touch
    chain, unbounded), the anchor is searched: an early dead-end view
    does not doom a later complete chain.

    Shape: the quadratic EXISTS search (the oracle's form) collapses to
    TWO stacked range-window maxima over one per-user sort — for each
    event the latest strictly-earlier view (``lv``), then for each
    purchase the max over strictly-earlier clicks of their ``lv``; a
    chain exists iff that anchor is within the deadline. One shuffle
    (user), no self-joins — per-user cost is linear, so a hot user
    cannot go quadratic the way the EXISTS form does at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("user_id", F.unix_micros(F.col("ts")).alias("us"),
                     "event_type")
    wp = (Window.partitionBy("user_id").orderBy("us")
          .rangeBetween(Window.unboundedPreceding, -1))
    lv = F.max(F.when(F.col("event_type") == "view", F.col("us"))).over(wp)
    staged = base.withColumn("_lv", lv)
    mlv = F.max(F.when(F.col("event_type") == "click",
                       F.col("_lv"))).over(wp)
    staged = staged.withColumn("_mlv", mlv)
    deadline = F.col("us") - F.lit(FUNNEL_WINDOW_US)
    per_user = staged.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1)
              .otherwise(0)).alias("d1"),
        F.max(F.when((F.col("event_type") == "click")
                     & (F.col("_lv") >= deadline), 1)
              .otherwise(0)).alias("d2"),
        F.max(F.when((F.col("event_type") == "purchase")
                     & (F.col("_mlv") >= deadline), 1)
              .otherwise(0)).alias("d3"),
    )
    totals = per_user.agg(F.sum("d1").alias("n1"), F.sum("d2").alias("n2"),
                          F.sum("d3").alias("n3"))
    return (totals.selectExpr(
        "stack(3, 1, n1, 2, n2, 3, n3) AS (depth, n_users)")
        .orderBy("depth"))


@query(
    "events_weekly_retention",
    """
    WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
               FROM events GROUP BY user_id),
    act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
            FROM events)
    SELECT f.cohort,
           CAST((CAST(act.wk AS DATE) - CAST(f.cohort AS DATE)) / 7 AS BIGINT)
               AS week_offset,
           count(*) AS n_users
    FROM act JOIN f ON act.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen week, counted in
    each later active week. Two aggregations + one join on user_id (the
    cohort table is user-cardinality, broadcastable); week arithmetic is
    integer days / 7 — exact on both engines since week truncs align."""
    ev = load_table(spark, sf_dir, "events")
    # DATE cohorts: DuckDB's date_trunc('week', ts) yields DATE
    first = (ev.groupBy("user_id")
             .agg(F.date_trunc("week", F.min("ts")).cast("date")
                  .alias("cohort")))
    active = (ev.select("user_id",
                        F.date_trunc("week", F.col("ts")).cast("date")
                        .alias("wk"))
              .distinct())
    return (
        active.join(F.broadcast(first), on="user_id")
        .groupBy("cohort",
                 (F.datediff(F.col("wk"), F.col("cohort")) / 7)
                 .cast("long").alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort", "week_offset")
    )


@query(
    "streaming_dedup_keys",
    """
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type
    """,
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup (§2.10): dropDuplicates over the
    replayed event stream with event-time watermark bounding the per-key
    state — the streaming analogue of the pipe's index-key diff. Output
    is the KEY SET only: which physical row survives per key depends on
    arrival order (nondeterministic across stream partitions), but the
    distinct key set is exact, so the oracle checks that."""

    from meerschaum_spark.streaming.stateful import streaming_dedup

    sink = _replay_events_to_sink(
        spark, sf_dir,
        lambda s: streaming_dedup(s, ["user_id", "event_type"],
                                  ts_col="ts", watermark="30 days")
        .select("user_id", "event_type"),
        "dedup")
    return spark.table(sink).orderBy("user_id", "event_type")


@query(
    "events_anomaly_zscore",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                 AS dsum,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,6))
                           * CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                 AS dsumsq,
             count(value) AS cnt
      FROM events GROUP BY event_type),
    z AS (
      SELECT e.event_id, e.event_type, e.value,
             (e.value - s.dsum / s.cnt)
                 / sqrt(s.dsumsq / s.cnt - (s.dsum / s.cnt) * (s.dsum / s.cnt))
                 AS zscore
      FROM events e JOIN stats s ON e.event_type = s.event_type)
    SELECT event_id, event_type, value, zscore
    FROM z
    ORDER BY abs(zscore) DESC, event_id
    LIMIT 20
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers: sums and sum-of-squares accumulate in
    EXACT decimal (order-insensitive across partitions/engines), then
    mean/variance/z derive in double with the identical expression on
    both engines — IEEE ops on identical inputs give identical doubles.
    The stats side is a per-type aggregate (broadcastable); one scan +
    one tiny join, no window."""
    ev = load_table(spark, sf_dir, "events")
    stats = (ev.groupBy("event_type")
             .agg(F.sum(_dec("value")).cast("double").alias("dsum"),
                  F.sum(_dec("value") * _dec("value")).cast("double")
                  .alias("dsumsq"),
                  F.count("value").alias("cnt")))
    mean = F.col("dsum") / F.col("cnt")
    z = (F.col("value") - mean) / F.sqrt(
        F.col("dsumsq") / F.col("cnt") - mean * mean)
    return (
        ev.join(F.broadcast(stats), on="event_type")
        .select("event_id", "event_type", "value", z.alias("zscore"))
        .orderBy(F.abs(F.col("zscore")).desc(), "event_id")
        .limit(20)
    )


@query(
    "events_value_histogram",
    """
    SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: integer bucketing is exact on both engines
    (floor of a double divide is deterministic IEEE); one scan, one
    shuffle, map-side combine."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value").isNotNull())
        .groupBy(F.floor(F.col("value") / 50.0).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("user_id").alias("n_users"))
        .orderBy("bucket")
    )


@query(
    "events_rolling_7d",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dayn,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS dsum
      FROM events GROUP BY 1, 2, 3)
    SELECT user_id, day, n_events,
           CAST(dsum AS DOUBLE) AS day_value,
           CAST(CAST(sum(dsum) OVER (
                  PARTITION BY user_id ORDER BY dayn
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS DECIMAL(28,6)) AS DOUBLE) AS rolling_7d_value,
           CAST(sum(n_events) OVER (
                  PARTITION BY user_id ORDER BY dayn
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS rolling_7d_events
    FROM daily ORDER BY user_id, day
    """,
)
def events_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 7-day rolling value/event totals: a RANGE-frame window
    over an integer day axis (RANGE over INTERVAL types differs between
    engines; epoch-day integers do not). Accumulation stays in exact
    decimal and surfaces as double. Partitioned by user — the window
    parallelizes across users; no global frame anywhere."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(_dec("value")).cast("decimal(28,6)").alias("dsum"))
        .withColumn("dayn", F.datediff(F.col("day"), F.lit("1970-01-01")))
    )
    w = (Window.partitionBy("user_id").orderBy("dayn")
         .rangeBetween(-6, Window.currentRow))
    return (
        daily.select(
            "user_id", "day", "n_events",
            F.col("dsum").cast("double").alias("day_value"),
            F.sum("dsum").over(w).cast("decimal(28,6)").cast("double")
            .alias("rolling_7d_value"),
            F.sum("n_events").over(w).cast("long")
            .alias("rolling_7d_events"))
        .orderBy("user_id", "day")
    )


@query(
    "events_rolling_active_users",
    """
    WITH du AS (
      SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
      FROM events),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
            FROM du GROUP BY day),
    win AS (
      SELECT DISTINCT d.day, du.user_id
      FROM days d JOIN du ON du.day BETWEEN d.day - 6 AND d.day),
    wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau
            FROM win GROUP BY day)
    SELECT day, dau, wau FROM dau JOIN wau USING (day) ORDER BY day
    """,
)
def events_rolling_active_users(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Rolling DISTINCT actives — DAU and trailing-7-day WAU per day
    (the classic engagement pair; per-user rolling SUMS are
    events_rolling_7d, but distinct counts don't decompose into a
    window frame). Engine shape: dedupe to (epoch-day, user) once,
    then each row CONTRIBUTES to the 7 target days it keeps a user
    active in (explode of a 7-element sequence — linear ×7, never a
    range join), second dedupe, counts. Days ride as epoch-day
    integers end to end (integer div — casting through DATE or RANGE
    over intervals is engine-dependent). The ghost trailing days an
    expansion invents are dropped by a broadcast semi-join against
    observed days. At 100 TB the (day,user) dedupe is the only
    corpus-scale shuffle; the ×7 expansion runs on the already-tiny
    distinct frame."""
    ev = load_table(spark, sf_dir, "events")
    du = (ev.select(F.expr("unix_micros(ts) div 86400000000")
                    .alias("day"), "user_id")
          .distinct()
          .transform(_pin))
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    expand = (du.select(
        F.explode(F.sequence(F.col("day"),
                             F.col("day") + F.lit(6))).alias("day"),
        "user_id")
        .distinct())
    wau = (expand.join(F.broadcast(days), "day", "left_semi")
           .groupBy("day").agg(F.count(F.lit(1)).alias("wau")))
    return (dau.join(wau, "day")
            .select("day", "dau", "wau").orderBy("day"))


@query(
    "q4_priority_late_exists",
    """
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q4_priority_late_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4's shape on the available columns: order-priority counts
    for orders with at least one item shipped >60 days after the order
    date. The EXISTS is a left-semi join (no row multiplication however
    many late items an order has); the date filter prunes the orders
    scan before the join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(datetime.datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime.datetime(1996, 7, 1))))
    late = (li.alias("l").join(
        o.select("o_orderkey", "o_orderdate").alias("o"),
        on=(F.col("l.l_orderkey") == F.col("o.o_orderkey"))
        & (F.col("l.l_shipdate")
           > F.col("o.o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        how="left_semi"))
    return (
        o.join(late.select("l_orderkey").distinct(),
               on=F.col("o_orderkey") == F.col("l_orderkey"),
               how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "q19_disjunctive_pushdown",
    """
    SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,6))))
                     AS VARCHAR) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19's shape: an OR-of-ANDs predicate across both join sides.
    Catalyst extracts the common per-side conjuncts and pushes them below
    the (broadcast) join — the disjunction does not force a full scan of
    either table's irrelevant rows."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
        .cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q7_nation_trade_flow",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(YEAR FROM l.l_shipdate) AS l_year,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,6))))
                     AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
      AND n1.n_regionkey = 0 AND n2.n_regionkey = 0
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q7_nation_trade_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7's shape: cross-nation trade revenue by ship year through
    a five-way join — the fact table joins two broadcast dimension chains
    (supplier→nation, customer→nation via orders); only the fact side
    shuffles, and only for the final group-by."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0)
    n1 = nat.select(F.col("n_nationkey").alias("s_nk"),
                    F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("c_nk"),
                    F.col("n_name").alias("cust_nation"))
    sdim = F.broadcast(supp.join(F.broadcast(n1),
                                 supp["s_nationkey"] == n1["s_nk"])
                       .select("s_suppkey", "supp_nation"))
    cdim = F.broadcast(cust.join(F.broadcast(n2),
                                 cust["c_nationkey"] == n2["c_nk"])
                       .select("c_custkey", "cust_nation"))
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li["l_orderkey"] == orders["o_orderkey"])
        .join(cdim, F.col("o_custkey") == cdim["c_custkey"])
        .join(sdim, F.col("l_suppkey") == sdim["s_suppkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
             .cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    """
    WITH flows AS (
      SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(18,6))
               * (1 - CAST(l.l_discount AS DECIMAL(18,6))) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      WHERE r.r_name = 'ASIA')
    SELECT o_year,
           CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                              ELSE 0 END) AS DECIMAL(28,6)) AS DOUBLE)
           / CAST(CAST(sum(volume) AS DECIMAL(28,6)) AS DOUBLE)
               AS mkt_share
    FROM flows GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8's shape: one nation's share of a region's revenue per
    year — a conditional-over-total ratio where BOTH sums accumulate in
    exact decimal and only the final division happens in double (decimal
    division scale rules differ across engines; IEEE double division
    does not)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA")
    cdim = F.broadcast(
        cust.join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), F.col("n_regionkey") == reg["r_regionkey"])
        .select("c_custkey"))
    sdim = F.broadcast(
        supp.join(F.broadcast(nat.select(F.col("n_nationkey").alias("snk"),
                                         F.col("n_name").alias("supp_nation"))),
                  supp["s_nationkey"] == F.col("snk"))
        .select("s_suppkey", "supp_nation"))
    volume = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    flows = (
        li.join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
                li["l_orderkey"] == orders["o_orderkey"])
        .join(cdim, F.col("o_custkey") == cdim["c_custkey"])
        .join(sdim, F.col("l_suppkey") == sdim["s_suppkey"])
        .select(F.year("o_orderdate").cast("long").alias("o_year"),
                volume.alias("volume"), "supp_nation")
    )
    nation_vol = F.sum(F.when(F.col("supp_nation") == "NATION_3",
                              F.col("volume")).otherwise(F.lit(0)))
    return (
        flows.groupBy("o_year")
        .agg((nation_vol.cast("decimal(28,6)").cast("double")
              / F.sum("volume").cast("decimal(28,6)").cast("double"))
             .alias("mkt_share"))
        .orderBy("o_year")
    )


@query(
    "pipe_ingest_dedup",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents)
    WHERE rn = 1 ORDER BY doc_id
    """,
)
def pipe_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The content-dedup-at-ingest feature under the correctness gate:
    replay the documents table through a Pipe in two doc_id-ordered
    batches with ``dedup={'method':'exact','column':'text'}``. With
    globally ordered ingestion, "ever-seen content is dropped" is
    equivalent to keeping each text's smallest doc_id — which is exactly
    what the oracle states in one window. Both the fingerprint side
    table's cross-batch memory AND the batch-internal first-wins rule
    are on the hook for the hash to match."""
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe

    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").persist()
    instance = tempfile.mkdtemp(prefix="mrsm_q_ingdedup_")
    try:
        pipe = Pipe(
            "catalog", "ingdedup", instance=instance, spark=spark,
            columns={"datetime": "doc_id", "id": "doc_id"},
            parameters={"dedup": {"method": "exact", "column": "text"},
                        "precision": {"unit": "second"}},
            dtypes={"doc_id": "int64"})
        half = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
        pipe.sync(docs.filter(F.col("doc_id") <= F.lit(int(half))))
        pipe.sync(docs)  # full replay: already-stored content drops
        # re-keyed copies: NEW doc_ids carrying already-seen text — the
        # key-diff alone would insert every one of them; only the
        # fingerprint table's cross-batch content memory drops them
        copies = (docs.withColumn("doc_id",
                                  F.col("doc_id") + F.lit(1_000_000)))
        pipe.sync(copies)
        stored = (pipe.get_data(select_columns=["doc_id", "source"],
                                order=None)
                  .orderBy("doc_id"))
        # sort BEFORE the collect: the gate-materialization pattern
        # (collect, then createDataFrame so the temp store can be
        # dropped) preserves row order, so re-sorting the local result
        # distributed-side would pay a pure-overhead parallelize+sort
        rows = stored.collect()
        return spark.createDataFrame(rows, stored.schema)
    finally:
        docs.unpersist()
        shutil.rmtree(instance, ignore_errors=True)


# ===========================================================================
# TPC-H shapes round 2: correlated-min (Q2), profit rollup (Q9), scalar
# subquery HAVING (Q11), CASE-bucket counts (Q12), nested-agg share (Q20),
# single-blame EXISTS/NOT-EXISTS (Q21) — adapted to the testdata schema
# (no partsupp/commitdate/shipmode; lineitem supplies prices and dates).
# ===========================================================================

@query(
    "q2_min_cost_supplier",
    """
    WITH price AS (
      SELECT l_partkey, l_suppkey,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
               AS unit_price
      FROM lineitem GROUP BY 1, 2),
    eligible AS (
      SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal,
             n.n_name, price.unit_price,
             row_number() OVER (PARTITION BY p.p_partkey
                                ORDER BY price.unit_price ASC,
                                         s.s_suppkey ASC) AS rn
      FROM price
      JOIN part p ON price.l_partkey = p.p_partkey
      JOIN supplier s ON price.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE p.p_type = 'LARGE' AND p.p_size <= 10 AND r.r_name = 'EUROPE')
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
           unit_price
    FROM eligible WHERE rn = 1
    ORDER BY s_acctbal DESC, p_partkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's shape (correlated MIN subquery): for each qualifying
    part, the EUROPE supplier quoting the lowest observed unit price.
    The reference's partsupp.ps_supplycost is absent from the testdata,
    so unit price derives from lineitem (sum price / sum qty, exact
    decimal sums surfaced as double). The correlated `= (SELECT min..)`
    becomes a per-part window rank — one fact shuffle on (part, supp),
    every dimension broadcast; the min-per-part needs no extra shuffle
    because the rank rides the same (part)-clustered exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10))
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE")
    sdim = F.broadcast(
        supp.join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), F.col("n_regionkey") == reg["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    # dimension filters pushed BELOW the aggregate as broadcast
    # semi-joins: only ~4% of parts qualify and ~20% of suppliers are
    # EUROPE, so at fact scale the per-(part,supp) aggregate sees a
    # small fraction of lineitem instead of all of it — per-group sums
    # are unaffected because the semi-joins drop whole groups, never
    # rows within a kept group
    li_scoped = (
        li.join(F.broadcast(part.select("p_partkey")),
                li["l_partkey"] == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(sdim.select("s_suppkey")),
              li["l_suppkey"] == F.col("s_suppkey"), "left_semi"))
    price = (
        li_scoped.groupBy(F.col("l_partkey"), F.col("l_suppkey"))
        .agg((F.sum(_dec("l_extendedprice")).cast("double")
              / F.sum(_dec("l_quantity")).cast("double")).alias("unit_price"))
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("unit_price").asc(), F.col("s_suppkey").asc())
    return (
        price.join(F.broadcast(part), F.col("l_partkey") == part["p_partkey"])
        .join(sdim, F.col("l_suppkey") == sdim["s_suppkey"])
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal",
                "n_name", "unit_price")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1).drop("rn")
        .orderBy(F.col("s_acctbal").desc(), "p_partkey")
    )


@query(
    "q9_product_profit",
    """
    SELECT n.n_name AS nation, EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
           CAST(CAST(sum(
             CAST(l.l_extendedprice AS DECIMAL(18,6))
               * (1 - CAST(l.l_discount AS DECIMAL(18,6)))
             - CAST(0.5 AS DECIMAL(18,6)) * CAST(p.p_retailprice AS DECIMAL(18,6))
               * CAST(l.l_quantity AS DECIMAL(18,6))
           ) AS VARCHAR) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9's shape: per-nation, per-year profit on a part-name
    family. ps_supplycost is absent, so cost is modeled as half the
    part's retail price per unit — the arithmetic stays entirely in
    exact decimal until the final double cast. part/supplier/nation
    broadcast; the only shuffles are the orders join (key = orderkey)
    and the final small group-by."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%gear%"))
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    sdim = F.broadcast(
        supp.join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
        .select("s_suppkey", F.col("n_name").alias("nation")))
    profit = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
              - F.lit(0.5).cast(DEC) * _dec("p_retailprice")
              * _dec("l_quantity"))
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_retailprice")),
                li["l_partkey"] == F.col("p_partkey"))
        .join(sdim, li["l_suppkey"] == sdim["s_suppkey"])
        .join(orders.select("o_orderkey", "o_orderdate"),
              li["l_orderkey"] == F.col("o_orderkey"))
        .groupBy(F.col("nation"),
                 F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(_sum_dbl(profit, "profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "q11_important_stock",
    """
    WITH holdings AS (
      SELECT n.n_name,
             sum(CAST(l.l_quantity AS DECIMAL(18,6))
                 * CAST(p.p_retailprice AS DECIMAL(18,6))) AS value_dec
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY 1),
    total AS (SELECT sum(value_dec) AS total_dec FROM holdings)
    SELECT n_name,
           CAST(CAST(value_dec AS VARCHAR) AS DOUBLE) AS stock_value
    FROM holdings, total
    WHERE CAST(CAST(value_dec AS VARCHAR) AS DOUBLE)
          > 0.04 * CAST(CAST(total_dec AS VARCHAR) AS DOUBLE)
    ORDER BY stock_value DESC, n_name
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11's shape: nations holding an outsized share of total
    stock value — the `HAVING > (SELECT sum(..) * fraction)` scalar
    subquery becomes a broadcast cross-join of the single-row global
    total against the per-nation rollup (25 rows), so the threshold
    comparison never re-scans the fact table. Sums stay decimal-exact;
    the share comparison happens in IEEE double on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    sdim = F.broadcast(
        supp.join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
        .select("s_suppkey", "n_name"))
    value = _dec("l_quantity") * _dec("p_retailprice")
    holdings = (
        li.join(F.broadcast(part.select("p_partkey", "p_retailprice")),
                li["l_partkey"] == F.col("p_partkey"))
        .join(sdim, li["l_suppkey"] == sdim["s_suppkey"])
        .groupBy("n_name")
        .agg(F.sum(value).alias("value_dec"))
    )
    total = holdings.agg(F.sum("value_dec").alias("total_dec"))
    return (
        holdings.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec").cast("double")
                > F.lit(0.04) * F.col("total_dec").cast("double"))
        .select("n_name", F.col("value_dec").cast("double").alias("stock_value"))
        .orderBy(F.col("stock_value").desc(), "n_name")
    )


@query(
    "q12_ship_delay_classes",
    """
    SELECT CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) < 30 THEN 'FAST'
                WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) < 90 THEN 'MEDIUM'
                ELSE 'SLOW' END AS delay_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def q12_ship_delay_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12's shape: line counts split by order priority across
    shipping classes. l_shipmode/commitdate/receiptdate are absent, so
    the class derives from the order-to-ship delay in days. One join
    shuffle on orderkey, then a 3-row conditional aggregation — the
    CASE counters fold map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    delay_class = (F.when(delay < 30, "FAST")
                   .when(delay < 90, "MEDIUM").otherwise("SLOW"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.select("l_orderkey", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(delay_class.alias("delay_class"))
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"))
        .orderBy("delay_class")
    )


@query(
    "q20_excess_share_suppliers",
    """
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
             sum(CAST(l_quantity AS DECIMAL(18,6))) AS sq
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'small%'
      GROUP BY 1, 2),
    part_total AS (
      SELECT l_partkey, sum(sq) AS tq, count(*) AS ns
      FROM shipped GROUP BY 1)
    SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
    FROM shipped
    JOIN part_total USING (l_partkey)
    JOIN supplier s ON shipped.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE CAST(CAST(sq AS VARCHAR) AS DOUBLE)
          > 2.0 * CAST(CAST(tq AS VARCHAR) AS DOUBLE) / ns
    ORDER BY s_suppkey
    """,
)
def q20_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20's shape (nested grouped subquery): suppliers who
    shipped more than 2x their fair share of some part in a name
    family — the reference's `ps_availqty > 0.5 * (SELECT
    sum(l_quantity) ...)` with availability re-derived from shipment
    volume and the threshold made RELATIVE (2x 1/n_suppliers) so the
    predicate keeps selecting at any scale factor (an absolute share
    shrinks as more suppliers touch each part). Both aggregation
    levels group the SAME (part)-keyed rows, so the per-part total
    reuses the first rollup (no second fact scan); dimensions
    broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%"))
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    sdim = F.broadcast(
        supp.join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
        .select("s_suppkey", "s_name", "n_name"))
    shipped = (
        li.join(F.broadcast(part.select("p_partkey")),
                li["l_partkey"] == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("sq"))
    )
    part_total = shipped.groupBy("l_partkey").agg(
        F.sum("sq").alias("tq"), F.count(F.lit(1)).alias("ns"))
    return (
        shipped.join(part_total, on="l_partkey")
        .filter(F.col("sq").cast("double")
                > F.lit(2.0) * F.col("tq").cast("double") / F.col("ns"))
        .join(sdim, F.col("l_suppkey") == sdim["s_suppkey"])
        .select("s_suppkey", "s_name", "n_name").distinct()
        .orderBy("s_suppkey")
    )


@query(
    "q21_waiting_suppliers",
    """
    WITH per_supp AS (
      SELECT l.l_orderkey, l.l_suppkey,
             max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY 1, 2),
    per_order AS (
      SELECT l_orderkey, count(*) AS n_supp, sum(is_late) AS n_late
      FROM per_supp GROUP BY 1)
    SELECT s.s_name, count(*) AS numwait
    FROM per_supp
    JOIN per_order USING (l_orderkey)
    JOIN supplier s ON per_supp.l_suppkey = s.s_suppkey
    WHERE per_supp.is_late = 1 AND per_order.n_supp >= 2
      AND per_order.n_late = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's shape (EXISTS + NOT EXISTS): suppliers who were the
    SOLE late shipper on finished multi-supplier orders. Late derives
    from ship-vs-order date (no commit/receipt dates in the testdata).
    The exists/not-exists pair collapses into one (order, supplier)
    rollup plus an order-level count — the blame filter `n_late = 1 AND
    is_late` IS "exists another supplier, none of them late". Two
    shuffles total (orderkey, then the small name rollup); the
    order-level counts ride the same orderkey clustering."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F")
    supp = load_table(spark, sf_dir, "supplier")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        1).otherwise(0)
    per_supp = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("is_late").alias("n_late"))
    return (
        per_supp.join(per_order, on="l_orderkey")
        .filter((F.col("is_late") == 1) & (F.col("n_supp") >= 2)
                & (F.col("n_late") == 1))
        .join(F.broadcast(supp.select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@query(
    "part_affinity_pairs",
    """
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           count(*) AS n_orders
    FROM ob a JOIN ob b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
    HAVING count(*) >= 20
    ORDER BY n_orders DESC, brand_a, brand_b
    LIMIT 30
    """,
)
def part_affinity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: brand pairs that co-occur in the same
    order, with a minimum-support cut — the classic co-occurrence /
    frequent-itemset probe.

    Scale shape: the oracle's naive form is a self-join on orderkey
    (quadratic in basket width); the Spark plan instead aggregates each
    order's distinct brands into ONE sorted array (map-side-combined
    ``collect_set``, one shuffle on the order key), expands the bounded
    in-basket pairs array-side (baskets are ≤ items-per-order wide, so
    the expansion is O(w²) per order with tiny w), and counts pairs in a
    second map-combined aggregation over ≤ |brands|² keys. No row
    explosion ever leaves a task, and nothing joins order-to-order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    baskets = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
    )
    arr = F.col("brands")
    n = F.size(arr)
    pairs = F.when(
        n >= 2,
        F.flatten(F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(i + 1, n),
                lambda j: F.struct(
                    F.element_at(arr, i).alias("brand_a"),
                    F.element_at(arr, j).alias("brand_b"))))),
    ).otherwise(F.array().cast("array<struct<brand_a:string,brand_b:string>>"))
    return (
        baskets.select(F.explode(pairs).alias("pr"))
        .select("pr.brand_a", "pr.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 20)
        .orderBy(F.col("n_orders").desc(), "brand_a", "brand_b")
        .limit(30)
    )


@query(
    "streaming_topk_trending",
    """
    WITH w AS (
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS win_start,
             event_type
      FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) AS win_start, event_type FROM events),
    c AS (
      SELECT win_start, event_type, count(*) AS n_events
      FROM w GROUP BY 1, 2),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY win_start
                                   ORDER BY n_events DESC, event_type) AS rnk
      FROM c)
    SELECT win_start, event_type, n_events, rnk
    FROM r WHERE rnk <= 3 ORDER BY win_start, rnk
    """,
)
def streaming_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending detection as a STREAMING sliding-window aggregate:
    2-hour windows sliding hourly over the replayed events stream
    (each event lands in two windows), complete output mode,
    availableNow trigger; the per-window top-3 rank runs batch-side on
    the (tiny) aggregated sink. The oracle replays the same window math
    in SQL via a two-window UNION ALL — integer counts, so cross-engine
    hashes are exact.

    Scale shape: the streaming aggregation is incremental per
    micro-batch with state keyed on (window, event_type) — the classic
    trending-topics pattern; at production scale the same query runs
    unchanged with a watermark instead of a bounded replay."""

    sink = _replay_events_to_sink(
        spark, sf_dir,
        lambda s: (s.groupBy(F.window("ts", "2 hours", "1 hour"),
                             F.col("event_type"))
                   .agg(F.count(F.lit(1)).alias("n_events"))),
        "trend", output_mode="complete")
    w = Window.partitionBy("win_start").orderBy(
        F.col("n_events").desc(), "event_type")
    return (
        spark.table(sink)
        .select(F.col("window.start").alias("win_start"), "event_type",
                "n_events")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("win_start", "rnk")
    )


@query(
    "pipe_rollup_incremental",
    """
    WITH fr AS (SELECT event_id AS fid FROM events ORDER BY ts, event_id
                LIMIT 1),
    eff AS (
      SELECT e.ts, e.event_type,
             CASE WHEN e.event_id = (SELECT fid FROM fr) THEN -1.0
                  ELSE e.value END AS value
      FROM events e)
    SELECT date_trunc('hour', ts) AS ts, event_type,
           count(*) AS n_rows,
           CAST(CAST(CAST(sum(CAST(value AS DECIMAL(18,6)))
                          AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE)
               AS sum_value,
           min(value) AS min_value, max(value) AS max_value
    FROM eff GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def pipe_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance under the correctness gate
    (continuous-aggregate analogue; beyond-reference — the reference's
    TimescaleDB backend delegates this to the database). Two overlapping
    sync batches plus one mutated row flow through the pipe under the
    DEFERRED refresh policy (TimescaleDB's actual architecture:
    invalidation log + amortized refresh): each sync records only the
    damaged time range — a driver-side JSON append, zero Spark jobs —
    and the final ``get_rollup`` folds the coalesced ranges in one
    bounded recompute (eager per-sync maintenance remains the default
    and is pinned equivalent in tests/test_rollup.py). The oracle
    recomputes the full hourly rollup from the effective final table —
    deferred maintenance must be indistinguishable from a full rebuild,
    updates included, with exact-decimal sums."""
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe

    events = load_table(spark, sf_dir, "events").persist()
    instance = tempfile.mkdtemp(prefix="mrsm_q_roll_")
    try:
        pipe = Pipe(
            "catalog", "rollup", instance=instance, spark=spark,
            columns={"datetime": "ts", "id": "event_id"},
            parameters={"rollups": [{"name": "hourly", "interval": "hour",
                                     "groupby": ["event_type"],
                                     "values": ["value"],
                                     "refresh": "deferred"}],
                        # daily partition grid: the flush then recomputes
                        # the coalesced damaged window from pruned
                        # partitions, not the whole month — the
                        # incremental claim (test_rollup.py asserts the
                        # pruning on the eager path, which shares
                        # _maintain_rollup_one with the flush)
                        "verify": {"chunk_minutes": 1440}})
        cut = datetime.datetime(2024, 1, 20)
        lo = datetime.datetime(2024, 1, 18)  # 2-day late-data overlap
        pipe.sync(events.filter(F.col("ts") < F.lit(cut)))
        pipe.sync(events.filter(F.col("ts") >= F.lit(lo)))
        first = events.orderBy("ts", "event_id").limit(1).collect()[0]
        mutated = dict(first.asDict())
        mutated["value"] = -1.0
        pipe.sync([mutated])
        ru = (pipe.get_rollup("hourly")
              .select("ts", "event_type", "n_rows",
                      F.col("sum_value").cast("double").alias("sum_value"),
                      "min_value", "max_value")
              .orderBy("ts", "event_type"))
        rows = ru.collect()
        return (spark.createDataFrame(rows, ru.schema)
                .orderBy("ts", "event_type"))
    finally:
        events.unpersist()
        shutil.rmtree(instance, ignore_errors=True)




def _hll_register_cols(user_col: str) -> tuple[F.Column, F.Column]:
    """Shared HLL register math (bucket, rank) for the sketch queries:
    low 8 bits of the 60-bit md5 hash pick one of 256 registers, the
    leading-zero rank of the remaining 52 bits comes from an integer
    string op (length(bin(x)) — no float log2). events_hll_distinct and
    events_hll_merge MUST stay on one implementation: the merge query's
    contract is "same register math"."""
    from meerschaum_spark.catalog import hash60
    h = hash60(F.col(user_col).cast("string"))
    rest = F.shiftright(h, 8)
    rho = F.when(rest == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(rest)))
    return (h % 256).alias("b"), rho.alias("rho")


@query(
    "events_hll_distinct",
    """
    WITH h AS (
      SELECT event_type, user_id,
             (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)
                 AS h
      FROM events),
    regs AS (
      SELECT event_type, h % 256 AS b,
             max(CASE WHEN (h >> 8) = 0 THEN 53
                      ELSE 53 - length(bin(h >> 8)) END) AS m_j
      FROM h GROUP BY 1, 2),
    agg AS (
      SELECT event_type, count(*) AS n_present,
             sum(1::BIGINT << (53 - m_j)) AS s_present
      FROM regs GROUP BY 1),
    ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
           FROM events GROUP BY 1)
    SELECT ex.event_type, ex.n_exact,
           CAST(256 AS BIGINT) AS n_registers,
           CAST(256 - agg.n_present AS BIGINT) AS n_zero_registers,
           CAST(agg.s_present + (256 - agg.n_present) * (1::BIGINT << 53)
                AS BIGINT) AS s_scaled,
           (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0
             / CAST(agg.s_present
                    + (256 - agg.n_present) * (1::BIGINT << 53) AS DOUBLE)
               AS hll_estimate
    FROM ex JOIN agg ON ex.event_type = agg.event_type
    ORDER BY ex.event_type
    """,
)
def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-count sketch, cross-engine
    checked REGISTER FOR REGISTER: md5-derived 60-bit hash (shared
    hash60), low 8 bits pick one of 256 registers, the leading-zero rank
    of the remaining 52 bits comes from an integer string op
    (length(bin(x)) — no float log2 whose rounding could differ), and
    the harmonic-mean denominator Σ2^-M accumulates as an EXACT scaled
    integer (Σ 2^(53-M) ≤ 2^61), so the only floating-point op is the
    final constant-over-integer division — bit-identical in both
    engines. The registers are mergeable (max per bucket), which is the
    100 TB story: per-partition register pages combine map-side, the
    shuffle carries ≤256 rows per group, and the same pages union across
    days/shards. Exact distinct + the raw HLL estimate surface side by
    side (n ≫ 2.5m here, so the raw regime is the active one)."""
    ev = load_table(spark, sf_dir, "events")
    b, rho = _hll_register_cols("user_id")
    regs = (ev.select("event_type", b, rho)
            .groupBy("event_type", "b").agg(F.max("rho").alias("m_j")))
    agg = (regs.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_present"),
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), "
                             "CAST(53 - m_j AS INT))"))
                .alias("s_present")))
    ex = (ev.groupBy("event_type")
          .agg(F.countDistinct("user_id").alias("n_exact")))
    s_scaled = (F.col("s_present")
                + (F.lit(256) - F.col("n_present"))
                * F.lit(9007199254740992))
    alpha_num = (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
                 * F.lit(65536.0) * F.lit(9007199254740992.0))
    return (
        ex.join(agg, on="event_type")
        .select("event_type", "n_exact",
                F.lit(256).cast("long").alias("n_registers"),
                (F.lit(256) - F.col("n_present")).cast("long")
                .alias("n_zero_registers"),
                s_scaled.alias("s_scaled"),
                (alpha_num / s_scaled.cast("double")).alias("hll_estimate"))
        .orderBy("event_type")
    )


@query(
    "streaming_interval_join",
    """
    WITH clicks AS (
      SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
    purch AS (
      SELECT user_id, ts AS p_ts, value FROM events
      WHERE event_type = 'purchase'),
    pairs AS (
      SELECT c.user_id, c.c_ts, p.p_ts, p.value
      FROM clicks c JOIN purch p
        ON c.user_id = p.user_id
       AND p.p_ts >= c.c_ts
       AND p.p_ts < c.c_ts + INTERVAL 30 MINUTE)
    SELECT user_id, count(*) AS n_pairs,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR)
                AS DOUBLE) AS purchase_value
    FROM pairs GROUP BY user_id ORDER BY user_id
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join (§2.10 beyond parity): clicks joined
    to same-user purchases landing within 30 minutes, both sides live
    watermarked streams. This is the Structured Streaming capability the
    other streaming queries don't cover — the state store buffers BOTH
    sides, the watermark (1 hour > the 30-minute join window) bounds how
    long a click waits for a matching purchase, and expired state
    evicts. The availableNow replay of the bounded table is checked
    against the plain batch interval join in DuckDB — streaming and
    batch semantics must coincide once every watermark passes.
    Attribution pairs aggregate batch-side (exact-decimal sum)."""
    import os as _os

    _STREAM_RUN_COUNTER[0] += 1
    sink = f"_mrsm_stream_ij_{_STREAM_RUN_COUNTER[0]}"
    with _stream_replay_confs(spark):
        path = _os.path.join(sf_dir, "events.parquet")
        raw = spark.read.parquet(path)
        stream = (spark.readStream.schema(raw.schema)
                  .option("pathGlobFilter", "events.parquet")
                  .parquet(sf_dir))
        stream = canonicalize_ts(stream, ["ts"])
        clicks = (stream.filter(F.col("event_type") == "click")
                  .select("user_id", F.col("ts").alias("c_ts"))
                  .withWatermark("c_ts", "1 hour"))
        purch = (stream.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_ts"), "value")
                 .withWatermark("p_ts", "1 hour"))
        joined = clicks.join(
            purch,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        q = (joined.writeStream.format("memory").queryName(sink)
             .outputMode("append").trigger(availableNow=True).start())
        finished = q.awaitTermination(300)
        if q.exception() is not None:
            raise q.exception()
        if not finished:
            # a timed-out replay would silently aggregate a PARTIAL
            # stream (and keep mutating the sink behind later queries)
            q.stop()
            raise TimeoutError("streaming replay did not finish in 300 s")
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"),
             F.sum(_dec("value")).cast("double").alias("purchase_value"))
        .orderBy("user_id")
    )


@query(
    "events_gapfill_locf",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6))
                 AS sum_dec
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
    spine AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM events) t,
           bounds,
           (SELECT unnest(generate_series(bounds.h0, bounds.h1,
                                          INTERVAL 1 HOUR)) AS h
            FROM bounds) g),
    joined AS (
      SELECT s.event_type, s.h,
             COALESCE(hourly.n_events, 0) AS n_events,
             CAST(CAST(hourly.sum_dec AS VARCHAR) AS DOUBLE) AS sum_value
      FROM spine s LEFT JOIN hourly
        ON s.event_type = hourly.event_type AND s.h = hourly.h)
    SELECT event_type, h AS bucket_ts, n_events,
           n_events > 0 AS observed,
           last_value(sum_value IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sum_value_locf
    FROM joined ORDER BY event_type, bucket_ts
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series with last-observation-carried-forward —
    the TimescaleDB ``time_bucket_gapfill``+``locf`` analogue (the
    reference's flagship backend exposes it in the database; here it is
    an engine operator). The bucket spine is generated per group over
    the observed [min, max] hour range (sequence + explode — no driver
    loop), missing buckets join as NULL and LOCF is one
    last_value(ignorenulls) window per group. At 100 TB the window
    partitions by series key, so state per task is one series — the
    standard time-series layout; sums accumulate exact decimal before
    the single double surface."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(_dec("value")).cast("decimal(28,6)")
                   .alias("sum_dec")))
    hourly = hourly.transform(_pin)
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (hourly.select("event_type").distinct()
             .crossJoin(F.broadcast(bounds))
             .select("event_type",
                     F.explode(F.sequence(
                         F.col("h0"), F.col("h1"),
                         F.expr("INTERVAL 1 HOUR"))).alias("h")))
    joined = (spine.join(hourly, on=["event_type", "h"], how="left")
              .select("event_type", "h",
                      F.coalesce("n_events", F.lit(0)).alias("n_events"),
                      F.col("sum_dec").cast("double").alias("sum_value")))
    w = (Window.partitionBy("event_type").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (joined.select(
                "event_type", F.col("h").alias("bucket_ts"), "n_events",
                (F.col("n_events") > 0).alias("observed"),
                F.last("sum_value", ignorenulls=True).over(w)
                .alias("sum_value_locf"))
            .orderBy("event_type", "bucket_ts"))


@query(
    "events_markov_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    trans AS (
      SELECT event_type AS prev_type, next_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT prev_type, sum(n) AS n_prev FROM trans GROUP BY 1)
    SELECT t.prev_type, t.next_type, CAST(t.n AS BIGINT) AS n,
           CAST(t.n AS DOUBLE) / CAST(tot.n_prev AS DOUBLE) AS p
    FROM trans t JOIN tot ON t.prev_type = tot.prev_type
    ORDER BY t.prev_type, t.next_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams
    (the behavioral-model primitive behind next-event prediction and
    anomalous-flow detection): lead() within each user's time-ordered
    stream, transition counts, and row-normalized probabilities — two
    exact integer counts divided once in double. The lead window
    shuffles once on user_id; the 5x5 transition matrix is
    driver-trivial at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("event_type",
                    F.lead("event_type").over(w).alias("next_type"))
    trans = (seq.filter(F.col("next_type").isNotNull())
             .groupBy(F.col("event_type").alias("prev_type"), "next_type")
             .agg(F.count(F.lit(1)).alias("n")))
    tot = trans.groupBy("prev_type").agg(F.sum("n").alias("n_prev"))
    return (trans.join(tot, on="prev_type")
            .select("prev_type", "next_type", "n",
                    (F.col("n").cast("double")
                     / F.col("n_prev").cast("double")).alias("p"))
            .orderBy("prev_type", "next_type"))


@query(
    "events_hll_merge",
    """
    WITH h AS (
      SELECT event_id % 2 AS shard,
             (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)
                 AS h
      FROM events),
    r AS (SELECT shard, h % 256 AS b,
                 max(CASE WHEN (h >> 8) = 0 THEN 53
                          ELSE 53 - length(bin(h >> 8)) END) AS m_j
          FROM h GROUP BY 1, 2),
    merged AS (SELECT b, max(m_j) AS m_j FROM r GROUP BY b),
    direct AS (SELECT h % 256 AS b,
                      max(CASE WHEN (h >> 8) = 0 THEN 53
                               ELSE 53 - length(bin(h >> 8)) END) AS m_j
               FROM h GROUP BY 1),
    sm AS (SELECT CAST(sum(1::BIGINT << (53 - m_j))
                       + (256 - count(*)) * (1::BIGINT << 53) AS BIGINT)
                      AS s FROM merged),
    sd AS (SELECT CAST(sum(1::BIGINT << (53 - m_j))
                       + (256 - count(*)) * (1::BIGINT << 53) AS BIGINT)
                      AS s FROM direct)
    SELECT 2 AS n_shards,
           sm.s AS s_merged, sd.s AS s_direct,
           sm.s = sd.s AS merge_exact,
           (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0
             / CAST(sm.s AS DOUBLE) AS hll_estimate
    FROM sm, sd
    """,
)
def events_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL MERGEABILITY contract under the gate: per-shard register
    pages (here two deterministic event_id-parity shards standing in
    for days/files/workers) combine by cell-wise max, and the merged
    page must equal — integer for integer — the page computed over the
    union directly. That equality is WHY the sketch works at 100 TB:
    register pages roll up across partitions, days, and shards without
    re-reading anything. Same register math as events_hll_distinct."""
    ev = load_table(spark, sf_dir, "events")
    b, rho = _hll_register_cols("user_id")
    base = ev.select((F.col("event_id") % 2).alias("shard"), b, rho)
    base = base.transform(_pin)
    shard_regs = (base.groupBy("shard", "b").agg(F.max("rho").alias("m_j")))
    merged = shard_regs.groupBy("b").agg(F.max("m_j").alias("m_j"))
    direct = base.groupBy("b").agg(F.max("rho").alias("m_j"))

    def s_of(regs: DataFrame) -> DataFrame:
        return regs.agg(
            (F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), "
                          "CAST(53 - m_j AS INT))"))
             + (F.lit(256) - F.count(F.lit(1)))
             * F.lit(9007199254740992)).cast("long").alias("s"))

    sm = s_of(merged).withColumnRenamed("s", "s_merged")
    sd = s_of(direct).withColumnRenamed("s", "s_direct")
    alpha_num = (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
                 * F.lit(65536.0) * F.lit(9007199254740992.0))
    return (sm.crossJoin(sd)
            .select(F.lit(2).cast("int").alias("n_shards"),
                    "s_merged", "s_direct",
                    (F.col("s_merged") == F.col("s_direct"))
                    .alias("merge_exact"),
                    (alpha_num / F.col("s_merged").cast("double"))
                    .alias("hll_estimate")))


@query(
    "streaming_pipe_sync",
    """
    SELECT count(*) AS n_rows,
           count(DISTINCT event_id) AS n_ids,
           min(ts) AS min_ts, max(ts) AS max_ts,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR)
                AS DOUBLE) AS sum_value
    FROM events
    """,
)
def streaming_pipe_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCT's streaming ingestion path under the gate: a
    readStream replay drives ``pipe.sync`` micro-batch by micro-batch
    through ``stream_sync_pipe`` (foreachBatch), then the SAME source
    replays again from a fresh checkpoint — the diff must absorb every
    duplicate row (effective exactly-once via idempotent sync, §3.1).
    The stored table's row count, key count, time bounds, and exact-
    decimal value sum must equal a direct aggregate of the source."""
    import os as _os
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe
    from meerschaum_spark.streaming.runner import stream_sync_pipe

    instance = tempfile.mkdtemp(prefix="mrsm_q_spsync_")
    try:
        pipe = Pipe("catalog", "spsync", instance=instance, spark=spark,
                    columns={"datetime": "ts", "id": "event_id"})
        path = _os.path.join(sf_dir, "events.parquet")
        with _stream_replay_confs(spark):
            raw = spark.read.parquet(path)
            for replay in range(2):
                stream = (spark.readStream.schema(raw.schema)
                          .option("pathGlobFilter", "events.parquet")
                          .parquet(sf_dir))
                stream = canonicalize_ts(stream, ["ts"])
                ckpt = _os.path.join(instance, f"_ckpt{replay}")
                q = stream_sync_pipe(pipe, stream, ckpt,
                                     query_name=f"_mrsm_spsync_{replay}")
                finished = q.awaitTermination(300)
                if q.exception() is not None:
                    raise q.exception()
                if not finished:
                    q.stop()
                    raise TimeoutError("streaming sync replay timed out")
        stored = pipe.get_data(order=None)
        row = (stored.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("event_id").alias("n_ids"),
            F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts"),
            F.sum(_dec("value")).cast("double").alias("sum_value"))
            .collect())
        return spark.createDataFrame(
            row, "n_rows long, n_ids long, min_ts timestamp, "
                 "max_ts timestamp, sum_value double")
    finally:
        shutil.rmtree(instance, ignore_errors=True)


@query(
    "events_time_weighted_avg",
    """
    WITH seq AS (
      SELECT user_id, ts, value,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_ts
      FROM events),
    seg AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,6))
               * CAST(epoch_us(next_ts) - epoch_us(ts) AS DECIMAL(20,0))
                 AS wv,
             CAST(epoch_us(next_ts) - epoch_us(ts) AS DECIMAL(20,0))
                 AS w
      FROM seq WHERE next_ts IS NOT NULL),
    agg AS (
      SELECT user_id,
             CAST(sum(wv) AS DECIMAL(38,6)) AS sum_wv,
             CAST(sum(w) AS DECIMAL(38,0)) AS sum_w,
             count(*) AS n_segments
      FROM seg GROUP BY user_id)
    SELECT user_id, n_segments,
           CAST(CAST(sum_wv AS VARCHAR) AS DOUBLE)
           / CAST(CAST(sum_w AS VARCHAR) AS DOUBLE) AS tw_avg
    FROM agg ORDER BY user_id
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB ``time_weight('LOCF')`` hyperfunction analogue (the
    reference's flagship backend ships it in-database): per-user
    time-weighted average of ``value``, each observation weighted by
    how long it remained current (LOCF segments between consecutive
    events). Weighted sums accumulate EXACT decimal (value x duration-µs
    products are exact; a double accumulation would be shuffle-order-
    sensitive) and only the final ratio divides in double. One lead
    window per series key, one aggregation — the standard time-series
    layout."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "ts", "value",
                    F.lead("ts").over(w).alias("next_ts"))
    dur = (F.unix_micros("next_ts") - F.unix_micros("ts"))
    seg = (seq.filter(F.col("next_ts").isNotNull())
           .select("user_id",
                   (_dec("value") * dur.cast("decimal(20,0)")).alias("wv"),
                   dur.cast("decimal(20,0)").alias("w")))
    return (seg.groupBy("user_id")
            .agg(F.sum("wv").cast("decimal(38,6)").alias("sum_wv"),
                 F.sum("w").cast("decimal(38,0)").alias("sum_w"),
                 F.count(F.lit(1)).alias("n_segments"))
            .select("user_id", "n_segments",
                    (F.col("sum_wv").cast("double")
                     / F.col("sum_w").cast("double")).alias("tw_avg"))
            .orderBy("user_id"))


@query(
    "events_counter_delta",
    """
    WITH seq AS (
      SELECT user_id, value,
             lag(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_value
      FROM events),
    d AS (
      SELECT user_id,
             CASE WHEN value >= prev_value
                  THEN CAST(value AS DECIMAL(18,6))
                       - CAST(prev_value AS DECIMAL(18,6))
                  ELSE CAST(value AS DECIMAL(18,6)) END AS delta,
             CASE WHEN value < prev_value THEN 1 ELSE 0 END AS reset
      FROM seq WHERE prev_value IS NOT NULL)
    SELECT user_id,
           CAST(CAST(CAST(sum(delta) AS DECIMAL(38,6)) AS VARCHAR)
                AS DOUBLE) AS counter_delta,
           CAST(sum(reset) AS BIGINT) AS n_resets,
           count(*) AS n_deltas
    FROM d GROUP BY user_id ORDER BY user_id
    """,
)
def events_counter_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB ``counter_agg``/``delta`` hyperfunction analogue:
    per-user accumulated increase of a monotonic-counter-style metric
    with reset detection — a drop below the previous reading counts the
    full new value (the counter restarted), exactly the Prometheus/
    Timescale counter-reset rule. Deltas accumulate exact decimal; one
    lag window per series key."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "value",
                    F.lag("value").over(w).alias("prev_value"))
    d = (seq.filter(F.col("prev_value").isNotNull())
         .select("user_id",
                 F.when(F.col("value") >= F.col("prev_value"),
                        _dec("value") - _dec("prev_value"))
                 .otherwise(_dec("value")).alias("delta"),
                 F.when(F.col("value") < F.col("prev_value"), 1)
                 .otherwise(0).alias("reset")))
    return (d.groupBy("user_id")
            .agg(F.sum("delta").cast("decimal(38,6)").cast("double")
                 .alias("counter_delta"),
                 F.sum("reset").alias("n_resets"),
                 F.count(F.lit(1)).alias("n_deltas"))
            .orderBy("user_id"))


KMV_K = 64
KMV_DOMAIN = float(1 << 60)


@query(
    "events_kmv_intersection",
    f"""
    WITH dh AS (
      SELECT DISTINCT event_type,
             {HASH60_SQL.format(x="CAST(user_id AS VARCHAR)")} AS h
      FROM events),
    sk AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM dh) WHERE rn <= {KMV_K}),
    tp AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM (SELECT DISTINCT event_type FROM events) a,
           (SELECT DISTINCT event_type FROM events) b
      WHERE a.event_type < b.event_type),
    exact AS (
      SELECT x.event_type AS ta, y.event_type AS tb, count(*) AS n_exact
      FROM dh x JOIN dh y
        ON x.h = y.h AND x.event_type < y.event_type
      GROUP BY 1, 2),
    u AS (
      SELECT ta, tb, h FROM tp JOIN sk ON sk.event_type = tp.ta
      UNION
      SELECT ta, tb, h FROM tp JOIN sk ON sk.event_type = tp.tb),
    ur AS (
      SELECT ta, tb, h, row_number() OVER (PARTITION BY ta, tb
                                           ORDER BY h) AS rn
      FROM u),
    uk AS (SELECT ta, tb, h FROM ur WHERE rn <= {KMV_K}),
    kth AS (SELECT ta, tb, max(h) AS h_k, count(*) AS n_u FROM uk
            GROUP BY 1, 2),
    both_ AS (
      SELECT uk.ta, uk.tb, count(*) AS n_both
      FROM uk
      JOIN sk sa ON sa.event_type = uk.ta AND sa.h = uk.h
      JOIN sk sb ON sb.event_type = uk.tb AND sb.h = uk.h
      GROUP BY 1, 2)
    SELECT e.ta AS type_a, e.tb AS type_b, e.n_exact,
           CAST(COALESCE(b.n_both, 0) AS BIGINT) AS n_sketch_both,
           (CASE WHEN k.n_u < {KMV_K} THEN CAST(k.n_u AS DOUBLE)
                 ELSE CAST({KMV_K - 1} AS DOUBLE) * {KMV_DOMAIN!r}
                      / CAST(k.h_k AS DOUBLE) END)
             * (CAST(COALESCE(b.n_both, 0) AS DOUBLE)
                / CAST(k.n_u AS DOUBLE)) AS kmv_intersection_est
    FROM exact e
    JOIN kth k ON e.ta = k.ta AND e.tb = k.tb
    LEFT JOIN both_ b ON e.ta = b.ta AND e.tb = b.tb
    ORDER BY e.ta, e.tb
    """,
)
def events_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) sketch with SET-INTERSECTION estimation
    (Beyer et al. 2007) — the sketch family HLL cannot cover: per
    event type keep the 64 smallest distinct md5-derived user hashes,
    estimate the union size from the union-sketch's k-th minimum
    (D_u ≈ (k-1)·2^60 / h_(k)) and the intersection as the matching
    fraction of the union sketch times that estimate, beside the exact
    intersection. Integer hashes end to end; the only float ops are the
    two final divisions (the >2^53 k-th value rounds to double
    identically in both engines). Sketches are mergeable by
    take-k-smallest-of-union — the 64-row pages combine across shards
    exactly as the pairwise CTE does here."""
    ev = load_table(spark, sf_dir, "events")
    h = hash60(F.col("user_id").cast("string"))
    dh = ev.select("event_type", h.alias("h")).distinct().transform(_pin)
    wk = Window.partitionBy("event_type").orderBy("h")
    sk = (dh.withColumn("rn", F.row_number().over(wk))
          .filter(F.col("rn") <= KMV_K).drop("rn"))
    types = dh.select("event_type").distinct()
    tp = (types.select(F.col("event_type").alias("ta"))
          .crossJoin(types.select(F.col("event_type").alias("tb")))
          .filter(F.col("ta") < F.col("tb")))
    a, b = dh.alias("a"), dh.alias("b")
    exact = (a.join(b, (F.col("a.h") == F.col("b.h"))
                    & (F.col("a.event_type") < F.col("b.event_type")))
             .groupBy(F.col("a.event_type").alias("ta"),
                      F.col("b.event_type").alias("tb"))
             .agg(F.count(F.lit(1)).alias("n_exact")))
    u = (tp.join(sk, sk["event_type"] == tp["ta"]).select("ta", "tb", "h")
         .union(tp.join(sk, sk["event_type"] == tp["tb"])
                .select("ta", "tb", "h"))
         .distinct())
    wu = Window.partitionBy("ta", "tb").orderBy("h")
    uk = (u.withColumn("rn", F.row_number().over(wu))
          .filter(F.col("rn") <= KMV_K).drop("rn").transform(_pin))
    kth = uk.groupBy("ta", "tb").agg(F.max("h").alias("h_k"),
                                     F.count(F.lit(1)).alias("n_u"))
    sa = sk.select(F.col("event_type").alias("_sa"), F.col("h").alias("_ha"))
    sb = sk.select(F.col("event_type").alias("_sb"), F.col("h").alias("_hb"))
    both = (uk.join(sa, (F.col("ta") == F.col("_sa"))
                    & (F.col("h") == F.col("_ha")))
            .join(sb, (F.col("tb") == F.col("_sb"))
                  & (F.col("h") == F.col("_hb")))
            .groupBy("ta", "tb").agg(F.count(F.lit(1)).alias("n_both")))
    # Beyer et al. 2007: the (k-1)/h_(k) extrapolation applies only to a
    # FULL sketch; below k distinct values the sketch IS the union and
    # the exact count n_u is the estimate (otherwise small cardinalities
    # overestimate ~(k-1)*domain/h_k regardless of true size)
    union_est = F.when(F.col("n_u") < KMV_K,
                       F.col("n_u").cast("double")).otherwise(
        F.lit(float(KMV_K - 1)) * F.lit(KMV_DOMAIN)
        / F.col("h_k").cast("double"))
    est = (union_est
           * (F.coalesce(F.col("n_both"), F.lit(0)).cast("double")
              / F.col("n_u").cast("double")))
    return (exact
            .join(kth, on=["ta", "tb"])
            .join(both, on=["ta", "tb"], how="left")
            .select(F.col("ta").alias("type_a"), F.col("tb").alias("type_b"),
                    "n_exact",
                    F.coalesce(F.col("n_both"), F.lit(0)).cast("long")
                    .alias("n_sketch_both"),
                    est.alias("kmv_intersection_est"))
            .orderBy("type_a", "type_b"))


@query(
    "streaming_rollup_maintenance",
    """
    SELECT date_trunc('hour', ts) AS ts, event_type,
           count(*) AS n_rows,
           CAST(CAST(CAST(sum(CAST(value AS DECIMAL(18,6)))
                          AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE)
               AS sum_value,
           min(value) AS min_value, max(value) AS max_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def streaming_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full continuous-ingestion composition under one gate: a
    readStream replay drives pipe.sync micro-batch by micro-batch
    (stream_sync_pipe) into a pipe with an HOURLY ROLLUP configured —
    every micro-batch's write maintains only its patch-touched buckets —
    and the resulting rollup table must equal a full DuckDB rebuild of
    the hourly aggregate over the source. Streaming ingestion,
    idempotent diff, and incremental continuous aggregates proven
    consistent in one pass."""
    import os as _os
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe
    from meerschaum_spark.streaming.runner import stream_sync_pipe

    instance = tempfile.mkdtemp(prefix="mrsm_q_sroll_")
    try:
        pipe = Pipe(
            "catalog", "sroll", instance=instance, spark=spark,
            columns={"datetime": "ts", "id": "event_id"},
            parameters={"rollups": [{"name": "hourly", "interval": "hour",
                                     "groupby": ["event_type"],
                                     "values": ["value"]}],
                        "verify": {"chunk_minutes": 1440}})
        path = _os.path.join(sf_dir, "events.parquet")
        with _stream_replay_confs(spark):
            raw = spark.read.parquet(path)
            stream = (spark.readStream.schema(raw.schema)
                      .option("pathGlobFilter", "events.parquet")
                      .parquet(sf_dir))
            stream = canonicalize_ts(stream, ["ts"])
            ckpt = _os.path.join(instance, "_ckpt")
            q = stream_sync_pipe(pipe, stream, ckpt,
                                 query_name="_mrsm_sroll")
            finished = q.awaitTermination(300)
            if q.exception() is not None:
                raise q.exception()
            if not finished:
                q.stop()
                raise TimeoutError("streaming rollup replay timed out")
        ru = (pipe.get_rollup("hourly")
              .select("ts", "event_type", "n_rows",
                      F.col("sum_value").cast("double").alias("sum_value"),
                      "min_value", "max_value")
              .orderBy("ts", "event_type"))
        rows = ru.collect()
        return (spark.createDataFrame(rows, ru.schema)
                .orderBy("ts", "event_type"))
    finally:
        shutil.rmtree(instance, ignore_errors=True)


@query(
    "events_conversion_latency",
    """
    WITH s AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS purchase_ts
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
      GROUP BY e.user_id),
    lat AS (
      SELECT s.user_id,
             CAST(epoch_us(p.purchase_ts) - epoch_us(s.signup_ts)
                  AS DOUBLE) / 3600e6 AS hours
      FROM s JOIN p ON s.user_id = p.user_id)
    SELECT count(*) AS n_converted,
           quantile_cont(hours, 0.5) AS p50_hours,
           quantile_cont(hours, 0.9) AS p90_hours,
           min(hours) AS min_hours, max(hours) AS max_hours
    FROM lat
    """,
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase conversion latency percentiles — the
    funnel-timing analytic (first qualifying event per user on each
    side, ordered composition, exact interpolated percentiles).
    Latencies are exact microsecond integers scaled once to hours in
    double; two min-aggregations shuffle on user_id and the percentile
    runs over one row per converted user."""
    ev = load_table(spark, sf_dir, "events")
    s = (ev.filter(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("signup_ts")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(s, on="user_id")
         .filter(F.col("ts") >= F.col("signup_ts"))
         .groupBy("user_id").agg(F.min("ts").alias("purchase_ts")))
    lat = (s.join(p, on="user_id")
           .select(((F.unix_micros("purchase_ts")
                     - F.unix_micros("signup_ts")).cast("double")
                    / F.lit(3600e6)).alias("hours")))
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile(hours, 0.5)").alias("p50_hours"),
        F.expr("percentile(hours, 0.9)").alias("p90_hours"),
        F.min("hours").alias("min_hours"),
        F.max("hours").alias("max_hours"))


@query(
    "events_quantile_histogram_est",
    """
    WITH b AS (
      SELECT event_type, CAST(floor(value * 2) AS BIGINT) AS bin,
             count(*) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2),
    cum AS (
      SELECT event_type, bin, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM b)
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           min(CASE WHEN cum >= (n + 1) // 2
                    THEN CAST(bin AS DOUBLE) * 0.5 END) AS p50_est,
           min(CASE WHEN cum >= (9 * n + 9) // 10
                    THEN CAST(bin AS DOUBLE) * 0.5 END) AS p90_est,
           min(CASE WHEN cum >= (99 * n + 99) // 100
                    THEN CAST(bin AS DOUBLE) * 0.5 END) AS p99_est
    FROM cum GROUP BY event_type, n ORDER BY event_type
    """,
)
def events_quantile_histogram_est(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Mergeable quantile estimation (t-digest/HDR-histogram analogue,
    TimescaleDB ``percentile_agg`` hyperfunction): per-type equi-width
    bin counts are the sketch — shards aggregate their own bins and
    merge by summing, then quantiles read off the cumulative bin walk.
    Fully deterministic cross-engine (bin = floor(value*2) is exact
    IEEE arithmetic, ranks use integer ceil forms — no percentile
    interpolation ambiguity). 100 TB shape: the fact scan folds to
    ≤ types × bins rows map-side; the window walks only that sketch."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    bins = (ev.groupBy("event_type",
                       F.floor(F.col("value") * 2).alias("bin"))
            .agg(F.count(F.lit(1)).alias("c")))
    w_cum = Window.partitionBy("event_type").orderBy("bin")
    w_all = Window.partitionBy("event_type")
    cum = bins.select(
        "event_type", "bin", "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"))

    def est(rank_expr, alias):
        return F.min(
            F.when(F.col("cum") >= rank_expr,
                   F.col("bin") * F.lit(0.5))).alias(alias)

    n = F.col("n")
    return (cum.groupBy("event_type", n.cast("long").alias("n"))
            .agg(est(F.floor((n + 1) / 2), "p50_est"),
                 est(F.floor((9 * n + 9) / 10), "p90_est"),
                 est(F.floor((99 * n + 99) / 100), "p99_est"))
            .orderBy("event_type"))


_CDC_SNAPSHOT_SQL = """
    WITH log AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_id % 17 = 0 THEN 'd' ELSE 'u' END AS op
      FROM events),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_changes,
             sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id) AS n_deletes
      FROM log)
    SELECT user_id, ts AS last_ts, event_type AS last_event_type,
           value AS last_value,
           CAST(n_changes AS BIGINT) AS n_changes,
           CAST(n_deletes AS BIGINT) AS n_deletes
    FROM ranked WHERE rn = 1 AND op <> 'd'
    ORDER BY user_id
    """


@query("events_cdc_snapshot", _CDC_SNAPSHOT_SQL)
def events_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction to a latest-state snapshot: each event is an
    upsert or (deterministically derived) delete tombstone for its
    user_id key; the snapshot keeps each key's newest non-tombstone row
    and drops keys whose final op is a delete — the Debezium/Hudi
    read-optimized-view shape. ONE shuffle: the row_number rank and
    both per-key counts ride the same user_id-partitioned window
    exchange (no separate groupBy join)."""
    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.when(F.col("event_id") % 17 == 0, F.lit("d"))
        .otherwise(F.lit("u")).alias("op"))
    w_rank = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    w_all = Window.partitionBy("user_id")
    ranked = log.select(
        "*",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_changes"),
        F.sum(F.when(F.col("op") == "d", 1).otherwise(0))
        .over(w_all).alias("n_deletes"))
    return (ranked.filter((F.col("rn") == 1) & (F.col("op") != "d"))
            .select("user_id", F.col("ts").alias("last_ts"),
                    F.col("event_type").alias("last_event_type"),
                    F.col("value").alias("last_value"),
                    F.col("n_changes").cast("long").alias("n_changes"),
                    F.col("n_deletes").cast("long").alias("n_deletes"))
            .orderBy("user_id"))


@query(
    "events_gapfill_interp",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6))
                 AS sum_dec
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
    spine AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM hourly) t,
           bounds,
           (SELECT unnest(generate_series(bounds.h0, bounds.h1,
                                          INTERVAL 1 HOUR)) AS h
            FROM bounds) g),
    joined AS (
      SELECT s.event_type, s.h,
             CAST(CAST(hourly.sum_dec AS VARCHAR) AS DOUBLE)
                 / CAST(hourly.n_events AS DOUBLE) AS v
      FROM spine s LEFT JOIN hourly
        ON s.event_type = hourly.event_type AND s.h = hourly.h),
    nbr AS (
      SELECT event_type, h, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM joined)
    SELECT event_type, h AS bucket_ts,
           v IS NOT NULL AS observed,
           CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL OR nv IS NULL THEN NULL
             ELSE pv + (nv - pv)
                  * (CAST(epoch_us(h) - epoch_us(pt) AS DOUBLE)
                     / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE))
           END AS v_interp
    FROM nbr ORDER BY event_type, bucket_ts
    """,
)
def events_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly mean with LINEAR interpolation between the
    nearest observed buckets — the TimescaleDB ``interpolate``
    hyperfunction beside the LOCF variant. Two ignore-nulls window walks
    (backward carry of the previous observation and its time, forward
    carry of the next) give each gap its bracketing points; the
    interpolation weight is pure epoch arithmetic, byte-deterministic
    cross-engine. Leading/trailing gaps (no bracket) stay NULL —
    interpolation never extrapolates. Same 100 TB layout as LOCF: state
    per window task is one series."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(_dec("value")).cast("decimal(28,6)")
                   .alias("sum_dec")))
    hourly = hourly.transform(_pin)
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (hourly.select("event_type").distinct()
             .crossJoin(F.broadcast(bounds))
             .select("event_type",
                     F.explode(F.sequence(
                         F.col("h0"), F.col("h1"),
                         F.expr("INTERVAL 1 HOUR"))).alias("h")))
    joined = (spine.join(hourly, on=["event_type", "h"], how="left")
              .select("event_type", "h",
                      (F.col("sum_dec").cast("double")
                       / F.col("n_events").cast("double")).alias("v")))
    back = (Window.partitionBy("event_type").orderBy("h")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fwd = (Window.partitionBy("event_type").orderBy("h")
           .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    obs_t = F.when(F.col("v").isNotNull(), F.col("h"))
    nbr = joined.select(
        "event_type", "h", "v",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_t, ignorenulls=True).over(back).alias("pt"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_t, ignorenulls=True).over(fwd).alias("nt"))
    frac = ((F.unix_micros("h") - F.unix_micros("pt")).cast("double")
            / (F.unix_micros("nt") - F.unix_micros("pt")).cast("double"))
    return (nbr.select(
        "event_type", F.col("h").alias("bucket_ts"),
        F.col("v").isNotNull().alias("observed"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull() | F.col("nv").isNull(),
              F.lit(None).cast("double"))
        .otherwise(F.col("pv")
                   + (F.col("nv") - F.col("pv")) * frac).alias("v_interp"))
        .orderBy("event_type", "bucket_ts"))


@query("streaming_cdc_snapshot", _CDC_SNAPSHOT_SQL)
def streaming_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC latest-state view maintained CONTINUOUSLY: the replayed
    event stream folds through a custom stateful operator
    (``applyInPandasWithState``) holding one snapshot row per key in the
    state store, tombstones included; the final emission per key (the
    monotonic ``n_changes`` maximum) must hash-match the batch window
    oracle — the streaming and batch twins share one SQL contract.
    100 TB shape: state is one row per live key, updates stream in
    update mode, and the sink read is snapshot-sized, never log-sized."""

    from meerschaum_spark.streaming.stateful import stateful_cdc_snapshot

    sink = _replay_events_to_sink(spark, sf_dir, stateful_cdc_snapshot,
                                  "cdc", output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_changes").desc())
    return (
        spark.table(sink)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (~F.col("is_delete")))
        .select("user_id", "last_ts", "last_event_type", "last_value",
                "n_changes", "n_deletes")
        .orderBy("user_id"))


@query(
    "pipe_verify_backfill",
    f"""
    WITH h AS (
      SELECT epoch_us(ts) AS ts_us,
             {HASH60_SQL.format(
                 x="concat_ws('|', event_id, epoch_us(ts), event_type, "
                   "CAST(floor(value * 1000000 + 0.5) AS BIGINT))")} AS h
      FROM events)
    SELECT CAST(ts_us // 86400000000 AS BIGINT) AS day_num,
           count(*) AS n_rows,
           CAST(sum(h >> 30) AS BIGINT) AS digest_hi,
           CAST(sum(h & 1073741823) AS BIGINT) AS digest_lo
    FROM h GROUP BY 1 ORDER BY 1
    """,
)
def pipe_verify_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipe.verify`` — the reference's chunked backfill flagship
    (core/Pipe/_verify.py:18-440) — under the correctness gate: a pipe
    seeded with only the first day re-syncs the FULL range through the
    epoch-aligned chunk grid (7-day chunks, one pooled wave, each
    chunk an independent bounded fetch + idempotent diff sync), and the
    verified table must content-match the source exactly. Chunks touch
    disjoint store partitions, so the pool parallelism is real.

    The check compares per-day row counts plus an exact content digest
    (hash60 over every column) computed DISTRIBUTED over the verified
    table: collecting the full table to the driver for comparison would
    be the collect anti-pattern this repo bans, and at 100 TB the
    digest aggregate is the only shape that works. The digest is split
    into TWO BIGINT sums — ``sum(h >> 30)`` and ``sum(h & (2^30-1))``
    — each ≤ ~2^44 per day-group even at 1000× this sf, because the
    r8/r9 single DECIMAL(38,0) sum exceeded 2^53 and any driver-side
    pandas/float64 materialization silently rounded it (the diagnosed
    hash-red mechanism). Same error-detection power (any row difference
    shifts at least one sum), no wide type anywhere. Every hashed
    component is an integer or raw string: days are epoch-µs integer
    days and the double renders through ``floor(x·10⁶+0.5)`` (one IEEE
    expression, bit-identical on both engines)."""
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe

    events = load_table(spark, sf_dir, "events").persist()
    instance = tempfile.mkdtemp(prefix="mrsm_q_verify_")
    try:
        pipe = Pipe(
            "catalog", "verify", instance=instance, spark=spark,
            columns={"datetime": "ts", "id": "event_id"},
            parameters={"verify": {"chunk_minutes": 10080}})
        row = events.agg(F.min("ts").alias("lo"),
                         F.max("ts").alias("hi")).first()
        lo, hi = row["lo"], row["hi"]
        pipe.sync(events.filter(
            F.col("ts") < F.lit(lo + datetime.timedelta(days=1))))

        def src(b, e):
            return events.filter((F.col("ts") >= F.lit(b))
                                 & (F.col("ts") < F.lit(e)))

        # pool sized so the month's five 7-day chunks run as ONE wave
        # (chunks touch disjoint store partitions; a second wave would
        # just serialize the same work behind idle executors)
        res = pipe.verify(source=src, begin=lo,
                          end=hi + datetime.timedelta(microseconds=1),
                          workers=8, bound_days=None)
        if not res.success:
            raise RuntimeError(f"verify failed: {res.message}")
        stored = pipe.get_data(
            select_columns=["ts", "event_id", "event_type", "value"],
            order=None)
        digest = hash60(F.concat_ws(
            "|", F.col("event_id"), F.unix_micros(F.col("ts")),
            F.col("event_type"),
            F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")))
        out = (stored
               # epoch is nonnegative: truncating div == oracle floor //
               .groupBy(F.expr("unix_micros(ts) div 86400000000")
                        .cast("long").alias("day_num"))
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.sum(F.shiftright(digest, 30))
                    .cast("long").alias("digest_hi"),
                    F.sum(digest.bitwiseAND(F.lit(1073741823)))
                    .cast("long").alias("digest_lo"))
               .orderBy("day_num"))
        rows = out.collect()  # tiny (one row per day) — freeze before rmtree
        return spark.createDataFrame(rows, out.schema).orderBy("day_num")
    finally:
        events.unpersist()
        shutil.rmtree(instance, ignore_errors=True)


@query(
    "events_state_durations",
    """
    WITH seq AS (
      SELECT user_id, event_type AS state, ts,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_ts
      FROM events)
    SELECT state,
           CAST(sum(epoch_us(next_ts) - epoch_us(ts)) AS BIGINT)
               AS total_us,
           count(*) AS n_intervals
    FROM seq WHERE next_ts IS NOT NULL
    GROUP BY state ORDER BY state
    """,
)
def events_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB ``state_agg`` hyperfunction analogue: time spent in
    each state, attributing every inter-event interval to the state the
    user was in when it began (one lead window per series key, exact
    integer-microsecond sums — no float drift at any scale)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", F.col("event_type").alias("state"), "ts",
                    F.lead("ts").over(w).alias("next_ts"))
    return (seq.filter(F.col("next_ts").isNotNull())
            .groupBy("state")
            .agg(F.sum(F.unix_micros("next_ts") - F.unix_micros("ts"))
                 .cast("long").alias("total_us"),
                 F.count(F.lit(1)).alias("n_intervals"))
            .orderBy("state"))


@query(
    "events_uptime_agg",
    """
    WITH seq AS (
      SELECT user_id, ts,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS nxt
      FROM events)
    SELECT user_id,
           CAST(sum(LEAST(epoch_us(nxt) - epoch_us(ts), 3600000000))
                AS BIGINT) AS covered_us,
           CAST(sum(CASE WHEN epoch_us(nxt) - epoch_us(ts) > 3600000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dead_gaps,
           count(*) AS n_heartbeats
    FROM seq WHERE nxt IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def events_uptime_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB ``heartbeat_agg`` analogue: per key, the liveness
    time covered by heartbeats under a 1-hour tolerance — each gap
    contributes min(gap, tolerance), and gaps beyond it count as dead
    periods. One lag/lead window per series, integer-µs arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    tol = 3_600_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "ts", F.lead("ts").over(w).alias("nxt"))
    gap = F.unix_micros("nxt") - F.unix_micros("ts")
    return (seq.filter(F.col("nxt").isNotNull())
            .groupBy("user_id")
            .agg(F.sum(F.least(gap, F.lit(tol))).cast("long")
                 .alias("covered_us"),
                 F.sum(F.when(gap > tol, 1).otherwise(0)).cast("long")
                 .alias("n_dead_gaps"),
                 F.count(F.lit(1)).alias("n_heartbeats"))
            .orderBy("user_id"))


@query(
    "events_session_window_native",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       >= 1800000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    isl AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS sid
      FROM seq)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM isl GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def events_session_window_native(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Spark's NATIVE ``session_window`` (dynamic-gap session assignment
    inside the aggregation operator, no explicit window function)
    cross-checked against the classic gaps-and-islands SQL — proving the
    built-in's semantics coincide with the manual lag + running-sum
    construction the engine uses elsewhere (events_sessionization). The
    native form is the 100 TB choice: sessions form inside one hash
    aggregation with map-side partials, no full-partition sort.

    Boundary semantics: ``session_window``'s end is EXCLUSIVE
    ([start, last+gap)), so an event arriving exactly ``gap`` after its
    predecessor starts a NEW session — the oracle's gap test is ``>=``,
    and both windows order by (ts, event_id) so tied timestamps
    straddling a session boundary resolve deterministically."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("user_id",
                       F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events")
            .orderBy("user_id", "session_start"))


# ===========================================================================
# r7 additions: OHLC candlestick rollup (TimescaleDB candlestick_agg /
# ohlc analogue) and the 2-D skyline (Pareto) operator
# ===========================================================================

@query(
    "events_ohlc_candles",
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             ts, event_id, value
      FROM events),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, bucket
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, bucket
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM b)
    SELECT event_type, bucket,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n_trades
    FROM r GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def events_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB ``candlestick_agg``/``ohlc`` analogue: per
    (series, hour) — open (value at the first (ts, event_id)), high,
    low, close (value at the last), and trade count.

    Scale shape: ONE hash aggregation — ``min_by``/``max_by`` over the
    (ts, event_id) struct are decomposable, so open/close combine
    map-side like min/max do, and no per-bucket sort or window ever
    materializes (the oracle's double row_number window is exactly the
    shape this avoids). Ties are impossible because event_id is unique;
    the struct order makes the choice deterministic anyway."""
    ev = load_table(spark, sf_dir, "events")
    order = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("event_type",
                   F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(F.min_by("value", order).alias("open"),
             F.max("value").alias("high"),
             F.min("value").alias("low"),
             F.max_by("value", order).alias("close"),
             F.count(F.lit(1)).alias("n_trades"))
        .orderBy("event_type", "bucket")
    )


@query(
    "part_skyline_pareto",
    """
    SELECT p_partkey, p_retailprice, p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice
        AND q.p_size <= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size))
    ORDER BY p_retailprice, p_size, p_partkey
    """,
)
def part_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-optimal) parts minimizing (retail price, size):
    a part survives iff no other part is ≤ on both axes and < on one.

    Scale shape: the classic sort-filter skyline collapsed to
    aggregations — min size per distinct price (hash agg), a window over
    DISTINCT PRICES only (thousands of rows, not the table) for the
    strictly-cheaper running minimum, then a broadcast join back. The
    oracle is the quadratic NOT EXISTS definition, which is exactly the
    all-pairs shape this avoids: a row is dominated iff a strictly
    cheaper price achieved ≤ its size, or its own price point achieved a
    strictly smaller size. Equal (price, size) duplicates dominate
    neither each other nor themselves, matching the definition."""
    part = load_table(spark, sf_dir, "part")
    per_price = (part.groupBy("p_retailprice")
                 .agg(F.min("p_size").alias("_min_sz")))
    w = (Window.orderBy("p_retailprice")
         .rowsBetween(Window.unboundedPreceding, -1))
    frontier = per_price.withColumn("_cheaper_min_sz",
                                    F.min("_min_sz").over(w))
    dominated = (
        (F.col("_cheaper_min_sz").isNotNull()
         & (F.col("_cheaper_min_sz") <= F.col("p_size")))
        | (F.col("_min_sz") < F.col("p_size"))
    )
    return (part.join(F.broadcast(frontier), on="p_retailprice")
            .filter(~dominated)
            .select("p_partkey", "p_retailprice", "p_size")
            .orderBy("p_retailprice", "p_size", "p_partkey"))


@query(
    "events_ema_sequential",
    """
    WITH RECURSIVE base AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL),
    rec AS (
      SELECT user_id, ts, event_id, rn, y AS ema FROM base WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.ts, b.event_id, b.rn,
             (r.ema + b.y) // 2
      FROM rec r JOIN base b
        ON b.user_id = r.user_id AND b.rn = r.rn + 1)
    SELECT user_id, ts, event_id, ema AS ema_scaled
    FROM rec ORDER BY user_id, ts, event_id
    """,
)
def events_ema_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series EWMA (α = 1/2) as an INTEGER recurrence
    (S₁ = y₁; Sᵢ = ⌊(Sᵢ₋₁ + yᵢ)/2⌋ over µ-scaled values) — the catalog's
    demonstration of the ``applyInPandas`` escape hatch for genuinely
    SEQUENTIAL per-key algorithms that no window/aggregate composition
    expresses: each group arrives as one Arrow batch, the recurrence
    runs in plain Python ints, and groups parallelize across the
    cluster (one shuffle on the series key — state never leaves a
    group). The integer floor makes the result bit-exact cross-engine;
    the oracle replays the identical recurrence as a recursive CTE.

    Scale note: per-group state is O(1); the only cost driver is the
    largest single series (same bound any per-key sequential algorithm
    has) — measured under a 50%-hot-series corpus in
    ``test_scale_soak.py::test_sequential_ops_survive_hot_series``.
    Escape valve if one series outgrows a task: the recurrence IS
    chunkable, because a whole chunk collapses to an affine map —
    folding rows i..j sends S ↦ (S + c) / 2^(j-i) with
    c = Σ y_k·2^(k-i), so chunks can be folded in parallel to
    (shift, carry) pairs and composed left-to-right
    ((s2, c2)∘(s1, c1) = (s1+s2, c1·2^s2 + c2)); the exact INTEGER
    floor-division variant additionally has to carry the deferred
    remainder bits (widen c to arbitrary precision before the final
    floor), which is why the simple per-series fold stays the default
    until a real corpus needs the chunked form. Float EWMA at 100 TB
    would instead use the closed-form log-domain scan or accept
    non-associativity.

    Partitioning: the EXPLICIT numbered repartition on the series key is
    load-bearing — AQE coalesces the grouping shuffle by BYTE size, and
    a python-CPU-bound stage measured in per-group call overhead (not
    bytes) was squeezed onto 2 tasks (measured 3× slower). Catalyst
    reuses the explicit hash partitioning for the groupBy, so there is
    no second shuffle."""
    n_par = spark.sparkContext.defaultParallelism
    # NULL measurements are excluded up front (mirrored in the oracle's
    # WHERE): an EWMA over NULL is undefined, and Arrow would otherwise
    # hand the python fold a NaN-poisoned float column
    ev = (load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
        .cast("long").alias("y"))
        .repartition(n_par, "user_id"))

    def ema(pdf):
        pdf = pdf.sort_values(["ts", "event_id"])
        out = []
        s = None
        for y in pdf["y"]:
            y = int(y)
            s = y if s is None else (s + y) // 2
            out.append(s)
        pdf = pdf[["user_id", "ts", "event_id"]].copy()
        pdf["ema_scaled"] = out
        return pdf

    return (ev.groupBy("user_id")
            .applyInPandas(
                ema,
                "user_id long, ts timestamp, event_id long, "
                "ema_scaled long")
            .orderBy("user_id", "ts", "event_id"))


@query(
    "events_lttb_downsample",
    """
WITH RECURSIVE base AS (
  SELECT user_id, ts, event_id,
         epoch_us(ts) // 1000000
           - min(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id) AS x,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events WHERE value IS NOT NULL),
small AS (SELECT user_id, ts, event_id, y FROM base WHERE n <= 12),
big AS (SELECT * FROM base WHERE n > 12),
mid AS (SELECT *, ((rn - 2) * 10) // (n - 2) AS b
        FROM big WHERE rn >= 2 AND rn <= n - 1),
cand AS (SELECT user_id, b,
                list(struct_pack(rn := rn, x := x, y := y) ORDER BY rn) AS pts
         FROM mid GROUP BY user_id, b),
nxt AS (
  SELECT m.user_id, m.b - 1 AS b,
         sum(m.x) AS sx, sum(m.y) AS sy, count(*) AS c
  FROM mid m WHERE m.b >= 1 GROUP BY m.user_id, m.b
  UNION ALL
  SELECT g.user_id, 9 AS b, g.x AS sx, g.y AS sy, 1 AS c
  FROM big g WHERE g.rn = g.n),
rec AS (
  SELECT user_id, CAST(-1 AS BIGINT) AS b, x AS px, y AS py, rn AS sel_rn
  FROM big WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.b + 1,
         c.pts[list_position(
             list_transform(c.pts, p ->
               abs((r.px * nx.c - nx.sx) * (p.y - r.py)
                   - (r.px - p.x) * (nx.sy - r.py * nx.c))),
             list_max(list_transform(c.pts, p ->
               abs((r.px * nx.c - nx.sx) * (p.y - r.py)
                   - (r.px - p.x) * (nx.sy - r.py * nx.c)))))].x,
         c.pts[list_position(
             list_transform(c.pts, p ->
               abs((r.px * nx.c - nx.sx) * (p.y - r.py)
                   - (r.px - p.x) * (nx.sy - r.py * nx.c))),
             list_max(list_transform(c.pts, p ->
               abs((r.px * nx.c - nx.sx) * (p.y - r.py)
                   - (r.px - p.x) * (nx.sy - r.py * nx.c)))))].y,
         c.pts[list_position(
             list_transform(c.pts, p ->
               abs((r.px * nx.c - nx.sx) * (p.y - r.py)
                   - (r.px - p.x) * (nx.sy - r.py * nx.c))),
             list_max(list_transform(c.pts, p ->
               abs((r.px * nx.c - nx.sx) * (p.y - r.py)
                   - (r.px - p.x) * (nx.sy - r.py * nx.c)))))].rn
  FROM rec r
  JOIN cand c ON c.user_id = r.user_id AND c.b = r.b + 1
  JOIN nxt nx ON nx.user_id = r.user_id AND nx.b = r.b + 1),
sel AS (
  SELECT r.user_id, b2.ts, b2.event_id, b2.y
  FROM rec r JOIN base b2 ON b2.user_id = r.user_id AND b2.rn = r.sel_rn
  UNION ALL
  SELECT user_id, ts, event_id, y FROM big WHERE rn = n
  UNION ALL
  SELECT user_id, ts, event_id, y FROM small)
SELECT user_id, ts, event_id, y AS value_scaled
FROM sel ORDER BY user_id, ts, event_id
    """,
)
def events_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (TimescaleDB
    ``lttb`` hyperfunction / Steinarsson 2013): each series keeps its
    first and last points plus, per bucket, the point forming the
    largest triangle with the PREVIOUSLY SELECTED point and the next
    bucket's centroid — a greedy SEQUENTIAL choice no window/aggregate
    composition expresses, so it runs per-series in ``applyInPandas``
    (one shuffle on the series key; each group is one Arrow batch;
    groups parallelize across executors).

    Exactness contract: x is per-series-relative epoch SECONDS and y is
    µ-scaled to integers, so the triangle areas are exact integer
    arithmetic (the centroid divide is cleared by multiplying through
    by the next bucket's count) — bounded well inside int64 — and the
    greedy argmax (ties → earliest point) is bit-identical to the
    oracle's recursive CTE, which replays the same recurrence with
    list-argmax steps. T=12 points out, B=10 interior buckets; series
    with ≤ T points pass through whole. The explicit numbered
    repartition sizes the python stage by CORES, not bytes (see
    events_ema_sequential)."""
    T, B = 12, 10
    n_par = spark.sparkContext.defaultParallelism
    # NULL measurements excluded (mirrored in the oracle); x uses integer
    # DIV, not float division — float-divide-then-cast truncates toward
    # zero and diverges from the oracle's floor for pre-1970 timestamps
    ev = (load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
        "user_id", "ts", "event_id",
        F.expr("unix_micros(ts) DIV 1000000").alias("xs"),
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
        .cast("long").alias("y"))
        .repartition(n_par, "user_id"))

    def lttb(pdf):
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        base_x = int(pdf["xs"].min())
        pts = [(r.ts, int(r.event_id), int(r.xs) - base_x, int(r.y))
               for r in pdf.itertuples()]
        n = len(pts)
        if n <= T:
            sel = pts
        else:
            first, last = pts[0], pts[-1]
            mids = pts[1:-1]
            buckets = [[] for _ in range(B)]
            for k, p in enumerate(mids):
                buckets[(k * B) // (n - 2)].append(p)
            sel = [first]
            prev = first
            for b in range(B):
                if b < B - 1:
                    nb = buckets[b + 1]
                    sx = sum(p[2] for p in nb)
                    sy = sum(p[3] for p in nb)
                    c = len(nb)
                else:
                    sx, sy, c = last[2], last[3], 1
                best, best_area = None, -1
                for p in buckets[b]:
                    area = abs((prev[2] * c - sx) * (p[3] - prev[3])
                               - (prev[2] - p[2]) * (sy - prev[3] * c))
                    if area > best_area:
                        best_area, best = area, p
                sel.append(best)
                prev = best
            sel.append(last)
        import pandas as _pd
        uid = int(pdf["user_id"].iloc[0])
        return _pd.DataFrame({
            "user_id": [uid] * len(sel),
            "ts": [p[0] for p in sel],
            "event_id": [p[1] for p in sel],
            "value_scaled": [p[3] for p in sel],
        })

    return (ev.groupBy("user_id")
            .applyInPandas(
                lttb,
                "user_id long, ts timestamp, event_id long, "
                "value_scaled long")
            .orderBy("user_id", "ts", "event_id"))


@query(
    "streaming_ema_sequential",
    """
    WITH RECURSIVE base AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL),
    rec AS (
      SELECT user_id, rn, y AS ema FROM base WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.rn, (r.ema + b.y) // 2
      FROM rec r JOIN base b
        ON b.user_id = r.user_id AND b.rn = r.rn + 1),
    fin AS (SELECT user_id, max(rn) AS n_events FROM rec GROUP BY user_id)
    SELECT r.user_id, f.n_events, r.ema AS ema_scaled
    FROM rec r JOIN fin f ON r.user_id = f.user_id AND r.rn = f.n_events
    ORDER BY r.user_id
    """,
)
def streaming_ema_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sequential EWMA maintained CONTINUOUSLY: the event stream
    replays through ``stateful_ema`` (``applyInPandasWithState`` — two
    longs of state per key), and the final per-key (n, ema) must equal
    the batch recurrence's last row — streaming and batch twins share
    one recursive-CTE oracle, the same twin discipline as the CDC
    snapshot pair. Readers keep the max-``n_events`` emission per key
    (monotonic across micro-batches)."""

    from meerschaum_spark.streaming.stateful import stateful_ema

    sink = _replay_events_to_sink(spark, sf_dir, stateful_ema,
                                  "ema", output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (spark.table(sink)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "n_events", "ema_scaled")
            .orderBy("user_id"))


@query(
    "events_max_drawdown",
    """
    WITH base AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL),
    runs AS (
      SELECT user_id, y,
             max(y) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS peak
      FROM base)
    SELECT user_id, max(peak - y) AS max_drawdown_scaled,
           count(*) AS n_points
    FROM runs GROUP BY user_id ORDER BY user_id
    """,
)
def events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series maximum drawdown (largest peak-to-trough drop of the
    running maximum — the classic risk metric): a running-max window
    plus one aggregate, entirely window-expressible, in µ-scaled integer
    arithmetic so the cross-engine match is exact.

    Scale shape: ONE shuffle — the window's hash partitioning on the
    series key satisfies the following groupBy's distribution
    requirement, so the aggregate adds no exchange; everything is
    whole-stage-codegen JVM arithmetic (contrast with the applyInPandas
    sequential family: a running max IS associative, so no Python escape
    hatch is needed here)."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("user_id", "ts", "event_id",
                  F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                  .cast("long").alias("y")))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    runs = ev.withColumn("peak", F.max("y").over(w))
    return (runs.groupBy("user_id")
            .agg(F.max(F.col("peak") - F.col("y"))
                 .alias("max_drawdown_scaled"),
                 F.count(F.lit(1)).alias("n_points"))
            .orderBy("user_id"))


#: CUSUM parameters in µ-scaled units: allowance (slack) subtracted from
#: every deviation, and the alarm threshold. Shared by the Spark fold and
#: the recursive-CTE oracle below — one source of truth.
CUSUM_K = 25_000_000
CUSUM_H = 200_000_000


@query(
    "events_cusum_changepoint",
    f"""
    WITH RECURSIVE base AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL),
    tgt AS (SELECT user_id, CAST(sum(y) AS BIGINT) // count(*) AS target
            FROM base GROUP BY user_id),
    b2 AS (SELECT b.*, t.target FROM base b JOIN tgt t USING (user_id)),
    rec AS (
      SELECT user_id, ts, event_id, rn, target,
             greatest(0, y - target - {CUSUM_K}) AS sp,
             greatest(0, target - y - {CUSUM_K}) AS sn
      FROM b2 WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.ts, b.event_id, b.rn, b.target,
             greatest(0, (CASE WHEN r.sp > {CUSUM_H} OR r.sn > {CUSUM_H}
                          THEN 0 ELSE r.sp END) + b.y - b.target - {CUSUM_K}),
             greatest(0, (CASE WHEN r.sp > {CUSUM_H} OR r.sn > {CUSUM_H}
                          THEN 0 ELSE r.sn END) + b.target - b.y - {CUSUM_K})
      FROM rec r JOIN b2 b
        ON b.user_id = r.user_id AND b.rn = r.rn + 1)
    SELECT user_id, ts, event_id, sp AS s_pos, sn AS s_neg,
           CASE WHEN sp > {CUSUM_H} OR sn > {CUSUM_H} THEN 1 ELSE 0 END
             AS alarm
    FROM rec ORDER BY user_id, ts, event_id
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point detection per series (Page 1954):
    s⁺ᵢ = max(0, s⁺ᵢ₋₁ + yᵢ − target − k), s⁻ᵢ symmetric, alarm when
    either exceeds h, then both RESET to 0. The clamp-and-reset makes
    the recurrence non-associative — no window/aggregate composition
    expresses it, so it joins the sequential ``applyInPandas`` family
    (EWMA, LTTB): one shuffle on the series key, per-group Python ints,
    cores-sized explicit repartition. The per-series target is the
    integer-floored mean — divisions only ever see non-negative sums
    (values are µ-scaled magnitudes), so DuckDB's truncating ``//``
    and Python's flooring ``//`` agree; every other step is +/−/max on
    longs, bit-exact cross-engine against the recursive-CTE oracle."""
    n_par = spark.sparkContext.defaultParallelism
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("user_id", "ts", "event_id",
                  F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                  .cast("long").alias("y"))
          .repartition(n_par, "user_id"))
    K, H = CUSUM_K, CUSUM_H

    def cusum(pdf):
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        ys = [int(v) for v in pdf["y"]]
        target = sum(ys) // len(ys)
        sp = sn = 0
        sps, sns, alarms = [], [], []
        for y in ys:
            sp = max(0, sp + y - target - K)
            sn = max(0, sn + target - y - K)
            alarm = 1 if (sp > H or sn > H) else 0
            sps.append(sp)
            sns.append(sn)
            alarms.append(alarm)
            if alarm:
                sp = sn = 0
        out = pdf[["user_id", "ts", "event_id"]].copy()
        out["s_pos"] = sps
        out["s_neg"] = sns
        out["alarm"] = alarms
        return out

    return (ev.groupBy("user_id")
            .applyInPandas(
                cusum,
                "user_id long, ts timestamp, event_id long, "
                "s_pos long, s_neg long, alarm int")
            .orderBy("user_id", "ts", "event_id"))


from meerschaum_spark.streaming.stateful import (  # noqa: E402
    STREAM_CUSUM_H as _SC_H,
    STREAM_CUSUM_K as _SC_K,
    STREAM_CUSUM_TARGET as _SC_T,
)

_SC_UP = _SC_T + _SC_K    # y above this grows s_pos
_SC_DN = _SC_T - _SC_K    # y below this grows s_neg
_SC_RESET = (f"CASE WHEN r.sp > {_SC_H} OR r.sn > {_SC_H} "
             "THEN 0 ELSE r.{s} END")
_SC_SP = (f"greatest(0, ({_SC_RESET.format(s='sp')}) + b.y - {_SC_UP})")
_SC_SN = (f"greatest(0, ({_SC_RESET.format(s='sn')}) + {_SC_DN} - b.y)")


@query(
    "streaming_cusum_alarms",
    f"""
    WITH RECURSIVE base AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL),
    rec AS (
      SELECT user_id, rn,
             greatest(0, y - {_SC_UP}) AS sp,
             greatest(0, {_SC_DN} - y) AS sn,
             CASE WHEN greatest(0, y - {_SC_UP}) > {_SC_H}
                    OR greatest(0, {_SC_DN} - y) > {_SC_H}
                  THEN 1 ELSE 0 END AS alarms
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.rn,
             {_SC_SP},
             {_SC_SN},
             r.alarms + CASE WHEN {_SC_SP} > {_SC_H}
                               OR {_SC_SN} > {_SC_H}
                        THEN 1 ELSE 0 END
      FROM rec r JOIN base b
        ON b.user_id = r.user_id AND b.rn = r.rn + 1),
    fin AS (SELECT user_id, max(rn) AS n_events FROM rec GROUP BY user_id)
    SELECT r.user_id, f.n_events,
           CASE WHEN r.sp > {_SC_H} OR r.sn > {_SC_H}
                THEN 0 ELSE r.sp END AS s_pos,
           CASE WHEN r.sp > {_SC_H} OR r.sn > {_SC_H}
                THEN 0 ELSE r.sn END AS s_neg,
           r.alarms AS n_alarms
    FROM rec r JOIN fin f
      ON r.user_id = f.user_id AND r.rn = f.n_events
    ORDER BY r.user_id
    """,
)
def streaming_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online change detection maintained CONTINUOUSLY: the event stream
    replays through ``stateful_cusum`` (four longs of state per key) and
    the final per-key (n, s_pos, s_neg, n_alarms) must equal replaying
    the same reset recurrence in one pass — streaming/batch twin
    discipline, one shared recursive-CTE oracle. UNLIKE the batch
    ``events_cusum_changepoint`` (target = per-series sample mean, a
    bounded-scan quantity), the stream monitors deviation from a KNOWN
    reference target — Page's original formulation and the only
    causally-computable one on unbounded data; the emitted state is
    POST-reset, so the oracle zeroes an alarming row's accumulators in
    its final projection."""
    from meerschaum_spark.streaming.stateful import stateful_cusum

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    sink = _replay_events_to_sink(spark, sf_dir, stateful_cusum,
                                  "cusum", output_mode="update")
    return (spark.table(sink)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "n_events", "s_pos", "s_neg", "n_alarms")
            .orderBy("user_id"))


# ===========================================================================
# r8 additions round 2: graph analytics, time-series diagnostics, and
# distributed total-order ranking
# ===========================================================================

#: session-scoped cache for the support-2 part co-purchase edge list:
#: part_triangle_count and part_pagerank derive the IDENTICAL frame
#: (basket expansion over lineitem + support filter, ~3-4 s incl. the
#: checkpoint at sf0.1); one materialization per (session, sf_dir)
#: amortizes it — the queries_llm._cached_sigs economics. Every
#: invocation still computes it fresh from the parquet inputs.
_PART_EDGE_CACHE: dict = {}


def _part_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meerschaum_spark.functions.graph import basket_pairs, support_edges
    app_id = spark.sparkContext.applicationId
    for stale in [k for k in _PART_EDGE_CACHE if k[0] != app_id]:
        del _PART_EDGE_CACHE[stale]
    key = (app_id, sf_dir)
    df = _PART_EDGE_CACHE.get(key)
    if df is None:
        import time as _time
        from meerschaum_spark import cache_log
        t0 = _time.perf_counter()
        li = load_table(spark, sf_dir, "lineitem")
        df = support_edges(
            basket_pairs(li, "l_orderkey", "l_partkey"), 2).transform(_pin)
        cache_log.record("part_edges", _time.perf_counter() - t0)
        cache_log.register_evictor(
            "part_edges", lambda k=key: _PART_EDGE_CACHE.pop(k, None) and None)
        _PART_EDGE_CACHE[key] = df
    return df


@query(
    "part_triangle_count",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    t AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
    nodes AS (
      SELECT a AS p_partkey FROM t
      UNION ALL SELECT b FROM t
      UNION ALL SELECT c FROM t)
    SELECT p_partkey, count(*) AS n_triangles
    FROM nodes GROUP BY 1
    ORDER BY n_triangles DESC, p_partkey
    LIMIT 20
    """,
)
def part_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting on the part co-purchase graph
    (edge = two parts bought together in >= 2 distinct orders): the
    graph-structure probe behind community detection and co-occurrence
    clustering.

    Scale shape — the classic degree-ordered node-iterator (Suri &
    Vassilvitskii's MapReduce formulation):

    * edges come from per-order baskets (map-side-combined
      ``collect_set`` + in-task array pair expansion, like
      ``part_affinity_pairs`` — never an order×order join);
    * each undirected edge is ORIENTED from its lower-(degree, id)
      endpoint to the higher; every wedge is then generated at its
      lowest-degree apex, bounding wedge count by sum(out_deg^2) with
      out_deg = O(sqrt(|E|)) — the hot celebrity node never enumerates
      its neighborhood square;
    * wedges close against the oriented edge list with one hash join.

    The edge list is used three times (degrees, wedge self-join, closing
    join) → ONE localCheckpoint (the repo's multi-use-plan discipline).
    The oracle is the naive triple self-join — quadratic wedge
    generation the Spark plan avoids.
    """
    from meerschaum_spark.functions.graph import degrees

    edges = _part_copurchase_edges(spark, sf_dir)
    deg = degrees(edges)
    ed = (edges
          .join(deg.withColumnRenamed("node", "u")
                   .withColumnRenamed("deg", "du"), on="u")
          .join(deg.withColumnRenamed("node", "v")
                   .withColumnRenamed("deg", "dv"), on="v"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
    )
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    lower = (F.col("e1.ddeg") < F.col("e2.ddeg")) | (
        (F.col("e1.ddeg") == F.col("e2.ddeg"))
        & (F.col("e1.dst") < F.col("e2.dst")))
    wedges = (e1.join(e2, on=(F.col("e1.src") == F.col("e2.src")) & lower)
              .select(F.col("e1.src").alias("a"),
                      F.col("e1.dst").alias("b"),
                      F.col("e2.dst").alias("c")))
    closing = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    triangles = wedges.join(closing, on=["b", "c"])
    return (
        triangles.select(F.explode(F.array("a", "b", "c")).alias("p_partkey"))
        .groupBy("p_partkey")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "p_partkey")
        .limit(20)
    )


@query(
    "events_acf_hourly",
    """
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hr, count(*) AS n
      FROM events GROUP BY 1),
    p AS (
      SELECT l.lag, count(*) AS n_pairs,
             CAST(CAST(sum(CAST(x.n AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(sum(CAST(y.n AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(sum(CAST(x.n AS DECIMAL(19,0)) * CAST(x.n AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(sum(CAST(y.n AS DECIMAL(19,0)) * CAST(y.n AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(sum(CAST(x.n AS DECIMAL(19,0)) * CAST(y.n AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM generate_series(1, 12) AS l(lag)
      JOIN h x ON true
      JOIN h y ON y.hr = x.hr + INTERVAL 1 HOUR * l.lag
      GROUP BY 1)
    SELECT lag, n_pairs,
           CASE WHEN (CAST(n_pairs AS DOUBLE) * sxx - sx * sx) <= 0
                  OR (CAST(n_pairs AS DOUBLE) * syy - sy * sy) <= 0
                THEN NULL
                ELSE (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
                     / sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                     / sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)
           END AS acf
    FROM p ORDER BY lag
    """,
)
def events_acf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at lags 1-12 —
    the seasonality/periodicity diagnostic behind traffic forecasting.

    Determinism: the series is INTEGER (hourly counts), the five moment
    sums accumulate in exact decimal (order-insensitive across
    partitions/engines), and only the final Pearson formula runs in
    double with the identical expression on both sides — IEEE ops on
    identical inputs give identical doubles (the ``events_anomaly_zscore``
    discipline). Missing hours pair only where both endpoints exist (a
    calendar join on hr+lag, not a row-offset LAG), so gaps don't
    misalign the lag.

    Scale shape: the raw scan collapses to |hours| rows via ONE
    map-side-combined aggregate (8.8k rows/year regardless of event
    volume); the 12-lag expansion and self-join run on that tiny frame
    (broadcast), so cost is scan-dominated — exactly how an ACF over
    100 TB of events should behave.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr"))
              .agg(F.count(F.lit(1)).alias("n")))
    lags = spark.range(1, 13).select(F.col("id").cast("int").alias("lag"))
    xd = F.col("x.n").cast("decimal(19,0)")
    yd = F.col("y.n").cast("decimal(19,0)")
    p = (
        hourly.alias("x")
        .crossJoin(F.broadcast(lags))
        .join(F.broadcast(hourly.alias("y")),
              F.col("y.hr") == F.expr("timestampadd(HOUR, lag, x.hr)"))
        .groupBy("lag")
        .agg(F.count(F.lit(1)).alias("n_pairs"),
             F.sum(xd).cast("double").alias("sx"),
             F.sum(yd).cast("double").alias("sy"),
             F.sum(xd * xd).cast("double").alias("sxx"),
             F.sum(yd * yd).cast("double").alias("syy"),
             F.sum(xd * yd).cast("double").alias("sxy"))
    )
    nd = F.col("n_pairs").cast("double")
    v1 = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    v2 = nd * F.col("syy") - F.col("sy") * F.col("sy")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    acf = F.when((v1 <= 0) | (v2 <= 0), F.lit(None).cast("double")) \
        .otherwise(num / F.sqrt(v1) / F.sqrt(v2))
    return p.select("lag", "n_pairs", acf.alias("acf")).orderBy("lag")


@query(
    "customer_rfm_segments",
    """
    WITH mx AS (SELECT max(o_orderdate) AS maxd FROM orders),
    c AS (
      SELECT o_custkey AS custkey,
             (epoch_us((SELECT maxd FROM mx)) - epoch_us(max(o_orderdate)))
                 // 86400000000 AS recency_days,
             count(*) AS frequency,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM c),
    s AS (
      SELECT custkey, monetary_cents,
             row_number() OVER (ORDER BY recency_days, custkey) AS rr,
             row_number() OVER (ORDER BY frequency DESC, custkey) AS rf,
             row_number() OVER (ORDER BY monetary_cents DESC, custkey) AS rm
      FROM c)
    SELECT CAST((rr - 1) * 4 // n AS INT) + 1 AS r_score,
           CAST((rf - 1) * 4 // n AS INT) + 1 AS f_score,
           CAST((rm - 1) * 4 // n AS INT) + 1 AS m_score,
           count(*) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS monetary_total_cents
    FROM s, nn
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quartiles) — the canonical marketing-analytics ranking workload.

    The interesting part is HOW the quartiles are computed: each score
    needs a GLOBAL row number over all customers, and the naive
    ``row_number() OVER (ORDER BY ...)`` plans a single-partition window
    — the one-task funnel that dies at 100 TB. ``global_row_number``
    (functions/ranking.py) range-partitions on the sort key, collects
    only per-partition COUNTS (metadata-sized), and ranks every range in
    parallel with its cumulative offset — three such rankings here, each
    a fully parallel pass over the (already tiny, one row per customer)
    aggregate. Quartile buckets derive from the row number by pure
    integer arithmetic (``quartile_score``) rather than NTILE, whose
    remainder-distribution rules differ across engines.

    The per-customer aggregate itself is ONE map-side-combined hash agg
    of the orders scan. Every emitted value is pure integer arithmetic:
    recency in epoch-µs integer days (no datediff — its
    timestamp-argument semantics are engine-version-sensitive), monetary
    in exact integer cents (``floor(x·100+0.5)`` is one IEEE double
    expression, bit-identical everywhere, where a double→decimal cast's
    rounding path is not — the r8 driver red sat on that boundary).
    """
    from meerschaum_spark.functions.ranking import (
        global_row_number,
        quartile_score,
    )

    orders = load_table(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("maxd"))
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    c = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.max("o_orderdate").alias("last_order"),
             F.count(F.lit(1)).alias("frequency"),
             F.sum(cents).alias("monetary_cents"))
        .crossJoin(F.broadcast(maxd))
        .select("custkey",
                # nonnegative (maxd >= last_order), so truncating `div`
                # == the oracle's floor `//`; NTZ→TIMESTAMP cast is
                # value-preserving under the pinned UTC session tz
                F.expr("(unix_micros(cast(maxd as timestamp)) "
                       "- unix_micros(cast(last_order as timestamp))) "
                       "div 86400000000").alias("recency_days"),
                "frequency", "monetary_cents")
    ).transform(_pin)  # three rankings + a join-back reuse it
    n_total = c.count()
    # size the range partitions to the DATA, not the cluster: the python
    # ranking stage costs per-task overhead, so small aggregates want few
    # fat partitions (measured 2.5x at sf0.1), while a billion-customer
    # frame fans out to full parallelism — n_total is already in hand
    k = max(1, min(spark.sparkContext.defaultParallelism,
                   n_total // 65536 + 1))
    rr = global_row_number(
        c.select("custkey", "recency_days"),
        [F.col("recency_days").asc(), F.col("custkey").asc()], "rr",
        num_partitions=k,
    ).select("custkey", quartile_score("rr", n_total, "r_score"))
    rf = global_row_number(
        c.select("custkey", "frequency"),
        [F.col("frequency").desc(), F.col("custkey").asc()], "rf",
        num_partitions=k,
    ).select("custkey", quartile_score("rf", n_total, "f_score"))
    rm = global_row_number(
        c.select("custkey", "monetary_cents"),
        [F.col("monetary_cents").desc(), F.col("custkey").asc()], "rm",
        num_partitions=k,
    ).select("custkey", quartile_score("rm", n_total, "m_score"))
    return (
        c.select("custkey", "monetary_cents")
        .join(rr, on="custkey").join(rf, on="custkey").join(rm, on="custkey")
        .groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.sum("monetary_cents").cast("long")
             .alias("monetary_total_cents"))
        .orderBy("r_score", "f_score", "m_score")
    )


def _pagerank_oracle_sql(iterations: int = 5, scale: int = 1_000_000_000,
                         d_num: int = 85, d_den: int = 100) -> str:
    """Unrolled recursive steps (standard SQL forbids aggregation in a
    recursive CTE term, so the oracle spells each iteration): identical
    scaled-integer recurrence as functions/graph.pagerank_int."""
    base = (d_den - d_num) * scale // d_den
    steps = []
    prev = "r0"
    for k in range(1, iterations + 1):
        steps.append(
            f"r{k} AS MATERIALIZED (SELECT oe.dst AS node, "
            f"CAST({base} + sum(({d_num} * r.rank) // ({d_den} * oe.deg)) "
            f"AS BIGINT) AS rank "
            f"FROM oe JOIN {prev} r ON r.node = oe.src GROUP BY 1)")
        prev = f"r{k}"
    return f"""
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    de AS MATERIALIZED (SELECT u AS src, v AS dst FROM e
           UNION ALL SELECT v AS src, u AS dst FROM e),
    deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM de GROUP BY 1),
    oe AS MATERIALIZED (SELECT d.src, d.dst, g.deg FROM de d JOIN deg g ON g.node = d.src),
    r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM deg),
    {",".join(steps)}
    SELECT node AS p_partkey, rank FROM {prev}
    ORDER BY rank DESC, node LIMIT 20
    """


@query("part_pagerank", _pagerank_oracle_sql())
def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five PageRank iterations over the part co-purchase graph — the
    canonical ITERATIVE graph workload (random-surfer centrality on the
    co-occurrence structure).

    Cross-engine exactness: the whole recurrence runs in scaled 64-bit
    integers (multiply, floor-divide, sum — see
    ``functions/graph.pagerank_int``), so Spark and the oracle's five
    unrolled SQL steps produce bit-identical ranks; no float ever
    appears.

    Scale shape: edges come from in-task basket expansion (never a
    row×row join); each iteration is ONE shuffle join + ONE map-side-
    combinable sum, with a localCheckpoint per iteration so plan/lineage
    cost stays flat at any iteration count — Pregel economics on the
    DataFrame API, zero driver-side state."""
    from meerschaum_spark.functions.graph import pagerank_int

    edges = _part_copurchase_edges(spark, sf_dir)
    ranks = pagerank_int(edges, iterations=5, pin_edges=False)
    return (ranks.select(F.col("node").alias("p_partkey"), "rank")
            .orderBy(F.col("rank").desc(), "p_partkey")
            .limit(20))


# FLOOR division by 4 that is identical on every engine for BOTH signs:
# subtract the nonnegative remainder first, then the division is exact —
# DuckDB's `//` floors while Spark's `div` truncates toward zero, so a
# raw x//4 would disagree on negative trend values.
def _floor4_sql(x: str) -> str:
    return f"((({x}) - ((({x}) % 4 + 4) % 4)) // 4)"


_HOLT_LNEW = _floor4_sql("b2.y + 3 * (r.l + r.b)")
_HOLT_BNEW = _floor4_sql(f"{_HOLT_LNEW} - r.l + 3 * r.b")


@query(
    "events_holt_linear",
    f"""
    WITH RECURSIVE base AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL),
    rec AS (
      SELECT user_id, ts, event_id, rn, y AS l, CAST(0 AS BIGINT) AS b
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b2.user_id, b2.ts, b2.event_id, b2.rn,
             {_HOLT_LNEW} AS l,
             {_HOLT_BNEW} AS b
      FROM rec r JOIN base b2
        ON b2.user_id = r.user_id AND b2.rn = r.rn + 1)
    SELECT user_id, ts, event_id, l AS level_scaled, b AS trend_scaled,
           l + b AS forecast_scaled
    FROM rec ORDER BY user_id, ts, event_id
    """,
)
def events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per series
    (α = β = 1/4) as an exact INTEGER recurrence over µ-scaled values::

        l₁ = y₁, b₁ = 0
        lᵢ = ⌊(yᵢ + 3·(lᵢ₋₁ + bᵢ₋₁)) / 4⌋
        bᵢ = ⌊((lᵢ − lᵢ₋₁) + 3·bᵢ₋₁) / 4⌋

    — the third member of the sequential family (EWMA, LTTB, CUSUM):
    two mutually-recursive state variables that no window/aggregate
    composition expresses, so the justified ``applyInPandas`` escape
    hatch runs the fold in plain Python ints. Python's ``//`` FLOORS,
    and the trend can go NEGATIVE — the oracle spells floor division as
    subtract-nonneg-remainder-then-divide because DuckDB's ``//`` floors
    while Spark's ``div`` truncates; with that form the recurrence is
    bit-exact cross-engine for both signs. Cost is bounded by the
    largest single series, like every per-key sequential op (hot-series
    soak in test_scale_soak.py); the explicit cores-sized repartition
    keeps AQE from byte-squeezing the python stage."""
    n_par = spark.sparkContext.defaultParallelism
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("user_id", "ts", "event_id",
                  F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                  .cast("long").alias("y"))
          .repartition(n_par, "user_id"))

    def holt(pdf):
        pdf = pdf.sort_values(["ts", "event_id"],
                              kind="mergesort").reset_index(drop=True)
        ys = [int(v) for v in pdf["y"]]
        lv = ys[0]
        tr = 0
        ls, bs = [lv], [tr]
        for y in ys[1:]:
            l_new = (y + 3 * (lv + tr)) // 4
            tr = (l_new - lv + 3 * tr) // 4
            lv = l_new
            ls.append(lv)
            bs.append(tr)
        out = pdf[["user_id", "ts", "event_id"]].copy()
        out["level_scaled"] = ls
        out["trend_scaled"] = bs
        return out

    return (ev.groupBy("user_id")
            .applyInPandas(
                holt,
                "user_id long, ts timestamp, event_id long, "
                "level_scaled long, trend_scaled long")
            .withColumn("forecast_scaled",
                        F.col("level_scaled") + F.col("trend_scaled"))
            .orderBy("user_id", "ts", "event_id"))


# ------------------------- TimescaleDB hyperfunction analogues (r8) --
# The reference's primary backend is TimescaleDB and its docs lean on
# the hyperfunction toolkit; state_agg / heartbeat_agg / time_weight /
# counter_agg (events_counter_delta) / gapfill / OHLC analogues already
# exist above — this closes the last one: stats_agg's linear regression
# (reference: the timescaledb flavor throughout
# meerschaum/connectors/sql/tables/__init__.py and _create_indices
# hypertable setup in connectors/sql/_pipes.py).


#: fixed x-axis origin for the OLS sums (2020-01-01 UTC, epoch seconds)
#: — shifts neither slope numerator nor denominator (covariance and
#: variance are translation-invariant) but keeps every accumulated
#: moment far inside decimal(38,0) even at 100 TB row counts
_OLS_X0 = 1_577_836_800


@query(
    "events_stats_agg_linear",
    f"""
    WITH b AS (
      SELECT user_id,
             (epoch_us(ts) // 1000000) - {_OLS_X0} AS x,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL),
    s AS (
      SELECT user_id, count(*) AS n,
             sum(CAST(x AS HUGEINT)) AS sx,
             sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
             sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
      FROM b GROUP BY user_id)
    SELECT user_id, n,
           CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS VARCHAR)
               AS slope_num,
           CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS VARCHAR)
               AS slope_den
    FROM s ORDER BY user_id
    """,
)
def events_stats_agg_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB ``stats_agg -> slope`` hyperfunction analogue:
    per-series ordinary-least-squares trend of the µ-scaled value
    against time (epoch seconds, fixed 2020-01-01 origin).

    The four moment sums (Σx, Σy, Σx², Σxy) accumulate in exact decimal
    — order-insensitive, so partial (map-side) aggregation is free and
    the result is bit-identical to the oracle's HUGEINT sums — and the
    slope's numerator/denominator (n·Σxy − Σx·Σy, n·Σx² − (Σx)²) are
    rendered as exact integer STRINGS: the numerator exceeds 2^53 at
    sf0.01, and any driver-side pandas/float64 materialization of a
    wide DECIMAL silently rounds past 15 significant digits (the
    diagnosed r8/r9 hash-red mechanism) — a digit string survives every
    materialization unchanged. Fixed-point division was rejected
    because ``//`` floors in DuckDB while ``div`` truncates in Spark,
    which diverges on negative numerators. NO window at all:
    this is ONE map-side-combinable hash aggregate over the scan — the
    cheapest possible distributed shape for a 100 TB regression sweep
    (contrast the reference, which would pull the series into pandas)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # integer `div` (exact), matching the oracle's `//`; epoch is
    # nonnegative so truncation == floor
    x = (F.expr("unix_micros(ts) div 1000000").cast("long")
         - F.lit(_OLS_X0))
    y = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
    b = ev.select("user_id", x.alias("x"), y.alias("y"))
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    s = (b.groupBy("user_id")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(xd).cast("decimal(38,0)").alias("sx"),
              F.sum(yd).cast("decimal(38,0)").alias("sy"),
              F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
              F.sum(xd * yd).cast("decimal(38,0)").alias("sxy")))
    nd = F.col("n").cast("decimal(38,0)")
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("decimal(38,0)")
    den = (nd * F.col("sxx") - F.col("sx") * F.col("sx")) \
        .cast("decimal(38,0)")
    return (s.select(
        "user_id", "n",
        num.cast("string").alias("slope_num"),
        den.cast("string").alias("slope_den"))
        .orderBy("user_id"))


@query(
    "events_max_concurrency",
    """
    WITH iv AS (
      SELECT epoch_us(ts) AS s_us,
             epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT) AS e_us,
             event_id
      FROM events WHERE value IS NOT NULL AND value > 0),
    pts AS (
      SELECT s_us AS t_us, 1 AS delta, event_id FROM iv
      UNION ALL
      SELECT e_us AS t_us, -1 AS delta, event_id FROM iv),
    sweep AS (
      SELECT t_us, delta,
             sum(delta) OVER (ORDER BY t_us, delta, event_id
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM pts)
    SELECT CAST(max(conc) AS BIGINT) AS max_concurrency,
           CAST(min(CASE WHEN conc = (SELECT max(conc) FROM sweep)
                         THEN t_us END) AS BIGINT) AS first_at_us
    FROM sweep
    """,
)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency via a DISTRIBUTED sweep line: each
    event occupies ``[ts, ts + value seconds)``; +1/−1 endpoint deltas
    are prefix-summed in global time order and the maximum (with the
    first instant it is reached) is the answer — the classic
    "max concurrent sessions" operator.

    The textbook formulation is a global ``SUM() OVER (ORDER BY t)``,
    which Spark plans as an Exchange to ONE partition — the same scale
    trap ``customer_rfm_segments`` avoids. Here the running sum comes
    from ``functions.ranking.global_running_sum``: range-partition on
    the total endpoint order, ONE ≤n-row collect of per-partition
    sums, local Arrow cumsum + exclusive offset. End deltas sort before
    start deltas at the same instant (−1 < +1), giving exact half-open
    ``[s, e)`` semantics. The final reduction is a one-row aggregate."""
    from meerschaum_spark.functions.ranking import global_running_sum

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & (F.col("value") > 0)))
    s_us = F.unix_micros("ts")
    e_us = s_us + F.floor(F.col("value") * 1_000_000).cast("long")
    iv = ev.select(s_us.alias("s_us"), e_us.alias("e_us"), "event_id")
    pts = (iv.select(F.col("s_us").alias("t_us"),
                     F.lit(1).alias("delta"), "event_id")
           .unionByName(iv.select(F.col("e_us").alias("t_us"),
                                  F.lit(-1).alias("delta"), "event_id")))
    sweep = global_running_sum(
        pts, ["t_us", "delta", "event_id"], "delta", out_col="conc")
    peak = sweep.agg(F.max("conc").alias("m"))
    return (sweep.join(F.broadcast(peak))
            .agg(F.max("conc").cast("long").alias("max_concurrency"),
                 F.min(F.when(F.col("conc") == F.col("m"),
                              F.col("t_us"))).cast("long")
                 .alias("first_at_us")))


@query(
    "orders_retention_cohort",
    """
    WITH ym AS (
      SELECT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                  AS BIGINT) AS ym
      FROM orders),
    first_ym AS (
      SELECT o_custkey, min(ym) AS cohort_ym FROM ym GROUP BY o_custkey)
    SELECT CAST(f.cohort_ym // 12 AS BIGINT) AS cohort_year,
           CAST(f.cohort_ym % 12 + 1 AS BIGINT) AS cohort_month,
           CAST(y.ym - f.cohort_ym AS BIGINT) AS month_offset,
           CAST(count(DISTINCT y.o_custkey) AS BIGINT) AS n_customers
    FROM ym y JOIN first_ym f ON y.o_custkey = f.o_custkey
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def orders_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly cohort-retention matrix over orders: customers are
    cohorted by their first order month and every later order counts
    them in that cohort at its month offset — the canonical retention
    triangle behind churn dashboards.

    Month arithmetic is pure integers (``year·12 + month−1``), exact on
    both engines (no months_between float semantics). Both aggregations
    and the self-join hash on ``o_custkey``, so the join reuses the
    first aggregation's partitioning — one shuffle wide at any scale,
    and the output is ≤ |months|² rows."""
    ym_expr = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1) \
        .cast("long")
    orders = load_table(spark, sf_dir, "orders")
    ym = orders.select("o_custkey", ym_expr.alias("ym"))
    first = ym.groupBy("o_custkey").agg(F.min("ym").alias("cohort_ym"))
    return (ym.join(first, on="o_custkey")
            .groupBy(
                (F.col("cohort_ym") / 12).cast("long").alias("cohort_year"),
                F.pmod(F.col("cohort_ym"), F.lit(12)).cast("long")
                .alias("cohort_month_0"),
                (F.col("ym") - F.col("cohort_ym")).alias("month_offset"))
            .agg(F.countDistinct("o_custkey").alias("n_customers"))
            .select("cohort_year",
                    (F.col("cohort_month_0") + 1).alias("cohort_month"),
                    "month_offset", "n_customers")
            .orderBy("cohort_year", "cohort_month", "month_offset"))


@query(
    "customer_symspell_pairs",
    """
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY custkey_a, custkey_b
    """,
)
def customer_symspell_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant entity-resolution join: all customer-name pairs
    within edit distance 1, found WITHOUT an all-pairs comparison via
    SymSpell delete-variant blocking — two strings within edit distance
    1 always share a variant obtained by deleting at most one
    character, so each name explodes into its |name|+1 deletion
    variants, candidates are generated per variant BUCKET, and exact
    ``levenshtein`` (built-in JVM function on both engines) re-checks
    the survivors (sharing a variant only bounds distance ≤ 2). The
    oracle is the quadratic join this plan avoids.

    Scale shape: the buckets expand IN-TASK via the shared
    ``functions/graph.basket_pairs`` array expansion (one shuffle on
    the variant key; per-bucket width is bounded by near-neighbor
    density, so the O(w²) expansion is small constant work per bucket —
    the measured alternative, a variant self-JOIN carrying names, was
    8× slower at sf0.1), then the skinny key pairs dedupe and the names
    join back via two broadcast hash joins (customers are
    dimension-sized; with a corpus-scale left side those become
    ordinary co-partitioned key joins). Candidate volume is Σ|name|+1
    rows — linear in corpus size, the same never-all-pairs economics as
    the LSH and prefix-filter joins."""
    from meerschaum_spark.functions.graph import basket_pairs

    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_name")
    # i = 0..len-1 deletes char i+1; i = len keeps the name itself
    vk = cust.select(
        "c_custkey",
        F.explode(F.expr(
            "transform(sequence(0, length(c_name)), "
            "i -> concat(substr(c_name, 1, i), substr(c_name, i + 2)))"
        )).alias("v"))
    cand = basket_pairs(vk, "v", "c_custkey",
                        out_a="custkey_a", out_b="custkey_b").distinct()
    ca = cust.select(F.col("c_custkey").alias("custkey_a"),
                     F.col("c_name").alias("na"))
    cb = cust.select(F.col("c_custkey").alias("custkey_b"),
                     F.col("c_name").alias("nb"))
    return (cand
            .join(F.broadcast(ca), "custkey_a")
            .join(F.broadcast(cb), "custkey_b")
            .withColumn("dist", F.levenshtein("na", "nb").cast("long"))
            .filter(F.col("dist") <= 1)
            .select("custkey_a", "custkey_b", "dist")
            .orderBy("custkey_a", "custkey_b"))


@query(
    "streaming_holt_linear",
    f"""
    WITH RECURSIVE base AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL),
    rec AS (
      SELECT user_id, rn, y AS l, CAST(0 AS BIGINT) AS b
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b2.user_id, b2.rn,
             {_HOLT_LNEW} AS l,
             {_HOLT_BNEW} AS b
      FROM rec r JOIN base b2
        ON b2.user_id = r.user_id AND b2.rn = r.rn + 1),
    fin AS (SELECT user_id, max(rn) AS n_events FROM rec GROUP BY user_id)
    SELECT r.user_id, f.n_events, r.l AS level_scaled, r.b AS trend_scaled
    FROM rec r JOIN fin f
      ON r.user_id = f.user_id AND r.rn = f.n_events
    ORDER BY r.user_id
    """,
)
def streaming_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing maintained CONTINUOUSLY: the event
    stream replays through ``stateful_holt`` (``applyInPandasWithState``
    — three longs of state per key), and the final per-key
    (n, level, trend) must equal the batch recurrence's last row —
    streaming and batch twins share one recursive-CTE oracle, the same
    twin discipline as the EWMA/CUSUM/CDC pairs. Readers keep the
    max-``n_events`` emission per key (monotonic across micro-batches)."""
    from meerschaum_spark.streaming.stateful import stateful_holt

    sink = _replay_events_to_sink(spark, sf_dir, stateful_holt,
                                  "holt", output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (spark.table(sink)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "n_events", "level_scaled", "trend_scaled")
            .orderBy("user_id"))


@query(
    "part_abc_analysis",
    """
    WITH rev AS (
      SELECT l_partkey,
             CAST(floor(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                            * (1 - CAST(l_discount AS DECIMAL(18,6))))
                        * 100 + 0.5) AS BIGINT) AS rev_c
      FROM lineitem GROUP BY l_partkey),
    run AS (
      SELECT l_partkey, rev_c,
             sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum_c,
             sum(rev_c) OVER () AS total_c
      FROM rev),
    cls AS (
      SELECT CASE WHEN 10 * cum_c <= 7 * total_c THEN 'A'
                  WHEN 10 * cum_c <= 9 * total_c THEN 'B'
                  ELSE 'C' END AS abc_class,
             rev_c
      FROM run)
    SELECT abc_class, count(*) AS n_parts,
           CAST(sum(rev_c) AS BIGINT) AS class_revenue_cents
    FROM cls GROUP BY abc_class ORDER BY abc_class
    """,
)
def part_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification: parts ranked by revenue,
    class A = the head covering ≤70 % of cumulative revenue, B to 90 %,
    C the tail — the classic 80/20 operations-analytics operator.

    The cumulative ranking is the distributed prefix sum
    (``functions/ranking.global_running_sum``) over cent-scaled integer
    revenue — never a single-partition ``SUM() OVER (ORDER BY)`` — and
    class boundaries compare in pure integers (``10·cum ≤ 7·total``),
    so the result is exact on both engines. The grand total is the
    prefix-sum helper's own offset accumulator surfaced as a literal
    (zero extra actions); final reduction is a 3-row aggregate."""
    from meerschaum_spark.functions.ranking import global_running_sum

    li = load_table(spark, sf_dir, "lineitem")
    rev = (li.groupBy("l_partkey")
           .agg(F.floor(F.sum(_dec("l_extendedprice")
                              * (F.lit(1) - _dec("l_discount")))
                        * 100 + F.lit(0.5))
                .cast("long").alias("rev_c")))
    run = global_running_sum(
        rev, [F.col("rev_c").desc(), "l_partkey"], "rev_c",
        out_col="cum_c", total_col="total_c")
    cls = run.withColumn(
        "abc_class",
        F.when(10 * F.col("cum_c") <= 7 * F.col("total_c"), "A")
        .when(10 * F.col("cum_c") <= 9 * F.col("total_c"), "B")
        .otherwise("C"))
    return (cls.groupBy("abc_class")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.sum("rev_c").cast("long").alias("class_revenue_cents"))
            .orderBy("abc_class"))


#: Benford expected first-digit probabilities log10(1 + 1/d) as shared
#: LITERALS (deciding them at query time via log10() would hand each
#: engine's libm a chance to disagree in the last ulp; a literal is the
#: same IEEE double everywhere)
_BENFORD_P = {
    1: 0.30102999566398120, 2: 0.17609125905568124,
    3: 0.12493873660829993, 4: 0.09691001300805642,
    5: 0.07918124604762482, 6: 0.06694678963061322,
    7: 0.05799194697768673, 8: 0.05115252244738129,
    9: 0.04575749056067514,
}


@query(
    "events_benford_digits",
    f"""
    WITH y AS (
      SELECT CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
        AND floor(value * 1000000 + 0.5) > 0),
    d AS (SELECT CAST(substr(CAST(y AS VARCHAR), 1, 1) AS BIGINT)
                 AS digit FROM y),
    c AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
    t AS (SELECT sum(n_obs) AS n_total FROM c),
    p AS (SELECT * FROM (VALUES {", ".join(
        f"({d}, {p!r})" for d, p in sorted(_BENFORD_P.items())
    )}) AS v(digit, p_exp))
    SELECT p.digit, COALESCE(c.n_obs, 0) AS n_obs,
           CAST(t.n_total AS DOUBLE) * p.p_exp AS expected_dbl,
           (CAST(COALESCE(c.n_obs, 0) AS DOUBLE)
            - CAST(t.n_total AS DOUBLE) * p.p_exp)
           * (CAST(COALESCE(c.n_obs, 0) AS DOUBLE)
              - CAST(t.n_total AS DOUBLE) * p.p_exp)
           / (CAST(t.n_total AS DOUBLE) * p.p_exp) AS chi2_term_dbl
    FROM p LEFT JOIN c ON p.digit = c.digit CROSS JOIN t
    ORDER BY p.digit
    """,
)
def events_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screening (the fraud/anomaly audit
    staple): observed vs expected first-significant-digit counts of the
    µ-scaled measurements with per-digit χ² terms.

    Determinism: the first digit comes from the INTEGER's decimal
    rendering (``substr(cast(y as string), 1, 1)`` — a float log10
    would misclassify exact powers of ten on one engine and not the
    other), the expected probabilities are shared double LITERALS, and
    the χ² arithmetic is the identical IEEE expression on both sides.
    Scale shape: one map-side-combined 9-row aggregate over the scan;
    everything after is broadcast-sized."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    y = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
    d = (ev.select(y.alias("y")).filter(F.col("y") > 0)
         .select(F.substring(F.col("y").cast("string"), 1, 1)
                 .cast("long").alias("digit")))
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    t = c.agg(F.sum("n_obs").cast("long").alias("n_total"))
    p = spark.createDataFrame(
        [(dg, pr) for dg, pr in sorted(_BENFORD_P.items())],
        "digit long, p_exp double")
    exp = F.col("n_total").cast("double") * F.col("p_exp")
    obs = F.coalesce(F.col("n_obs"), F.lit(0)).cast("double")
    return (p.join(c, "digit", "left").join(F.broadcast(t))
            .select("digit",
                    F.coalesce(F.col("n_obs"), F.lit(0)).cast("long")
                    .alias("n_obs"),
                    exp.alias("expected_dbl"),
                    ((obs - exp) * (obs - exp) / exp)
                    .alias("chi2_term_dbl"))
            .orderBy("digit"))


@query(
    "nation_supplier_hhi",
    """
    WITH rev AS (
      SELECT s.s_nationkey,
             l.l_suppkey,
             CAST(floor(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,6))))
                        * 100 + 0.5) AS BIGINT) AS rev_c
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey),
    agg AS (
      SELECT s_nationkey,
             count(*) AS n_suppliers,
             sum(CAST(rev_c AS HUGEINT) * CAST(rev_c AS HUGEINT)) AS ss,
             sum(CAST(rev_c AS HUGEINT)) AS tot
      FROM rev GROUP BY s_nationkey)
    SELECT n.n_name AS nation,
           a.n_suppliers,
           CAST(CAST(CAST(a.ss AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
             / (CAST(CAST(CAST(a.tot AS DECIMAL(38,0)) AS VARCHAR)
                     AS DOUBLE)
                * CAST(CAST(CAST(a.tot AS DECIMAL(38,0)) AS VARCHAR)
                       AS DOUBLE)) AS hhi_dbl
    FROM agg a JOIN nation n ON a.s_nationkey = n.n_nationkey
    ORDER BY nation
    """,
)
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman market-concentration index of supplier
    revenue per nation (the antitrust/market-structure metric):
    HHI = Σ shareᵢ² = Σ revᵢ² / (Σ revᵢ)².

    Summing double shares would be shuffle-order-sensitive; instead
    both Σ rev² and Σ rev accumulate exactly (cent-scaled integers,
    decimal accumulation — order-insensitive) and ONE identical-double
    division finishes. Supplier is dimension-sized → broadcast join;
    the per-(nation, supplier) aggregate is map-side combined."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation") \
        .select("n_nationkey", "n_name")
    rev = (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
           .groupBy("s_nationkey", "l_suppkey")
           .agg(F.floor(F.sum(_dec("l_extendedprice")
                              * (F.lit(1) - _dec("l_discount")))
                        * 100 + F.lit(0.5))
                .cast("long").alias("rev_c")))
    rc = F.col("rev_c").cast("decimal(19,0)")
    agg = (rev.groupBy("s_nationkey")
           .agg(F.count(F.lit(1)).alias("n_suppliers"),
                F.sum(rc * rc).cast("decimal(38,0)").alias("ss"),
                F.sum(rc).cast("decimal(38,0)").alias("tot")))
    return (agg.join(F.broadcast(nat),
                     agg.s_nationkey == nat.n_nationkey)
            .select(F.col("n_name").alias("nation"),
                    "n_suppliers",
                    (F.col("ss").cast("double")
                     / (F.col("tot").cast("double")
                        * F.col("tot").cast("double")))
                    .alias("hhi_dbl"))
            .orderBy("nation"))


@query(
    "events_ab_test_ztest",
    """
    WITH assign AS (
      SELECT user_id, user_id % 2 AS variant,
             max(CASE WHEN event_type = 'purchase' AND value > 100
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id),
    v AS (
      SELECT variant,
             count(*) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_converted
      FROM assign GROUP BY variant),
    w AS (
      SELECT max(CASE WHEN variant = 0 THEN n_users END) AS n_a,
             max(CASE WHEN variant = 0 THEN n_converted END) AS c_a,
             max(CASE WHEN variant = 1 THEN n_users END) AS n_b,
             max(CASE WHEN variant = 1 THEN n_converted END) AS c_b
      FROM v)
    SELECT n_a, c_a, n_b, c_b,
           CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
           CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
           CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN NULL
                ELSE (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                      - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                     / sqrt((CAST(c_a + c_b AS DOUBLE)
                             / CAST(n_a + n_b AS DOUBLE))
                            * (1 - CAST(c_a + c_b AS DOUBLE)
                                   / CAST(n_a + n_b AS DOUBLE))
                            * (1 / CAST(n_a AS DOUBLE)
                               + 1 / CAST(n_b AS DOUBLE)))
           END AS z_dbl
    FROM w
    """,
)
def events_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B conversion z-test (the experimentation-platform
    primitive): users split deterministically by ``user_id % 2``,
    conversion = any ``purchase`` with value > 100, pooled-variance
    z-statistic (NULL on degenerate pools rather than an ANSI
    divide-by-zero).

    Determinism: every input to the statistic is an exact integer count
    (per-user conversion collapses via ``max`` in a hash aggregate, then
    a 2-row variant rollup), and the z formula runs the identical IEEE
    expression on both engines — division, multiply, and ``sqrt`` are
    all correctly-rounded operations, so identical inputs give identical
    doubles (the ``events_anomaly_zscore`` discipline). Scale shape: one
    map-side-combined aggregate per grain; everything after the per-user
    collapse is ≤2 rows."""
    ev = load_table(spark, sf_dir, "events")
    assign = (ev.groupBy("user_id")
              .agg(F.max(F.when((F.col("event_type") == "purchase")
                                & (F.col("value") > 100), 1)
                         .otherwise(0)).alias("converted"))
              .select((F.col("user_id") % 2).alias("variant"), "converted"))
    v = (assign.groupBy("variant")
         .agg(F.count(F.lit(1)).alias("n_users"),
              F.sum("converted").cast("long").alias("n_converted")))
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted")))
        .alias("c_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted")))
        .alias("c_b"))
    na, ca = F.col("n_a").cast("double"), F.col("c_a").cast("double")
    nb, cb = F.col("n_b").cast("double"), F.col("c_b").cast("double")
    p_a, p_b = ca / na, cb / nb
    pool = (ca + cb) / (na + nb)
    # degenerate pools (no conversions anywhere, or all converted) have
    # zero pooled variance — NULL, never a divide-by-zero under ANSI
    z = F.when(
        (F.col("c_a") + F.col("c_b") > 0)
        & (F.col("c_a") + F.col("c_b") < F.col("n_a") + F.col("n_b")),
        (p_a - p_b) / F.sqrt(pool * (1 - pool) * (1 / na + 1 / nb)))
    return w.select("n_a", "c_a", "n_b", "c_b",
                    p_a.alias("p_a"), p_b.alias("p_b"), z.alias("z_dbl"))


@query(
    "events_gini_activity",
    """
    WITH x AS (
      SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
    r AS (
      SELECT c, row_number() OVER (ORDER BY c, user_id) AS rn FROM x),
    s AS (
      SELECT count(*) AS n,
             sum(CAST(c AS HUGEINT)) AS tot,
             sum(CAST(rn AS HUGEINT) * CAST(c AS HUGEINT)) AS rc
      FROM r)
    SELECT n,
           CAST(tot AS BIGINT) AS total_events,
           (2 * CAST(CAST(CAST(rc AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
            / (CAST(n AS DOUBLE)
               * CAST(CAST(CAST(tot AS DECIMAL(38,0)) AS VARCHAR)
                      AS DOUBLE))
            - (CAST(n AS DOUBLE) + 1) / CAST(n AS DOUBLE)) AS gini_dbl
    FROM s
    """,
)
def events_gini_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event activity (the inequality /
    load-skew diagnostic: 0 = uniform usage, →1 = one user dominates)
    via the rank formula G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over
    ascending-sorted counts.

    The global rank comes from ``functions/ranking.global_row_number``
    — never a single-partition ordered window — with (count, user_id)
    as the total order; Σ i·xᵢ and Σx accumulate in exact decimal
    (HUGEINT in the oracle), and the closed-form Gini is one
    identical-double expression on a ONE-ROW frame. Third consumer of
    the distributed-ranking primitive (RFM quartiles, ABC classes,
    Gini), which is exactly why it is shared library code."""
    from meerschaum_spark.functions.ranking import global_row_number

    ev = load_table(spark, sf_dir, "events")
    x = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    r = global_row_number(x, [F.col("c").asc(), F.col("user_id").asc()],
                          rn_col="rn")
    cd = F.col("c").cast("decimal(19,0)")
    rnd = F.col("rn").cast("decimal(19,0)")
    s = r.agg(F.count(F.lit(1)).alias("n"),
              F.sum(cd).cast("decimal(38,0)").alias("tot"),
              F.sum(rnd * cd).cast("decimal(38,0)").alias("rc"))
    nd = F.col("n").cast("double")
    gini = (2 * F.col("rc").cast("double") / (nd * F.col("tot").cast("double"))
            - (nd + 1) / nd)
    return s.select("n", F.col("tot").cast("long").alias("total_events"),
                    gini.alias("gini_dbl"))


@query(
    "events_seasonal_profile",
    """
    WITH b AS (
      SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
             (epoch_us(ts) % 86400000000) // 3600000000 AS hr,
             value
      FROM events)
    SELECT CAST(dow AS BIGINT) AS dow, CAST(hr AS BIGINT) AS hr,
           count(*) AS n_events,
           quantile_cont(value, 0.5) AS median_value,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_dbl
    FROM b GROUP BY dow, hr ORDER BY dow, hr
    """,
)
def events_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day seasonal baseline (the traffic-shape
    profile behind capacity planning and the denominator of seasonal
    anomaly scores): per (dow, hour) cell — counts, exact-interpolated
    median, and a mean whose sum accumulates in exact decimal.

    Weekday comes from pure epoch arithmetic (``(days+4) % 7``, 0 =
    Sunday) — Spark's ``dayofweek`` is 1-based-Sunday while DuckDB's is
    0-based-Sunday, so a builtin on either side would shift the grid;
    integer epoch math is identical everywhere and timezone-free (UTC).
    One map-side-combinable aggregate to a fixed 168-row frame — the
    right shape for profiling 100 TB of events."""
    ev = load_table(spark, sf_dir, "events")
    # integer `div`, never `/`: epoch-µs exceeds 2^53, so a double
    # division could land a boundary row in the wrong day cell
    b = ev.select(
        F.pmod(F.expr("unix_micros(ts) div 86400000000") + 4, F.lit(7))
        .cast("long").alias("dow"),
        F.expr("pmod(unix_micros(ts), 86400000000) div 3600000000")
        .cast("long").alias("hr"),
        "value")
    return (b.groupBy("dow", "hr")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.expr("percentile(value, 0.5)").alias("median_value"),
                 (F.sum(_dec("value")).cast("double")
                  / F.count(F.lit(1)).cast("double")).alias("mean_dbl"))
            .orderBy("dow", "hr"))


@query(
    "part_assoc_rules",
    """
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ob),
    item AS (SELECT p_brand, count(*) AS n_item FROM ob GROUP BY p_brand),
    pair AS (
      SELECT a.p_brand AS antecedent, b.p_brand AS consequent,
             count(*) AS n_both
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
      GROUP BY 1, 2 HAVING count(*) >= 25)
    SELECT p.antecedent, p.consequent, p.n_both,
           ia.n_item AS n_antecedent,
           CAST(p.n_both AS DOUBLE) / CAST(ia.n_item AS DOUBLE)
             AS confidence_dbl,
           (CAST(p.n_both AS DOUBLE) / CAST(ia.n_item AS DOUBLE))
             / (CAST(ic.n_item AS DOUBLE) / CAST(n.n_orders AS DOUBLE))
             AS lift_dbl
    FROM pair p
    JOIN item ia ON p.antecedent = ia.p_brand
    JOIN item ic ON p.consequent = ic.p_brand
    CROSS JOIN n
    ORDER BY lift_dbl DESC, antecedent, consequent
    LIMIT 40
    """,
)
def part_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (the Apriori/FP-growth output stage): directed
    brand rules A → B with support, confidence = P(B|A), and lift =
    confidence / P(B), min-support cut, top by lift — completing the
    market-basket family over ``part_affinity_pairs``' basket builder.

    Scale shape: directed pair counts come from the shared
    ``graph.basket_pairs`` in-task expansion (both orientations of each
    unordered pair — never an order-to-order join); item supports and
    the basket count are map-side-combined aggregates; the rule-metric
    joins run on the tiny |brands|²-bounded frame with the item table
    broadcast. Counts are exact integers; confidence and lift are the
    identical IEEE expressions on both engines."""
    from meerschaum_spark.functions.graph import basket_pairs

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ob = (li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                  F.col("l_partkey") == F.col("p_partkey"))
          .select("l_orderkey", "p_brand").distinct()
          .transform(_pin))
    n_orders = ob.select("l_orderkey").distinct().count()
    item = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_item"))
    und = basket_pairs(ob, "l_orderkey", "p_brand",
                       out_a="ba", out_b="bb")
    both = und.unionByName(und.select(F.col("bb").alias("ba"),
                                      F.col("ba").alias("bb")))
    pair = (both.groupBy(F.col("ba").alias("antecedent"),
                         F.col("bb").alias("consequent"))
            .agg(F.count(F.lit(1)).alias("n_both"))
            .filter(F.col("n_both") >= 25))
    ia = item.select(F.col("p_brand").alias("antecedent"),
                     F.col("n_item").alias("n_antecedent"))
    ic = item.select(F.col("p_brand").alias("consequent"),
                     F.col("n_item").alias("n_consequent"))
    conf = (F.col("n_both").cast("double")
            / F.col("n_antecedent").cast("double"))
    lift = conf / (F.col("n_consequent").cast("double")
                   / F.lit(float(n_orders)))
    return (pair.join(F.broadcast(ia), "antecedent")
            .join(F.broadcast(ic), "consequent")
            .select("antecedent", "consequent", "n_both", "n_antecedent",
                    conf.alias("confidence_dbl"), lift.alias("lift_dbl"))
            .orderBy(F.col("lift_dbl").desc(), "antecedent", "consequent")
            .limit(40))


# ===========================================================================
# r10: Holt-Winters additive seasonal smoothing (the sequential family's
# triple-exponential member)
# ===========================================================================

_HW_SOLD = "r.s[CAST(b2.h + 1 AS INT)]"
_HW_LNEW = _floor4_sql(f"b2.y - {_HW_SOLD} + 3 * (r.l + r.b)")
_HW_BNEW = _floor4_sql(f"({_HW_LNEW}) - r.l + 3 * r.b")
_HW_SNEW = _floor4_sql(f"b2.y - ({_HW_LNEW}) + 3 * {_HW_SOLD}")


@query(
    "events_holt_winters",
    f"""
    WITH RECURSIVE base AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y,
             CAST(hour(ts) AS BIGINT) AS h,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL),
    rec AS (
      SELECT user_id, ts, event_id, rn, h, y AS l, CAST(0 AS BIGINT) AS b,
             list_transform(generate_series(1, 24),
                            x -> CAST(0 AS BIGINT)) AS s
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b2.user_id, b2.ts, b2.event_id, b2.rn, b2.h,
             {_HW_LNEW} AS l,
             {_HW_BNEW} AS b,
             list_transform(r.s, (x, i) ->
               CASE WHEN i = CAST(b2.h + 1 AS INT)
                    THEN {_HW_SNEW} ELSE x END) AS s
      FROM rec r JOIN base b2
        ON b2.user_id = r.user_id AND b2.rn = r.rn + 1)
    SELECT user_id, ts, event_id, l AS level_scaled, b AS trend_scaled,
           s[CAST(h + 1 AS INT)] AS season_scaled,
           l + b + s[CAST(h + 1 AS INT)] AS forecast_scaled
    FROM rec ORDER BY user_id, ts, event_id
    """,
)
def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing per series
    (α = β = γ = 1/4, hour-of-day seasonality, m = 24) as an exact
    integer recurrence over µ-scaled values::

        l₁ = y₁, b₁ = 0, s₁[·] = 0
        lᵢ = ⌊(yᵢ − sᵢ₋₁[hᵢ] + 3·(lᵢ₋₁ + bᵢ₋₁)) / 4⌋
        bᵢ = ⌊((lᵢ − lᵢ₋₁) + 3·bᵢ₋₁) / 4⌋
        sᵢ[hᵢ] = ⌊(yᵢ − lᵢ + 3·sᵢ₋₁[hᵢ]) / 4⌋

    — the triple-exponential member of the sequential family (EWMA →
    Holt → Holt-Winters), the classic ops-forecasting recurrence with a
    24-slot seasonal state vector that no window/aggregate composition
    expresses. Same engineering as events_holt_linear: justified
    ``applyInPandas`` fold in plain Python ints; floor division spelled
    subtract-nonneg-remainder-then-divide in the oracle because trend
    and season go NEGATIVE (DuckDB ``//`` floors, Spark ``div``
    truncates); the oracle carries the seasonal state as a LIST column
    through the recursive CTE with an indexed-lambda slot update. Cost
    bounded by the largest single series (hot-series soak discipline);
    cores-sized repartition guards the python stage from AQE
    byte-squeezing."""
    n_par = spark.sparkContext.defaultParallelism
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("user_id", "ts", "event_id",
                  F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                  .cast("long").alias("y"),
                  F.hour("ts").cast("long").alias("h"))
          .repartition(n_par, "user_id"))

    def hw(pdf):
        pdf = pdf.sort_values(["ts", "event_id"],
                              kind="mergesort").reset_index(drop=True)
        ys = [int(v) for v in pdf["y"]]
        hs = [int(v) for v in pdf["h"]]
        lv = ys[0]
        tr = 0
        season = [0] * 24
        ls, bs, ss = [lv], [tr], [0]
        for y, h in zip(ys[1:], hs[1:]):
            so = season[h]
            l_new = (y - so + 3 * (lv + tr)) // 4
            tr = (l_new - lv + 3 * tr) // 4
            sn = (y - l_new + 3 * so) // 4
            season[h] = sn
            lv = l_new
            ls.append(lv)
            bs.append(tr)
            ss.append(sn)
        out = pdf[["user_id", "ts", "event_id"]].copy()
        out["level_scaled"] = ls
        out["trend_scaled"] = bs
        out["season_scaled"] = ss
        return out

    return (ev.groupBy("user_id")
            .applyInPandas(
                hw,
                "user_id long, ts timestamp, event_id long, "
                "level_scaled long, trend_scaled long, season_scaled long")
            .withColumn("forecast_scaled",
                        F.col("level_scaled") + F.col("trend_scaled")
                        + F.col("season_scaled"))
            .orderBy("user_id", "ts", "event_id"))


@query(
    "streaming_holt_winters",
    f"""
    WITH RECURSIVE base AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y,
             CAST(hour(ts) AS BIGINT) AS h,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL),
    rec AS (
      SELECT user_id, rn, h, y AS l, CAST(0 AS BIGINT) AS b,
             list_transform(generate_series(1, 24),
                            x -> CAST(0 AS BIGINT)) AS s
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b2.user_id, b2.rn, b2.h,
             {_HW_LNEW} AS l,
             {_HW_BNEW} AS b,
             list_transform(r.s, (x, i) ->
               CASE WHEN i = CAST(b2.h + 1 AS INT)
                    THEN {_HW_SNEW} ELSE x END) AS s
      FROM rec r JOIN base b2
        ON b2.user_id = r.user_id AND b2.rn = r.rn + 1),
    fin AS (SELECT user_id, max(rn) AS n_events FROM rec GROUP BY user_id)
    SELECT r.user_id, f.n_events, r.l AS level_scaled, r.b AS trend_scaled,
           array_to_string(r.s, ',') AS season_state
    FROM rec r JOIN fin f
      ON r.user_id = f.user_id AND r.rn = f.n_events
    ORDER BY r.user_id
    """,
)
def streaming_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive seasonal smoothing maintained CONTINUOUSLY:
    the event stream replays through ``stateful_holt_winters``
    (``applyInPandasWithState`` — two longs + a 24-slot long ARRAY of
    state per key, the stateful family's first array-typed state), and
    the final per-key (n, level, trend, season vector) must equal the
    batch recurrence's last row INCLUDING the full seasonal state list —
    streaming and batch twins share one recursive-CTE oracle, the same
    twin discipline as the EWMA/CUSUM/Holt/CDC pairs.

    The seasonal vector is emitted as a CANONICAL comma-joined STRING
    (Spark ``array_join`` ≡ DuckDB ``array_to_string``) rather than an
    ARRAY column: the driver's correctness harness canonicalizes results
    through pandas ``sort_values``, which cannot hash numpy arrays —
    array/map output columns are banned from gated schemas
    (``tests/test_oracle_lint.py``)."""
    from meerschaum_spark.streaming.stateful import stateful_holt_winters

    sink = _replay_events_to_sink(spark, sf_dir, stateful_holt_winters,
                                  "holtwinters", output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (spark.table(sink)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "n_events", "level_scaled", "trend_scaled",
                    F.array_join(
                        F.transform(F.col("season_state"),
                                    lambda x: x.cast("string")),
                        ",").alias("season_state"))
            .orderBy("user_id"))


# ===========================================================================
# r10 tail: robust statistics (Theil-Sen, MAD) — exact integer forms
# ===========================================================================

#: Theil-Sen slope fixed-point scale: slopes emit in 1/1000 µ-units/hour.
TS_SLOPE_SCALE = 1000




@query(
    "events_theil_sen_slope",
    f"""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    pairs AS (
      SELECT a.event_type,
             (b.v - a.v) * {TS_SLOPE_SCALE} AS num,
             b.h - a.h AS den, a.h AS h1, b.h AS h2
      FROM hourly a JOIN hourly b
        ON a.event_type = b.event_type AND b.h > a.h),
    sl AS (
      SELECT event_type, {floordiv_sql('num', 'den')} AS slope, h1, h2
      FROM pairs),
    rk AS (
      SELECT event_type, slope,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope, h1, h2) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_pairs
      FROM sl),
    np AS (SELECT event_type, count(*) AS n_hours FROM hourly GROUP BY 1)
    SELECT r.event_type, np.n_hours, r.n_pairs,
           CAST(r.slope AS BIGINT) AS theil_sen_slope_scaled
    FROM rk r JOIN np USING (event_type)
    WHERE r.rn = (r.n_pairs + 1) // 2
    ORDER BY event_type
    """,
)
def events_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator per event_type: the LOW MEDIAN
    of all pairwise slopes between hourly value buckets — the
    breakdown-resistant complement to the OLS slope of
    ``events_stats_agg_linear`` (reference analogue: the stats-agg
    family of timescaledb-style continuous analytics).

    Exactness: values µ-scale to BIGINT, the hourly pre-agg sums
    integers, each pairwise slope is an exact FLOOR division (fixed
    point, ×{TS_SLOPE_SCALE}) spelled subtract-nonneg-remainder so both
    engines agree on negative numerators, and the median is an
    integer-count pick — no float anywhere. The pick counts the pairs
    per distinct slope, runs a cumulative count over the slopes in
    ascending order, and keeps the slope whose cumulative count first
    reaches k = (n_pairs + 1) div 2: the k-th smallest slope, which is
    exactly the oracle's ``rn = (n_pairs + 1) // 2`` row.

    Scale shape: the O(T²) pair join runs on the HOURLY AGGREGATE, not
    raw events (T = 720 here; a year of hours is 8.8k → 38M pairs per
    series, still tiny next to the raw scan at 100 TB); the per-slope
    counts partial-aggregate inside the pair-join tasks, so the
    cumulative window sorts distinct slopes per series, never every
    pair. For very long axes, coarsen the bucket — Theil-Sen on bounded
    T is the standard large-scale form."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    hourly = (ev.select(
                  "event_type",
                  F.expr("unix_micros(ts) div 3600000000").alias("h"),
                  F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                  .cast("long").alias("y"))
              .groupBy("event_type", "h")
              .agg(F.sum("y").alias("v")))
    from meerschaum_spark.functions.robust import theil_sen_pairs
    # guarded operator (r11): the O(T²) pair join refuses task-side if
    # any series exceeds THEIL_SEN_MAX_POINTS — this query's hourly
    # pre-agg stays far under it, values bit-identical to the inline form
    slopes = theil_sen_pairs(hourly, ["event_type"], "h", "v",
                             slope_scale=TS_SLOPE_SCALE)
    # median via per-slope COUNTS, not a per-series sort of every pair:
    # the previous rank window sorted all n_pairs rows of a series in
    # ONE task (T²/2 — 38M rows/series at a year of hours); the count
    # aggregation partial-aggregates map-side inside the pair-join
    # tasks and the cumulative window runs over DISTINCT slopes only.
    # The picked value is identical: the median row's (h1, h2)
    # tie-break never reached the output, only its slope — the k-th
    # smallest element of the slope multiset (k = (n_pairs+1) div 2),
    # which is the slope whose cumulative count first reaches k.
    cnt = slopes.groupBy("event_type", "slope").agg(
        F.count(F.lit(1)).alias("_c"))
    wcum = Window.partitionBy("event_type").orderBy("slope")
    wn = Window.partitionBy("event_type")
    k = F.expr("(n_pairs + 1) div 2")
    ranked = (cnt.withColumn("_cum", F.sum("_c").over(wcum))
              .withColumn("n_pairs", F.sum("_c").over(wn)))
    n_hours = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"))
    return (ranked
            .filter(((F.col("_cum") - F.col("_c")) < k)
                    & (k <= F.col("_cum")))
            .join(F.broadcast(n_hours), on="event_type")
            .select("event_type", "n_hours", "n_pairs",
                    F.col("slope").alias("theil_sen_slope_scaled"))
            .orderBy("event_type"))


@query(
    "events_mad_outliers",
    """
    WITH base AS (
      SELECT event_type, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL),
    r1 AS (
      SELECT event_type, event_id, y,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY y, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM base),
    med AS (SELECT event_type, y AS med, n FROM r1
            WHERE rn = (n + 1) // 2),
    dev AS (
      SELECT b.event_type, b.event_id, abs(b.y - m.med) AS d, m.med, m.n
      FROM base b JOIN med m USING (event_type)),
    r2 AS (
      SELECT event_type, d, med, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY d, event_id) AS rn
      FROM dev),
    mad AS (SELECT event_type, d AS mad, med, n FROM r2
            WHERE rn = (n + 1) // 2)
    SELECT d.event_type, m.n AS n_events,
           m.med AS median_scaled, m.mad AS mad_scaled,
           count(*) FILTER (WHERE d.d > 3 * m.mad) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1, 2, 3, 4
    ORDER BY event_type
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen per event_type — the
    robust twin of ``events_anomaly_zscore`` (a 50%-breakdown scale
    estimate where one wild value wrecks a z-score): low-median of
    µ-scaled values, low-median of absolute deviations, and the count
    of points past 3×MAD. Entirely BIGINT (scale, subtract, abs,
    row_number picks), so the gate hash is trivially exact.

    Scale shape: two rank windows partitioned per series plus one
    broadcast join of the 5-row median/MAD table back onto the data;
    nothing global, nothing floating."""
    base = (load_table(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull())
            .select("event_type", "event_id",
                    F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                    .cast("long").alias("y")))
    w1 = Window.partitionBy("event_type").orderBy("y", "event_id")
    wn = Window.partitionBy("event_type")
    r1 = (base.withColumn("rn", F.row_number().over(w1))
          .withColumn("n", F.count(F.lit(1)).over(wn)))
    med = (r1.filter(F.col("rn") == F.expr("(n + 1) div 2"))
           .select("event_type", F.col("y").alias("med"), "n"))
    dev = (base.join(F.broadcast(med), on="event_type")
           .withColumn("d", F.abs(F.col("y") - F.col("med"))))
    w2 = Window.partitionBy("event_type").orderBy("d", "event_id")
    r2 = dev.withColumn("rn", F.row_number().over(w2))
    mad = (r2.filter(F.col("rn") == F.expr("(n + 1) div 2"))
           .select("event_type", F.col("d").alias("mad")))
    return (dev.join(F.broadcast(mad), on="event_type")
            .groupBy("event_type", "n", "med", "mad")
            .agg(F.sum(F.when(F.col("d") > 3 * F.col("mad"), 1)
                       .otherwise(0)).alias("n_outliers"))
            .select("event_type", F.col("n").alias("n_events"),
                    F.col("med").alias("median_scaled"),
                    F.col("mad").alias("mad_scaled"), "n_outliers")
            .orderBy("event_type"))


_MA_K = 12            # absorption power-iteration steps (spec, not approx)
_MA_SCALE = 10 ** 12  # probability fixed-point scale
#: FIXTURE COUPLING (ADVICE r10): the oracle unrolls one 12-step CTE
#: ladder per channel, so its channel list must be static SQL text,
#: while the Spark side derives channels from the data. These must be
#: exactly the distinct non-purchase event types of every gated fixture
#: (sf0.001/sf0.01 events.parquet) or the row counts diverge —
#: ``tests/test_oracle_lint.py::test_markov_channels_match_fixtures``
#: executes that assertion against the real parquet.
_MA_CHANNELS = ("click", "error", "signup", "view")


def _ma_counts_sql() -> str:
    """Journey transition counts: per user ordered by (ts, event_id),
    truncated at the FIRST purchase (mapped to the CONV absorber);
    non-converters emit a final →NULL transition; START precedes every
    first touch."""
    return """
    seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    fp AS (SELECT user_id, min(rn) AS prn FROM seq
           WHERE event_type = 'purchase' GROUP BY 1),
    j AS (
      SELECT s.user_id, s.rn,
             CASE WHEN s.event_type = 'purchase'
                  THEN 'CONV' ELSE s.event_type END AS st,
             fp.prn
      FROM seq s LEFT JOIN fp USING (user_id)
      WHERE fp.prn IS NULL OR s.rn <= fp.prn),
    tr AS (
      SELECT coalesce(lag(st) OVER (PARTITION BY user_id ORDER BY rn),
                      'START') AS s,
             st AS t
      FROM j
      UNION ALL
      SELECT st AS s, 'NULL' AS t FROM (
        SELECT user_id, st, prn,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY rn DESC) AS rr
        FROM j) z
      WHERE rr = 1 AND prn IS NULL),
    cnts AS (SELECT s, t, CAST(count(*) AS BIGINT) AS cnt
             FROM tr GROUP BY 1, 2),
    outs AS (SELECT s, CAST(sum(cnt) AS BIGINT) AS out_s
             FROM cnts GROUP BY 1),
    cm AS (SELECT c.s, c.t, c.cnt, o.out_s
           FROM cnts c JOIN outs o USING (s))"""


def _ma_iter_sql(tag: str, removed: str | None) -> str:
    """K unrolled power-iteration steps for one variant: v(s) ←
    ⌊Σ_t cnt·val(t) / out_s⌋ with CONV pinned to SCALE, NULL (and the
    removed channel) pinned to 0 — all values nonnegative, so plain
    integer division IS floor division on both engines."""
    rm = (f"WHEN cm.t = '{removed}' THEN 0" if removed else "")
    steps = [f"""
    v_{tag}_0 AS (SELECT DISTINCT s, CAST(0 AS BIGINT) AS v FROM cm)"""]
    for k in range(1, _MA_K + 1):
        steps.append(f"""
    v_{tag}_{k} AS MATERIALIZED (
      SELECT cm.s,
             CAST(sum(cm.cnt * CASE
                 WHEN cm.t = 'CONV' THEN CAST({_MA_SCALE} AS BIGINT)
                 WHEN cm.t = 'NULL' THEN 0
                 {rm}
                 ELSE coalesce(p.v, 0) END) // max(cm.out_s) AS BIGINT)
               AS v
      FROM cm LEFT JOIN v_{tag}_{k - 1} p ON p.s = cm.t
      GROUP BY cm.s)""")
    return ",".join(steps)


def _ma_sql() -> str:
    parts = [_ma_counts_sql(), _ma_iter_sql("base", None)]
    selects = []
    for ch in _MA_CHANNELS:
        parts.append(_ma_iter_sql(ch, ch))
        selects.append(f"""
    SELECT '{ch}' AS channel,
           (SELECT v FROM v_base_{_MA_K} WHERE s = 'START')
             AS base_p_scaled,
           (SELECT v FROM v_{ch}_{_MA_K} WHERE s = 'START')
             AS removed_p_scaled""")
    return f"""
    WITH {','.join(parts)},
    eff AS (
      SELECT channel, base_p_scaled, removed_p_scaled,
             CASE WHEN base_p_scaled > 0 THEN
               CAST(((base_p_scaled - removed_p_scaled) * 1000000)
                    // base_p_scaled AS BIGINT) END AS removal_effect_fp
      FROM ({' UNION ALL '.join(selects)}))
    SELECT channel, base_p_scaled, removed_p_scaled, removal_effect_fp,
           CASE WHEN sum(removal_effect_fp) OVER () > 0 THEN
             CAST((removal_effect_fp * 1000000)
                  // (sum(removal_effect_fp) OVER ()) AS BIGINT) END
             AS attribution_share_fp
    FROM eff ORDER BY channel
    """


@query("events_markov_attribution", _ma_sql())
def events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain multi-touch ATTRIBUTION by removal effect (Anderl
    et al. 2014 — the data-driven alternative to last-click): user
    journeys truncated at first purchase form a first-order chain with
    START/CONV/NULL absorbers; each channel's value is how much the
    START→CONV absorption probability drops when that channel is
    removed (its states absorbed to NULL), normalized into shares.

    Exactness: the absorption probabilities run 12 power-iteration
    steps (the spec, not an approximation knob) in 10^12-scaled 64-bit
    integers — one floor division per (state, step), every value
    nonnegative, so Spark and the oracle's unrolled CTE ladder agree
    bit-for-bit; removal monotonely lowers every iterate, so effects
    are nonnegative by construction.

    Scale shape: the corpus-scale work is the transition extraction
    (one per-user ordered window + one hash agg); the chain itself has
    ≤ |event-type vocabulary| + 3 states, so the count matrix is
    CONTRACTED driver-local (the MMR/BPE-argmax discipline — tens of
    rows by contract, not data-sized) and the (1 + channels) × 12
    iteration solve costs microseconds on literals."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    st = F.when(F.col("event_type") == "purchase",
                F.lit("CONV")).otherwise(F.col("event_type"))
    seq = (ev.select("user_id", "ts", "event_id", st.alias("st"))
           .withColumn("rn", F.row_number().over(w)))
    fp = (seq.filter(F.col("st") == "CONV")
          .groupBy("user_id").agg(F.min("rn").alias("prn")))
    j = (seq.join(fp, on="user_id", how="left")
         .filter(F.col("prn").isNull() | (F.col("rn") <= F.col("prn"))))
    wj = Window.partitionBy("user_id").orderBy("rn")
    pairs = j.select(
        F.coalesce(F.lag("st").over(wj), F.lit("START")).alias("s"),
        F.col("st").alias("t"))
    wl = Window.partitionBy("user_id").orderBy(F.col("rn").desc())
    last = (j.withColumn("rr", F.row_number().over(wl))
            .filter((F.col("rr") == 1) & F.col("prn").isNull())
            .select(F.col("st").alias("s"), F.lit("NULL").alias("t")))
    cm_rows = (pairs.unionByName(last)
               .groupBy("s", "t").agg(F.count(F.lit(1)).alias("cnt"))
               .collect())
    outs: dict = {}
    for r in cm_rows:
        outs[r["s"]] = outs.get(r["s"], 0) + int(r["cnt"])
    cm = [(r["s"], r["t"], int(r["cnt"]), outs[r["s"]]) for r in cm_rows]
    states = sorted(outs)
    by_s: dict = {}
    for s, t, cnt, out in cm:
        by_s.setdefault(s, []).append((t, cnt, out))

    def absorb(removed: str | None) -> int:
        v = {s: 0 for s in states}
        for _ in range(_MA_K):
            nv = {}
            for s in states:
                tot = 0
                out = outs[s]
                for t, cnt, _o in by_s[s]:
                    if t == "CONV":
                        val = _MA_SCALE
                    elif t == "NULL" or t == removed:
                        val = 0
                    else:
                        val = v.get(t, 0)
                    tot += cnt * val
                nv[s] = tot // out
            v = nv
        return v.get("START", 0)

    base = absorb(None)
    channels = sorted(s for s in states if s not in ("START",))
    rows = []
    for ch in channels:
        removed = absorb(ch)
        eff = (((base - removed) * 1_000_000) // base
               if base > 0 else None)
        rows.append([ch, base, removed, eff])
    tot_eff = sum(r[3] for r in rows if r[3] is not None)
    out_rows = [
        (ch, b, rm, eff,
         (eff * 1_000_000) // tot_eff
         if eff is not None and tot_eff > 0 else None)
        for ch, b, rm, eff in rows]
    return spark.createDataFrame(
        out_rows,
        "channel string, base_p_scaled long, removed_p_scaled long, "
        "removal_effect_fp long, attribution_share_fp long"
    ).orderBy("channel")


@query(
    "events_survival_km",
    """
    WITH u AS (
      SELECT user_id, min(epoch_us(ts)) AS first_us,
             min(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS conv_us
      FROM events GROUP BY 1),
    h AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
    d AS (
      SELECT first_us // (86400000000 * 30) AS cohort,
             CASE WHEN conv_us IS NOT NULL
                  THEN (conv_us - first_us) // 86400000000
                  ELSE (max_us - first_us) // 86400000000 END AS day,
             CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END AS death
      FROM u, h),
    g AS (SELECT cohort, day,
                 CAST(sum(death) AS BIGINT) AS d,
                 CAST(count(*) - sum(death) AS BIGINT) AS c
          FROM d GROUP BY 1, 2),
    r AS (SELECT cohort, day, d,
                 CAST(sum(d + c) OVER (
                     PARTITION BY cohort ORDER BY day DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n
          FROM g),
    dd AS (SELECT cohort, day, d, n,
                  1.0 - CAST(d AS DOUBLE) / n AS f
           FROM r WHERE d > 0),
    a AS (SELECT cohort,
                 list(day ORDER BY day) AS ds,
                 list(d ORDER BY day) AS dl,
                 list(n ORDER BY day) AS nl,
                 list(f ORDER BY day) AS fs
          FROM dd GROUP BY cohort),
    e AS (SELECT cohort, unnest(ds) AS day, unnest(dl) AS n_deaths,
                 unnest(nl) AS n_at_risk,
                 generate_subscripts(ds, 1) AS i, fs
          FROM a)
    SELECT cohort, day, n_at_risk, n_deaths,
           list_reduce(list_slice(fs, 1, i), (x, y) -> x * y) AS survival
    FROM e ORDER BY cohort, day
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier conversion-survival curves per 30-day signup cohort
    — the classic censored time-to-event estimator (signup = first
    event, death = first purchase, right-censored at the observation
    horizon): S(t) = Π_{death days s ≤ t} (1 − d_s/n_s).

    Cross-engine exactness: deaths/at-risk are exact BIGINTs (the
    at-risk set is one descending per-cohort cumsum), each factor is
    ONE IEEE division, and the cumulative product folds LEFT-TO-RIGHT
    over the day-sorted factor array on both engines (Spark
    ``F.aggregate`` seeded 1.0 ≡ DuckDB ``list_reduce`` over
    ``list_slice`` — 1.0·x == x exactly, the ``_pq_subdist_dbl``
    fold-identity idiom), so every prefix product is bit-identical.

    Scale shape: one per-user hash agg, one per-(cohort, day) hash agg
    (days-sized, tiny), a per-cohort cumsum window, and the fold runs
    over arrays of ≤ a few hundred death days per cohort — nothing
    past the first agg is corpus-scale."""
    ev = load_table(spark, sf_dir, "events")
    u = (ev.groupBy("user_id")
         .agg(F.min(F.unix_micros("ts")).alias("first_us"),
              F.min(F.when(F.col("event_type") == "purchase",
                           F.unix_micros("ts"))).alias("conv_us")))
    max_us = ev.agg(F.max(F.unix_micros("ts")).alias("max_us"))
    d = (u.crossJoin(F.broadcast(max_us))
         .select(
             F.expr("first_us div (86400000000 * 30)").alias("cohort"),
             F.when(F.col("conv_us").isNotNull(),
                    F.expr("(conv_us - first_us) div 86400000000"))
             .otherwise(F.expr("(max_us - first_us) div 86400000000"))
             .alias("day"),
             F.when(F.col("conv_us").isNotNull(), 1).otherwise(0)
             .alias("death")))
    g = (d.groupBy("cohort", "day")
         .agg(F.sum("death").alias("d"),
              (F.count(F.lit(1)) - F.sum("death")).alias("c")))
    w = (Window.partitionBy("cohort").orderBy(F.col("day").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = g.withColumn("n", F.sum(F.col("d") + F.col("c")).over(w))
    dd = (r.filter(F.col("d") > 0)
          .withColumn("f", F.lit(1.0)
                      - F.col("d").cast("double") / F.col("n")))
    a = (dd.groupBy("cohort")
         .agg(F.array_sort(F.collect_list(
             F.struct("day", "d", "n", "f"))).alias("arr")))
    e = (a.select("cohort", F.transform("arr", lambda x: x["f"])
                  .alias("fs"),
                  F.posexplode("arr").alias("i0", "s")))
    return (e.select(
                "cohort",
                F.col("s.day").alias("day"),
                F.col("s.n").alias("n_at_risk"),
                F.col("s.d").alias("n_deaths"),
                F.aggregate(F.slice("fs", F.lit(1), F.col("i0") + 1),
                            F.lit(1.0),
                            lambda acc, x: acc * x).alias("survival"))
            .orderBy("cohort", "day"))


@query(
    "events_changepoint",
    """
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
               // 1000000 AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    cum AS (
      SELECT event_type, h, y,
             row_number() OVER w AS i,
             sum(y) OVER w AS cs,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(y) OVER (PARTITION BY event_type) AS tot
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    gains AS (
      SELECT event_type, h, i, n, cs, tot,
             (cs * cs) // i + ((tot - cs) * (tot - cs)) // (n - i)
               - (tot * tot) // n AS gain
      FROM cum WHERE i < n),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY gain DESC, h ASC) AS rn
      FROM gains)
    SELECT event_type, n AS n_hours, h AS split_h,
           CAST(gain AS BIGINT) AS gain_proxy,
           i AS n_left, n - i AS n_right,
           CAST((cs * 1000) // i AS BIGINT) AS mean_left_scaled,
           CAST(((tot - cs) * 1000) // (n - i) AS BIGINT)
             AS mean_right_scaled
    FROM best WHERE rn = 1 ORDER BY event_type
    """,
)
def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection per series (the binary-segmentation
    step of PELT/BinSeg): over the hourly unit-value series, pick the
    split k maximizing the between-segment variance-reduction proxy
    ``(ΣL)²//nL + (ΣR)²//nR − (Σ)²//n`` — the standard L2 CUSUM-of-
    means objective with each term FLOORED, so the argmax is a pure
    BIGINT comparison on both engines (gain terms divide SQUARES, so
    truncation == floor there; the sign-sensitive divisions — the
    hourly sum scale-down and the two segment means — use the
    subtract-nonneg-remainder floordiv spell on the Spark side to
    match DuckDB's flooring ``//`` for negative values too; magnitudes
    ≤ (Σ units)² ≈ 1e14 at this scale — far inside int64).

    Scale shape: one groupBy to hours, one per-series ordered cumsum
    window (series-partitioned, T = hours, never global), one rank.
    Deeper segmentations recurse on the halves with the same plan."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    hourly = (ev.select(
                  "event_type",
                  F.expr("unix_micros(ts) div 3600000000").alias("h"),
                  F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                  .cast("long").alias("ym"))
              .groupBy("event_type", "h")
              .agg(F.expr(floordiv_spark("sum(ym)", "1000000"))
                   .alias("y")))
    w = (Window.partitionBy("event_type").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wn = Window.partitionBy("event_type")
    cum = (hourly
           .withColumn("i", F.row_number().over(
               Window.partitionBy("event_type").orderBy("h")))
           .withColumn("cs", F.sum("y").over(w))
           .withColumn("n", F.count(F.lit(1)).over(wn))
           .withColumn("tot", F.sum("y").over(wn)))
    gains = (cum.filter(F.col("i") < F.col("n"))
             .withColumn("gain",
                         F.expr("(cs * cs) div i"
                                " + ((tot - cs) * (tot - cs)) div (n - i)"
                                " - (tot * tot) div n")))
    wb = Window.partitionBy("event_type").orderBy(
        F.col("gain").desc(), F.col("h").asc())
    return (gains.withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") == 1)
            .select("event_type", F.col("n").alias("n_hours"),
                    F.col("h").alias("split_h"),
                    F.col("gain").alias("gain_proxy"),
                    F.col("i").alias("n_left"),
                    (F.col("n") - F.col("i")).alias("n_right"),
                    F.expr(floordiv_spark("cs * 1000", "i"))
                    .alias("mean_left_scaled"),
                    F.expr(floordiv_spark("(tot - cs) * 1000", "n - i"))
                    .alias("mean_right_scaled"))
            .orderBy("event_type"))


# ===========================================================================
# r12: classical seasonal-trend decomposition (moving-average based)
# ===========================================================================

@query(
    "events_seasonal_decompose",
    f"""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    win AS (
      SELECT event_type, h, v,
             lag(v, 12)  OVER w AS v_m12,
             lead(v, 12) OVER w AS v_p12,
             CAST(sum(v) OVER (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING)
                  AS BIGINT) AS mid_sum,
             count(*) OVER (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING)
               AS mid_n
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h)),
    trend AS (
      SELECT event_type, h, v,
             {floordiv_sql('v_m12 + v_p12 + 2 * mid_sum', '48')} AS t
      FROM win
      WHERE v_m12 IS NOT NULL AND v_p12 IS NOT NULL AND mid_n = 23)
    SELECT event_type, CAST(h % 24 AS BIGINT) AS hod,
           count(*) AS n_windows,
           {floordiv_sql('CAST(sum(v - t) AS BIGINT)', 'count(*)')} AS season_scaled,
           min(v - t) AS min_detrended_scaled,
           max(v - t) AS max_detrended_scaled
    FROM trend
    GROUP BY event_type, h % 24
    ORDER BY event_type, hod
    """,
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL additive seasonal-trend decomposition (the
    statsmodels ``seasonal_decompose`` shape — descriptive moving
    averages, the complement to the Holt-Winters family's model-based
    recursions): per event_type the hourly µ-scaled series decomposes
    as trend = centered 2×24 moving average (the even-period spell
    ``(x[t-12] + x[t+12] + 2·Σx[t-11..t+11]) // 48``, floor division
    via the cross-engine subtract-remainder twins since values go
    negative), and the seasonal index per hour-of-day is the floored
    mean of the detrended values over every complete window. Exact
    BIGINT arithmetic end to end; the ±12 window is a ROW window over
    the existing hourly rows on both engines, so gaps cannot split
    them. Plan: one hash agg → one per-key window (never
    single-partition) → one hash agg."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("event_type",
                  F.expr("unix_micros(ts) div 3600000000").alias("h"),
                  F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                  .cast("long").alias("y")))
    hourly = ev.groupBy("event_type", "h").agg(F.sum("y").alias("v"))
    w = Window.partitionBy("event_type").orderBy("h")
    wmid = w.rowsBetween(-11, 11)
    win = hourly.select(
        "event_type", "h", "v",
        F.lag("v", 12).over(w).alias("v_m12"),
        F.lead("v", 12).over(w).alias("v_p12"),
        F.sum("v").over(wmid).alias("mid_sum"),
        F.count(F.lit(1)).over(wmid).alias("mid_n"))
    trend = (win
             .filter(F.col("v_m12").isNotNull()
                     & F.col("v_p12").isNotNull()
                     & (F.col("mid_n") == 23))
             .select("event_type", "h", "v",
                     F.expr(floordiv_spark("v_m12 + v_p12 + 2 * mid_sum",
                                           "48")).alias("t")))
    return (trend
            .groupBy("event_type", (F.col("h") % 24).alias("hod"))
            .agg(F.count(F.lit(1)).alias("n_windows"),
                 F.expr(floordiv_spark("sum(v - t)", "count(1)"))
                 .alias("season_scaled"),
                 F.min(F.col("v") - F.col("t"))
                 .alias("min_detrended_scaled"),
                 F.max(F.col("v") - F.col("t"))
                 .alias("max_detrended_scaled"))
            .orderBy("event_type", "hod"))


# ===========================================================================
# r12: optimize()/compaction under the gate (pipe_optimize_compact)
# ===========================================================================

@query(
    "pipe_optimize_compact",
    """
    SELECT epoch_us(ts) // 604800000000 AS cell,
           count(*) AS n_rows,
           count(DISTINCT event_id) AS n_ids,
           CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_scaled,
           1 AS n_files_after
    FROM events WHERE value IS NOT NULL
    GROUP BY 1 ORDER BY cell
    """,
)
def pipe_optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipe.optimize()`` (M9 — the OPTIMIZE/compress analogue,
    reference connectors/sql/_compress.py:31-636) under the correctness
    gate: events sync in three interleaved batches (``event_id % 3``) so
    EVERY 7-day partition cell accumulates ≥3 small append files — the
    exact debt a busy ingest leaves behind — then one ``optimize()``
    rewrites each cell to a single file. The returned frame is the
    POST-compaction physical truth (per-cell file count read from the
    store directory) joined with per-cell logical aggregates read back
    through the compacted files; the oracle recomputes the aggregates
    from the raw table and pins ``n_files_after = 1`` — hash equality
    proves compaction rewrote every cell without losing, duplicating,
    or corrupting a row. The in-query asserts pin the debt actually
    existed and the return value counted every cell."""
    import os as _os
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe
    from meerschaum_spark.store import PART_COL

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("ts", "event_id",
                  F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                  .cast("long").alias("v")))
    instance = tempfile.mkdtemp(prefix="mrsm_q_optc_")
    try:
        pipe = Pipe(
            "catalog", "optc", instance=instance, spark=spark,
            columns={"datetime": "ts", "id": "event_id"},
            parameters={"verify": {"chunk_minutes": 10080}})
        for k in range(3):
            r = pipe.sync(ev.filter(F.col("event_id") % 3 == k))
            assert r.success, r.message

        def files_per_cell() -> dict[int, int]:
            out: dict[int, int] = {}
            for entry in _os.scandir(pipe.store.data_path):
                if entry.is_dir() and entry.name.startswith(f"{PART_COL}="):
                    out[int(entry.name.split("=", 1)[1])] = sum(
                        1 for f in _os.listdir(entry.path)
                        if f.endswith(".parquet"))
            return out

        before = files_per_cell()
        assert before and min(before.values()) >= 3, before
        n = pipe.optimize()
        assert n == len(before), (n, before)
        after = files_per_cell()
        aggs = (pipe.store.read(dtypes=pipe.dtypes or None,
                                keep_part_col=True)
                .groupBy(F.col(PART_COL).alias("cell"))
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.countDistinct("event_id").alias("n_ids"),
                     F.sum("v").alias("sum_scaled"))
                .collect())
        rows = [(int(r["cell"]), int(r["n_rows"]), int(r["n_ids"]),
                 int(r["sum_scaled"]), int(after[int(r["cell"])]))
                for r in aggs]
        rows.sort()
        return spark.createDataFrame(
            rows, "cell long, n_rows long, n_ids long, sum_scaled long, "
                  "n_files_after int")
    finally:
        shutil.rmtree(instance, ignore_errors=True)


# ===========================================================================
# r12: pipe lifecycle round-trip under the gate (copy_to / clear / drop)
# ===========================================================================

@query(
    "pipe_lifecycle_roundtrip",
    """
    SELECT count(*) AS n_rows_src,
           CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_scaled_src,
           count(CASE WHEN ts < TIMESTAMP '2024-01-10'
                        OR ts >= TIMESTAMP '2024-01-20'
                      THEN 1 END) AS n_rows_copy_after_clear,
           CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-10'
                           OR ts >= TIMESTAMP '2024-01-20'
                         THEN CAST(floor(value * 1000000 + 0.5) AS BIGINT)
                     END) AS BIGINT) AS sum_scaled_copy_after_clear,
           CAST(0 AS BIGINT) AS n_in_cleared_window,
           1 AS copy_dropped
    FROM events WHERE value IS NOT NULL
    """,
)
def pipe_lifecycle_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance-verb LIFECYCLE under the gate (M4/M5/M6 —
    reference core/Pipe/_copy.py, _clear.py, _drop.py — previously
    tests-only evidence): events sync into pipe A, ``copy_to`` clones A
    into pipe B on the same instance (the pipe→pipe seam that also
    serves cross-instance HTTP copies), ``clear`` deletes a 10-day
    window from B (bounded delete — partition-pruned swap, never a full
    rewrite), and B then drops. The returned row carries A's aggregates
    (copy must not disturb the source), B's post-clear aggregates, B's
    rowcount inside the cleared window (pinned 0), and the drop probe —
    all recomputed by the oracle from the raw table with the same
    window arithmetic. End-exclusive bounds are load-bearing: rows at
    exactly 2024-01-20T00:00:00 survive the clear on both engines."""
    import datetime as _dt
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("ts", "event_id",
                  F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                  .cast("long").alias("v")))
    instance = tempfile.mkdtemp(prefix="mrsm_q_life_")
    b0 = _dt.datetime(2024, 1, 10)
    e0 = _dt.datetime(2024, 1, 20)
    try:
        a = Pipe("catalog", "life", "src", instance=instance, spark=spark,
                 columns={"datetime": "ts", "id": "event_id"})
        r = a.sync(ev)
        assert r.success, r.message
        b = Pipe("catalog", "life", "copy", instance=instance, spark=spark,
                 columns={"datetime": "ts", "id": "event_id"})
        rc = a.copy_to(b)
        assert rc.success, rc.message
        b.clear(begin=b0, end=e0)
        row_a = (a.get_data(order=None)
                 .agg(F.count(F.lit(1)).alias("n_rows_src"),
                      F.sum("v").alias("sum_scaled_src")).collect()[0])
        row_b = (b.get_data(order=None)
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("v").alias("s")).collect()[0])
        n_win = b.get_rowcount(begin=b0, end=e0)
        b.drop()
        dropped = int(not b.exists(refresh=True))
        return spark.createDataFrame(
            [(int(row_a["n_rows_src"]), int(row_a["sum_scaled_src"]),
              int(row_b["n"]), int(row_b["s"]), int(n_win), dropped)],
            "n_rows_src long, sum_scaled_src long, "
            "n_rows_copy_after_clear long, sum_scaled_copy_after_clear "
            "long, n_in_cleared_window long, copy_dropped int")
    finally:
        shutil.rmtree(instance, ignore_errors=True)


@query(
    "pipe_repartition_grid",
    """
    WITH base AS (
      SELECT ts, CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL)
    SELECT (SELECT count(DISTINCT epoch_us(ts) // 604800000000)
            FROM base) AS n_cells_after,
           count(*) AS n_rows,
           CAST(sum(v) AS BIGINT) AS sum_scaled,
           count(CASE WHEN ts >= TIMESTAMP '2024-01-04'
                       AND ts <  TIMESTAMP '2024-01-11'
                      THEN 1 END) AS n_rows_one_week,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-04'
                          AND ts <  TIMESTAMP '2024-01-11'
                         THEN v END) AS BIGINT) AS sum_scaled_one_week
    FROM base
    """,
)
def pipe_repartition_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipe.repartition_grid`` (M8 — reference table-rebuild
    repartitioning, connectors/sql/_partition.py:795-942 — previously
    tests-only evidence) under the gate: events sync onto the default
    30-day grid, the table rebuilds onto a 7-day grid, and the returned
    row pins BOTH the physical outcome (the post-rebuild partition-cell
    count, read from the store's directory layout and cross-checked
    against the oracle's distinct epoch-week count) and the logical one
    (total and one-aligned-week aggregates read back through the NEW
    grid, where the bounded read prunes to exactly one cell). A rebuild
    that dropped, duplicated, or mis-binned a single row flips a hash;
    a rebuild that ignored the new width flips n_cells_after."""
    import datetime as _dt
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("ts", "event_id",
                  F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                  .cast("long").alias("v")))
    instance = tempfile.mkdtemp(prefix="mrsm_q_regrid_")
    try:
        pipe = Pipe("catalog", "regrid", instance=instance, spark=spark,
                    columns={"datetime": "ts", "id": "event_id"})
        r = pipe.sync(ev)
        assert r.success, r.message
        assert pipe.chunk_minutes == 43_200  # default 30-day grid
        rr = pipe.repartition_grid(10_080)   # -> 7-day grid
        assert rr.success, rr.message
        assert pipe.chunk_minutes == 10_080
        n_cells = len(pipe.store.partition_values())
        # 2024-01-04 00:00 UTC is epoch-week-aligned (1704326400 s =
        # 2818 x 604800 exactly; epoch weeks start on Thursdays), so the
        # bounded read prunes to exactly one 7-day cell on the new grid
        b0, e0 = _dt.datetime(2024, 1, 4), _dt.datetime(2024, 1, 11)
        week = (pipe.get_data(begin=b0, end=e0, order=None)
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("v").alias("s")).collect()[0])
        tot = (pipe.get_data(order=None)
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("v").alias("s")).collect()[0])
        return spark.createDataFrame(
            [(int(n_cells), int(tot["n"]), int(tot["s"]),
              int(week["n"]), int(week["s"]))],
            "n_cells_after long, n_rows long, sum_scaled long, "
            "n_rows_one_week long, sum_scaled_one_week long")
    finally:
        shutil.rmtree(instance, ignore_errors=True)


# ===========================================================================
# r12: one-step-ahead forecast accuracy — model selection, measured
# ===========================================================================

@query(
    "events_forecast_accuracy",
    f"""
    WITH RECURSIVE base AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y,
             CAST(hour(ts) AS BIGINT) AS h,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL),
    rec AS (
      SELECT user_id, rn, h, y AS l, CAST(0 AS BIGINT) AS b,
             list_transform(generate_series(1, 24),
                            x -> CAST(0 AS BIGINT)) AS s,
             CAST(0 AS BIGINT) AS cum_err, CAST(0 AS BIGINT) AS n_f
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b2.user_id, b2.rn, b2.h,
             {_HW_LNEW} AS l,
             {_HW_BNEW} AS b,
             list_transform(r.s, (x, i) ->
               CASE WHEN i = CAST(b2.h + 1 AS INT)
                    THEN {_HW_SNEW} ELSE x END) AS s,
             r.cum_err + abs(b2.y - (r.l + r.b + {_HW_SOLD})) AS cum_err,
             r.n_f + 1 AS n_f
      FROM rec r JOIN base b2
        ON b2.user_id = r.user_id AND b2.rn = r.rn + 1),
    fin AS (SELECT user_id, max(rn) AS mx FROM rec GROUP BY user_id),
    hw AS (SELECT CAST(sum(r.cum_err) AS BIGINT) AS tot,
                  CAST(sum(r.n_f) AS BIGINT) AS n
           FROM rec r JOIN fin f
             ON r.user_id = f.user_id AND r.rn = f.mx),
    lagd AS (
      SELECT y, h,
             lag(y) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS py,
             lag(y) OVER (PARTITION BY user_id, h
                          ORDER BY ts, event_id) AS psy
      FROM base),
    nv AS (SELECT CAST(sum(abs(y - py)) AS BIGINT) AS tot,
                  count(py) AS n
           FROM lagd WHERE py IS NOT NULL),
    sn AS (SELECT CAST(sum(abs(y - psy)) AS BIGINT) AS tot,
                  count(psy) AS n
           FROM lagd WHERE psy IS NOT NULL)
    SELECT model, n_forecasts, total_abs_err_scaled,
           {floordiv_sql('total_abs_err_scaled', 'n_forecasts')}
             AS mae_scaled
    FROM (
      SELECT 'holt_winters' AS model, n AS n_forecasts,
             tot AS total_abs_err_scaled FROM hw
      UNION ALL
      SELECT 'naive_last', n, tot FROM nv
      UNION ALL
      SELECT 'seasonal_naive_hod', n, tot FROM sn)
    ORDER BY model
    """,
)
def events_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-STEP-AHEAD forecast accuracy of the Holt-Winters recurrence
    vs the two baselines every forecasting text demands you beat —
    naive (last value) and seasonal-naive (last value at the same
    hour-of-day): per-event absolute error of the PRE-update forecast
    ``l+b+s[h]`` accumulated through the same exact integer recurrence,
    baselines as plain window lags, one (model, n, total, MAE) row
    each. Model SELECTION measured rather than assumed — a pipeline
    should demote HW wherever a naive column wins. MEASURED at sf0.01:
    HW MAE 43.38M µ-units vs naive 49.33M vs seasonal-naive 49.55M —
    the recurrence earns its keep here (~12% under both baselines),
    and the query is the instrument that would catch the corpus where
    it doesn't. All BIGINT; MAE via the cross-engine floor-division
    twins."""
    n_par = spark.sparkContext.defaultParallelism
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("user_id", "ts", "event_id",
                  F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                  .cast("long").alias("y"),
                  F.hour("ts").cast("long").alias("h")))

    def hw_err(pdf):
        import pandas as pd
        pdf = pdf.sort_values(["ts", "event_id"],
                              kind="mergesort").reset_index(drop=True)
        ys = [int(v) for v in pdf["y"]]
        hs = [int(v) for v in pdf["h"]]
        lv, tr = ys[0], 0
        season = [0] * 24
        cum = nf = 0
        for y, hh in zip(ys[1:], hs[1:]):
            so = season[hh]
            cum += abs(y - (lv + tr + so))
            nf += 1
            l_new = (y - so + 3 * (lv + tr)) // 4
            tr = (l_new - lv + 3 * tr) // 4
            season[hh] = (y - l_new + 3 * so) // 4
            lv = l_new
        return pd.DataFrame({"cum_err": [cum], "n_f": [nf]})

    hw = (ev.repartition(n_par, "user_id")
          .groupBy("user_id")
          .applyInPandas(hw_err, "cum_err long, n_f long")
          .agg(F.sum("cum_err").alias("tot"), F.sum("n_f").alias("n"))
          .select(F.lit("holt_winters").alias("model"),
                  F.col("n").alias("n_forecasts"),
                  F.col("tot").alias("total_abs_err_scaled")))

    w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w2 = Window.partitionBy("user_id", "h").orderBy("ts", "event_id")
    lagd = ev.select(
        "y", F.lag("y").over(w1).alias("py"),
        F.lag("y").over(w2).alias("psy"))
    nv = (lagd.filter(F.col("py").isNotNull())
          .agg(F.sum(F.abs(F.col("y") - F.col("py"))).alias("tot"),
               F.count("py").alias("n"))
          .select(F.lit("naive_last").alias("model"),
                  F.col("n").alias("n_forecasts"),
                  F.col("tot").alias("total_abs_err_scaled")))
    sn = (lagd.filter(F.col("psy").isNotNull())
          .agg(F.sum(F.abs(F.col("y") - F.col("psy"))).alias("tot"),
               F.count("psy").alias("n"))
          .select(F.lit("seasonal_naive_hod").alias("model"),
                  F.col("n").alias("n_forecasts"),
                  F.col("tot").alias("total_abs_err_scaled")))
    return (hw.unionByName(nv).unionByName(sn)
            .withColumn("mae_scaled",
                        F.expr(floordiv_spark("total_abs_err_scaled",
                                              "n_forecasts")))
            .orderBy("model"))


@query(
    "instance_fleet_sync",
    """
    SELECT event_type,
           count(*) AS n_rows,
           count(DISTINCT event_id) AS n_ids,
           CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_scaled
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def instance_fleet_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLEET ingestion under the gate: one pipe per event_type, all
    synced CONCURRENTLY through ``sync_many`` (one shared driver, a
    thread pool overlapping each sync's fixed Catalyst-analysis cost —
    measured 4.3× over sequential at r8; the reference spawns one OS
    process per pipe job, meerschaum/utils/jobs). The returned frame
    re-reads every fleet member's STORE and re-aggregates — rowcount,
    key count, exact value sum per pipe — so a lost row, a cross-pipe
    write collision, or a swallowed per-job exception flips the hash
    against the oracle's direct per-type aggregate."""
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe, sync_many

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("ts", "event_id", "event_type",
                  F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                  .cast("long").alias("v")))
    types = sorted(r[0] for r in ev.select("event_type")
                   .distinct().collect())
    instance = tempfile.mkdtemp(prefix="mrsm_q_fleet_")
    try:
        jobs = []
        pipes = {}
        for t in types:
            p = Pipe("catalog", "fleet", t, instance=instance,
                     spark=spark,
                     columns={"datetime": "ts", "id": "event_id"})
            pipes[t] = p
            jobs.append((p, ev.filter(F.col("event_type") == t)
                         .drop("event_type")))
        results = sync_many(jobs, workers=4)
        assert all(r.success for r in results), \
            [r.message for r in results if not r.success]
        out = None
        for t in types:
            agg = (pipes[t].get_data(order=None)
                   .agg(F.count(F.lit(1)).alias("n_rows"),
                        F.countDistinct("event_id").alias("n_ids"),
                        F.sum("v").alias("sum_scaled"))
                   .select(F.lit(t).alias("event_type"), "n_rows",
                           "n_ids", "sum_scaled"))
            out = agg if out is None else out.unionByName(agg)
        rows = out.collect()
        return spark.createDataFrame(
            rows, "event_type string, n_rows long, n_ids long, "
                  "sum_scaled long").orderBy("event_type")
    finally:
        shutil.rmtree(instance, ignore_errors=True)
