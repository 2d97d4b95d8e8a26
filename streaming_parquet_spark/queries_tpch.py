"""TPC-H-shaped relational coverage beyond q1/q3/q5/q6, adapted to the
fixture star schema (TESTDATA.md — no partsupp table, no commit/receipt
dates, no shipmode/container columns; predicates are re-targeted onto
the columns that exist, keeping each query's *shape*: the joins,
correlation pattern, and aggregate structure the original exercises).

Reference basis: the reference engine has no joins/aggregates at all
(SURVEY.md §2.4-2.6 — grep-verified ABSENT); this whole family is
Spark-built-in surface, declared so Catalyst picks physical strategy.
Scale notes per query docstring. Oracles are literal ANSI SQL for
DuckDB; every computed column is aliased identically on both sides and
double aggregates are rounded (2dp money / 4dp ratios) so cross-engine
FP summation order cannot flip the hash.

Importing this module populates streaming_parquet_spark.queries.QUERIES.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from streaming_parquet_spark.functions.portable import round_to_col
from pyspark.sql import types as T

from streaming_parquet_spark.queries import _read_nanos_as_long, _t, query


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp")


@query(
    "q4_late_shipments",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): correlated EXISTS with a
    non-equi date predicate, expressed as a LEFT SEMI join. No commit/
    receipt dates in the fixture -> 'late' = any line shipped >60 days
    after the order date. Scale: semi join shuffles on orderkey only and
    carries no lineitem payload; the date filter prunes orders at scan."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-04-01 00:00:00"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, floor((SUM(volume)) * 1e2 + 5e-1) / 1e2 AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INTEGER) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier, lineitem, orders, customer, nation n1, nation n2
          WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
            AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
            AND c_nationkey = n2.n_nationkey
            AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
              OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
            AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                               AND TIMESTAMP '1997-12-31 00:00:00') shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bilateral nation trade volume by year): the
    double-aliased nation dim with a disjunctive cross-nation predicate.
    Scale: both nation copies + supplier broadcast; the only real
    shuffle is lineitem><orders on orderkey; customer joins after the
    nation filter has already cut the fact stream ~(2/25)^2."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            _ts("1996-01-01 00:00:00"), _ts("1997-12-31 00:00:00")
        )
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_3", "NATION_7"))
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_3", "NATION_7"))
    return (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            round_to_col(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q8_market_share",
    """
    SELECT o_year,
           floor((SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / SUM(volume)) * 1e4 + 5e-1) / 1e4 AS mkt_share
    FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 n1.n_name AS nation
          FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
          WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
            AND l_orderkey = o_orderkey AND o_custkey = c_custkey
            AND c_nationkey = n2.n_nationkey AND n2.n_regionkey = r_regionkey
            AND r_name = 'ASIA' AND s_nationkey = n1.n_nationkey
            AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                                AND TIMESTAMP '1997-12-31 00:00:00'
            AND p_type = 'PROMO') all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): 8-way join with a
    conditional-aggregate ratio. Scale: part/supplier/nation/region
    broadcast; the p_type filter cuts lineitem ~6x before the orders
    shuffle; the ratio is one row per year — final shuffle is bytes."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            _ts("1996-01-01 00:00:00"), _ts("1997-12-31 00:00:00")
        )
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("nation")
    )
    n2 = nation.select("n_nationkey", "n_regionkey")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            round_to_col(
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_profit",
    """
    SELECT nation, o_year,
           SUM(CAST(floor(volume * 100 + 5e-1) AS BIGINT)) / 100.0 AS sum_profit
    FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM part, supplier, lineitem, orders, nation
          WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
            AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
            AND p_name LIKE '%gear%') profit
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation/year; no partsupp
    in the fixture, so profit = discounted revenue). The money sum runs
    in integer cents (per-row floor(vol*100 + 0.5) is one FP product — bit-
    identical across engines — and integer addition commutes), because
    at ~340 rows/group this query demonstrably lands on 2dp rounding
    boundaries when summed as doubles in engine-specific order. Scale:
    the LIKE filter on the broadcast part dim prunes the fact stream
    before the orders shuffle; 25 nations x years output."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            round_to_col(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
            , 0).cast("long").alias("cents"),
        )
        .groupBy("nation", "o_year")
        .agg((F.sum("cents") / 100.0).alias("sum_profit"))
    )


@query(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           floor((SUM(l_extendedprice * (1 - l_discount))) * 1e2 + 5e-1) / 1e2 AS revenue,
           floor((c_acctbal) * 1e2 + 5e-1) / 1e2 AS acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): fact-fact join + top-20
    by aggregated revenue. Ordering ties are broken on c_custkey and the
    sort key is the *rounded* revenue so both engines rank identically.
    Scale: TakeOrderedAndProject keeps 20 rows per partition — no global
    sort materializes."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-07-01 00:00:00"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            round_to_col(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey", "c_name", "revenue",
            round_to_col("c_acctbal", 2).alias("acctbal"), "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q12_priority_lines",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey AND l_shipdate >= o_orderdate
      AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping priority split; no shipmode column ->
    grouped by l_linestatus): join + conditional counts. The DuckDB
    side casts SUM(int) to BIGINT (DuckDB widens integer sums to
    HUGEINT; Spark's is LongType). Scale: single orderkey shuffle,
    2-row output."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < _ts("1999-01-01 00:00:00")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "q13_order_count_dist",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    """,
)
def q13_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with an extra join-side predicate (NOT a post-filter — unmatched
    customers must survive with count 0), then a double aggregation.
    Scale: first agg shuffles on custkey, second on the tiny c_count
    domain; both partial-aggregate map-side."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q14_promo_revenue",
    """
    SELECT floor((100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount))) * 1e4 + 5e-1) / 1e4 AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): broadcast part join + conditional
    ratio, single output row. Scale: month filter prunes lineitem at
    scan; no shuffle beyond the final 1-row aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-09-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-10-01 00:00:00"))
    )
    part = _t(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            round_to_col(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("promo_revenue")
        )
    )


@query(
    "q15_top_supplier",
    """
    WITH revenue AS (SELECT l_suppkey AS supplier_no,
                            floor((SUM(l_extendedprice * (1 - l_discount))) * 1e2 + 5e-1) / 1e2
                              AS total_revenue
                     FROM lineitem
                     WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                       AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
                     GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): CTE + scalar MAX subquery, expressed as
    an aggregate reused on both sides of a 1-row broadcast join. The
    comparison runs on the *rounded* revenue so both engines agree at
    ties. Scale: revenue agg shuffles on suppkey; the max is one row
    broadcast back — no second pass over lineitem."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-04-01 00:00:00"))
    )
    supp = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        round_to_col(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("max_rev"))
    return (
        revenue.join(
            F.broadcast(top), F.col("total_revenue") == F.col("max_rev")
        )
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q17_small_qty_revenue",
    """
    SELECT floor((SUM(l_extendedprice) / 7.0) * 1e2 + 5e-1) / 1e2 AS avg_yearly
    FROM (SELECT l_extendedprice, l_quantity,
                 AVG(l_quantity) OVER (PARTITION BY p_partkey) AS avg_qty
          FROM lineitem, part
          WHERE p_partkey = l_partkey AND p_brand = 'Brand#4') t
    WHERE l_quantity < 0.5 * avg_qty
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): correlated
    per-part AVG subquery, expressed as a window aggregate over the
    brand-filtered join (same correlation set: every lineitem of a
    Brand#4 part). Quantities are whole-number doubles, so the windowed
    AVG is exact (integer-valued sums < 2^53) and the 0.5*avg comparison
    is deterministic across engines. Scale: one shuffle on partkey for
    the window; the broadcast brand filter prunes first."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    li = _t(spark, sf_dir, "lineitem")
    w = W.partitionBy("p_partkey")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(round_to_col(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q18_large_orders",
    """
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           floor((o_totalprice) * 1e2 + 5e-1) / 1e2 AS totalprice,
           floor((SUM(l_quantity)) * 1e2 + 5e-1) / 1e2 AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 170)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): IN + GROUP BY/HAVING subquery
    as a semi join against the aggregated orderkey set. Quantity sums
    are whole-number-exact so the >170 cut is deterministic. Scale: the
    HAVING aggregate and the outer aggregate share the orderkey
    partitioning — with AQE one of the two exchanges is reused."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 170)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        li.join(big, F.col("l_orderkey") == F.col("big_orderkey"), "left_semi")
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(round_to_col(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            round_to_col("o_totalprice", 2).alias("totalprice"), "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@query(
    "q19_disjunctive_revenue",
    """
    SELECT floor((SUM(l_extendedprice * (1 - l_discount))) * 1e2 + 5e-1) / 1e2 AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND
      ((p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#4' AND p_size BETWEEN 10 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#19' AND p_size BETWEEN 20 AND 35
           AND l_quantity BETWEEN 20 AND 30))
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue under a 3-way disjunction of
    brand/size/quantity windows; container/shipmode columns absent).
    Catalyst extracts the common p_brand IN (...) conjunct from the OR
    and pushes it into the broadcast dim scan. Scale: broadcast join,
    1-row output, zero wide shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    arm = lambda brand, s_lo, s_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s_lo, s_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(
            arm("Brand#2", 1, 15, 1, 11)
            | arm("Brand#4", 10, 25, 10, 20)
            | arm("Brand#19", 20, 35, 20, 30)
        )
        .agg(
            round_to_col(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q22_idle_customers",
    """
    SELECT c_mktsegment, COUNT(*) AS numcust,
           floor((SUM(c_acctbal)) * 1e2 + 5e-1) / 1e2 AS totacctbal
    FROM customer
    WHERE CAST(FLOOR(c_acctbal * 100) AS BIGINT)
          * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0.0)
          > (SELECT SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT))
             FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales-opportunity; no phone column ->
    grouped by market segment): scalar AVG subquery + NOT EXISTS anti
    join. Scale: the 1-row average broadcasts; the anti join shuffles
    on custkey against the date-pruned orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ts("2000-01-01 00:00:00")
    )
    # exact threshold: cents * n > total_cents (integer cross-multiply)
    # instead of c_acctbal > AVG(double) — a float average differs
    # between engines by summation order, and a balance landing inside
    # that ulp gap would flip the filter
    stats = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(
                F.floor(F.col("c_acctbal") * 100).cast("long")
            ).alias("total_cents"),
            F.count(F.lit(1)).alias("n_pos"),
        )
    )
    return (
        cust.join(
            F.broadcast(stats),
            F.floor(F.col("c_acctbal") * 100).cast("long") * F.col("n_pos")
            > F.col("total_cents"),
        )
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            round_to_col(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


_DUCK_REL_PERCENTILES = """
    SELECT o_orderstatus,
           floor((quantile_cont(o_totalprice, 0.25)) * 1e4 + 5e-1) / 1e4 AS p25,
           floor((quantile_cont(o_totalprice, 0.5)) * 1e4 + 5e-1) / 1e4 AS p50,
           floor((quantile_cont(o_totalprice, 0.75)) * 1e4 + 5e-1) / 1e4 AS p75,
           floor((quantile_cont(o_totalprice, 0.95)) * 1e4 + 5e-1) / 1e4 AS p95
    FROM orders GROUP BY o_orderstatus
    """


def rel_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group: Spark `percentile` and
    DuckDB `quantile_cont` both use type-7 linear interpolation over the
    sorted values, so results agree exactly. Scale: exact percentile is
    a sort-based aggregate — at 100 TB swap in approx_percentile with a
    bounded error (the declared plan keeps that swap one line)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        *[
            round_to_col(F.percentile("o_totalprice", F.lit(p)), 4).alias(name)
            for p, name in [(0.25, "p25"), (0.5, "p50"), (0.75, "p75"), (0.95, "p95")]
        ]
    )


@query(
    "rel_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           COUNT(*) AS n, floor((SUM(o_totalprice)) * 1e2 + 5e-1) / 1e2 AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
)
def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): three grouping
    shapes in one pass with grouping_id disambiguating the NULL-as-ALL
    rows. Scale: Spark expands to a single Expand + one aggregate — one
    shuffle regardless of the number of sets."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"],
             ["o_orderstatus", "o_orderpriority"]],
            "o_orderstatus", "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            round_to_col(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
    )


_DUCK_EVENTS_GAP_FILL = """
    WITH types AS (SELECT DISTINCT event_type FROM events),
    minutes AS (SELECT unnest(generate_series(
                    TIMESTAMP '2024-01-05 00:00:00',
                    TIMESTAMP '2024-01-05 06:00:00',
                    INTERVAL 1 MINUTE)) AS m),
    series AS (SELECT event_type, m FROM types, minutes),
    obs AS (SELECT event_type, date_trunc('minute', ts) AS m,
                   COUNT(*) AS n_obs
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
              AND ts < TIMESTAMP '2024-01-05 06:01:00'
            GROUP BY 1, 2)
    SELECT s.event_type,
           strftime(s.m, '%Y-%m-%d %H:%M:%S') AS minute,
           COALESCE(o.n_obs, 0) AS n,
           COALESCE(last_value(o.n_obs IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.m
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
             AS n_filled
    FROM series s LEFT JOIN obs o
      ON s.event_type = o.event_type AND s.m = o.m
    """


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap filling: a dense per-type minute spine
    (sequence + explode), left join of observed per-minute counts, and
    locf forward-fill (last ignore-nulls) with a 0 default — the
    standard time-series densification a metrics store performs.
    Integer counts -> bit-deterministic. Scale: the spine is
    |keys| x |buckets| rows built by explode (no driver loop); the fill
    is a running window per key — one shuffle on the series key."""
    from streaming_parquet_spark.queries import _events

    ev = _events(spark, sf_dir).filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-05 06:01:00").cast("timestamp"))
    )
    types = _events(spark, sf_dir).select("event_type").distinct()
    spine = types.select(
        "event_type",
        F.explode(
            F.sequence(
                F.lit("2024-01-05 00:00:00").cast("timestamp"),
                F.lit("2024-01-05 06:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 MINUTE"),
            )
        ).alias("m"),
    )
    obs = (
        ev.groupBy("event_type", F.date_trunc("minute", "ts").alias("m"))
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    w = (
        W.partitionBy(spine.event_type)
        .orderBy("m")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        spine.join(
            obs,
            (spine.event_type == obs.event_type) & (spine.m == obs.m),
            "left_outer",
        )
        .select(
            spine.event_type,
            spine.m,
            F.col("n_obs"),
        )
        .select(
            "event_type",
            F.date_format("m", "yyyy-MM-dd HH:mm:ss").alias("minute"),
            F.coalesce("n_obs", F.lit(0)).alias("n"),
            F.coalesce(
                F.last("n_obs", ignorenulls=True).over(
                    W.partitionBy("event_type")
                    .orderBy("m")
                    .rowsBetween(W.unboundedPreceding, W.currentRow)
                ),
                F.lit(0),
            ).alias("n_filled"),
        )
    )


@query(
    "rel_scalar_funcs",
    """
    SELECT o_orderkey,
           UPPER(o_orderstatus) AS status_u,
           SUBSTR(o_orderpriority, 1, 1) AS prio_code,
           LENGTH(o_orderpriority) AS prio_len,
           CONCAT(o_orderstatus, '/', o_orderpriority) AS status_prio,
           LPAD(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_padded,
           REPLACE(o_orderpriority, '-', '_') AS prio_snake,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(month(o_orderdate) AS INTEGER) AS o_month,
           CAST(day(o_orderdate) AS INTEGER) AS o_day,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_k,
           floor((SQRT(o_totalprice)) * 1e4 + 5e-1) / 1e4 AS price_sqrt,
           CAST(LENGTH(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR))
                AS INTEGER) AS price_digits,
           CAST(o_orderkey % 7 AS BIGINT) AS key_mod
    FROM orders WHERE o_orderkey < 1000
    """,
)
def rel_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function parity sweep (SURVEY §2.7 — the reference has no
    expression language; this is the Spark built-in surface): string
    (upper/substr/length/concat/lpad/replace), date part extraction +
    truncation, and math (floor/sqrt/integer-log10-as-digit-count/mod),
    all whole-stage-codegen'd in one projection over a pruned scan.
    sqrt IS hash-gated (IEEE-correctly-rounded on every engine); ln is
    deliberately NOT — a libm-valued cell would carry a permanent
    ~1e-9/row hash-mismatch risk (see VERDICT r4 text_chi2_terms)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return orders.select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_u"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.length("o_orderpriority").cast("int").alias("prio_len"),
        F.concat(
            F.col("o_orderstatus"), F.lit("/"), F.col("o_orderpriority")
        ).alias("status_prio"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("key_padded"),
        F.replace(
            F.col("o_orderpriority"), F.lit("-"), F.lit("_")
        ).alias("prio_snake"),
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.date_format(
            F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd"
        ).alias("month_start"),
        F.floor(F.col("o_totalprice") / 1000).cast("long").alias("price_k"),
        round_to_col(F.sqrt("o_totalprice"), 4).alias("price_sqrt"),
        F.length(F.floor("o_totalprice").cast("long").cast("string"))
        .cast("int")
        .alias("price_digits"),
        (F.col("o_orderkey") % 7).cast("long").alias("key_mod"),
    )




_STREAM_DIRS_REGISTERED: set = set()

#: Scratch filesystem the streaming gate queries stage on — surfaced in
#: bench.py's conf block so the tmpfs-vs-disk condition is visible in
#: recorded results (mirrors conversion_workdir).
STREAM_WORKDIR_FS = "tmpfs" if os.path.isdir("/dev/shm") else "disk"


def _stream_workdir(prefix: str, sf_dir: str) -> str:
    """Deterministic per-(process, dataset) streaming scratch on tmpfs
    when available (checkpoint commit logs and sink part files are
    fsync-heavy; on a disk-backed /tmp the writeback dominates these
    seconds-long gate queries).

    Deterministic — not mkdtemp — so a SECOND invocation of the same
    query in the same process finds the staged source, checkpoint, and
    landed sink and RESUMES: the availableNow stream restarts against
    the existing checkpoint, sees no new files, and commits nothing new.
    That is the reference's --state/--resume exactly-once rerun
    (state.rs:10-168) exercised for real, and it means repeated bench
    passes measure the warm resume path instead of re-paying one-time
    staging (VERDICT.md round 3, item 2). Keyed by pid so concurrent
    processes never share state; keyed by the events fixture's
    size+mtime so a dataset swap invalidates the cache."""
    import atexit as _atexit
    import hashlib as _hashlib
    import shutil as _shutil
    import tempfile as _tempfile

    src = os.path.join(sf_dir, "events.parquet")
    try:
        tag = f"{os.path.getsize(src)}_{int(os.path.getmtime(src))}"
    except OSError:
        tag = "na"
    key = _hashlib.md5(
        f"{os.path.realpath(sf_dir)}|{tag}|{os.getpid()}".encode()
    ).hexdigest()[:12]
    base = "/dev/shm" if os.path.isdir("/dev/shm") else _tempfile.gettempdir()
    work = os.path.join(base, f"{prefix}{key}")
    os.makedirs(work, exist_ok=True)
    if work not in _STREAM_DIRS_REGISTERED:
        _STREAM_DIRS_REGISTERED.add(work)
        _atexit.register(_shutil.rmtree, work, ignore_errors=True)
    return work


def _stage_events(sf_dir: str, work: str) -> tuple[str, str]:
    """Give a file-stream source a directory of its own holding the
    events table: ``<work>/src`` gets a hard link (a copy across
    filesystems) of every data file of ``<sf_dir>/events.parquet``, a
    single file or a dataset directory. Files staged by an earlier
    invocation stay, so a rerun resumes. Returns (the table's path,
    the staged directory)."""
    import shutil as _shutil

    import pyarrow.dataset as ds

    src = os.path.join(sf_dir, "events.parquet")
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir, exist_ok=True)
    if os.path.isdir(src):
        files = {
            os.path.relpath(p, src).replace(os.sep, "-"): p
            for p in ds.dataset(src, format="parquet").files
        }
    else:
        files = {"events.parquet": src}
    for name, path in files.items():
        staged = os.path.join(src_dir, name)
        if not os.path.exists(staged):
            try:
                os.link(path, staged)
            except OSError:
                _shutil.copy(path, staged)
    return src, src_dir


@query(
    "stream_ingest_counts",
    """
    SELECT event_type, COUNT(*) AS n,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM events GROUP BY event_type
    """,
)
def stream_ingest_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end inside the correctness gate: the
    events table is ingested through a file-source -> exactly-once
    parquet-sink availableNow stream (checkpointed — the reference's
    --state/--resume machinery, state.rs:10-168, as Spark checkpoints),
    then the LANDED table is aggregated and hash-compared against the
    batch oracle. Proves the streaming path loses/duplicates nothing.
    Scale: file-stream source with maxFilesPerTrigger batches a 100 TB
    backlog incrementally; the sink commit log makes reruns exactly-once."""
    import os as _os

    # Deterministic workdir: a re-invocation resumes the checkpointed
    # stream (exactly-once rerun) instead of re-staging; cleanup is
    # registered once at interpreter exit by _stream_workdir.
    work = _stream_workdir("maw_stream_q_", sf_dir)
    src, src_dir = _stage_events(sf_dir, work)

    _read_nanos_as_long(spark, src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    out_dir = _os.path.join(work, "landed")
    (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", _os.path.join(work, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(300)
    )
    landed = spark.read.parquet(out_dir)
    ts_type = landed.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):  # legacy nanos-as-long fixture
        landed = landed.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    else:
        landed = landed.withColumn("ts", F.col("ts").cast("timestamp"))
    return landed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


@query(
    "stream_late_dedup",
    """
    WITH e AS (SELECT event_id, ts, event_type FROM events),
    b1 AS (SELECT * FROM e WHERE ts < TIMESTAMP '2024-01-05'),
    b2 AS (SELECT * FROM e WHERE ts >= TIMESTAMP '2024-01-05'
                             AND ts < TIMESTAMP '2024-01-05 12:00:00'),
    b3n AS (SELECT * FROM e WHERE ts >= TIMESTAMP '2024-01-05 12:00:00'),
    wm AS (
      -- Spark's EventTimeStats tracks watermarks at MILLISECOND
      -- granularity; truncate MAX(ts) to ms before subtracting the
      -- delay or retries landing in the sub-ms gap classify
      -- differently between engines
      SELECT make_timestamp(
               (epoch_us((SELECT MAX(ts) FROM b1)) // 1000) * 1000
             ) - INTERVAL 2 HOUR AS wm2
    ),
    retries AS (
      SELECT event_id, ts + INTERVAL 36 HOUR AS ts, event_type,
             ts AS orig_ts
      FROM b1 WHERE event_id % 5 = 0
    ),
    emitted_retries AS (
      SELECT event_id, ts, event_type FROM retries, wm
      WHERE orig_ts + INTERVAL 2 HOUR < wm2
        AND ts >= wm2
    ),
    emitted AS (
      SELECT * FROM b1 UNION ALL SELECT * FROM b2
      UNION ALL SELECT * FROM b3n
      UNION ALL SELECT * FROM emitted_retries
    )
    SELECT event_type, COUNT(*) AS n_rows,
           COUNT(DISTINCT event_id) AS n_keys,
           CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS n_reemits,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM emitted GROUP BY event_type
    """,
)
def stream_late_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup with LATE data, inside the oracle
    gate: three deterministic micro-batches (maxFilesPerTrigger=1 over
    mtime-ordered staged files) run dropDuplicatesWithinWatermark over
    event_id with a 2-hour delay. Batch 1 seeds the keys, batch 2 is a
    thin slice that only advances the watermark, and batch 3 carries
    retimestamped RETRIES (+36 h) of one fifth of batch 1's keys.

    Observed Spark semantics (pinned empirically, Spark 4.1):
      * operative watermark for batch N = cumulative max event time
        through batch N-1, minus the delay;
      * the LATE filter in batch N uses the PREVIOUS operative
        watermark (batch N-1's — Spark keeps two values:
        watermarkForLateEvents lags watermarkForEviction by a batch)
        and compares the event time DIRECTLY: drop iff
        event_time < wm_{N-1} (no delay term);
      * rows in batch N match dedup state that survived evictions
        through batch N-1 — eviction (first_ts + delay < wm_M, strict)
        runs at END of batch M, after that batch's rows are processed,
        so a dup arriving in the batch where its key expires is still
        dropped;
      * therefore a retry in batch 3 re-emits iff its original's state
        was evicted at end of batch 2 (orig_ts + delay < wm2) AND the
        retry's own timestamp reaches wm2 = max(batch 1) - delay.
    The DuckDB oracle reproduces exactly that arithmetic — late-data
    behavior lands in the value hash, not just a row count. Retries of
    still-live keys dedup away; ancient retries are late-dropped; the
    36h-shifted band re-emits (n_reemits > 0 per affected type).

    Scale: dropDuplicatesWithinWatermark state is bounded by the
    watermark horizon (streaming/operators.py:streaming_dedup); the
    file-stream source batches any backlog via maxFilesPerTrigger."""
    import os as _os
    import shutil as _shutil

    from streaming_parquet_spark.queries import _events

    # Deterministic workdir: a re-invocation skips batch staging (three
    # Spark write jobs) and resumes the checkpointed stream; cleanup is
    # registered once at interpreter exit by _stream_workdir.
    work = _stream_workdir("maw_stream_late_", sf_dir)
    src_dir = _os.path.join(work, "src")
    _os.makedirs(src_dir, exist_ok=True)

    e = _events(spark, sf_dir).select("event_id", "ts", "event_type")
    if not _os.path.exists(_os.path.join(src_dir, "batch2.parquet")):
        t1, t2 = _ts("2024-01-05"), _ts("2024-01-05 12:00:00")
        b1 = e.filter(F.col("ts") < t1)
        retries = (
            b1.filter(F.col("event_id") % 5 == 0)
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 36 HOURS"))
        )
        b2 = e.filter((F.col("ts") >= t1) & (F.col("ts") < t2))
        b3 = e.filter(F.col("ts") >= t2).unionByName(retries)

        base = 1_700_000_000  # fixed past epoch; only ordering matters
        for i, df in enumerate((b1, b2, b3)):
            stage = _os.path.join(work, f"stage{i}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(
                f for f in _os.listdir(stage) if f.endswith(".parquet")
            )
            dst = _os.path.join(src_dir, f"batch{i}.parquet")
            _shutil.copy(_os.path.join(stage, part), dst)
            _os.utime(dst, (base + i * 60, base + i * 60))

    schema = e.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    deduped = stream.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out_dir = _os.path.join(work, "landed")
    # The dedup state store instantiates one provider per shuffle
    # partition per micro-batch; at gate volume 32 partitions are pure
    # commit-log overhead (~100 state dirs for 200k rows). Pin the
    # stream's state partitioning to 8 — baked into the checkpoint at
    # first start, so the narrower width is also what a resume sees.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        (
            deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", _os.path.join(work, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(300)
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    landed = spark.read.parquet(out_dir)
    return landed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_keys"),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias("n_reemits"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


_DUCK_REL_SALTED_JOIN_AGG = """
    SELECT n_name, COUNT(*) AS n_cust, floor((SUM(c_acctbal)) * 1e2 + 5e-1) / 1e2 AS total_bal
    FROM customer, nation
    WHERE c_nationkey = n_nationkey
    GROUP BY n_name
    """


def rel_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join through the correctness gate: customer><nation
    via salted_join (each key spread over 8 salt buckets; the dim side
    explode-replicated), then aggregate — results identical to the plain
    join, which IS the oracle. The salting pattern is the manual escape
    hatch when one key dominates a 100 TB shuffle and AQE's skew split
    cannot kick in (e.g. a shuffle-hash join below the AQE threshold)."""
    from streaming_parquet_spark.operators.skew import salted_join

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    joined = salted_join(cust, nation, on=["c_nationkey"], salt=8)
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_cust"),
        round_to_col(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


_DUCK_REL_SKEW_JOIN_AQE = """
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 5 > 0 THEN 1
                  ELSE l_orderkey % 997 END AS k,
             l_extendedprice, l_discount
      FROM lineitem
    ),
    dim AS (
      SELECT o_orderkey AS k, o_totalprice AS unit_price
      FROM orders WHERE o_orderkey < 997
    )
    SELECT CAST(FLOOR(l_extendedprice / 10000) AS BIGINT) AS band,
           COUNT(*) AS n,
           floor((SUM(l_extendedprice * (1 - l_discount))) * 1e2 + 5e-1) / 1e2 AS revenue,
           floor((SUM(l_extendedprice / unit_price)) * 1e2 + 5e-1) / 1e2 AS rel_price
    FROM fact JOIN dim ON fact.k = dim.k
    GROUP BY CAST(FLOOR(l_extendedprice / 10000) AS BIGINT)
    """


def rel_skew_join_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately skewed shuffle join — 80% of the fact rows share key
    1 — left to AQE rather than hand-salted (the manual escape hatch is
    ``rel_salted_join_agg``). Two shape choices let OptimizeSkewedJoin
    act: (a) the downstream aggregate groups on a NON-key column (price
    band), so the join's output partitioning carries no guarantee the
    agg needs — an agg grouped BY the join key would pin the
    partitioning and need forceOptimizeSkewedJoin (extra shuffle); (b)
    the dim side is a plain filtered projection, so the join plans its
    own exchange on both sides — a dim whose own aggregation already
    partitions by k would put a HashAggregate between Sort and shuffle
    stage and fall outside the rule's Sort-over-ShuffleQueryStage
    pattern. The split is asserted as skew=true join nodes in
    tests/test_plan_quality.py::test_skew_join_aqe_split. At gate scale
    the dim side simply broadcasts, which is the correct plan when it
    fits. Results are plan-independent — the oracle checks values, the
    plan test checks the split."""
    li = _t(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 5 > 0, F.lit(1).cast("long"))
        .otherwise(F.col("l_orderkey") % 997)
        .alias("k"),
        "l_extendedprice",
        "l_discount",
    )
    dim = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 997)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("unit_price"),
        )
    )
    return (
        fact.join(dim, "k")
        .groupBy(
            F.floor(F.col("l_extendedprice") / 10000).alias("band")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_to_col(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            round_to_col(
                F.sum(F.col("l_extendedprice") / F.col("unit_price")), 2
            ).alias("rel_price"),
        )
        .select("band", "n", "revenue", "rel_price")
    )


@query(
    "rel_array_agg",
    """
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS line_nums,
           CAST(len(list(l_linenumber)) AS INTEGER) AS n_lines,
           CAST(list_sort(list(l_linenumber))[1] AS INTEGER) AS first_line,
           array_to_string(list_sort(list_distinct(list(l_returnflag))), ',')
             AS flags
    FROM lineitem
    WHERE l_orderkey < 500
    GROUP BY l_orderkey
    """,
)
def rel_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation surface (SURVEY §2.7 — collection functions):
    collect_list + sort_array + array_distinct + element_at, emitted as
    joined strings so the cross-engine hash is representation-stable
    (Spark hands numpy arrays to pandas; DuckDB hands lists). Scale:
    collect_list is a hash aggregate; per-group arrays stay bounded by
    the lines-per-order cardinality."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    nums = F.sort_array(F.collect_list("l_linenumber"))
    return li.groupBy("l_orderkey").agg(
        F.array_join(nums.cast("array<string>"), ",").alias("line_nums"),
        F.size(F.collect_list("l_linenumber")).cast("int").alias("n_lines"),
        F.element_at(nums, 1).cast("int").alias("first_line"),
        F.array_join(
            F.sort_array(F.array_distinct(F.collect_list("l_returnflag"))), ","
        ).alias("flags"),
    )


# ---------------------------------------------------------------------------
# Derived partsupp family (TPC-H q2/q11/q16/q20/q21)
#
# The fixtures ship no partsupp table and no commit/receipt dates
# (TESTDATA.md), and the testdata directory is read-only — so the
# missing relations are DERIVED deterministically from the columns that
# do exist, with engine-portable integer arithmetic (+, *, %, date+int)
# computed identically by the Spark plan and the DuckDB oracle CTEs.
# TPC-H's own dbgen does exactly this (4 suppliers per part via modular
# arithmetic over the supplier count); we keep that structure:
#
#   ps_suppkey   = (p_partkey*7 + i*13) % n_supp        for i in 0..3
#   ps_availqty  = (p_partkey*17 + ps_suppkey*31) % 9999 + 1
#   ps_supplycost_cents = (p_partkey*311 + ps_suppkey*53) % 10000 + 100
#   l_commitdate  = date(l_shipdate) + (l_orderkey*31 + l_linenumber*7) % 61 - 30
#   l_receiptdate = date(l_shipdate) + (l_orderkey*17 + l_linenumber*11) % 30 + 1
#
# Money stays in integer CENTS through every aggregate (q9 pattern:
# double summation order flips 2dp rounding across engines); the /100.0
# happens once on output.  All operands are non-negative so % agrees
# across engines.  At 100 TB partsupp would be a real ingested table;
# the derivation is dim-sized (|part| x 4) and broadcast-friendly.
# ---------------------------------------------------------------------------

_PS_ORACLE = """
ps0 AS (
  SELECT p_partkey,
         (p_partkey * 7 + g.i * 13) % (SELECT COUNT(*) FROM supplier) AS sk
  FROM part CROSS JOIN (VALUES (0),(1),(2),(3)) AS g(i)
),
partsupp AS (
  SELECT p_partkey AS ps_partkey,
         sk AS ps_suppkey,
         CAST((p_partkey * 17 + sk * 31) % 9999 + 1 AS INTEGER) AS ps_availqty,
         (p_partkey * 311 + sk * 53) % 10000 + 100 AS ps_supplycost_cents,
         CAST((p_partkey * 311 + sk * 53) % 10000 + 100 AS DOUBLE) / 100.0
           AS ps_supplycost
  FROM ps0
)
"""

_LID_ORACLE = """
lineitem_dated AS (
  SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_shipdate,
         CAST(l_shipdate AS DATE)
           + CAST((l_orderkey * 31 + l_linenumber * 7) % 61 - 30 AS INTEGER)
           AS l_commitdate,
         CAST(l_shipdate AS DATE)
           + CAST((l_orderkey * 17 + l_linenumber * 11) % 30 + 1 AS INTEGER)
           AS l_receiptdate
  FROM lineitem
)
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp (see module comment). The 4-way supplier fanout
    is a Generate (explode of a literal array — no join node); the only
    join is the 1-row supplier-count broadcast. No shuffle; the result
    inherits part's partitioning."""
    part = _t(spark, sf_dir, "part")
    nsupp = (
        _t(spark, sf_dir, "supplier")
        .agg(F.count(F.lit(1)).alias("__nsupp"))
    )
    base = (
        part.withColumn(
            "__i", F.explode(F.array(*[F.lit(i) for i in range(4)]))
        )
        .crossJoin(F.broadcast(nsupp))
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            ((F.col("p_partkey") * 7 + F.col("__i") * 13) % F.col("__nsupp"))
            .alias("ps_suppkey"),
        )
    )
    cents = (
        F.col("ps_partkey") * 311 + F.col("ps_suppkey") * 53
    ) % 10000 + 100
    return base.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 17 + F.col("ps_suppkey") * 31) % 9999 + 1)
        .cast("int").alias("ps_availqty"),
        cents.alias("ps_supplycost_cents"),
        (cents.cast("double") / 100.0).alias("ps_supplycost"),
    )


def _lineitem_dated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem + derived commit/receipt dates (see module comment).
    Pure per-row projection — pushes through the scan untouched."""
    li = _t(spark, sf_dir, "lineitem")
    commit = F.date_add(
        F.col("l_shipdate").cast("date"),
        ((F.col("l_orderkey") * 31 + F.col("l_linenumber") * 7) % 61 - 30)
        .cast("int"),
    )
    receipt = F.date_add(
        F.col("l_shipdate").cast("date"),
        ((F.col("l_orderkey") * 17 + F.col("l_linenumber") * 11) % 30 + 1)
        .cast("int"),
    )
    return (
        li.withColumn("l_commitdate", commit)
        .withColumn("l_receiptdate", receipt)
    )


@query(
    "q2_min_cost_supplier",
    f"""
    WITH {_PS_ORACLE},
    eligible AS (
      SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost,
             ps_supplycost_cents,
             MIN(ps_supplycost_cents) OVER (PARTITION BY p_partkey)
               AS min_cents
      FROM partsupp
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      JOIN part ON p_partkey = ps_partkey
      WHERE r_name = 'EUROPE' AND p_size IN (5, 15, 25, 35, 45)
        AND p_type IN ('STANDARD', 'ECONOMY')
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
    FROM eligible WHERE ps_supplycost_cents = min_cents
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): the correlated MIN subquery,
    rendered as a per-part window MIN over the region-filtered
    partsupp><supplier join — one shuffle on p_partkey instead of a
    second scan + self-join for the subquery. Dims (supplier, nation,
    region, filtered part) all broadcast; integer-cents min avoids FP
    ties. Scale: the window partitions on the same key the final rows
    group naturally on; WindowGroupLimit-style pruning is not needed
    because the filter keeps only min-cost rows."""
    ps = _partsupp(spark, sf_dir)
    part_f = _t(spark, sf_dir, "part").filter(
        F.col("p_size").isin(5, 15, 25, 35, 45)
        & F.col("p_type").isin("STANDARD", "ECONOMY")
    ).select("p_partkey", "p_brand")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation),
              F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region),
              F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eligible = (
        ps.join(F.broadcast(part_f), F.col("p_partkey") == F.col("ps_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("ps_suppkey"))
    )
    w = W.partitionBy("ps_partkey")
    return (
        eligible.withColumn(
            "__min_cents", F.min("ps_supplycost_cents").over(w)
        )
        .filter(F.col("ps_supplycost_cents") == F.col("__min_cents"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
                "ps_supplycost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q11_important_stock",
    f"""
    WITH {_PS_ORACLE},
    national AS (
      SELECT ps_partkey, ps_supplycost_cents * ps_availqty AS v
      FROM partsupp
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_3'
    )
    SELECT ps_partkey, floor((SUM(v) / 100.0) * 1e2 + 5e-1) / 1e2 AS value
    FROM national
    GROUP BY ps_partkey
    HAVING SUM(v) > (SELECT SUM(v) * 0.005 FROM national)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): GROUP BY + HAVING against a scalar
    subquery over the SAME relation. The national partsupp slice is
    computed once; the global total is a 1-row broadcast joined as the
    HAVING bound. Integer-cents sums are exact in both engines (values
    < 2^53), so the threshold comparison can never flip. Scale: one
    shuffle on ps_partkey; the scalar total is a partial-agg tree."""
    ps = _partsupp(spark, sf_dir)
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation),
              F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_suppkey")
    )
    national = (
        ps.join(F.broadcast(supp), F.col("s_suppkey") == F.col("ps_suppkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("v"),
        )
    )
    total = national.agg((F.sum("v") * 0.005).alias("__thresh"))
    return (
        national.groupBy("ps_partkey")
        .agg(F.sum("v").alias("__sv"))
        .join(F.broadcast(total), F.col("__sv") > F.col("__thresh"))
        .select(
            "ps_partkey",
            round_to_col(F.col("__sv") / 100.0, 2).alias("value"),
        )
    )


@query(
    "q16_parts_supplier_cnt",
    f"""
    WITH {_PS_ORACLE}
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
    FROM partsupp JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#9' AND p_type <> 'MEDIUM'
      AND p_size IN (1, 4, 7, 10, 15, 22, 30, 45)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                             WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_parts_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): NOT IN over an excluded
    supplier set (negative balance standing in for the spec's complaint
    filter), rendered as a broadcast LEFT ANTI join — keys are never
    NULL so NOT IN and anti-join agree. Scale: both dims broadcast; the
    COUNT(DISTINCT) shuffles once on the (brand, type, size) triple."""
    ps = _partsupp(spark, sf_dir)
    part_f = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 7, 10, 15, 22, 30, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    complainers = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(part_f), F.col("p_partkey") == F.col("ps_partkey"))
        .join(F.broadcast(complainers),
              F.col("s_suppkey") == F.col("ps_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_promotion_suppliers",
    f"""
    WITH {_PS_ORACLE}, {_LID_ORACLE}
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11', 'NATION_19')
      AND s_suppkey IN (
        SELECT ps_suppkey FROM partsupp
        WHERE ps_partkey IN (SELECT p_partkey FROM part
                             WHERE p_name LIKE 'small%'
                                OR p_name LIKE 'red%')
          AND ps_availqty > (
            SELECT 0.5 * SUM(l_quantity) FROM lineitem_dated
            WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
              AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'))
    """,
)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): the nested correlated
    scalar subquery (half of a year's shipped quantity per part+supplier)
    becomes a pre-aggregated relation joined back INNER — an empty
    correlation yields SQL NULL, and `avail > NULL` excludes the row,
    which the inner join reproduces exactly. l_quantity values are
    whole numbers, so the double SUM is order-independent (< 2^53).
    Scale: lineitem aggregates partial-first on (partkey, suppkey);
    partsupp is semi-joined against the filtered part dim before the
    fact join, and the final supplier membership check is a broadcast
    semi join."""
    ps = _partsupp(spark, sf_dir)
    wanted_parts = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%") | F.col("p_name").like("red%")
    ).select("p_partkey")
    shipped = (
        _lineitem_dated(spark, sf_dir)
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("__qty"))
    )
    qualifying = (
        ps.join(F.broadcast(wanted_parts),
                F.col("p_partkey") == F.col("ps_partkey"), "left_semi")
        .join(
            shipped,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("__qty"))
        .select("ps_suppkey")
    )
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11", "NATION_19")
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation),
              F.col("n_nationkey") == F.col("s_nationkey"))
        .join(qualifying, F.col("ps_suppkey") == F.col("s_suppkey"),
              "left_semi")
        .select("s_name", "s_acctbal")
    )


@query(
    "q21_waiting_suppliers",
    f"""
    WITH {_LID_ORACLE}
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem_dated l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND l1.l_receiptdate > l1.l_commitdate
      AND n_name IN ('NATION_1', 'NATION_3', 'NATION_5', 'NATION_7')
      AND EXISTS (SELECT 1 FROM lineitem_dated l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem_dated l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_receiptdate > l3.l_commitdate)
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): the EXISTS /
    NOT-EXISTS pair over sibling lineitems is rendered as ONE per-order
    aggregate, and — the r7 shape — the join BACK to the late lines is
    eliminated entirely: a late line l1 qualifies iff its order has
    n_supp >= 2 (some other supplier exists) and exactly ONE supplier
    with late lines (NOT EXISTS another late supplier) — but then that
    lone late supplier IS l1's supplier, so the per-order aggregate can
    carry the answer itself:

      per (order, supplier): n_late_lines, any-late flag
      per order:             n_supp, n_late_supp,
                             late_supp   = the lone late supplier's key
                             late_lines  = that supplier's late-line count

    Orders with n_supp >= 2 and n_late_supp = 1 contribute late_lines
    (COUNT(*) in the original counts qualifying late LINES, not
    orders) to late_supp's numwait.  ONE shuffle total: the 3-column
    projection is hash-repartitioned by l_orderkey, and because
    HashPartitioning(orderkey) satisfies the clustering required by
    BOTH groupBys ((orderkey, suppkey) and (orderkey) — partitioning
    expressions a subset of the grouping keys), neither aggregate adds
    an Exchange.  Map-side partial aggregation would buy nothing here
    anyway (~1.1 lines per (order, supplier) at any scale), and the
    explicit repartition also parallelizes a single-split input, so no
    staging.spread_input round-robin pass is needed either — the r7 profile
    measured the former spread + two agg exchanges as ~70% of the
    gate's time.  No persist, no second pass, no join back; the
    F-status order filter and the supplier+nation dimension both
    broadcast."""
    lid = _lineitem_dated(spark, sf_dir).select(
        "l_orderkey", "l_suppkey",
        (F.col("l_receiptdate") > F.col("l_commitdate")).alias(
            "__late"
        ),
    ).repartition(F.col("l_orderkey"))
    per_supp = lid.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("__late"), 1).otherwise(0)).alias("__n_late"),
    )
    stats = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("__n_supp"),
            F.sum(F.when(F.col("__n_late") > 0, 1).otherwise(0)).alias(
                "__n_late_supp"
            ),
            F.max(
                F.when(F.col("__n_late") > 0, F.col("l_suppkey"))
            ).alias("__late_supp"),
            F.max(F.when(F.col("__n_late") > 0, F.col("__n_late"))).alias(
                "__late_lines"
            ),
        )
        .filter((F.col("__n_supp") >= 2) & (F.col("__n_late_supp") == 1))
    )
    orders_f = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_3", "NATION_5", "NATION_7")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation),
              F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        # orders is a FACT table (would not broadcast at 100 TB): leave
        # the strategy to Catalyst/AQE — at fixture scale it broadcasts
        # the 1-column F-status keys on its own; at scale it becomes a
        # shuffle join co-partitioned with the orderkey-partitioned
        # stats relation.
        stats.join(orders_f, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(supp), F.col("s_suppkey") == F.col("__late_supp")
        )
        .groupBy("s_name")
        .agg(F.sum("__late_lines").cast("bigint").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# round 4: stream-stream interval join + custom stateful sessions
# ---------------------------------------------------------------------------


@query(
    "stream_interval_join",
    """
    WITH c AS (
      SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, ts AS pts,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM c JOIN p ON c.user_id = p.user_id
                 AND p.pts >= c.cts
                 AND p.pts <= c.cts + INTERVAL 1 HOUR
    GROUP BY c.user_id
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join through the oracle gate:
    clicks and purchases from the SAME file-stream source self-join on
    user with purchase_ts in [click_ts, click_ts + 1 h]; matches land
    in a checkpointed parquet sink (availableNow), then the landed
    pairs are aggregated per user and hash-compared against the batch
    interval join.

    The time bound is what makes this 100 TB-survivable: with both
    sides watermarked, Spark evicts click state once the purchase
    watermark passes click_ts + 1 h (and vice versa), so join state
    holds ~(watermark + interval) of stream volume instead of the full
    history. Money aggregates as integer cents — exact under any
    partitioning. See streaming.operators.interval_join."""
    import os as _os

    from streaming_parquet_spark.streaming.operators import interval_join

    work = _stream_workdir("maw_stream_ij_", sf_dir)
    src, src_dir = _stage_events(sf_dir, work)

    # the fixture schema is read under _events' nanos rule; the if/elif
    # below replays the same ts normalization on the stream itself
    _read_nanos_as_long(spark, src)
    stream = (
        spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src_dir)
    )
    from pyspark.sql import types as T

    if isinstance(stream.schema["ts"].dataType, T.LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif isinstance(stream.schema["ts"].dataType, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))

    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    purch = stream.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts").alias("pts"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    joined = interval_join(
        clicks, purch, key="user_id", left_ts="cts", right_ts="pts",
        upper="1 HOUR", watermark="1 hour",
    )

    out_dir = _os.path.join(work, "landed")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", _os.path.join(work, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(300)
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    landed = spark.read.parquet(out_dir)
    return landed.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


@query(
    "stream_session_state",
    """
    WITH d AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts > lag(ts) OVER w + INTERVAL 24 HOURS
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM d
    ),
    g AS (
      SELECT user_id, sid,
             strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COALESCE(SUM(CAST(FLOOR(value * 100) AS BIGINT)), 0)
                  AS BIGINT) AS sum_cents
      FROM s GROUP BY user_id, sid
    ),
    m AS (SELECT user_id, MAX(sid) AS last_sid FROM g GROUP BY user_id)
    SELECT g.user_id, g.session_start, g.session_end, g.n_events,
           g.sum_cents
    FROM g JOIN m ON g.user_id = m.user_id
    WHERE g.sid < m.last_sid
    """,
)
def stream_session_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState custom stateful operator through the
    oracle gate: per-user gap sessions (24 h) where a session is
    emitted only when a LATER event proves the gap, and each user's
    open session survives in the state store — across the two staged
    micro-batches here (a session spanning the batch split must merge
    from state), and across restarts in production. The DuckDB oracle
    is batch gap-sessionization minus each user's final (still-open)
    session — emission is watermark-independent by design (NoTimeout),
    so the equivalence is exact. See
    streaming.operators.stateful_sessions."""
    import os as _os
    import shutil as _shutil

    from streaming_parquet_spark.queries import _events
    from streaming_parquet_spark.streaming.operators import (
        stateful_sessions,
    )

    work = _stream_workdir("maw_stream_sess_", sf_dir)
    src_dir = _os.path.join(work, "src")
    _os.makedirs(src_dir, exist_ok=True)

    e = _events(spark, sf_dir).select("user_id", "ts", "value")
    if not _os.path.exists(_os.path.join(src_dir, "batch1.parquet")):
        t1 = _ts("2024-01-16")
        base = 1_700_000_000
        for i, df in enumerate(
            (e.filter(F.col("ts") < t1), e.filter(F.col("ts") >= t1))
        ):
            stage = _os.path.join(work, f"stage{i}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(
                f for f in _os.listdir(stage) if f.endswith(".parquet")
            )
            dst = _os.path.join(src_dir, f"batch{i}.parquet")
            _shutil.copy(_os.path.join(stage, part), dst)
            _os.utime(dst, (base + i * 60, base + i * 60))

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    sessions = stateful_sessions(stream, gap_hours=24)

    out_dir = _os.path.join(work, "landed")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        (
            sessions.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", _os.path.join(work, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(300)
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    landed = spark.read.parquet(out_dir)
    return landed.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
        "sum_cents",
    )


@query(
    "stream_windowed_counts",
    """
    WITH m AS (SELECT MAX(ts) AS mx FROM events),
    w AS (
      SELECT TIMESTAMP '1970-01-01'
             + CAST(FLOOR(epoch(ts) / 21600) * 21600 AS BIGINT)
               * INTERVAL 1 SECOND AS ws,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             floor((SUM(value)) * 1e2 + 5e-1) / 1e2 AS total_value
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, n, total_value
    FROM w, m
    WHERE ws + INTERVAL 6 HOURS <= m.mx - INTERVAL 2 HOURS
    """,
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming tumbling-window aggregation through the
    oracle gate: 6-hour event-time windows with a 2-hour watermark in
    APPEND mode — only FINALIZED windows (window_end <= final
    watermark) ever land, which is the semantic the oracle reproduces:
    batch windows filtered to end <= max(ts) - delay. Pinned
    empirically (Spark 4.1): availableNow runs a final cleanup batch
    with the end-of-data watermark, so emission depends only on the
    data, not on batch boundaries. Late/retained windows stay in the
    state store for the next run — the streaming-resume story for
    aggregations, exactly like open sessions in stream_session_state.

    Scale: state is bounded by (watermark / window) x |keys| live
    windows; the append sink emits each window exactly once."""
    import os as _os
    import shutil as _shutil

    from streaming_parquet_spark.queries import _events

    work = _stream_workdir("maw_stream_win_", sf_dir)
    src_dir = _os.path.join(work, "src")
    _os.makedirs(src_dir, exist_ok=True)

    e = _events(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    if not _os.path.exists(_os.path.join(src_dir, "batch1.parquet")):
        t1 = _ts("2024-01-16")
        base = 1_700_000_000
        for i, df in enumerate(
            (e.filter(F.col("ts") < t1), e.filter(F.col("ts") >= t1))
        ):
            stage = _os.path.join(work, f"stage{i}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(
                f for f in _os.listdir(stage) if f.endswith(".parquet")
            )
            dst = _os.path.join(src_dir, f"batch{i}.parquet")
            _shutil.copy(_os.path.join(stage, part), dst)
            _os.utime(dst, (base + i * 60, base + i * 60))

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            round_to_col(F.sum("value"), 2).alias("total_value"),
        )
    )
    out_dir = _os.path.join(work, "landed")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", _os.path.join(work, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(300)
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    landed = spark.read.parquet(out_dir)
    return landed.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type", "n", "total_value",
    )


@query(
    "stream_static_join",
    """
    SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(e.value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension join through the oracle gate: the event
    stream enriches against a BATCH dimension table (nation) inside
    the streaming query — the standard fact-stream x dim-table shape.
    The dim side broadcasts per micro-batch (re-read each trigger, so
    a slowly-changing dimension is picked up on the next batch —
    Structured Streaming's documented stream-static semantics); the
    enriched rows land in the sink and aggregate batch-side. Money as
    integer cents."""
    import os as _os

    from streaming_parquet_spark.queries import _events

    work = _stream_workdir("maw_stream_dim_", sf_dir)
    src, src_dir = _stage_events(sf_dir, work)

    e = _events(spark, sf_dir)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src_dir)
    from pyspark.sql import types as T

    if isinstance(stream.schema["ts"].dataType, T.LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif isinstance(stream.schema["ts"].dataType, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))

    dim = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = (
        stream.withColumn("cents", F.floor(F.col("value") * 100).cast("long"))
        .withColumn("nk", F.col("user_id") % 25)
        .join(F.broadcast(dim), F.col("nk") == F.col("n_nationkey"))
        .select("n_name", "cents")
    )
    out_dir = _os.path.join(work, "landed")
    (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", _os.path.join(work, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(300)
    )
    landed = spark.read.parquet(out_dir)
    return landed.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


@query(
    "stream_upsert_sink",
    """
    WITH latest AS (
      SELECT user_id, event_type, ts,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
          ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM latest GROUP BY event_type
    """,
)
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE INTO: a foreachBatch sink maintains a
    latest-row-per-(user, type) table across micro-batches as
    copy-on-write versions — v_N = upsert_latest(v_{N-1} UNION batch_N)
    — the lakehouse streaming-upsert pattern with exactly-once via
    idempotent epoch overwrite (a replayed epoch re-reads the version
    BELOW its own id and overwrites its output). Two staged source
    halves + maxFilesPerTrigger=1 force a real multi-batch merge; the
    final version is read batch-side and aggregated against the
    latest-per-key oracle. Batch order cannot change the result:
    max_by compaction is commutative across batches. At 100 TB the
    same shape runs with the versioned dirs replaced by a table
    format's transactional commit."""
    import os as _os

    from streaming_parquet_spark.operators.cdc import upsert_latest
    from streaming_parquet_spark.queries import _events

    work = _stream_workdir("maw_stream_ups_", sf_dir)
    src_dir = _os.path.join(work, "src")
    table_root = _os.path.join(work, "table")
    _os.makedirs(src_dir, exist_ok=True)
    _os.makedirs(table_root, exist_ok=True)

    e = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    if not _os.path.exists(_os.path.join(src_dir, "half1.parquet")):
        import shutil as _shutil

        mid = _ts("2024-01-16")
        base = 1_700_000_000
        for i, df in enumerate(
            (e.filter(F.col("ts") < mid), e.filter(F.col("ts") >= mid))
        ):
            stage = _os.path.join(work, f"stage{i}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(
                f for f in _os.listdir(stage) if f.endswith(".parquet")
            )
            dst = _os.path.join(src_dir, f"half{i}.parquet")
            _shutil.copy(_os.path.join(stage, part), dst)
            _os.utime(dst, (base + i * 60, base + i * 60))

    keys = ["user_id", "event_type"]

    def _versions() -> list[int]:
        return sorted(
            int(d[2:]) for d in _os.listdir(table_root)
            if d.startswith("v_") and _os.path.exists(
                _os.path.join(table_root, d, "_SUCCESS")
            )
        )

    def merge(batch_df, epoch_id: int):
        # Idempotent MERGE: base = newest version with id < this epoch
        # (a replayed epoch ignores its own partial output), then
        # overwrite v_{epoch}. Parquet's _SUCCESS marker gates reads.
        prior = [v for v in _versions() if v < epoch_id]
        merged = batch_df
        if prior:
            merged = merged.unionByName(
                batch_df.sparkSession.read.parquet(
                    _os.path.join(table_root, f"v_{prior[-1]}")
                )
            )
        compact = upsert_latest(
            merged, keys=keys, seq_cols=["ts", "event_id"],
            payload_cols=["cents"],
        )
        compact.write.mode("overwrite").parquet(
            _os.path.join(table_root, f"v_{epoch_id}")
        )

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        (
            stream.writeStream.foreachBatch(merge)
            .option("checkpointLocation", _os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(300)
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    latest = spark.read.parquet(
        _os.path.join(table_root, f"v_{_versions()[-1]}")
    )
    return latest.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# round 7 wave-2 family gates (VERDICT r6 item 1: registry toward <= 100)
# ---------------------------------------------------------------------------


_DUCK_REL_SKEW_REPORT = """
    WITH keyed AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM keyed
    ),
    top AS (
      SELECT keyed.*, tot.* FROM keyed, tot
      ORDER BY cnt DESC, o_orderstatus LIMIT 20
    )
    SELECT o_orderstatus, cnt,
           floor((cnt / n_rows * 100) * 1e2 + 5e-1) / 1e2 AS pct_rows,
           floor((cnt / n_rows * n_keys) * 1e2 + 5e-1) / 1e2 AS skew_factor,
           CAST(greatest(ceil(cnt / 1000.0), 1) AS INTEGER)
             AS suggested_salt,
           n_rows, n_keys
    FROM top
    """


def _duck_rel_skew_family() -> str:
    return f"""
    SELECT 'salted' AS kind, n_name, CAST(NULL AS DOUBLE) AS band,
           n_cust AS n, total_bal, CAST(NULL AS DOUBLE) AS revenue,
           CAST(NULL AS DOUBLE) AS rel_price,
           CAST(NULL AS DOUBLE) AS pct_rows,
           CAST(NULL AS DOUBLE) AS skew_factor,
           CAST(NULL AS DOUBLE) AS suggested_salt,
           CAST(NULL AS DOUBLE) AS n_keys
    FROM ({_DUCK_REL_SALTED_JOIN_AGG})
    UNION ALL
    SELECT 'aqe' AS kind, CAST(NULL AS VARCHAR), CAST(band AS DOUBLE),
           n, CAST(NULL AS DOUBLE), revenue, rel_price,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM ({_DUCK_REL_SKEW_JOIN_AQE})
    UNION ALL
    SELECT 'report' AS kind, o_orderstatus, CAST(NULL AS DOUBLE),
           cnt, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), pct_rows, skew_factor,
           CAST(suggested_salt AS DOUBLE), CAST(n_keys AS DOUBLE)
    FROM ({_DUCK_REL_SKEW_REPORT})
    """


@query("rel_skew_family", _duck_rel_skew_family())
def rel_skew_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both hot-key escape hatches in one driver gate (merged r7 wave 2
    from rel_salted_join_agg + rel_skew_join_aqe — VERDICT r6 item 1):

    - kind='salted': the MANUAL salt — replicate the dimension salt
      ways, scatter the fact across salt sub-keys, aggregate after —
      for engines/joins where AQE cannot see the skew.
    - kind='aqe': the deliberately skewed fact/dim join left to
      OptimizeSkewedJoin (the runtime plan splits the hot partition;
      plan-asserted with fixture-tuned thresholds in
      tests/test_plan_quality.py::test_skew_join_aqe_split).
    - kind='report' (merged r9, enabled by skew_report's move to the
      portable floor-round): the MEASURE half — operators.skew.
      skew_report over the orders status key with an explicit
      target_rows_per_task (the defaultParallelism default is
      host-dependent, hence not oracle-able), exact counts/shares and
      the salt factor salted_join would need.

    ``n`` is the branch's row count (non-null all branches, stays
    BIGINT); other measures decay to typed DOUBLE nulls."""
    from streaming_parquet_spark.operators.skew import skew_report

    snull = F.lit(None).cast("string")
    dnull = F.lit(None).cast("double")
    salted = rel_salted_join_agg(spark, sf_dir).select(
        F.lit("salted").alias("kind"), "n_name", dnull.alias("band"),
        F.col("n_cust").alias("n"), "total_bal", dnull.alias("revenue"),
        dnull.alias("rel_price"), dnull.alias("pct_rows"),
        dnull.alias("skew_factor"), dnull.alias("suggested_salt"),
        dnull.alias("n_keys"),
    )
    aqe = rel_skew_join_aqe(spark, sf_dir).select(
        F.lit("aqe").alias("kind"), snull.alias("n_name"),
        F.col("band").cast("double").alias("band"), "n",
        dnull.alias("total_bal"), "revenue", "rel_price",
        dnull.alias("pct_rows"), dnull.alias("skew_factor"),
        dnull.alias("suggested_salt"), dnull.alias("n_keys"),
    )
    report = skew_report(
        _t(spark, sf_dir, "orders"), ["o_orderstatus"],
        top_n=20, target_rows_per_task=1000,
    ).select(
        F.lit("report").alias("kind"),
        F.col("o_orderstatus").alias("n_name"), dnull.alias("band"),
        F.col("cnt").alias("n"), dnull.alias("total_bal"),
        dnull.alias("revenue"), dnull.alias("rel_price"),
        "pct_rows", "skew_factor",
        F.col("suggested_salt").cast("double").alias("suggested_salt"),
        F.col("n_keys").cast("double").alias("n_keys"),
    )
    return salted.unionByName(aqe).unionByName(report)


def _duck_rel_order_stats() -> str:
    from streaming_parquet_spark.queries import _DUCK_REL_SORT_LIMIT

    return f"""
    SELECT 'topn' AS kind, CAST(o_orderkey AS DOUBLE) AS o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice, orderdate,
           CAST(NULL AS VARCHAR) AS o_orderstatus,
           CAST(NULL AS DOUBLE) AS p25, CAST(NULL AS DOUBLE) AS p50,
           CAST(NULL AS DOUBLE) AS p75, CAST(NULL AS DOUBLE) AS p95
    FROM ({_DUCK_REL_SORT_LIMIT})
    UNION ALL
    SELECT 'percentiles' AS kind, CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), o_orderstatus,
           p25, p50, p75, p95
    FROM ({_DUCK_REL_PERCENTILES})
    """


@query("rel_order_stats", _duck_rel_order_stats())
def rel_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-statistics surface in one driver gate (merged r7 wave 2
    from rel_sort_limit + rel_percentiles — VERDICT r6 item 1; SURVEY
    §2.6):

    - kind='topn': global top-20 by price — Spark plans
      TakeOrderedAndProject (per-partition heaps, no full sort, no
      full shuffle).
    - kind='percentiles': exact linear-interpolation percentiles per
      order status (percentile == DuckDB quantile_cont); the sketch
      swap at extreme scale is the histogram branch of
      sketch_family."""
    from streaming_parquet_spark.queries import rel_sort_limit

    snull = F.lit(None).cast("string")
    dnull = F.lit(None).cast("double")
    topn = rel_sort_limit(spark, sf_dir).select(
        F.lit("topn").alias("kind"),
        F.col("o_orderkey").cast("double").alias("o_orderkey"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "orderdate", snull.alias("o_orderstatus"), dnull.alias("p25"),
        dnull.alias("p50"), dnull.alias("p75"), dnull.alias("p95"),
    )
    pct = rel_percentiles(spark, sf_dir).select(
        F.lit("percentiles").alias("kind"), dnull.alias("o_orderkey"),
        dnull.alias("o_totalprice"), snull.alias("orderdate"),
        "o_orderstatus", "p25", "p50", "p75", "p95",
    )
    return topn.unionByName(pct)


def _duck_events_funnel_gaps() -> str:
    from streaming_parquet_spark.queries_ext import _DUCK_EVENTS_FUNNEL

    return f"""
    SELECT 'funnel' AS kind, CAST(step AS DOUBLE) AS step, step_name,
           CAST(users AS DOUBLE) AS users,
           CAST(NULL AS VARCHAR) AS event_type,
           CAST(NULL AS VARCHAR) AS minute, CAST(NULL AS DOUBLE) AS n,
           CAST(NULL AS DOUBLE) AS n_filled
    FROM ({_DUCK_EVENTS_FUNNEL})
    UNION ALL
    SELECT 'gap_fill' AS kind, CAST(NULL AS DOUBLE),
           CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), event_type,
           minute, CAST(n AS DOUBLE), CAST(n_filled AS DOUBLE)
    FROM ({_DUCK_EVENTS_GAP_FILL})
    """


@query("events_funnel_gaps", _duck_events_funnel_gaps())
def events_funnel_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel + gap-fill event analytics in one driver gate (merged r7
    wave 2 from events_funnel + events_gap_fill — VERDICT r6 item 1):

    - kind='funnel': ordered signup→view→click→purchase conversion
      counts (each step's MIN(ts) must precede the next's event).
    - kind='gap_fill': a dense per-minute series per event type with
      missing buckets zero-filled and a last-observation-carried-
      forward column — the time-series regularization primitive."""
    from streaming_parquet_spark.queries_ext import events_funnel

    snull = F.lit(None).cast("string")
    dnull = F.lit(None).cast("double")
    fun = events_funnel(spark, sf_dir).select(
        F.lit("funnel").alias("kind"),
        F.col("step").cast("double").alias("step"), "step_name",
        F.col("users").cast("double").alias("users"),
        snull.alias("event_type"), snull.alias("minute"),
        dnull.alias("n"), dnull.alias("n_filled"),
    )
    gaps = events_gap_fill(spark, sf_dir).select(
        F.lit("gap_fill").alias("kind"), dnull.alias("step"),
        snull.alias("step_name"), dnull.alias("users"), "event_type",
        "minute", F.col("n").cast("double").alias("n"),
        F.col("n_filled").cast("double").alias("n_filled"),
    )
    return fun.unionByName(gaps)
