"""Registered queries for the driver's correctness harness.

Every entry returns (spark, sf_dir) -> DataFrame and has a matching ANSI
SQL oracle in ``ORACLES`` (run by DuckDB over the same parquet). Column
names are aliased identically on both sides; double aggregates are
rounded (2dp for money sums, 4dp for ratios) so cross-engine float
summation order cannot flip the hash; timestamps are emitted as
formatted strings to sidestep timezone/precision representation
differences.

Groups:
  engine_*  — the reference's own operator surface (concat/align/widen/
              project/rename; SURVEY.md §2.1-2.8) expressed through the
              engine's plan builders.
  q*_/rel_* — relational built-ins exercised per SURVEY.md §2.2-2.7
              (free in Spark; the work is the oracle-checked surface).
  events_*  — event-time operations on the events table (§2.11).

Scale notes are in each docstring: every query is shuffle-minimal —
broadcast joins for dims, partial aggregation for group-bys, no
driver-side collects anywhere.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from streaming_parquet_spark.functions.portable import round_to_col
from pyspark.sql import types as T

from streaming_parquet_spark.plans.align import concat_aligned
from streaming_parquet_spark.plans.unify import unify_schemas

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


# Per-session DataFrame cache: the driver's correctness sweep runs ~80
# queries against the same sf_dir in one session, and every
# `spark.read.parquet` call re-lists the path and re-reads footers on
# the driver.  DataFrames are immutable, so handing back the same
# logical plan is safe and shaves a fixed per-query startup cost.
# Keyed by SparkContext id so a restarted session never sees stale
# plans from a stopped one.
_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (id(spark.sparkContext), sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name in ("documents", "embeddings"):
            # The text/embedding corpora carry heavy PER-ROW work
            # (shingle hashing, dot products, Arrow batches). A
            # single-row-group fixture file is an unsplittable scan —
            # one task would run all of it; spread_input round-robins
            # the narrow rows first (no-op whenever the scan already
            # parallelizes, i.e. any production layout).
            from streaming_parquet_spark.staging import spread_input

            df = spread_input(df)
        _TABLE_CACHE[key] = df
    return df


def register_tables(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every fixture table as a temp view so users can drive
    the engine through plain ``spark.sql`` — the SQL face of the same
    Catalyst plans the DataFrame queries build."""
    names = (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split()
    for n in names:
        df = _events(spark, sf_dir) if n == "events" else _t(spark, sf_dir, n)
        df.createOrReplaceTempView(n)
    return names


def _read_nanos_as_long(spark: SparkSession, path: str) -> None:
    """Turn on ``spark.sql.legacy.parquet.nanosAsLong`` when the parquet
    file or dataset directory at ``path`` stores ``ts`` as
    TIMESTAMP(NANOS), the one encoding Spark's reader rejects unless it
    reads it as longs. One footer read (a directory's first data file
    stands for the table), no Spark job; any other encoding leaves the
    session conf as it is, so a later parquet read does not depend on
    which gates ran first."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    files = ds.dataset(path, format="parquet").files
    if not files:
        return
    schema = pq.ParquetFile(files[0]).schema
    ts = schema.column(schema.names.index("ts")).logical_type
    if json.loads(ts.to_json()).get("timeUnit") == "nanoseconds":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table reader, adaptive to the fixture's `ts` encoding.

    Fixture generations have stored `ts` as either parquet
    TIMESTAMP(NANOS) — which Spark's vectorized reader rejects
    (PARQUET_TYPE_ILLEGAL), so read nanos as long and floor-convert to
    microseconds (integer `div`: double division is lossy at 1.7e18 ns)
    — or as TIMESTAMP(MICROS) without timezone, which Spark reads as
    TIMESTAMP_NTZ; cast that to the session-TZ type so every downstream
    window/interval op and the UTC DuckDB oracle agree on values."""
    _read_nanos_as_long(spark, os.path.join(sf_dir, "events.parquet"))
    df = _t(spark, sf_dir, "events")
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# engine_* — reference operator surface through the engine's plan builders
# ---------------------------------------------------------------------------


@query(
    "engine_concat_union",
    """
    SELECT o_orderkey, CAST(NULL AS VARCHAR) AS o_orderpriority, o_totalprice
    FROM orders
    UNION ALL
    SELECT o_orderkey, o_orderpriority, CAST(NULL AS DOUBLE) AS o_totalprice
    FROM orders
    """,
)
def engine_concat_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two heterogeneous projections through unify+align
    (reference core operator, src/pipeline.rs:76-100 + coercion null-fill
    src/coercion.rs:206-230). Zero-shuffle: two scans into one union."""
    orders = _t(spark, sf_dir, "orders")
    d1 = orders.select("o_orderkey", "o_totalprice")
    d2 = orders.select("o_orderkey", "o_orderpriority")
    unified = unify_schemas([d1.schema, d2.schema])
    return concat_aligned([d1, d2], unified)


@query(
    "engine_widen_union",
    """
    SELECT CAST(p_partkey AS BIGINT) AS k, CAST(p_size AS DOUBLE) AS v
    FROM part
    UNION ALL
    SELECT CAST(p_partkey AS BIGINT) AS k, CAST(p_retailprice AS DOUBLE) AS v
    FROM part
    """,
)
def engine_widen_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-widening concat: i32 `p_size` + f64 `p_retailprice` widen to
    F64 under the lattice (schema.rs:166-175); key stays I64."""
    part = _t(spark, sf_dir, "part")
    d1 = part.select(F.col("p_partkey").alias("k"), F.col("p_size").alias("v"))
    d2 = part.select(F.col("p_partkey").alias("k"), F.col("p_retailprice").alias("v"))
    unified = unify_schemas([d1.schema, d2.schema])
    return concat_aligned([d1, d2], unified)


@query(
    "engine_project_rename",
    """
    SELECT p_partkey AS part_id, p_brand, p_retailprice
    FROM part
    """,
)
def engine_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Include/rename/reorder surface (cli.rs:46-60) in one aligned
    projection; alphabetical output order per schema.rs:101-102."""
    part = _t(spark, sf_dir, "part")
    unified = unify_schemas([part.schema], rename={"p_partkey": "part_id"})
    return concat_aligned(
        [part], unified, include=["part_id", "p_brand", "p_retailprice"]
    )


@query(
    "engine_stringify",
    """
    SELECT CAST(n_nationkey AS VARCHAR) AS k, n_name AS v FROM nation
    UNION ALL
    SELECT n_name AS k, CAST(n_regionkey AS VARCHAR) AS v FROM nation
    """,
)
def engine_stringify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stringify-conflicts path (schema.rs:184-185): int/string conflict
    coerces to Utf8 instead of erroring."""
    nation = _t(spark, sf_dir, "nation")
    d1 = nation.select(F.col("n_nationkey").alias("k"), F.col("n_name").alias("v"))
    d2 = nation.select(F.col("n_name").alias("k"), F.col("n_regionkey").alias("v"))
    unified = unify_schemas([d1.schema, d2.schema], stringify_conflicts=True)
    return concat_aligned([d1, d2], unified)


@query(
    "engine_na_sentinels",
    """
    SELECT event_id,
           CASE WHEN event_type IN ('error', 'signup') THEN NULL
                ELSE event_type END AS event_type_clean
    FROM events
    """,
)
def engine_na_sentinels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NA-sentinel mapping (cli.rs:41-43, csv_in.rs:129-135): membership
    test against a sentinel list -> null, as a vectorized expression."""
    from streaming_parquet_spark.sources.readers import _apply_na_sentinels

    events = _events(spark, sf_dir).select(
        "event_id", F.col("event_type").alias("event_type_clean")
    )
    return _apply_na_sentinels(events, ("error", "signup"))


# ---------------------------------------------------------------------------
# relational built-ins (SURVEY.md §2.2-2.7) — TPC-H-style star queries
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           floor((SUM(l_quantity)) * 1e2 + 5e-1) / 1e2 AS sum_qty,
           floor((SUM(l_extendedprice)) * 1e2 + 5e-1) / 1e2 AS sum_base_price,
           floor((SUM(l_extendedprice * (1 - l_discount))) * 1e2 + 5e-1) / 1e2 AS sum_disc_price,
           floor((SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 1e2 + 5e-1) / 1e2 AS sum_charge,
           floor((AVG(l_quantity)) * 1e4 + 5e-1) / 1e4 AS avg_qty,
           floor((AVG(l_extendedprice)) * 1e4 + 5e-1) / 1e4 AS avg_price,
           floor((AVG(l_discount)) * 1e4 + 5e-1) / 1e4 AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary. Scale: filter + partial agg push to the
    scan; 4-group output — shuffle is a few KB regardless of input size."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            round_to_col(F.sum("l_quantity"), 2).alias("sum_qty"),
            round_to_col(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            round_to_col(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            round_to_col(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            round_to_col(F.avg("l_quantity"), 4).alias("avg_qty"),
            round_to_col(F.avg("l_extendedprice"), 4).alias("avg_price"),
            round_to_col(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           floor((SUM(l_extendedprice * (1 - l_discount))) * 1e2 + 5e-1) / 1e2 AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape. Scale: the filtered customer dim broadcasts into
    orders; lineitem x orders stays a shuffle join at fact scale (no
    explicit broadcast hint — at 100 TB a forced broadcast of orders
    would OOM the executors; AQE still picks broadcast when the filtered
    side is actually small). Deterministic top-10 via (revenue desc,
    key) tiebreak."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    joined = li.join(
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
        li.l_orderkey == orders.o_orderkey,
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            round_to_col(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    """
    SELECT n_name,
           floor((SUM(l_extendedprice * (1 - l_discount))) * 1e2 + 5e-1) / 1e2 AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join. Scale: region/nation/supplier
    are true dims -> broadcast hints; orders and customer are fact-scale
    at 100 TB, so no forced broadcast — AQE promotes them to broadcast
    only when their filtered size actually fits."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            round_to_col(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT floor((SUM(l_extendedprice * l_discount)) * 1e2 + 5e-1) / 1e2 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter+agg — every predicate pushes into the
    parquet scan (row-group pruning on shipdate at scale)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.04))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            round_to_col(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "rel_join_agg_segment",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           floor((SUM(o_totalprice)) * 1e2 + 5e-1) / 1e2 AS total,
           floor((AVG(o_totalprice)) * 1e4 + 5e-1) / 1e4 AS avg_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def rel_join_agg_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join + aggregation. No forced broadcast: customer is only a
    'dim' at test scale — AQE broadcasts it while it fits and falls back
    to a shuffle join at 100 TB."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round_to_col(F.sum("o_totalprice"), 2).alias("total"),
            round_to_col(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


@query(
    "rel_semi_anti_join",
    """
    SELECT c_nationkey, COUNT(*) AS n_customers_without_orders
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
)
def rel_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (NOT EXISTS). Scale: broadcast the *keys* of the probe
    side when small; Spark rewrites to BroadcastHashJoin(LeftAnti)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers_without_orders"))
    )


_DUCK_REL_DISTINCT = """
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """


def rel_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT = hash aggregate with map-side partials (SURVEY §2.5)."""
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


_DUCK_REL_AGG_STATS = """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey) AS n_parts,
           floor((MIN(l_quantity)) * 1e2 + 5e-1) / 1e2 AS min_qty,
           floor((MAX(l_quantity)) * 1e2 + 5e-1) / 1e2 AS max_qty,
           floor((STDDEV_SAMP(l_quantity)) * 1e4 + 5e-1) / 1e4 AS std_qty
    FROM lineitem
    GROUP BY l_returnflag
    """


def rel_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregate (expand + two-phase agg under Catalyst).
    The 4-column projection is spread first: the Expand triples the row
    volume INSIDE the scan stage, so on an unsplittable one-row-group
    input the whole partial aggregation would otherwise run in one
    task (no-op on any production multi-split layout)."""
    from streaming_parquet_spark.staging import spread_input

    return (
        spread_input(
            _t(spark, sf_dir, "lineitem").select(
                "l_returnflag", "l_orderkey", "l_partkey", "l_quantity"
            )
        )
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_partkey").alias("n_parts"),
            round_to_col(F.min("l_quantity"), 2).alias("min_qty"),
            round_to_col(F.max("l_quantity"), 2).alias("max_qty"),
            round_to_col(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        )
    )


_WINDOW_NULLS = (
    "o_orderkey o_totalprice rn l_suppkey l_orderkey l_linenumber "
    "running_qty rnk drnk quartile pct_rank prev_price next_price "
    "min_price delta"
).split()


@query(
    "rel_window_family",
    """
    SELECT 'topk' AS kind, o_orderpriority,
           CAST(o_orderkey AS DOUBLE) AS o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(rn AS DOUBLE) AS rn,
           CAST(NULL AS DOUBLE) AS l_suppkey,
           CAST(NULL AS DOUBLE) AS l_orderkey,
           CAST(NULL AS DOUBLE) AS l_linenumber,
           CAST(NULL AS DOUBLE) AS running_qty,
           CAST(NULL AS DOUBLE) AS rnk, CAST(NULL AS DOUBLE) AS drnk,
           CAST(NULL AS DOUBLE) AS quartile,
           CAST(NULL AS DOUBLE) AS pct_rank,
           CAST(NULL AS DOUBLE) AS prev_price,
           CAST(NULL AS DOUBLE) AS next_price,
           CAST(NULL AS DOUBLE) AS min_price,
           CAST(NULL AS DOUBLE) AS delta
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    UNION ALL
    SELECT 'running' AS kind, CAST(NULL AS VARCHAR) AS o_orderpriority,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE),
           CAST(l_suppkey AS DOUBLE), CAST(l_orderkey AS DOUBLE),
           CAST(l_linenumber AS DOUBLE),
           floor((SUM(l_quantity) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1e2 + 5e-1) / 1e2,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'funcs' AS kind, CAST(NULL AS VARCHAR) AS o_orderpriority,
           CAST(o_orderkey AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(ROW_NUMBER() OVER w AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(RANK() OVER w AS DOUBLE),
           CAST(DENSE_RANK() OVER w AS DOUBLE),
           CAST(NTILE(4) OVER w AS DOUBLE),
           floor((PERCENT_RANK() OVER w) * 1e6 + 5e-1) / 1e6,
           floor((LAG(o_totalprice, 1) OVER w) * 1e2 + 5e-1) / 1e2,
           floor((LEAD(o_totalprice, 1) OVER w) * 1e2 + 5e-1) / 1e2,
           floor((FIRST_VALUE(o_totalprice) OVER w) * 1e2 + 5e-1) / 1e2,
           floor((o_totalprice - LAG(o_totalprice, 1) OVER w) * 1e2 + 5e-1) / 1e2
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def rel_window_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window/sort surface in one driver gate (merged r7 from
    rel_window_topk + rel_window_running + rel_window_funcs — VERDICT
    r6 item 1; SURVEY §2.6):

    - kind='topk': top-3 orders per priority via row_number with a
      deterministic (price, key) order. Spark pushes a per-partition
      top-K (WindowGroupLimit) before the shuffle, so the full sort
      never materializes.
    - kind='running': running quantity sum per supplier with a total
      (shipdate, orderkey, linenumber) order — deterministic under
      ties.
    - kind='funcs': the ranking/navigation sweep (row_number, rank,
      dense_rank, ntile, percent_rank, lag/lead, first_value, and a
      lag-delta) — one window spec, one shuffle, one Window node.

    Wide-union shape: every numeric column absent from a branch is a
    typed DOUBLE null on both engines (a mixed-null BIGINT decays to
    float64 on one engine and Int64 on the other)."""
    orders = _t(spark, sf_dir, "orders")

    def _fill(df: DataFrame, kind: str, *keep: str) -> DataFrame:
        cols: list = [F.lit(kind).alias("kind")]
        cols.append(
            F.col("o_orderpriority")
            if "o_orderpriority" in keep
            else F.lit(None).cast("string").alias("o_orderpriority")
        )
        for c in _WINDOW_NULLS:
            cols.append(
                F.col(c).cast("double").alias(c)
                if c in keep
                else F.lit(None).cast("double").alias(c)
            )
        return df.select(*cols)

    wt = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    topk = _fill(
        orders.select(
            "o_orderpriority", "o_orderkey", "o_totalprice",
            F.row_number().over(wt).alias("rn"),
        ).filter(F.col("rn") <= 3),
        "topk", "o_orderpriority", "o_orderkey", "o_totalprice", "rn",
    )
    wr = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = _fill(
        _t(spark, sf_dir, "lineitem").select(
            "l_suppkey", "l_orderkey", "l_linenumber",
            round_to_col(F.sum("l_quantity").over(wr), 2)
            .alias("running_qty"),
        ),
        "running", "l_suppkey", "l_orderkey", "l_linenumber", "running_qty",
    )
    wf = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    funcs = _fill(
        orders.filter(F.col("o_orderkey") < 2000).select(
            "o_orderkey",
            F.row_number().over(wf).alias("rn"),
            F.rank().over(wf).alias("rnk"),
            F.dense_rank().over(wf).alias("drnk"),
            F.ntile(4).over(wf).alias("quartile"),
            round_to_col(F.percent_rank().over(wf), 6).alias("pct_rank"),
            round_to_col(F.lag("o_totalprice", 1).over(wf), 2)
            .alias("prev_price"),
            round_to_col(F.lead("o_totalprice", 1).over(wf), 2)
            .alias("next_price"),
            round_to_col(F.first("o_totalprice").over(wf), 2)
            .alias("min_price"),
            round_to_col(
                F.col("o_totalprice") - F.lag("o_totalprice", 1).over(wf), 2
            ).alias("delta"),
        ),
        "funcs", "o_orderkey", "rn", "rnk", "drnk", "quartile", "pct_rank",
        "prev_price", "next_price", "min_price", "delta",
    )
    return topk.unionByName(running).unionByName(funcs)


_DUCK_REL_SORT_LIMIT = """
    SELECT o_orderkey, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """


def rel_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: Spark plans TakeOrderedAndProject — per-partition
    heaps, no full sort, no full shuffle."""
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@query(
    "rel_set_family",
    """
    SELECT 'intersect' AS kind, p_brand FROM (
      SELECT p_brand FROM part WHERE p_size < 25
      INTERSECT
      SELECT p_brand FROM part WHERE p_retailprice > 1200
    )
    UNION ALL
    SELECT 'except' AS kind, p_brand FROM (
      SELECT p_brand FROM part WHERE p_size < 25
      EXCEPT
      SELECT p_brand FROM part WHERE p_retailprice > 1200
    )
    """,
)
def rel_set_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both set operations in one driver gate (merged r7 from
    rel_set_ops + rel_except — VERDICT r6 item 1; SURVEY §2.3, absent in
    reference, Spark built-ins):

    - kind='intersect': brands in both the small-size and the
      high-price sets.
    - kind='except': brands in the small-size set only. subtract ==
      SQL EXCEPT (set semantics): a brand present in BOTH sides is
      dropped entirely — exceptAll().distinct() is NOT that; it keeps
      a brand whenever the left multiplicity exceeds the right's,
      which a vacuous right side masks."""
    part = _t(spark, sf_dir, "part")
    small = part.filter(F.col("p_size") < 25).select("p_brand")
    pricey = part.filter(F.col("p_retailprice") > 1200).select("p_brand")
    return (
        small.intersect(pricey)
        .select(F.lit("intersect").alias("kind"), "p_brand")
        .unionByName(
            small.subtract(pricey)
            .select(F.lit("except").alias("kind"), "p_brand")
        )
    )


@query(
    "rel_grouping",
    """
    SELECT 'rollup' AS kind, l_returnflag, l_linestatus,
           floor((SUM(l_quantity)) * 1e2 + 5e-1) / 1e2 AS sum_qty,
           CAST(NULL AS DOUBLE) AS sum_price,
           CAST(NULL AS DOUBLE) AS qty_open,
           CAST(NULL AS DOUBLE) AS qty_filled,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube' AS kind, l_returnflag, l_linestatus,
           CAST(NULL AS DOUBLE) AS sum_qty,
           floor((SUM(l_extendedprice)) * 1e2 + 5e-1) / 1e2 AS sum_price,
           CAST(NULL AS DOUBLE) AS qty_open,
           CAST(NULL AS DOUBLE) AS qty_filled,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'pivot' AS kind, l_returnflag,
           CAST(NULL AS VARCHAR) AS l_linestatus,
           CAST(NULL AS DOUBLE) AS sum_qty,
           CAST(NULL AS DOUBLE) AS sum_price,
           floor((SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END)) * 1e2 + 5e-1) / 1e2 AS qty_open,
           floor((SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END)) * 1e2 + 5e-1) / 1e2 AS qty_filled,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def rel_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouping-set family in one driver gate (merged r7 from
    rel_rollup + rel_cube + rel_pivot — VERDICT r6 item 1; all absent
    in reference, SURVEY §2.5):

    - kind='rollup': ROLLUP(l_returnflag, l_linestatus) quantity sums.
    - kind='cube': CUBE over the same keys, price sums — all 2^k
      grouping combinations in one partial-aggregated pass.
    - kind='pivot': PIVOT on l_linestatus = conditional aggregation
      (one pass, no shuffle beyond the agg), plus the group count so
      ``n`` stays non-null in every branch (a mixed-null BIGINT would
      surface as float64 on one engine and Int64 on the other).

    Measures absent from a branch are typed DOUBLE nulls on both
    engines so the cross-engine pandas dtype is float64 everywhere."""
    li = _t(spark, sf_dir, "lineitem")
    dnull = F.lit(None).cast("double")
    rollup = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            round_to_col(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.lit("rollup").alias("kind"), "l_returnflag", "l_linestatus",
            "sum_qty", dnull.alias("sum_price"), dnull.alias("qty_open"),
            dnull.alias("qty_filled"), "n",
        )
    )
    cube = (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            round_to_col(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.lit("cube").alias("kind"), "l_returnflag", "l_linestatus",
            dnull.alias("sum_qty"), "sum_price", dnull.alias("qty_open"),
            dnull.alias("qty_filled"), "n",
        )
    )
    pivot = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(
            round_to_col(F.sum("l_quantity"), 2).alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.lit("pivot").alias("kind"), "l_returnflag",
            F.lit(None).cast("string").alias("l_linestatus"),
            dnull.alias("sum_qty"), dnull.alias("sum_price"),
            F.col("O_qty").alias("qty_open"),
            F.col("F_qty").alias("qty_filled"),
            (F.coalesce("O_n", F.lit(0)) + F.coalesce("F_n", F.lit(0)))
            .alias("n"),
        )
    )
    return rollup.unionByName(cube).unionByName(pivot)


@query(
    "rel_exists_subquery",
    """
    SELECT c_mktsegment, COUNT(*) AS n_active
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def rel_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL surface — Catalyst
    rewrites them to semi/anti joins (same physical plans as
    rel_semi_anti_join builds with the DataFrame API)."""
    register_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_active
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 100000)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
        """
    )


# ---------------------------------------------------------------------------
# events_* — event-time operations (extensions; SURVEY §2.11)
# ---------------------------------------------------------------------------


@query(
    "events_windows",
    """
    SELECT 'tumbling' AS kind,
           strftime(TIMESTAMP '1970-01-01'
                    + CAST(FLOOR(epoch(ts) / 600) * 600 AS BIGINT)
                      * INTERVAL 1 SECOND,
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           floor((SUM(value)) * 1e2 + 5e-1) / 1e2 AS total_value
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding' AS kind,
           strftime(TIMESTAMP '1970-01-01'
                    + CAST(FLOOR(epoch(ts) / 300) * 300 - k * 300 AS BIGINT)
                      * INTERVAL 1 SECOND,
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(NULL AS VARCHAR) AS event_type,
           COUNT(*) AS n,
           floor((SUM(value)) * 1e2 + 5e-1) / 1e2 AS total_value
    FROM events, UNNEST(range(0, 2)) AS t(k)
    GROUP BY 2
    """,
)
def events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both event-time window shapes in one driver gate (merged r6 from
    events_tumbling_window + events_sliding_window — VERDICT r5 item 4):

    - kind='tumbling': 10-minute windows per event_type (F.window).
    - kind='sliding': 10-minute windows, 5-minute slide — each event
      lands in window/slide = 2 overlapping windows; the oracle expands
      windows arithmetically (starts are the 2 slide-aligned instants
      within (ts - window, ts]).

    The same plans run under Structured Streaming with a watermark
    (streaming/operators.py); here they are the batch renderings for
    the oracle check."""
    ev = _events(spark, sf_dir)
    tumbling = (
        ev.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_to_col(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.lit("tumbling").alias("kind"),
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "total_value",
        )
    )
    sliding = (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_to_col(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.lit("sliding").alias("kind"),
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.lit(None).cast("string").alias("event_type"),
            "n",
            "total_value",
        )
    )
    return tumbling.unionByName(sliding)


@query(
    "events_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           floor((AVG(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))) * 1e4 + 5e-1) / 1e4 AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction (get_json_object, JVM-side jsonpath)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        round_to_col(
            F.avg(F.get_json_object("props", "$.k").cast("bigint")), 4
        ).alias("avg_k"),
    )


_DUCK_EVENTS_SESSIONIZE = """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
    FROM gaps GROUP BY user_id
    """


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: lag-gap > 30min starts a new session.
    Streaming equivalent uses F.session_window (streaming module)."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap: cast('long') floors to whole seconds and
    # can disagree with the oracle's exact interval compare for gaps
    # within 1s of the boundary
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        F.lag("ts").over(w).isNull() | (gap > 1800 * 1_000_000), 1
    ).otherwise(0)
    return (
        ev.select("user_id", new_session.alias("new_session"))
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"))
    )


def _duck_rel_agg_family() -> str:
    return f"""
    SELECT 'distinct' AS kind, l_returnflag, l_linestatus,
           CAST(NULL AS DOUBLE) AS n_orders, CAST(NULL AS DOUBLE) AS n_parts,
           CAST(NULL AS DOUBLE) AS min_qty, CAST(NULL AS DOUBLE) AS max_qty,
           CAST(NULL AS DOUBLE) AS std_qty
    FROM ({_DUCK_REL_DISTINCT})
    UNION ALL
    SELECT 'stats' AS kind, l_returnflag, CAST(NULL AS VARCHAR),
           CAST(n_orders AS DOUBLE), CAST(n_parts AS DOUBLE),
           min_qty, max_qty, std_qty
    FROM ({_DUCK_REL_AGG_STATS})
    """


@query("rel_agg_family", _duck_rel_agg_family())
def rel_agg_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT + multi-distinct aggregate surface in one driver gate
    (merged r7 wave 2 from rel_distinct + rel_agg_stats — VERDICT r6
    item 1; SURVEY §2.5):

    - kind='distinct': SELECT DISTINCT over the (returnflag,
      linestatus) pair — a partial-aggregated hash distinct.
    - kind='stats': two COUNT(DISTINCT) + min/max/stddev per flag
      (Catalyst's Expand + two-phase aggregation; the 4-column
      projection is spread first so the tripled row volume never sits
      in one scan task on an unsplittable input).

    l_returnflag is non-null in both branches; branch-absent measures
    are typed DOUBLE nulls on both engines."""
    snull = F.lit(None).cast("string")
    dnull = F.lit(None).cast("double")
    dist = rel_distinct(spark, sf_dir).select(
        F.lit("distinct").alias("kind"), "l_returnflag", "l_linestatus",
        dnull.alias("n_orders"), dnull.alias("n_parts"),
        dnull.alias("min_qty"), dnull.alias("max_qty"),
        dnull.alias("std_qty"),
    )
    stats = rel_agg_stats(spark, sf_dir).select(
        F.lit("stats").alias("kind"), "l_returnflag",
        snull.alias("l_linestatus"),
        F.col("n_orders").cast("double").alias("n_orders"),
        F.col("n_parts").cast("double").alias("n_parts"),
        "min_qty", "max_qty", "std_qty",
    )
    return dist.unionByName(stats)
