"""Relational-tier queries: the flagship top-N star query plus the
scan/filter/aggregate battery (SURVEY.md §2.1-§2.6).

The flagship is the reference's declared computation — "top
``top_n`` per ``group_by_column`` by ``target_metric``" (reference
``config/config_prod.yaml:10-13``) — executed against the normalized
star schema, which exercises scan → broadcast join chain → hash
aggregate → ranking window → ordered output in one plan.

Scale notes on the flagship plan shape:
- fixed-cardinality dims (region=5, nation=25) joined with an
  explicit ``broadcast()`` hint — the fact table never shuffles for
  them at any scale; SF-scaled dims (customer, part) are joined
  unhinted, so the planner broadcasts them while they fit under the
  session broadcast threshold and shuffles them when they don't — a
  forced hint would OOM at 100 TB;
- the only unavoidable exchange is the lineitem→orders equi-join
  (both sides large at real scale) and the group-by on
  (region, part): Catalyst does partial (map-side) aggregation
  before that shuffle automatically;
- the ranking window partitions by region (5 keys — low
  parallelism, fine because input to the window is already only
  |region × part| aggregated rows, not raw lineitem).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top_produce_etl_spark.functions.numeric import (
    money_sum,
    revenue_sum,
    units,
    units_sum,
)
from top_produce_etl_spark.io.sources import load_table
from top_produce_etl_spark.operators.topn import top_n_window
from top_produce_etl_spark.queries import query

# Shared oracle fragment: exact-decimal revenue (matches
# functions.numeric.revenue_expr bit-for-bit).
REV_DEC = (
    "CAST(l_extendedprice AS DECIMAL(18,4)) * "
    "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))"
)

FLAGSHIP_SQL = f"""
WITH rev AS (
    SELECT r.r_name, p.p_name,
           CAST(SUM({REV_DEC}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    JOIN part p     ON l.l_partkey  = p.p_partkey
    GROUP BY r.r_name, p.p_name
)
SELECT r_name, p_name, revenue, "rank"
FROM (
    SELECT r_name, p_name, revenue,
           ROW_NUMBER() OVER (
               PARTITION BY r_name ORDER BY revenue DESC, p_name ASC
           ) AS "rank"
    FROM rev
)
WHERE "rank" <= 3
"""


def flagship_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")

    revenue = (
        lineitem
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(part, lineitem.l_partkey == part.p_partkey)
        .groupBy("r_name", "p_name")
        # long-units fast path: bit-identical to the decimal-sum
        # oracle, ~1.6x cheaper (functions/numeric.py rationale)
        .agg(revenue_sum("revenue"))
    )
    return top_n_window(
        revenue, group_by="r_name", metric="revenue", n=3, tiebreak="p_name"
    ).select("r_name", "p_name", "revenue", "rank")


query("flagship_top3_region", oracle=FLAGSHIP_SQL)(flagship_df)


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)       AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({REV_DEC}) AS DOUBLE)                              AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: single-pass hash aggregate;
    map-side partial agg means the shuffle carries |groups| rows."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    cnt = F.count(F.lit(1))
    qty_u = units("l_quantity", 1)
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            units_sum(qty_u, 1, "sum_qty"),
            money_sum("l_extendedprice", "sum_base_price"),
            revenue_sum("sum_disc_price"),
            (units_sum(qty_u, 1) / cnt).alias("avg_qty"),
            cnt.alias("count_order"),
        )
    )


@query(
    "proj_filter_cast",
    oracle="""
    SELECT l_orderkey, l_partkey,
           CAST(l_quantity AS BIGINT) AS qty_int,
           CAST(l_extendedprice AS DOUBLE) * 0.5 AS half_price
    FROM lineitem
    WHERE l_discount > 0.05 AND l_returnflag = 'R'
    """,
)
def proj_filter_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate + cast — verifies pushdown-friendly
    shape (filter lands in PushedFilters, scan reads 5 columns)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem
        .filter((F.col("l_discount") > 0.05) & (F.col("l_returnflag") == "R"))
        .select(
            "l_orderkey",
            "l_partkey",
            F.col("l_quantity").cast("bigint").alias("qty_int"),
            (F.col("l_extendedprice") * F.lit(0.5)).alias("half_price"),
        )
    )


@query(
    "distinct_segments", extended=True,
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query(
    "top_orders_global", extended=True,
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def top_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy+limit compiles to TakeOrderedAndProject
    (per-partition heap + driver merge) — no full sort at scale."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )
