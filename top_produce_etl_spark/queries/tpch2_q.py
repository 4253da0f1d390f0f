"""TPC-H-shaped battery, part 2 (SURVEY.md §2.3-§2.6 depth): the
remaining classic query shapes adapted to the fixture schema (no
partsupp table, no shipmode/commitdate columns — adaptations noted
per query; the JOIN/AGG/SUBQUERY shape is what's exercised).

Decimal discipline as everywhere: money math in exact DECIMAL,
boundary comparisons cross-multiplied so both engines decide ties
identically, cast to double only at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from top_produce_etl_spark.functions.numeric import (
    money_sum,
    revenue_units,
    units,
    units_sum,
)
from top_produce_etl_spark.io.sources import load_table
from top_produce_etl_spark.queries import query
from top_produce_etl_spark.queries.relational import REV_DEC


@query(
    "q9_profit_by_nation_year", extended=True,
    oracle=f"""
    SELECT n.n_name AS nation,
           EXTRACT(year FROM o.o_orderdate) AS o_year,
           CAST(SUM({REV_DEC}
                    - CAST(p.p_retailprice AS DECIMAL(18,4))
                      * CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year),
    adapted: the fixture has no partsupp, so cost = retail price ×
    quantity stands in for supplycost × quantity — the 5-way join
    through part-filter, supplier→nation and orders→year is the
    exercised shape. Dims (part-filtered, supplier, nation)
    broadcast; lineitem⨝orders is the only big shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    # long-units profit: rev in 1e-6 units minus (cents × integer
    # qty × 10^4) — exact, same value as the decimal oracle expr
    profit_u = revenue_units() - units("p_retailprice", 2) * units(
        "l_quantity", 0
    ) * F.lit(10000)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(units_sum(profit_u, 6, "sum_profit"))
    )


@query(
    "q12_priority_by_returnflag", extended=True,
    oracle="""
    SELECT l.l_returnflag,
           SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS high_line_count,
           SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-category priority counts), adapted:
    the fixture lacks l_shipmode, so l_returnflag is the category.
    The shape — date-bounded fact join + conditional aggregation into
    high/low priority counts — is intact. Filter pushes to the
    lineitem scan; counts partial-aggregate map-side."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "q17_small_quantity_revenue", extended=True,
    oracle="""
    WITH joined AS (
        SELECT l.l_quantity, l.l_extendedprice, l.l_partkey
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23' AND p.p_size < 15
    ), stats AS (
        SELECT l_partkey,
               COUNT(*) AS cnt,
               SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty
        FROM joined GROUP BY 1
    )
    SELECT CAST(SUM(CAST(j.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               / 7.0 AS avg_yearly,
           COUNT(*) AS n_small
    FROM joined j JOIN stats s ON j.l_partkey = s.l_partkey
    WHERE CAST(j.l_quantity AS DECIMAL(18,4)) * 5 * s.cnt < s.sum_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders — the
    correlated per-part average subquery, expressed as a window over
    the part-filtered join (no second scan, no self-join shuffle:
    the window partitions on the join key already in hand). The
    below-20%-of-average comparison is cross-multiplied
    (qty·5·cnt < Σqty) so both engines decide boundary ties in exact
    decimal, not float."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 15)
    )
    joined = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey")
    # integer quantities → the below-average comparison is exact in
    # pure long arithmetic (same booleans as the decimal oracle);
    # per-part windows are bounded (~7 lineitems/order key), so a
    # single long window accumulator can't overflow at any SF
    qty_u = units("l_quantity", 0)
    stats = joined.withColumn("cnt", F.count(F.lit(1)).over(w)).withColumn(
        "sum_qty", F.sum(qty_u).over(w)
    )
    small = stats.filter(qty_u * F.lit(5) * F.col("cnt") < F.col("sum_qty"))
    return small.agg(
        (money_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"),
    )


@query(
    "q21_late_sole_suppliers", extended=True,
    oracle="""
    WITH li AS (
        SELECT l.l_orderkey, l.l_suppkey,
               MAX(CASE WHEN l.l_shipdate > o.o_orderdate
                                            + INTERVAL 90 DAY
                        THEN 1 ELSE 0 END) AS any_late
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ), per_order AS (
        SELECT l_orderkey,
               COUNT(*) AS n_supp,
               SUM(any_late) AS n_late
        FROM li GROUP BY 1
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM li
    JOIN per_order po ON po.l_orderkey = li.l_orderkey
    JOIN supplier s   ON s.s_suppkey = li.l_suppkey
    WHERE li.any_late = 1 AND po.n_supp >= 2 AND po.n_late = 1
    GROUP BY 1
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """,
)
def q21_late_sole_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept multi-supplier orders
    waiting), adapted: no commit/receipt dates in the fixture, so
    "late" = shipped more than 90 days after the order date. The
    EXISTS/NOT-EXISTS pair over other suppliers of the same order
    is expressed as one grouped pass (n_supp≥2 ∧ n_late=1 ∧ this
    supplier late) — two keyed aggregations and a broadcast supplier
    join instead of two correlated semi/anti joins; same result,
    half the shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"),
        1,
    ).otherwise(0)
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("any_late"))
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("any_late").alias("n_late")
    )
    return (
        per_supp.join(per_order, "l_orderkey")
        .filter(
            (F.col("any_late") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late") == 1)
        )
        .join(supp, per_supp.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "q22_idle_rich_customers", extended=True,
    oracle="""
    WITH pos AS (
        SELECT * FROM customer WHERE c_acctbal > 0.0
    ), stats AS (
        SELECT COUNT(*) AS cnt,
               SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS sum_bal
        FROM pos
    )
    SELECT c.c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
               AS totacctbal
    FROM pos c CROSS JOIN stats st
    WHERE CAST(c.c_acctbal AS DECIMAL(18,4)) * st.cnt > st.sum_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '1999-01-01'
      )
    GROUP BY 1
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (promising idle customers), adapted: nation
    key stands in for the phone country code. Above-average balance
    is decided by the cross-multiplied decimal comparison
    (bal·cnt > Σbal — no float average at the boundary); the 1-row
    stats aggregate attaches via a non-foldable constant-key
    broadcast hash join (retrieval.py pattern), and "no recent
    orders" (the fixture's order history runs to 2001, so "none
    since 1999" plays the role of Q22's 7-year window) is a
    left-anti join on the customer key."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0.0)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1999-01-01"
    )
    # above-average test in exact long units: bal_u·cnt > Σbal_u is
    # the same boolean as the decimal cross-multiplication
    bal_u = units("c_acctbal", 2)
    stats = cust.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(bal_u).alias("sum_bal_u"),
    ).withColumn("__k", F.pmod(F.col("cnt"), F.lit(1)).cast("int"))
    rich = (
        cust.withColumn("__k", F.pmod(F.col("c_custkey"), F.lit(1)).cast("int"))
        .join(F.broadcast(stats), "__k")
        .filter(bal_u * F.col("cnt") > F.col("sum_bal_u"))
    )
    idle_rich = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return idle_rich.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        money_sum("c_acctbal", "totacctbal"),
    )


@query(
    "quality_report_orders", extended=True,
    oracle="""
    SELECT 'not_null_o_custkey' AS check,
           SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS violations,
           COUNT(*) AS total
    FROM orders
    UNION ALL
    SELECT 'in_set_o_orderstatus',
           SUM(CASE WHEN o_orderstatus IS NULL
                      OR o_orderstatus NOT IN ('F', 'O', 'P')
                    THEN 1 ELSE 0 END),
           COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'in_range_o_totalprice',
           SUM(CASE WHEN o_totalprice IS NULL
                      OR o_totalprice < 0 OR o_totalprice > 1000000
                    THEN 1 ELSE 0 END),
           COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'unique_o_orderkey',
           (SELECT COALESCE(SUM(n - 1), 0) FROM (
                SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey
            ) WHERE n > 1),
           COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'ref_o_custkey',
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)),
           COUNT(*)
    FROM orders
    """,
)
def quality_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite over orders
    (operators/quality.py): null/set/range checks fused into ONE
    aggregation pass, a keyed-aggregate uniqueness check, and a
    broadcast anti-join referential check against customer — the
    write-gate a production ETL runs before publishing a table."""
    from top_produce_etl_spark.operators.quality import quality_report

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return quality_report(
        orders,
        [
            {"check": "not_null", "col": "o_custkey"},
            {"check": "in_set", "col": "o_orderstatus", "values": ["F", "O", "P"]},
            {"check": "in_range", "col": "o_totalprice", "lo": 0, "hi": 1_000_000},
            {"check": "unique", "cols": ["o_orderkey"]},
            {"check": "ref", "col": "o_custkey", "ref": customer,
             "ref_col": "c_custkey"},
        ],
    )


@query(
    "unpivot_priority_metrics", extended=True,
    oracle="""
    WITH wide AS (
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS total_price,
               CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
        FROM orders GROUP BY 1
    )
    SELECT o_orderpriority, 'n_orders' AS metric,
           CAST(n_orders AS DOUBLE) AS value FROM wide
    UNION ALL
    SELECT o_orderpriority, 'total_price', total_price FROM wide
    UNION ALL
    SELECT o_orderpriority, 'max_price', max_price FROM wide
    """,
)
def unpivot_priority_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping via the native ``unpivot`` (melt) operator
    — pivot's inverse (§2.4): a per-priority metrics table melts into
    (priority, metric, value) rows. Narrow generate-style op, no
    shuffle beyond the upstream aggregate; the oracle spells the same
    reshape as a UNION ALL."""
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        money_sum("o_totalprice", "total_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_orders", "total_price", "max_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )
