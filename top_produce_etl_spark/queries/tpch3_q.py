"""TPC-H shapes q2/q11/q16/q20 — the four partsupp-family queries,
completing 22/22 TPC-H shape coverage (SURVEY.md §2 generalized
tier; q1..q22 now all have an in-repo shape).

The fixture has no ``partsupp`` table, so these express the same
PLAN SHAPES over ``lineitem`` as the part-supplier relationship
(every (l_partkey, l_suppkey) pair is a supply relationship with
observed prices/quantities):

- q2  — decorrelated scalar MIN subquery: per-group min, join back
        on (group, min), star-join the winners, global top-k.
- q11 — group aggregate filtered by a FRACTION OF THE GLOBAL total
        (scalar subquery broadcast back; integer-scaled comparison
        keeps it decimal-exact).
- q16 — count-distinct suppliers per part attributes with a
        NOT-IN anti-join excluding flagged suppliers.
- q20 — nested aggregate chain: per-(supplier, part) share of the
        part's windowed total, dominance filter, semi-join back to
        the supplier dimension.

Scale notes: every aggregate here pre-reduces map-side; the only
wide shuffles are the (part,supp)-keyed aggregates whose key space
is |relationships|, not |lineitem|. Scalar totals ride 1-row
broadcasts; dimension joins use fixed-cardinality hints
(nation/region) or none (part/supplier slices: the planner's
broadcast threshold decides). No correlated per-row subqueries
survive into the plan — each is decorrelated into an aggregate +
join, which is exactly how Catalyst plans the real TPC-H
q2/q11/q20.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top_produce_etl_spark.functions.numeric import dec
from top_produce_etl_spark.io.sources import load_table
from top_produce_etl_spark.queries import query


@query(
    "q2_min_cost_supplier", extended=True,
    oracle="""
    WITH offers AS (
        SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS offer
        FROM lineitem GROUP BY 1, 2
    ), best AS (
        SELECT o.l_partkey, o.l_suppkey, o.offer
        FROM offers o
        JOIN (SELECT l_partkey, MIN(offer) AS min_offer
              FROM offers GROUP BY 1) mo
          ON o.l_partkey = mo.l_partkey AND o.offer = mo.min_offer
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
           b.offer AS min_price
    FROM best b
    JOIN part p     ON b.l_partkey = p.p_partkey AND p.p_size < 10
    JOIN supplier s ON b.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
                   AND r.r_name = 'EUROPE'
    ORDER BY s.s_acctbal DESC, s.s_name ASC, p.p_partkey ASC
    LIMIT 20
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q2 shape: cheapest supplier per small part in EUROPE. The
    correlated ``price = (SELECT MIN ...)`` decorrelates into two
    hash aggregates over the supply relation plus an equi-join back
    on (part, min) — MIN is order-insensitive, so doubles are
    hash-exact without decimal. Global top-20 compiles to
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("offer")
    )
    min_offer = offers.groupBy("l_partkey").agg(
        F.min("offer").alias("min_offer")
    ).withColumnRenamed("l_partkey", "__pk")
    best = offers.join(
        min_offer,
        (offers.l_partkey == F.col("__pk"))
        & (offers.offer == F.col("min_offer")),
    ).select("l_partkey", "l_suppkey", "offer")
    return (
        best.join(part, best.l_partkey == part.p_partkey)
        .join(supplier, best.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            nation.n_regionkey == region.r_regionkey,
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            F.col("offer").alias("min_price"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(20)
    )


@query(
    "q11_important_parts", extended=True,
    oracle="""
    WITH pv AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                   * CAST(l_quantity AS DECIMAL(18,4))) AS val
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
                       AND n.n_name = 'NATION_3'
        GROUP BY 1
    )
    SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
    FROM pv, (SELECT SUM(val) AS total FROM pv) t
    WHERE val * 1000 > total
    ORDER BY part_value DESC, l_partkey ASC
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q11 shape: parts whose NATION_3-supplied inventory value
    exceeds 0.1% of the nation's total. The global total is a 1-row
    aggregate cross-joined back with a broadcast hint (never a
    shuffle); the dominance test is integer-scaled decimal
    (``val*1000 > total``) so no engine rounds a threshold."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    pv = (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice") * dec("l_quantity")).alias("val"))
    )
    # non-foldable always-0 key: the 1-row total attaches via a
    # BroadcastHashJoin, not a nested-loop cartesian (repo-wide
    # audit forbids cartesians; same pattern as quality.py /
    # tpch2_q idle-rich stats)
    total = pv.agg(F.sum("val").alias("total")).withColumn(
        "__k", F.pmod(F.coalesce(F.col("total"), F.lit(0)), F.lit(1)).cast("int")
    )
    return (
        pv.withColumn("__k", F.pmod(F.col("l_partkey"), F.lit(1)).cast("int"))
        .join(F.broadcast(total), "__k")
        .filter(F.col("val") * F.lit(1000) > F.col("total"))
        .select("l_partkey", F.col("val").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), F.col("l_partkey").asc())
    )


@query(
    "q16_supplier_relationship", extended=True,
    oracle="""
    SELECT p.p_brand, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
               AND p.p_brand <> 'Brand#1'
               AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
    WHERE l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
    )
    GROUP BY 1, 2
    ORDER BY supplier_cnt DESC, p.p_brand ASC, p.p_size ASC
    """,
)
def q16_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q16 shape: distinct supplier count per (brand, size) slice,
    excluding flagged suppliers (negative balance stands in for the
    complaints predicate — the fixture has no s_comment). The NOT IN
    becomes a broadcast anti-join BEFORE the aggregate, so excluded
    suppliers never enter the count-distinct's expand/shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    flagged = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(flagged, "l_suppkey", "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), F.col("p_brand").asc(),
            F.col("p_size").asc(),
        )
    )


@query(
    "q20_dominant_suppliers", extended=True,
    oracle="""
    WITH sq AS (
        SELECT l_suppkey, l_partkey,
               SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size >= 40
        WHERE l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1997-01-01'
        GROUP BY 1, 2
    ), pt AS (
        SELECT l_partkey, SUM(qty) AS total FROM sq GROUP BY 1
    ), dominant AS (
        SELECT DISTINCT l_suppkey
        FROM sq JOIN pt USING (l_partkey)
        WHERE qty * 2 > total
    )
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM dominant)
    ORDER BY s.s_name ASC
    """,
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q20 shape: suppliers providing more than half of some large
    part's 1996 supply. Nested aggregate chain — (supp, part) qty →
    per-part total via a second aggregate over the FIRST one (no
    lineitem re-scan) — then a dominance filter and a semi-join into
    the supplier dimension. Decimal quantities; ``qty*2 > total``
    keeps the boundary exact."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    sq = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
    )
    pt = sq.groupBy("l_partkey").agg(F.sum("qty").alias("total"))
    dominant = (
        sq.join(pt, "l_partkey")
        .filter(F.col("qty") * F.lit(2) > F.col("total"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(
            dominant,
            supplier.s_suppkey == dominant.l_suppkey,
            "left_semi",
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select("s_name", "n_name")
        .orderBy(F.col("s_name").asc())
    )
