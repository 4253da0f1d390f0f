"""TPC-H-shaped multi-join analytics (SURVEY.md §2.3-§2.6): the
join-heavy query shapes a user of the reference's "sales analytics"
pipeline runs daily, adapted to the fixture schema.

Scale notes:
- Q3 shape: two large-table joins with selective predicates on both
  sides — correctness of pushdown matters more than join order here
  (Catalyst pushes both filters below the joins; AQE picks broadcast
  for the filtered customer side at real scale).
- Q5 shape: the classic "local supplier" pattern — the
  customer-nation and supplier-nation equality closes a cycle in the
  join graph; dims broadcast, the lineitem⨝orders backbone is the
  only big shuffle.
- label_centroids: posexplode of embedding vectors → (label, dim)
  aggregate. This is the k-means/IVF centroid building block; the
  long format keeps the shuffle row-width constant and lets the
  same plan scale to any dimensionality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top_produce_etl_spark.io.sources import load_table
from top_produce_etl_spark.queries import query
from top_produce_etl_spark.queries.relational import REV_DEC


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(SUM({REV_DEC}) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 20
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on both join inputs + group
    by a high-cardinality key + global top-k. Filters push below the
    joins; the final top-20 is TakeOrderedAndProject, not a sort."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    from top_produce_etl_spark.functions.numeric import revenue_sum

    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, customer.c_custkey == orders.o_custkey)
        .filter(F.col("o_orderdate") < "1998-01-01")
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .filter(F.col("l_shipdate") > "1998-01-01")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue_sum("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(20)
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           CAST(SUM({REV_DEC}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey  = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the join graph closes a cycle
    (customer.nation = supplier.nation), so the supplier join is an
    equi-join on TWO keys. All dims broadcast; lineitem⨝orders is
    the only exchange-bearing join."""
    from top_produce_etl_spark.functions.numeric import revenue_sum

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    return (
        lineitem
        .join(
            orders.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1998-01-01")
            ),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            supplier,
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        )
        .groupBy("n_name")
        .agg(revenue_sum("revenue"))
    )


@query(
    "q6_forecast_revenue", extended=True,
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
           AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, no join. The whole
    value of this query is pushdown — all three predicates reach the
    parquet scan as PushedFilters, and the ungrouped sum partial-
    aggregates map-side so the exchange carries one row per task."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(18,4)"
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(dec) * F.col("l_discount").cast(dec)
            )
            .cast("double")
            .alias("revenue_delta")
        )
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({REV_DEC}) AS DOUBLE) AS revenue,
           n.n_name, c.c_acctbal
    FROM customer c
    JOIN orders o   ON c.c_custkey  = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last quarter.
    Selective date window on orders, flag filter on lineitem, nation
    broadcast; high-cardinality group key (customer) then global
    top-20 via TakeOrderedAndProject."""
    from top_produce_etl_spark.functions.numeric import revenue_sum

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")

    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1996-07-01")
            ),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue_sum("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name", "c_acctbal")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q4_priority_lateness",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def q4_priority_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape adapted to the fixture schema (no
    l_commitdate/l_receiptdate): orders with at least one line
    shipped >90 days after order date, counted by priority. The
    correlated EXISTS decorrelates to a LEFT SEMI join with a
    non-equi residual predicate — no subquery machinery needed."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    return (
        o.join(
            lineitem,
            (o.o_orderkey == lineitem.l_orderkey)
            & (
                lineitem.l_shipdate
                > o.o_orderdate + F.expr("INTERVAL 90 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q14_promo_revenue", extended=True,
    oracle=f"""
    SELECT CAST(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                       THEN {REV_DEC}
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / CAST(SUM({REV_DEC}) AS DOUBLE) AS DOUBLE) AS promo_pct,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN {REV_DEC}
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one quarter.
    Conditional aggregation over a fact⨝dim join; part broadcasts,
    both decimal sums are exact so the final double division is
    bit-deterministic across partition orders."""
    from top_produce_etl_spark.functions.numeric import (
        revenue_units,
        units_sum,
    )

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev_u = revenue_units()
    promo = units_sum(F.when(F.col("p_type") == "PROMO", rev_u).otherwise(F.lit(0)), 6)
    total = units_sum(rev_u, 6)
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .join(part, lineitem.l_partkey == part.p_partkey)
        .agg(
            (F.lit(100.0) * promo / total).cast("double").alias("promo_pct"),
            promo.alias("promo_revenue"),
        )
    )


@query(
    "q7_trade_flows",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           CAST(SUM({REV_DEC}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey  = c.c_custkey
    JOIN supplier s  ON l.l_suppkey  = s.s_suppkey
    JOIN nation ns   ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc   ON c.c_nationkey = nc.n_nationkey
    WHERE ns.n_name <> nc.n_name
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY ns.n_name, nc.n_name, year(l.l_shipdate)
    """,
)
def q7_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border revenue flows by (supplier
    nation, customer nation, year). The nation dimension joins in
    TWO roles — broadcast twice under different aliases — and the
    inequality between the roles is a post-join residual (it
    references both sides, so it cannot push below either join)."""
    from top_produce_etl_spark.functions.numeric import revenue_sum

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(revenue_sum("revenue"))
    )


@query(
    "q18_large_volume_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
           AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey  = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 20
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a
    threshold (agg-HAVING subquery), joined back for customer
    detail. The IN-subquery runs as one hash aggregate over
    lineitem followed by a LEFT SEMI join on the fact — the
    aggregate's output (qualifying keys only, 46 of ~15k at sf0.01)
    is tiny, so AQE broadcasts the semi side at any corpus scale."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(18,4)"

    big_orders = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(dec)).alias("__q"))
        .filter(F.col("__q") > 300)
        .select("l_orderkey")
    )
    return (
        orders.join(
            big_orders,
            orders.o_orderkey == big_orders.l_orderkey,
            "left_semi",
        )
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast(dec)).cast("double").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM({REV_DEC}) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the quarter's maximum
    revenue — the scalar-subquery-in-WHERE pattern. The max is a
    one-row aggregate crossJoin-broadcast back onto the revenue
    table (never a window over an unpartitioned frame, which would
    funnel every row through one task); equality is safe because
    both sides derive the double from the same exact-decimal sum.
    Ties all surface, matching the SQL semantics."""
    from top_produce_etl_spark.functions.numeric import revenue_sum

    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(revenue_sum("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(supplier, F.col("supplier_no") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "label_centroids", extended=True,
    oracle="""
    SELECT label, CAST(i - 1 AS INT) AS dim,
           ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid
    FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    GROUP BY label, i
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long (label, dim, value)
    format — the IVF/k-means building block. posexplode keeps the
    shuffle row-width constant regardless of vector dimensionality;
    the aggregate partial-combines map-side. Rounded to 6dp (float
    mean accumulation order differs between engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("centroid"))
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: aggregation of an aggregation — how many
    customers placed how many (non-urgent) orders. The predicate
    lives IN the left-join condition (filtering after the join would
    silently drop zero-order customers); COUNT over the right side's
    key counts 0 for unmatched rows. Second agg groups on the first
    agg's output — |customers| rows, trivially small after the
    first shuffle."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders,
            (customer.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@query(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT CAST(SUM({REV_DEC}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of conjunctive (brand, size, quantity)
    triples spanning BOTH join sides. Catalyst factors each side's
    implication out of the cross-side disjunction: the lineitem scan
    pushes the OR of quantity ranges, the part scan pushes the OR of
    (brand, size) conjuncts (verified in PushedFilters), and the
    full residual evaluates after the broadcast join."""
    from top_produce_etl_spark.functions.numeric import revenue_sum

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#2") & s.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#3") & s.between(1, 35) & q.between(20, 30))
    )
    return (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            revenue_sum("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q8_market_share",
    oracle=f"""
    WITH flat AS (
        SELECT year(o.o_orderdate) AS o_year,
               {REV_DEC} AS volume,
               ns.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
        JOIN region r   ON nc.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
        WHERE r.r_name = 'ASIA'
    )
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_2'
                         THEN volume
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM flat GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of revenue sold
    into a region, by year — a per-group conditional ratio (vs
    q14's global ratio). Both the conditional and total sums stay
    exact-decimal until the final per-year division of identically
    derived doubles, so the ratio is bit-deterministic."""
    from top_produce_etl_spark.functions.numeric import (
        revenue_units,
        units_sum,
    )

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    vol_u = revenue_units()
    flat = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("nc_region") == F.col("r_regionkey"),
        )
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
    )
    return (
        flat.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                units_sum(
                    F.when(F.col("supp_nation") == "NATION_2", vol_u).otherwise(
                        F.lit(0)
                    ),
                    6,
                )
                / units_sum(vol_u, 6)
            )
            .cast("double")
            .alias("mkt_share")
        )
    )
