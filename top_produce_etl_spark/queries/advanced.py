"""Advanced relational queries: aggregate-formulated top-N, explicit
grouping sets, statistical moments, RANGE-frame windows,
deterministic sampling, and pandas-UDF sessionization — each with a
DuckDB oracle (SURVEY.md §2.4-§2.6, §2.9-§2.10).

Scale notes:
- ``topn_agg_top3_region`` is the 100 TB-safe formulation of the
  reference's core computation (reference ``config/config_prod.yaml:
  10-13``): map-side partial aggregation bounds the shuffle to
  ~N·|groups| struct rows instead of serializing a whole skewed
  group through one window task.
- ``systematic_sample_orders`` is a deterministic key-mod sample —
  unlike ``df.sample`` it is reproducible across engines, cluster
  sizes, and retries, which a training-data pipeline needs for
  auditable subsampling.
- ``sessionize_pandas_gap`` pits the grouped-map ``applyInPandas``
  stateful path against a pure-SQL gap-sessionization oracle
  (lag + cumulative flag sum) — the strongest check we have that
  the Arrow/pandas surface agrees with relational semantics.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from top_produce_etl_spark.functions.numeric import (
    dec,
    revenue_sum,
    units,
    units_sum_over,
)
from top_produce_etl_spark.io.sources import load_table
from top_produce_etl_spark.operators.topn import top_n_agg
from top_produce_etl_spark.queries import query
from top_produce_etl_spark.queries.relational import FLAGSHIP_SQL, REV_DEC


@query("topn_agg_top3_region", oracle=FLAGSHIP_SQL)
def topn_agg_top3_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship computation via the ``top_n_agg`` formulation
    (collect_list → array_sort → slice with map-side
    partial agg) — must be value-identical to the window variant,
    so it shares the flagship oracle verbatim."""
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
        .agg(revenue_sum("revenue"))
    )
    return top_n_agg(
        revenue, group_by="r_name", metric="revenue", n=3, tiebreak="p_name"
    ).select("r_name", "p_name", "revenue", "rank")


@query(
    "grouping_sets_sales", extended=True,
    oracle=f"""
    SELECT o.o_orderstatus, l.l_returnflag,
           GROUPING(o.o_orderstatus)::BIGINT * 2
             + GROUPING(l.l_returnflag)::BIGINT AS gid,
           CAST(SUM({REV_DEC}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY GROUPING SETS ((o_orderstatus, l_returnflag),
                            (o_orderstatus), (l_returnflag), ())
    """,
)
def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than rollup/cube: an arbitrary
    lattice subset) + grouping_id — Spark expands all sets in ONE
    aggregate pass (single shuffle), not one scan per set."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("l_gs")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("o_gs")
    return spark.sql(f"""
        SELECT o_orderstatus, l_returnflag,
               grouping_id() AS gid,
               CAST(SUM({REV_DEC}) AS DOUBLE) AS revenue,
               COUNT(*) AS n_rows
        FROM l_gs l JOIN o_gs o ON l.l_orderkey = o.o_orderkey
        GROUP BY GROUPING SETS ((o_orderstatus, l_returnflag),
                                (o_orderstatus), (l_returnflag), ())
    """)


@query(
    "stats_moments_lineitem",
    oracle="""
    WITH b AS (
        SELECT l_returnflag, l_quantity AS q, l_extendedprice AS p
        FROM lineitem
    )
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(q), 6)    AS qty_stddev,
           ROUND(VAR_SAMP(q), 6)       AS qty_var,
           ROUND(quantile_cont(q, 0.5), 6) AS qty_median,
           ROUND(quantile_cont(p, 0.9), 6) AS price_p90,
           ROUND(CORR(q, p), 6)        AS qty_price_corr,
           ROUND(COVAR_SAMP(q, p), 6)  AS qty_price_covar,
           ROUND(AVG(POW(q - (SELECT AVG(q) FROM b b2
                              WHERE b2.l_returnflag = b.l_returnflag), 3))
                 / POW(AVG(POW(q - (SELECT AVG(q) FROM b b3
                                    WHERE b3.l_returnflag = b.l_returnflag), 2)),
                       1.5), 6)        AS qty_skewness
    FROM b
    GROUP BY l_returnflag
    """,
)
def stats_moments_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution statistics per return flag. stddev/var/corr/covar
    use the sample definitions both engines share; skewness uses
    Spark's population formula (m3 / m2^1.5), which the oracle
    reconstructs from raw moments because DuckDB's built-in applies
    a sample correction. Rounded to 6dp: single-pass moment kernels
    accumulate float error in engine-specific order."""
    li = load_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    r6 = lambda c: F.round(c, 6)  # noqa: E731
    return li.groupBy("l_returnflag").agg(
        r6(F.stddev_samp(q)).alias("qty_stddev"),
        r6(F.var_samp(q)).alias("qty_var"),
        r6(F.expr("percentile(l_quantity, 0.5)")).alias("qty_median"),
        r6(F.expr("percentile(l_extendedprice, 0.9)")).alias("price_p90"),
        r6(F.corr(q, p)).alias("qty_price_corr"),
        r6(F.covar_samp(q, p)).alias("qty_price_covar"),
        r6(F.skewness(q)).alias("qty_skewness"),
    )


@query(
    "range_frame_spend_30d", extended=True,
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
               PARTITION BY o_custkey
               ORDER BY epoch(o_orderdate)
               RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_30d
    FROM orders
    """,
)
def range_frame_spend_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) window frame: per customer, total spend in
    the trailing 30 days *by event-time distance*, not row count —
    rangeBetween on unix seconds. Unlike rowsBetween this is
    tie-safe: same-timestamp orders always share a frame."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        units_sum_over(units("o_totalprice", 2), 2, w).alias("spend_30d"),
    )


@query(
    "systematic_sample_orders", extended=True,
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 20 = 0
    """,
)
def systematic_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-20 systematic sample on the key. Unlike
    ``df.sample`` (partition-order-dependent RNG), a key-mod sample
    is reproducible across engines, retries, and cluster sizes, and
    it pushes down to the scan as a plain predicate."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") % 20 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@query(
    "salted_agg_by_status",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def salted_agg_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation on a 2-value key (the extreme
    hot-key shape: |groups| ≪ cores, where a plain groupBy reduces
    to 2 final tasks). Must be value-identical to the plain GROUP BY
    oracle — salting is a physical rewrite, not a semantic one."""
    from top_produce_etl_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "__qty_dec", dec("l_quantity")
    )
    out = salted_agg(
        li,
        "l_linestatus",
        {
            "n_rows": ("count", "*"),
            "total_qty": ("sum", "__qty_dec"),
            "max_price": ("max", "l_extendedprice"),
        },
        salt_buckets=32,
    )
    return out.select(
        "l_linestatus",
        "n_rows",
        F.col("total_qty").cast("double").alias("total_qty"),
        F.col("max_price").cast("double").alias("max_price"),
    )


SESSION_GAP_S = 1800

_SESS_SCHEMA = (
    "user_id bigint, session_seq int, n_events bigint, "
    "session_start timestamp, session_end timestamp"
)


def _sessionize_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    gaps = pdf["ts"].diff().dt.total_seconds()
    sess = (gaps >= SESSION_GAP_S).fillna(True).cumsum()
    out = pdf.groupby(sess).agg(
        user_id=("user_id", "first"),
        n_events=("ts", "size"),
        session_start=("ts", "min"),
        session_end=("ts", "max"),
    )
    out["session_seq"] = range(1, len(out) + 1)
    return out[["user_id", "session_seq", "n_events", "session_start", "session_end"]]


@query(
    "sessionize_pandas_gap", extended=True,
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w)
                         >= {SESSION_GAP_S}
                    OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS session_seq
        FROM flagged
    )
    SELECT user_id, CAST(session_seq AS INT) AS session_seq,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM numbered
    GROUP BY user_id, session_seq
    """,
)
def sessionize_pandas_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization through ``applyInPandas`` (grouped-map
    Arrow UDF — SURVEY §2.10) checked against a pure-SQL lag+cumsum
    oracle. The pandas path is the template for per-key stateful
    logic ``F.session_window`` can't express (value-dependent gaps,
    session-level features); one shuffle on user_id, per-group work
    bounded by that user's history."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select("user_id", "event_id", "ts")
        .groupBy("user_id")
        .applyInPandas(_sessionize_pdf, _SESS_SCHEMA)
    )


@query(
    "stratified_sample_docs", extended=True,
    oracle="""
    SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 50
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly 50 docs per language,
    chosen by a Knuth multiplicative hash of the id — pseudo-random
    but bit-reproducible across engines, retries, and cluster sizes
    (an auditable training-data curation primitive; ``df.sample``
    cannot give per-stratum exact counts or reproducibility). One
    shuffle on the stratum key; Spark's WindowGroupLimit caps the
    per-partition sort at 50 rows before the exchange."""
    docs = load_table(spark, sf_dir, "documents")
    order_key = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    w = Window.partitionBy("lang").orderBy(order_key, F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .drop("rn")
    )
