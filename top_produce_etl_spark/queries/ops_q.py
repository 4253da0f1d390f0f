"""Operations-analytics queries, wave 2 (round 5): interval
sweep-line concurrency, MATCH_RECOGNIZE-style sequence patterns,
and the anti-entropy table fingerprint — each oracle-checked
(extended tier).

Reference parity: the reference's transform core
(src/transform/core.py) is empty; these are part of the
beyond-reference operations surface the round briefs ask for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top_produce_etl_spark.io.sources import fan_out, load_table
from top_produce_etl_spark.operators._cache import persist_tracked
from top_produce_etl_spark.queries import query


@query(
    "open_orders_daily", extended=True,
    oracle="""
    WITH iv AS (
        SELECT CAST(o.o_orderdate AS DATE) AS start_day,
               MAX(CAST(l.l_shipdate AS DATE)) AS end_day
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    ), deltas AS (
        SELECT day, CAST(SUM(delta) AS BIGINT) AS delta FROM (
            SELECT start_day AS day, 1 AS delta FROM iv
            UNION ALL
            SELECT end_day + 1, -1 FROM iv
        ) GROUP BY day
    )
    SELECT CAST(day AS DATE) AS day, delta,
           CAST(SUM(delta) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_open
    FROM deltas
    """,
)
def open_orders_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders in flight per day: each order is open from its order
    date until its last line ships; the sweep line renders the
    open-count series at event-day grain
    (operators/intervals.py::daily_concurrency — two delta rows per
    order, one day-grain shuffle, cumulative sum over the |days|-row
    rollup)."""
    from top_produce_etl_spark.operators.intervals import daily_concurrency

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    iv = (
        orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
        )
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("start_day"))
        .agg(F.max(F.to_date("l_shipdate")).alias("end_day"))
    )
    return daily_concurrency(iv, "start_day", "end_day")


@query(
    "open_orders_peak_by_priority", extended=True,
    oracle="""
    WITH iv AS (
        SELECT o.o_orderpriority,
               CAST(o.o_orderdate AS DATE) AS start_day,
               MAX(CAST(l.l_shipdate AS DATE)) AS end_day
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority,
                 CAST(o.o_orderdate AS DATE)
    ), deltas AS (
        SELECT o_orderpriority, day,
               CAST(SUM(delta) AS BIGINT) AS delta FROM (
            SELECT o_orderpriority, start_day AS day, 1 AS delta FROM iv
            UNION ALL
            SELECT o_orderpriority, end_day + 1, -1 FROM iv
        ) GROUP BY o_orderpriority, day
    ), running AS (
        SELECT o_orderpriority, CAST(day AS DATE) AS day,
               CAST(SUM(delta) OVER (PARTITION BY o_orderpriority
                    ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS n_open
        FROM deltas
    )
    SELECT o_orderpriority,
           CAST(peak AS BIGINT) AS peak_open,
           MIN(day) FILTER (WHERE n_open = peak) AS peak_day
    FROM running
         JOIN (SELECT o_orderpriority AS p, MAX(n_open) AS peak
               FROM running GROUP BY 1)
           ON o_orderpriority = p
    GROUP BY o_orderpriority, peak
    """,
)
def open_orders_peak_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak order-book depth per priority class: the grouped
    sweep-line variant (operators/intervals.py::peak_concurrency) —
    the running sum partitions by priority, so every window is
    parallel; peak_day is the earliest day attaining the peak
    (deterministic tiebreak via max_by on a (n_open, -epoch)
    struct)."""
    from top_produce_etl_spark.operators.intervals import peak_concurrency

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    iv = (
        orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
        )
        .groupBy(
            "o_orderkey",
            "o_orderpriority",
            F.to_date("o_orderdate").alias("start_day"),
        )
        .agg(F.max(F.to_date("l_shipdate")).alias("end_day"))
    )
    return peak_concurrency(
        iv, "start_day", "end_day", group_cols=["o_orderpriority"]
    )


# event_type → pattern symbol for the sequence matcher
_SYMBOLS = {
    "view": "v",
    "click": "c",
    "purchase": "p",
    "signup": "s",
    "error": "e",
}

# Named sequence patterns. Each is backtracking-unambiguous (no
# overlapping alternations), so Java regex (Spark) and RE2 (DuckDB)
# count identical non-overlapping leftmost matches.
_PATTERNS = {
    "click_to_purchase": "vc+p",
    "error_streak": "ee+",
    "signup_then_purchase": "s[^p]*p",
}

_SYM_CASE = (
    "CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c' "
    "WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' "
    "WHEN 'error' THEN 'e' ELSE '_' END"
)


@query(
    "event_pattern_counts", extended=True,
    oracle=f"""
    WITH hist AS (
        SELECT user_id,
               array_to_string(
                   (list({_SYM_CASE} ORDER BY ts, event_id))[1:1000],
                   '') AS symbols
        FROM events GROUP BY user_id
    ), per AS (
        SELECT pattern, rx FROM (VALUES
            ('click_to_purchase', 'vc+p'),
            ('error_streak', 'ee+'),
            ('signup_then_purchase', 's[^p]*p')
        ) AS t(pattern, rx)
    )
    SELECT pattern,
           CAST(SUM(CASE WHEN len(regexp_extract_all(symbols, rx)) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_matched,
           CAST(SUM(len(regexp_extract_all(symbols, rx))) AS BIGINT)
               AS total_matches
    FROM hist CROSS JOIN per
    GROUP BY pattern
    ORDER BY pattern
    """,
)
def event_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence-pattern report over per-user
    event histories: encode each user's (ts, event_id)-ordered
    events as a symbol string, count regex-pattern occurrences
    corpus-wide (operators/sequences.py::symbol_histories +
    pattern_match_counts — one user-keyed shuffle, then one scan
    with all patterns in a single codegen span)."""
    from top_produce_etl_spark.operators.sequences import (
        pattern_match_counts,
        symbol_histories,
    )

    events = load_table(spark, sf_dir, "events")
    hist = symbol_histories(
        events, "user_id", "ts", "event_type", "event_id",
        symbols=_SYMBOLS, max_steps=1000,
    )
    return pattern_match_counts(hist, _PATTERNS)


def _FINGERPRINT_ORACLE() -> str:
    from top_produce_etl_spark.operators.quality import (
        table_fingerprint_oracle_sql,
    )

    return table_fingerprint_oracle_sql(
        "orders",
        [
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        ],
        types={"o_orderdate": "timestamp"},
        decimal_cols={"o_totalprice": "DECIMAL(18,2)"},
    )


@query("orders_fingerprint", extended=True, oracle=_FINGERPRINT_ORACLE())
def orders_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy content fingerprint of the orders table
    (operators/quality.py::table_fingerprint): order-insensitive
    56-bit-digest modular sum + row count — the 16-byte "is this
    replica identical?" check. The oracle recomputes the identical
    digest in DuckDB, which is the portability claim under test."""
    from top_produce_etl_spark.operators.quality import table_fingerprint

    orders = load_table(spark, sf_dir, "orders")
    return table_fingerprint(
        orders,
        cols=[
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        ],
        decimal_cols={"o_totalprice": "DECIMAL(18,2)"},
    )


_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]
_PROFILE_SPLIT = "1995-07-01"


def _profile_rel(pred: str) -> str:
    return (
        "(SELECT o_orderkey, o_custkey, o_orderstatus, "
        "CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice, "
        "o_orderdate, o_orderpriority FROM orders "
        f"WHERE o_orderdate {pred} TIMESTAMP '{_PROFILE_SPLIT} 00:00:00')"
    )


def _PROFILE_DRIFT_ORACLE() -> str:
    from top_produce_etl_spark.operators.profiling import (
        profile_drift_oracle_sql,
    )

    return profile_drift_oracle_sql(
        _profile_rel("<"),
        _profile_rel(">="),
        _PROFILE_COLS,
        types={"o_orderdate": "timestamp"},
    )


@query(
    "orders_profile_drift", extended=True, oracle=_PROFILE_DRIFT_ORACLE()
)
def orders_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract drift between two order snapshots (first vs
    second half of the timeline): per-column null-rate delta, NDV,
    and min/max range shifts (operators/profiling.py::profile_drift
    — one aggregation pass per side, |cols|-row join). The exact-NDV
    oracle pins the report; approx_count_distinct is the documented
    100 TB path with the same shape."""
    from top_produce_etl_spark.operators.profiling import profile_drift

    # the two snapshot sides are date-filters of the SAME projection;
    # unpersisted each side's profile tower re-scans the table, and a
    # one-row-group fixture file scans on ONE task — persist the
    # fanned-out projection so both Expand/agg towers read a
    # parallel cache (guide §2.4/§2.5; counts/NDV/min-max are
    # placement-invariant)
    orders = persist_tracked(
        fan_out(load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
            "o_orderdate", "o_orderpriority",
        ))
    )
    cut = F.lit(f"{_PROFILE_SPLIT} 00:00:00").cast("timestamp")
    return profile_drift(
        orders.where(F.col("o_orderdate") < cut),
        orders.where(F.col("o_orderdate") >= cut),
        _PROFILE_COLS,
    )


@query(
    "orders_profile_drift_fast", extended=True,
    # computable-bound oracle (r6 verdict #2): every EXACT column of
    # the drift report hash-checks against the same DuckDB twin as
    # the exact entry; the two approx-NDV columns — the only HLL-
    # divergent outputs — are verified through 3σ in-band flags
    # (approx_count_distinct rsd=0.05 → 15%) vs the exact NDV.
    oracle=f"""
    SELECT "column", n_old, n_new, null_rate_delta_micro,
           min_old, min_new, max_old, max_new,
           TRUE AS ndv_old_in_band, TRUE AS ndv_new_in_band
    FROM ({_PROFILE_DRIFT_ORACLE()}) AS __drift
    """,
)
def orders_profile_drift_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of ``orders_profile_drift``: identical
    single-pass drift report with ``approx_count_distinct`` (HLL —
    no Expand row multiplication, the 100 TB path). Battery shape
    (r6 verdict #2): the exact columns hash-check against the exact
    oracle and the approx NDVs carry 3σ in-band flags (this pays an
    extra exact-NDV pass at battery/bench time — the production
    OPERATOR stays single-pass; the flags are the verification
    harness, not the pipeline)."""
    from top_produce_etl_spark.operators.profiling import profile_drift

    # FOUR profile towers (fast+exact × old+new) share this
    # projection — persist it once, fanned out (see
    # orders_profile_drift)
    orders = persist_tracked(
        fan_out(load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
            "o_orderdate", "o_orderpriority",
        ))
    )
    cut = F.lit(f"{_PROFILE_SPLIT} 00:00:00").cast("timestamp")
    old = orders.where(F.col("o_orderdate") < cut)
    new = orders.where(F.col("o_orderdate") >= cut)
    fast = profile_drift(old, new, _PROFILE_COLS, exact_ndv=False)
    exact_ndv = profile_drift(old, new, _PROFILE_COLS).select(
        "column",
        F.col("ndv_old").alias("__xo"),
        F.col("ndv_new").alias("__xn"),
    )
    band = 0.15  # 3σ at rsd = 0.05
    return fast.join(exact_ndv, "column").select(
        "column", "n_old", "n_new", "null_rate_delta_micro",
        "min_old", "min_new", "max_old", "max_new",
        (F.abs(F.col("ndv_old") - F.col("__xo"))
         <= band * F.col("__xo")).alias("ndv_old_in_band"),
        (F.abs(F.col("ndv_new") - F.col("__xn"))
         <= band * F.col("__xn")).alias("ndv_new_in_band"),
    ).orderBy("column")


# ---------------------------------------------------------------------------
# Wave 4 (round 5): Pareto frontier


_SKYLINE_REL = """
    SELECT l_suppkey AS suppkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (CAST(1 AS DECIMAL(18,4))
                       - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue,
           round(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS return_ratio,
           round(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_discount
    FROM lineitem GROUP BY 1"""


def _skyline_oracle() -> str:
    from top_produce_etl_spark.operators.pareto import skyline_oracle_sql

    return skyline_oracle_sql(
        _SKYLINE_REL,
        minimize=["return_ratio", "avg_discount"],
        maximize=["revenue"],
    )


@query("supplier_efficiency_skyline", extended=True, oracle=_skyline_oracle())
def supplier_efficiency_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of suppliers on (revenue ↑, return_ratio ↓,
    avg_discount ↓) — the multi-objective skyline operator
    (operators/pareto.py). Phase 1 prunes dominated suppliers
    batch-locally (mapInPandas, numpy mask); phase 2 refines the
    tiny candidate union with a broadcast dominance anti-join — the
    corpus-scale relation never meets a quadratic operator. All
    three objectives are decimal-exact or 6-dp-rounded so the NOT
    EXISTS DuckDB oracle matches bit-for-bit."""
    from top_produce_etl_spark.functions.numeric import revenue_expr
    from top_produce_etl_spark.operators.pareto import skyline

    lineitem = load_table(spark, sf_dir, "lineitem")
    rel = (
        lineitem.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.sum(revenue_expr()).cast("double").alias("revenue"),
            F.round(
                F.sum(
                    F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("return_ratio"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(18,6)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_discount"),
        )
    )
    return skyline(
        rel, minimize=["return_ratio", "avg_discount"], maximize=["revenue"]
    )


# ---------------------------------------------------------------------------
# Wave 4 (round 5): k-core and multi-source BFS over the
# support-thresholded part co-purchase graph (same graph family the
# basket pair rules and triangle count mine — pairs of parts
# co-ordered in >= 2 distinct orders, which bounds degree by
# construction).


_COPURCHASE_EDGES = """
    SELECT u, v FROM (
        SELECT l1.l_partkey AS u, l2.l_partkey AS v,
               COUNT(DISTINCT l1.l_orderkey) AS n
        FROM lineitem l1
        JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey
         AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
    ) WHERE n >= 2"""


def _copurchase_edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_partkey").alias("u")
    )
    l2 = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("v")
    )
    return (
        li.join(
            l2,
            (li.l_orderkey == l2.o2) & (li.u < l2.v),
        )
        .groupBy("u", "v")
        .agg(F.count_distinct("l_orderkey").alias("n"))
        .where(F.col("n") >= 2)
        .select("u", "v")
    )


def _kcore_oracle() -> str:
    from top_produce_etl_spark.operators.graph import k_core_oracle_sql

    # converged at round 12 on this fixture (verified; monotone peel
    # → extra rounds are no-ops, so 16 replays the Spark fixpoint)
    return k_core_oracle_sql(_COPURCHASE_EDGES, k=3, rounds=16)


@query("copurchase_kcore", extended=True, oracle=_kcore_oracle())
def copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph (operators/graph.py::k_core):
    iterative degree peel to the maximal subgraph where every part
    co-sells with >= 3 others — the dense-market filter upstream of
    community detection. Convergence via the monotone edge-count
    fixpoint; oracle unrolls a fixed round count past convergence."""
    from top_produce_etl_spark.operators.graph import k_core

    return k_core(_copurchase_edges_df(spark, sf_dir), "u", "v", k=3)


def _bfs_oracle() -> str:
    from top_produce_etl_spark.operators.graph import bfs_oracle_sql

    sym = (
        f"SELECT u, v FROM ({_COPURCHASE_EDGES}) "
        f"UNION ALL SELECT v AS u, u AS v FROM ({_COPURCHASE_EDGES})"
    )
    src = "SELECT p_partkey AS node FROM part WHERE p_brand = 'Brand#11'"
    return bfs_oracle_sql(sym, src, max_hops=3)


@query("copurchase_bfs_hops", extended=True, oracle=_bfs_oracle())
def copurchase_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded BFS (operators/graph.py::bfs_distances):
    minimum co-purchase hop distance from any Brand#11 part, up to 3
    hops — the 'market adjacency' reach query. Level-synchronous
    frontier expansion, one join + one distinct per hop, frontier
    checkpointed so the plan stays linear in hops."""
    from top_produce_etl_spark.operators.graph import bfs_distances

    # checkpoint the canonical edge build before symmetrizing: the
    # union references it twice, and the within-order self-join is
    # the dominant cost of this query
    edges = _copurchase_edges_df(spark, sf_dir).localCheckpoint()
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    part = load_table(spark, sf_dir, "part")
    sources = part.where(F.col("p_brand") == "Brand#11").select(
        F.col("p_partkey").alias("node")
    )
    return bfs_distances(sym, "u", "v", sources, max_hops=3)


def _lcc_oracle() -> str:
    from top_produce_etl_spark.operators.graph import (
        local_clustering_oracle_sql,
    )

    return local_clustering_oracle_sql(_COPURCHASE_EDGES)


@query("copurchase_local_clustering", extended=True, oracle=_lcc_oracle())
def copurchase_local_clustering(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-part local clustering coefficient on the co-purchase
    graph (operators/graph.py::local_clustering): 2·tri(v) /
    (deg·(deg−1)) in exact 1e6 fixed point — which parts sit inside
    tightly cross-selling cliques vs merely popular hubs. Triangle
    enumeration reuses the ordered two-path census shape; the
    explode is over the |triangles| relation only."""
    from top_produce_etl_spark.operators.graph import local_clustering

    return local_clustering(_copurchase_edges_df(spark, sf_dir), "u", "v")


_RBFS_EDGES_DUCK = """
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


@query(
    "recursive_bfs_copurchase", extended=True,
    oracle=f"""
    WITH RECURSIVE edges AS ({_RBFS_EDGES_DUCK}),
    bi AS (
        SELECT src, dst FROM edges
        UNION ALL SELECT dst, src FROM edges
    ),
    seed AS (SELECT MIN(src) AS s FROM bi),
    reach(node, hop) AS (
        SELECT s, 0 FROM seed
        UNION ALL
        SELECT bi.dst, reach.hop + 1
        FROM reach JOIN bi ON bi.src = reach.node
        WHERE reach.hop < 3
    )
    SELECT node, CAST(MIN(hop) AS INT) AS hops
    FROM reach GROUP BY node
    """,
)
def recursive_bfs_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative-recursion BFS (Spark 4 WITH RECURSIVE — the
    SQL-native twin of operators/graph.py::bfs_distances' iterative
    DataFrame loop): min-hop distances ≤ 3 from the lowest-keyed
    part over the co-purchase graph, written as ONE recursive SQL
    query that DuckDB runs near-verbatim as the oracle. The engine
    plans each recursion step as a self-union-join; the hop bound
    caps the expansion exactly like the driver loop's fixed
    iteration count. UNION ALL recursion enumerates PATHS, not
    nodes, so the graph is support-thresholded (pairs co-bought in
    ≥2 orders) to keep the expansion inside Spark's recursion row
    limit — the same reason the iterative operator
    (graph.py::bfs_distances) min-aggregates its frontier per hop;
    for dense graphs that loop IS the scale path and this query is
    the SQL-surface coverage."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    lineitem.createOrReplaceTempView("rbfs_lineitem")
    return spark.sql("""
        WITH RECURSIVE edges AS (
            SELECT a.l_partkey AS src, b.l_partkey AS dst
            FROM rbfs_lineitem a JOIN rbfs_lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ),
        bi AS (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        seed AS (SELECT MIN(src) AS s FROM bi),
        reach(node, hop) AS (
            SELECT s, 0 FROM seed
            UNION ALL
            SELECT bi.dst, reach.hop + 1
            FROM reach JOIN bi ON bi.src = reach.node
            WHERE reach.hop < 3
        )
        SELECT node, CAST(MIN(hop) AS INT) AS hops
        FROM reach GROUP BY node
    """)


@query(
    "pipe_syntax_revenue_by_status", extended=True,
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01'
    GROUP BY o_orderstatus
    """,
)
def pipe_syntax_revenue_by_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>`` operators — the linear
    query-shape surface): scan |> filter |> aggregate, compiled by
    Catalyst to the identical plan as the classic SELECT (filters
    still push down, aggregates still partial) — the oracle is the
    classic spelling, so parity IS the check. Money through exact
    DECIMAL (functions/numeric.py discipline)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "pipe_orders"
    )
    return spark.sql("""
        FROM pipe_orders
        |> WHERE o_orderdate >= DATE '1995-01-01'
        |> AGGREGATE
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS revenue,
             COUNT(*) AS n_orders
           GROUP BY o_orderstatus
        |> SELECT o_orderstatus, revenue, n_orders
    """)


_CUSUM_DAILY_REL = """(
    SELECT o_orderpriority,
           CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS rev
    FROM orders GROUP BY 1, 2
)"""


@query(
    "cusum_daily_revenue", extended=True,
    oracle=__import__(
        "top_produce_etl_spark.operators.anomaly",
        fromlist=["cusum_oracle_sql"],
    ).cusum_oracle_sql(
        _CUSUM_DAILY_REL, ["o_orderpriority"], "day", "rev",
        order_name="day",
    ),
)
def cusum_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential changepoint monitor (r7 —
    operators/anomaly.py::cusum_changepoints): two-sided tabular
    CUSUM over each priority's daily-revenue series. The recursive
    clamp runs as its prefix-sum closed form (cumsum − running min)
    — one partition-ordered exchange, two window passes, no UDF —
    and the whole trace (S⁺, S⁻, alarms in integer micro units) is
    fully oracle-checked."""
    from top_produce_etl_spark.operators.anomaly import (
        cusum_changepoints,
    )

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    return cusum_changepoints(
        daily, ["o_orderpriority"], "day", "rev"
    )


@query(
    "mad_outliers_event_value", extended=True,
    oracle="""
    WITH base AS (
        SELECT event_id, event_type,
               CAST(value AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL
    ),
    r1 AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY x, event_id
               ) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM base
    ),
    med AS (
        SELECT event_type, MAX(x) AS med
        FROM r1 WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
        GROUP BY 1
    ),
    dev AS (
        SELECT b.*, m.med, abs(b.x - m.med) AS d
        FROM base b JOIN med m USING (event_type)
    ),
    r2 AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY d, event_id
               ) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    ),
    mad AS (
        SELECT event_type, MAX(d) AS mad
        FROM r2 WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
        GROUP BY 1
    )
    SELECT dv.event_id, dv.event_type,
           round(dv.med, 6) AS med6,
           round(md.mad, 6) AS mad6,
           round(dv.d / (1.4826 * md.mad), 6) AS robust_z6
    FROM dev dv JOIN mad md USING (event_type)
    WHERE md.mad > 0 AND dv.d / (1.4826 * md.mad) > 3.5
    """,
)
def mad_outliers_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD robust outliers per event type over the heavy-tailed
    event value (r7 — operators/anomaly.py::mad_outlier_rows):
    |x − median| > 3.5·1.4826·MAD, the robust-z screen whose
    thresholds the outliers themselves cannot inflate (the failure
    mode of the moment-based z beside it, pinned in tests). Both
    medians are deterministic ceil(n/2) order statistics — fully
    oracle-checked."""
    from top_produce_etl_spark.operators.anomaly import mad_outlier_rows

    events = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    return mad_outlier_rows(
        events, ["event_type"], "value",
        keep_cols=["event_id", "event_type"],
    )
