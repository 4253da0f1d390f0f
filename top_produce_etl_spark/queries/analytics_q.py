"""Analytics + scale-surface queries (round 4, extended tier):
runtime bloom-filter join pruning, cohort retention, exact heavy
hitters with sketch-bounded shuffles, per-group outlier detection,
and int8-quantized ANN. Every query here is oracle-checked — the
approximation in the sketch/quantized paths is confined to stages
whose output is then made exact (verify pass) or is itself
deterministic (quantization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top_produce_etl_spark.functions.numeric import revenue_expr, revenue_sum
from top_produce_etl_spark.io.sources import load_table
from top_produce_etl_spark.operators.topn import top_n_window
from top_produce_etl_spark.queries import query
from top_produce_etl_spark.queries.relational import REV_DEC


@query(
    "runtime_pruned_revenue", extended=True,
    oracle=f"""
    SELECT l_returnflag,
           CAST(SUM({REV_DEC}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY l_returnflag
    """,
)
def runtime_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective semi-join then aggregate — the shape Catalyst's
    runtime bloom filter accelerates at scale (a ``might_contain``
    predicate lands on the lineitem scan so non-urgent rows die
    before the exchange; operators/runtime_filter.py, injection
    plan-tested in tests/test_plan_shape.py). Results are exact at
    any conf: the bloom filter is plan-level only."""
    from top_produce_etl_spark.operators.runtime_filter import pruned_semi_join

    lineitem = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        pruned_semi_join(lineitem, urgent, "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(
            revenue_sum("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "cohort_retention_weekly", extended=True,
    oracle="""
    WITH first AS (
        -- DuckDB's date_trunc('week') yields DATE; Spark's yields
        -- TIMESTAMP — cast so the hashed values agree.
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP)
                   AS cohort_week
        FROM events GROUP BY user_id
    ), active AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ), matrix AS (
        SELECT cohort_week,
               CAST(date_diff('day', CAST(cohort_week AS DATE),
                              CAST(wk AS DATE)) / 7 AS INT) AS week_offset,
               COUNT(DISTINCT user_id) AS n_active
        FROM active JOIN first USING (user_id)
        GROUP BY 1, 2
    )
    SELECT cohort_week, week_offset, n_active,
           CAST(n_active AS DOUBLE) /
           CAST(MAX(CASE WHEN week_offset = 0 THEN n_active END)
                    OVER (PARTITION BY cohort_week) AS DOUBLE) AS retention
    FROM matrix
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over events
    (operators/eventtime.py::cohort_retention): users bucketed by
    first-activity week, tracked across week offsets. Two key
    shuffles total; the offset-0 denominator comes from a window
    over the |cohorts × weeks| matrix, never a raw re-scan."""
    from top_produce_etl_spark.operators.eventtime import cohort_retention

    events = load_table(spark, sf_dir, "events")
    return cohort_retention(events, "user_id", "ts")


# Threshold fraction for the heavy-hitter query: just above the mean
# bigram frequency on the near-uniform fixture (≈1/920), so the
# result is the genuinely-frequent tail at every scale factor.
_HH_PHI = 0.00115


@query(
    "frequent_bigrams", extended=True,
    oracle=f"""
    WITH toks AS (
        SELECT string_split(text, ' ') AS t FROM documents
    ), grams AS (
        SELECT array_to_string(t[i:i+1], ' ') AS item
        FROM toks, unnest(range(1, len(t))) r(i)
    ), tot AS (SELECT COUNT(*) AS n FROM grams)
    SELECT item, COUNT(*) AS cnt
    FROM grams, tot
    GROUP BY item, tot.n
    HAVING COUNT(*) >= CAST(ceil(n * {_HH_PHI}) AS BIGINT)
    """,
)
def frequent_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (count ≥ φ·N) over the corpus bigram
    stream via Misra-Gries summaries + exact verification
    (operators/heavy.py). The verify pass makes the output exact —
    hence this oracle — while the sketch bounds the count shuffle to
    candidate tokens at scale. Bigrams (not unigrams) because the
    fixture vocabulary is only 31 words; the bigram space is ~930."""
    from top_produce_etl_spark.operators.heavy import frequent_items_exact

    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select(F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat_ws(' ', t[i-1], t[i]))"
                )
            ).alias("item")
        )
    )
    return frequent_items_exact(grams, "item", phi=_HH_PHI, capacity=1024)


@query(
    "segment_price_outliers", extended=True,
    oracle="""
    WITH j AS (
        SELECT o.o_orderkey, c.c_mktsegment, o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), stats AS (
        SELECT c_mktsegment,
               COUNT(*) AS n,
               -- DECIMAL(12,2): wide enough for the price domain,
               -- narrow enough that its square stays inside
               -- DuckDB's int128 decimal multiply (18,4 overflows)
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS s,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) *
                        CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sq,
               quantile_cont(o_totalprice, 0.25) AS q1,
               quantile_cont(o_totalprice, 0.75) AS q3
        FROM j GROUP BY c_mktsegment
    ), fence AS (
        SELECT c_mktsegment,
               -- k=0.25 (not the classic 1.5): o_totalprice is
               -- near-uniform, so the 1.5 fence (≈ q3 + 0.75·range)
               -- provably exceeds the max and flags nothing at any
               -- SF; 0.25 exercises the fence on the top tail
               q3 + 0.25 * (q3 - q1) AS fence_hi,
               s / n AS mean,
               sqrt((sq - s * s / n) / (n - 1)) AS sd
        FROM stats
    )
    SELECT j.o_orderkey, j.c_mktsegment, j.o_totalprice,
           round((j.o_totalprice - f.mean) / f.sd, 6) AS zscore6,
           round(f.fence_hi, 6) AS fence_hi6
    FROM j JOIN fence f USING (c_mktsegment)
    WHERE j.o_totalprice > f.fence_hi
    """,
)
def segment_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Tukey-fence outliers with z-scores
    (operators/anomaly.py): one stats pass (decimal-exact moments +
    exact percentiles), |segments|-sized stats broadcast back — the
    orders side never shuffles for the annotation."""
    from top_produce_etl_spark.operators.anomaly import iqr_outlier_rows

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(
        customer.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == F.col("c_custkey"),
    )
    return iqr_outlier_rows(
        j,
        group_cols=["c_mktsegment"],
        value_col="o_totalprice",
        keep_cols=["o_orderkey", "c_mktsegment", "o_totalprice"],
        fence_k=0.25,  # see oracle comment: uniform data never
        # crosses the classic 1.5 fence, so that setting would
        # "pass" vacuously with 0 rows at every SF
    )


QUANT_TOPK_SQL = """
    WITH sc AS (
        SELECT vec_id,
               127.0 / greatest(
                   list_max(list_transform(embedding,
                                           x -> abs(CAST(x AS DOUBLE)))),
                   1e-12) AS s
        FROM embeddings
    ), ex AS (
        SELECT e.vec_id, r.i,
               CAST(round(CAST(e.embedding[r.i] AS DOUBLE) * sc.s)
                    AS BIGINT) AS qv
        FROM embeddings e JOIN sc USING (vec_id),
             unnest(range(1, 65)) r(i)
    ), norms AS (
        SELECT vec_id, sqrt(CAST(SUM(qv * qv) AS DOUBLE)) AS nrm
        FROM ex GROUP BY vec_id
    ), dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               SUM(q.qv * c.qv) AS dot
        FROM ex q JOIN ex c ON q.i = c.i
        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, qcosine, "rank"
    FROM (
        SELECT d.query_id, d.neighbor_id,
               CAST(d.dot AS DOUBLE) / (nq.nrm * nc.nrm) AS qcosine,
               ROW_NUMBER() OVER (
                   PARTITION BY d.query_id
                   ORDER BY CAST(d.dot AS DOUBLE) / (nq.nrm * nc.nrm) DESC,
                            d.neighbor_id ASC
               ) AS "rank"
        FROM dots d
        JOIN norms nq ON d.query_id = nq.vec_id
        JOIN norms nc ON d.neighbor_id = nc.vec_id
    )
    WHERE "rank" <= 3
    """


@query("cosine_topk_quantized", extended=True, oracle=QUANT_TOPK_SQL)
def cosine_topk_quantized_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 cosine on int8-quantized embeddings
    (operators/similarity.py::cosine_topk_quantized) for the same
    probe set as the float baseline. 4× smaller vectors at scale;
    quantization is deterministic (unlike float fast paths) so the
    WHOLE pipeline is oracle-checked — recall vs the exact float
    result is separately pinned in tests."""
    from top_produce_etl_spark.operators.similarity import (
        cosine_topk_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_quantized(emb, queries, "vec_id", "embedding", k=3)


def _pagerank_oracle(
    iterations: int = 3,
    damping: float = 0.85,
    redistribute: bool = False,
    seeds_sql: str | None = None,
) -> str:
    """Unrolled chained-CTE PageRank oracle (same technique as the
    kmeans_assignments oracle: each Spark iteration becomes one CTE,
    valid because both engines round ranks to 6 dp per round and
    accumulate in exact decimal). ``redistribute`` adds the per-round
    dangling-mass CTE mirroring operators/graph.py's variant;
    ``seeds_sql`` (a 1-column ``node`` SELECT) switches to the
    personalized restart distribution p0 = 1/|S| on seeds."""
    head = f"""
    WITH edges0 AS (
        SELECT n1.n_name AS src, n2.n_name AS dst,
               CAST(SUM(CAST({REV_DEC} AS DECIMAL(28,8))) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey  = o.o_orderkey
        JOIN customer c ON o.o_custkey   = c.c_custkey
        JOIN supplier s ON l.l_suppkey   = s.s_suppkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        GROUP BY 1, 2
    ), outw AS (
        SELECT src, CAST(SUM(CAST(w AS DECIMAL(28,8))) AS DOUBLE) AS ow
        FROM edges0 GROUP BY src
    ), e AS (
        SELECT e0.src, e0.dst, e0.w / o.ow AS p
        FROM edges0 e0 JOIN outw o USING (src)
    ), nodes AS (
        SELECT src AS node FROM edges0
        UNION SELECT dst FROM edges0
    ), nn AS (SELECT COUNT(*) AS n FROM nodes),
    dang AS (
        SELECT node FROM nodes
        WHERE node NOT IN (SELECT src FROM edges0)
    ),
    r0 AS (SELECT node, round(1.0 / nn.n, 6) AS "rank" FROM nodes, nn)"""
    if seeds_sql is not None:
        # personalized restart: p0 relation replaces the uniform 1/N
        head += f""",
    seedset AS (SELECT DISTINCT node FROM ({seeds_sql})),
    ns AS (SELECT COUNT(*) AS n FROM seedset),
    p0 AS (
        SELECT nodes.node,
               CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.n
                    ELSE 0.0 END AS p0
        FROM nodes LEFT JOIN seedset s USING (node), ns
    ),
    pr0 AS (SELECT node, round(p0, 6) AS "rank" FROM p0)"""
    rounds = []
    r_prev = "pr0" if seeds_sql is not None else "r0"
    for i in range(1, iterations + 1):
        r_name = f"r{i}"
        if redistribute:
            rounds.append(f""",
    d{i} AS (
        SELECT CAST(COALESCE(SUM(CAST(r."rank" AS DECIMAL(28,14))),
                             0) AS DOUBLE) AS dm
        FROM {r_prev} r JOIN dang ON r.node = dang.node
    )""")
        extra = f", d{i}" if redistribute else ""
        if seeds_sql is None:
            inflow = "COALESCE(c.c, 0.0)"
            if redistribute:
                inflow = f"(COALESCE(c.c, 0.0) + d{i}.dm / nn.n)"
            teleport = f"(1.0 - {damping}) / nn.n"
            base, nrel = "nodes", "nn"
        else:
            inflow = "COALESCE(c.c, 0.0)"
            if redistribute:
                inflow = f"(COALESCE(c.c, 0.0) + d{i}.dm * p0.p0)"
            teleport = f"(1.0 - {damping}) * p0.p0"
            base, nrel = "p0", "nn"
        rounds.append(f""",
    {r_name} AS (
        SELECT {base}.node,
               round({teleport}
                     + {damping} * {inflow}, 6) AS "rank"
        FROM {base}
        LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(SUM(CAST({r_prev}."rank" * e.p AS DECIMAL(28,14)))
                        AS DOUBLE) AS c
            FROM e JOIN {r_prev} ON e.src = {r_prev}.node
            GROUP BY e.dst
        ) c USING (node), {nrel}{extra}
    )""")
        r_prev = r_name
    return (
        head + "".join(rounds)
        + f'\n    SELECT node, "rank" FROM r{iterations}'
    )


@query("trade_pagerank", extended=True, oracle=_pagerank_oracle())
def trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade-flow graph (edges:
    supplier nation → customer nation, revenue-weighted), 3 rounds
    (operators/graph.py). One dst-keyed shuffle per round, rank
    vector broadcast onto the edge relation, zero driver state —
    the iterative-algorithm pattern next to k-means and connected
    components, oracle-checked via round-by-round CTE unrolling."""
    from top_produce_etl_spark.operators.graph import pagerank

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst_nation")
    )
    from top_produce_etl_spark.functions.numeric import revenue_expr

    edges = (
        lineitem
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), supplier.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), customer.c_nationkey == F.col("c_nk"))
        .select("src_nation", "dst_nation", revenue_expr().alias("w"))
    )
    return pagerank(edges, "src_nation", "dst_nation", "w", iterations=3)


@query(
    "trade_pagerank_dangling", extended=True,
    oracle=_pagerank_oracle(redistribute=True),
)
def trade_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mass-conserving PageRank twin (round-4 verdict item 8): the
    same trade graph with dangling-node rank redistributed uniformly
    each round — one extra 1-row global aggregate per round, oracle
    via the same unrolled-CTE scheme with a per-round dangling-mass
    CTE. The nation graph is strongly connected at most SFs (D≈0);
    the known-graph unit test exercises the leak-vs-conserve split
    on a graph WITH dangling nodes."""
    from top_produce_etl_spark.operators.graph import pagerank

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst_nation")
    )
    from top_produce_etl_spark.functions.numeric import revenue_expr

    edges = (
        lineitem
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), supplier.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), customer.c_nationkey == F.col("c_nk"))
        .select("src_nation", "dst_nation", revenue_expr().alias("w"))
    )
    return pagerank(
        edges, "src_nation", "dst_nation", "w", iterations=3,
        redistribute_dangling=True,
    )


_PPR_SEEDS_SQL = """
    SELECT n.n_name AS node
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'"""


@query(
    "trade_ppr_asia", extended=True,
    oracle=_pagerank_oracle(seeds_sql=_PPR_SEEDS_SQL),
)
def trade_ppr_asia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank on the trade graph, restart
    distribution concentrated on the ASIA nations (p0 = 1/5 on
    seeds, 0 elsewhere) — proximity-to-ASIA trade centrality, the
    recommendation-style PPR form (operators/graph.py::pagerank
    with ``seeds``). Same one-shuffle-per-round plan as classic
    PageRank plus a broadcast seed marker; oracle via the unrolled
    CTE scheme with a p0 relation replacing the uniform 1/N."""
    from top_produce_etl_spark.operators.graph import pagerank

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst_nation")
    )
    from top_produce_etl_spark.functions.numeric import revenue_expr

    edges = (
        lineitem
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), supplier.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), customer.c_nationkey == F.col("c_nk"))
        .select("src_nation", "dst_nation", revenue_expr().alias("w"))
    )
    seeds = (
        nation.join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
        )
        .where(F.col("r_name") == "ASIA")
        .select(F.col("n_name").alias("node"))
    )
    return pagerank(
        edges, "src_nation", "dst_nation", "w", iterations=3, seeds=seeds
    )


@query(
    "histogram_quantile_rollup", extended=True,
    oracle="""
    WITH binned AS (
        -- the daily->monthly merge is exact count addition, so
        -- grouping straight to month is the identical result (the
        -- Spark side really does daily then merge, proving the
        -- stored-rollup path; associativity makes this oracle fair)
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS grain,
               LEAST(GREATEST(CAST(floor((o_totalprice - 0.0) / 4000.0)
                                   AS INT), 0), 127) AS bin,
               COUNT(*) AS cnt
        FROM orders GROUP BY 1, 2
    ), cum AS (
        SELECT grain, bin, cnt,
               SUM(cnt) OVER (PARTITION BY grain ORDER BY bin) AS cum,
               SUM(cnt) OVER (PARTITION BY grain) AS n
        FROM binned
    ), h50 AS (
        SELECT grain, n,
               0.0 + CAST(bin AS DOUBLE) * 4000.0
                   + 4000.0 * (0.5 * CAST(n AS DOUBLE)
                               - CAST(cum - cnt AS DOUBLE))
                     / CAST(cnt AS DOUBLE) AS est_p50
        FROM cum
        WHERE CAST(cum AS DOUBLE) >= 0.5 * CAST(n AS DOUBLE)
          AND CAST(cum - cnt AS DOUBLE) < 0.5 * CAST(n AS DOUBLE)
    ), h90 AS (
        SELECT grain,
               0.0 + CAST(bin AS DOUBLE) * 4000.0
                   + 4000.0 * (0.9 * CAST(n AS DOUBLE)
                               - CAST(cum - cnt AS DOUBLE))
                     / CAST(cnt AS DOUBLE) AS est_p90
        FROM cum
        WHERE CAST(cum AS DOUBLE) >= 0.9 * CAST(n AS DOUBLE)
          AND CAST(cum - cnt AS DOUBLE) < 0.9 * CAST(n AS DOUBLE)
    )
    SELECT h50.grain AS month, h50.n, h50.est_p50, h90.est_p90
    FROM h50 JOIN h90 USING (grain)
    """,
)
def histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-quantile rollup (operators/sketches.py): DAILY
    fixed-bin histograms of o_totalprice → MONTHLY merge (count
    addition — the lossless analogue of HLL union) → interpolated
    p50/p90 per month. The deterministic stand-in for a t-digest
    rollup: any coarser grain answers from |grains × 128| stored
    rows, never re-scanning raw data, and unlike a real t-digest
    every step is oracle-checkable. In-bin estimate error ≤ one bin
    width (4000); pinned at 2× width against exact percentiles on
    the dense lifetime grain in tests."""
    from top_produce_etl_spark.operators.sketches import (
        binned_histogram,
        histogram_quantiles,
        merge_histograms,
    )

    orders = load_table(spark, sf_dir, "orders")
    daily = binned_histogram(
        orders,
        F.date_trunc("day", F.col("o_orderdate")),
        "o_totalprice",
        lo=0.0, hi=512000.0, n_bins=128,
    )
    monthly = merge_histograms(
        daily, F.date_trunc("month", F.col("grain"))
    )
    out = histogram_quantiles(
        monthly, [0.5, 0.9], lo=0.0, hi=512000.0, n_bins=128
    )
    return out.select(F.col("grain").alias("month"), "n", "est_p50", "est_p90")


@query(
    "repetition_quality", extended=True,
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), g AS (
        SELECT doc_id, len(t) AS n_tokens,
               CASE WHEN len(t) >= 3
                    THEN [array_to_string(
                              t[CAST(i AS INT):CAST(i AS INT) + 2], ' ')
                          FOR i IN range(1, len(t) - 1)]
                    ELSE [] END AS grams
        FROM toks
    ), tok_counts AS (
        SELECT doc_id, MAX(c) AS top_cnt FROM (
            SELECT doc_id, COUNT(*) AS c
            FROM toks, unnest(t) AS u(tok)
            GROUP BY doc_id, tok
        ) GROUP BY doc_id
    )
    SELECT g.doc_id, g.n_tokens,
           CASE WHEN len(grams) > 0
                THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                     / CAST(len(grams) AS DOUBLE)
                ELSE 0.0 END AS dup_3gram_frac,
           CASE WHEN g.n_tokens > 0
                THEN CAST(tc.top_cnt AS DOUBLE) / CAST(g.n_tokens AS DOUBLE)
                ELSE 0.0 END AS top_token_frac
    FROM g JOIN tok_counts tc USING (doc_id)
    """,
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters as per-document higher-order
    array expressions (operators/textquality.py): duplicate-trigram
    fraction + top-token share with ZERO shuffle and zero Python —
    the filter runs at scan speed at any corpus size. The oracle
    recomputes both signals relationally (unnest + group) — same
    values, different shape, which is the point: the narrow
    formulation is the 100 TB one."""
    from top_produce_etl_spark.operators.textquality import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text", ngram=3)


@query(
    "incremental_daily_revenue", extended=True,
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def incremental_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance
    (operators/merge.py::merge_agg_state): yesterday's stored state
    (events before Jan 20) merged with a delta built from ONLY the
    new rows — and the oracle is the FULL re-aggregation, proving
    state ⊕ delta ≡ recompute. Decimal partials keep the merged sums
    bit-exact; the merge job's cost is |state|+|delta|, independent
    of history depth."""
    from top_produce_etl_spark.operators.merge import merge_agg_state

    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-20").cast("timestamp")

    def daily_partial(df):
        return df.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("__sum_dec"),
        )

    state = daily_partial(events.filter(F.col("ts") < cutoff))
    delta = daily_partial(events.filter(F.col("ts") >= cutoff))
    merged = merge_agg_state(
        state, delta, keys=["day", "event_type"], sum_cols=["__sum_dec"]
    )
    return merged.select(
        "day", "event_type", "cnt",
        F.col("__sum_dec").cast("double").alias("sum_value"),
    )


from top_produce_etl_spark.operators.stats import (  # noqa: E402
    pairwise_stats,
    pairwise_stats_oracle_sql,
)

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


@query(
    "pairwise_corr_lineitem", extended=True,
    oracle=pairwise_stats_oracle_sql(_CORR_COLS),
)
def pairwise_corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + OLS slope for all lineitem measure
    pairs from exact decimal co-moments (operators/stats.py) — one
    aggregate pass, deterministic at any parallelism, unlike
    streaming-co-moment corr()."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return pairwise_stats(lineitem, _CORR_COLS)


@query(
    "chi2_lang_source", extended=True,
    oracle="""
    WITH counts AS (
        SELECT lang, source, COUNT(*) AS o
        FROM documents GROUP BY 1, 2
    ), cells AS (
        SELECT lang, source, o,
               SUM(o) OVER (PARTITION BY lang)   AS ra,
               SUM(o) OVER (PARTITION BY source) AS cb,
               SUM(o) OVER ()                    AS n
        FROM counts
    ), contrib AS (
        SELECT n, lang, source,
               CAST(round(
                   ((CAST(o AS DOUBLE)
                     - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
                       / CAST(n AS DOUBLE))
                    * (CAST(o AS DOUBLE)
                       - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
                         / CAST(n AS DOUBLE))
                    / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
                       / CAST(n AS DOUBLE)))
                   * 1000000) AS BIGINT) AS c
        FROM cells
    )
    SELECT MAX(n) AS n,
           CAST((COUNT(DISTINCT lang) - 1)
                * (COUNT(DISTINCT source) - 1) AS INT) AS dof,
           SUM(c) AS chi2_micro
    FROM contrib
    """,
)
def chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence of lang × source — corpus
    composition drift gate (operators/stats.py::chi_squared); cell
    contributions fixed-pointed before the associative integer
    sum."""
    from top_produce_etl_spark.operators.stats import chi_squared

    docs = load_table(spark, sf_dir, "documents")
    return chi_squared(docs, "lang", "source")


@query(
    "seasonal_volume_zscores", extended=True,
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               COUNT(*) AS n
        FROM events GROUP BY 1
    ), seasoned AS (
        SELECT day, n, CAST(dayofweek(day) + 1 AS INT) AS season
        FROM daily
    ), stats AS (
        SELECT season, COUNT(*) AS cnt, SUM(n) AS s1, SUM(n * n) AS s2
        FROM seasoned GROUP BY 1
    )
    SELECT day, season, n,
           CAST(round(
               CASE WHEN ((CAST(cnt AS DOUBLE) * CAST(s2 AS DOUBLE))
                          - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)))
                        / (CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE)) > 0
               THEN (CAST(n AS DOUBLE)
                     - CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE))
                    / sqrt(((CAST(cnt AS DOUBLE) * CAST(s2 AS DOUBLE))
                            - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)))
                           / (CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE)))
               END * 1000000) AS BIGINT) AS z_micro
    FROM seasoned JOIN stats USING (season)
    """,
)
def seasonal_volume_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week-aware volume anomalies
    (operators/anomaly.py::seasonal_zscores): each day z-scored
    against its own weekday's baseline, integer moments → fixed
    double tree → 1e6 fixed point. DuckDB dayofweek is 0-based
    Sunday; Spark is 1-based — the oracle shifts by one."""
    from top_produce_etl_spark.operators.anomaly import seasonal_zscores

    events = load_table(spark, sf_dir, "events")
    return seasonal_zscores(events, "ts")


@query(
    "session_top_paths", extended=True,
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sess_id
        FROM marked
    ), sessions AS (
        SELECT user_id, sess_id,
               list(event_type ORDER BY ts, event_id) AS steps
        FROM numbered
        GROUP BY user_id, sess_id
    ), pathed AS (
        SELECT array_to_string(steps[1:12], '>')
               || CASE WHEN len(steps) > 12 THEN '>…' ELSE '' END AS path
        FROM sessions
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM pathed
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
)
def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most common session journeys: events sessionized per
    user with a 30-minute gap (same island semantics as
    session_windows_30m), each session rendered as its ordered
    event-type path, truncated at 12 steps so the group-by key stays
    bounded (operators/sequences.py). Deterministic boundary: the
    (count DESC, path ASC) sort key is unique per path."""
    from top_produce_etl_spark.operators.sequences import (
        session_paths,
        top_paths,
    )

    events = load_table(spark, sf_dir, "events")
    paths = session_paths(
        events, "user_id", "ts", "event_type", "event_id",
        gap="30 minutes", max_steps=12,
    )
    return top_paths(paths, 20)


def _EWMA_ORACLE() -> str:
    from top_produce_etl_spark.operators.stats import (
        trailing_ewma_oracle_sql,
    )

    expr = trailing_ewma_oracle_sql(
        "revenue", "o_orderpriority", "day", alpha=0.3, span=7
    )
    return f"""
    WITH daily AS (
        SELECT o_orderpriority,
               CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders
        GROUP BY 1, 2
    )
    SELECT o_orderpriority, day, revenue, {expr} AS ewma_micro
    FROM daily
    """


@query("ewma_daily_revenue", extended=True, oracle=_EWMA_ORACLE())
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing EWMA of daily order revenue per priority class
    (operators/stats.py::trailing_ewma): exact decimal daily rollup,
    then a fixed-literal weighted window — the smoothing baseline a
    volume-anomaly monitor compares against. One shuffle for the
    rollup, one partitioned window; weights are Python literals so
    neither engine's pow() participates (bit-portable)."""
    from top_produce_etl_spark.functions.numeric import money_sum
    from top_produce_etl_spark.operators.stats import trailing_ewma

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(money_sum("o_totalprice", "revenue"))
    return trailing_ewma(
        daily, ["o_orderpriority"], ["day"], "revenue", alpha=0.3, span=7
    )


def _LPA_ORACLE() -> str:
    from top_produce_etl_spark.operators.graph import (
        label_propagation_oracle_sql,
    )

    return label_propagation_oracle_sql(
        """SELECT 's' || CAST(l_suppkey AS VARCHAR) AS u,
                  'p' || CAST(l_partkey AS VARCHAR) AS v,
                  COUNT(*) AS w
           FROM lineitem GROUP BY 1, 2""",
        iterations=3,
    )


@query("supply_communities_lpa", extended=True, oracle=_LPA_ORACLE())
def supply_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the supplier–part supply
    graph (operators/graph.py::label_propagation, 3 synchronous
    rounds): suppliers and the parts they ship cluster into
    procurement communities. Deterministic argmax (exact-decimal
    scores, min-label tiebreak) → round-by-round CTE-unrolled
    oracle, like trade_pagerank."""
    from top_produce_etl_spark.operators.graph import label_propagation

    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = (
        lineitem.groupBy("l_suppkey", "l_partkey")
        .agg(F.count(F.lit(1)).alias("w"))
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("u"),
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("v"),
            "w",
        )
    )
    return label_propagation(edges, "u", "v", "w", iterations=3)


def _TREND_ORACLE() -> str:
    from top_produce_etl_spark.operators.stats import (
        grouped_trend_oracle_sql,
    )

    return grouped_trend_oracle_sql(
        "o_orderpriority",
        "date_diff('day', DATE '1970-01-01', o_orderdate)",
        "o_totalprice",
        "orders",
    )


@query(
    "order_value_trend_by_priority", extended=True, oracle=_TREND_ORACLE()
)
def order_value_trend_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-priority OLS trend of order value over time
    (operators/stats.py::grouped_trend): slope + correlation of
    o_totalprice against epoch-day, one hash agg of exact decimal
    moments per segment — the drift monitor behind 'is this segment's
    spend trending?'. Deterministic at any parallelism, like
    pairwise_corr_lineitem."""
    from top_produce_etl_spark.operators.stats import grouped_trend

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "epoch_day", F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    )
    return grouped_trend(
        orders, ["o_orderpriority"], "epoch_day", "o_totalprice"
    )


@query(
    "price_quantiles_by_priority", extended=True,
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25), 6)
               AS p25,
           ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.50), 6)
               AS p50,
           ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75), 6)
               AS p75,
           ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.90), 6)
               AS p90
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def price_quantiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantile table (p25/p50/p75/p90 of order value
    per priority): Spark's exact `percentile` aggregate vs DuckDB's
    quantile_cont — identical rank-interpolation definition
    (rank = p·(n−1), linear between neighbors), values pinned at 6 dp
    like stats_moments_lineitem's global median/p90. The grouped
    distribution profile a quality monitor diffs across loads.

    Scale note: exact percentile sorts per group in one pass — right
    for bounded-cardinality segment keys like priority; for
    high-cardinality keys switch to approx_percentile (sketch-based,
    mergeable), traded deliberately here for oracle exactness."""
    orders = load_table(spark, sf_dir, "orders")
    r6 = lambda c: F.round(c, 6)  # noqa: E731
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.expr("percentile(CAST(o_totalprice AS DOUBLE), 0.25)")).alias("p25"),
        r6(F.expr("percentile(CAST(o_totalprice AS DOUBLE), 0.50)")).alias("p50"),
        r6(F.expr("percentile(CAST(o_totalprice AS DOUBLE), 0.75)")).alias("p75"),
        r6(F.expr("percentile(CAST(o_totalprice AS DOUBLE), 0.90)")).alias("p90"),
    )


@query(
    "orderkey_skew_report", extended=True,
    oracle="""
    WITH counts AS (
        SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY 1
    ), totals AS (
        SELECT SUM(n) AS total, COUNT(*) AS nkeys FROM counts
    )
    SELECT l_orderkey, n,
           CAST(round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 1000000.0)
                AS BIGINT) AS share_micro,
           CAST(round(CAST(n AS DOUBLE) * CAST(nkeys AS DOUBLE)
                      / CAST(total AS DOUBLE) * 1000000.0)
                AS BIGINT) AS ratio_to_mean_micro
    FROM (
        SELECT c.l_orderkey, c.n, t.total, t.nkeys,
               row_number() OVER (ORDER BY c.n DESC, c.l_orderkey)
                   AS rn
        FROM counts c, totals t
    )
    WHERE rn <= 10
    """,
)
def orderkey_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnosis over the lineitem join key
    (operators/skew.py::skew_report): the top-10 heaviest l_orderkey
    values with share-of-rows and ratio-to-mean-key-weight — the
    pre-flight report for salting/AQE-skew decisions, companion to
    salted_agg_by_status and the AQE rehearsal harness."""
    from top_produce_etl_spark.operators.skew import skew_report

    lineitem = load_table(spark, sf_dir, "lineitem")
    return skew_report(lineitem, ["l_orderkey"], top_n=10)


def _LOO_ORACLE() -> str:
    from top_produce_etl_spark.operators.stats import (
        loo_target_encode_oracle_sql,
    )

    return loo_target_encode_oracle_sql(
        "o_orderkey, o_orderpriority",
        "o_orderpriority",
        "o_totalprice",
        "orders",
    )


@query("loo_priority_encoding", extended=True, oracle=_LOO_ORACLE())
def loo_priority_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority by order value
    (operators/stats.py::loo_target_encode): each order carries its
    priority class's mean value excluding itself — the leak-free
    categorical feature for tabular models. One |categories|-row
    stats broadcast; the orders side never shuffles."""
    from top_produce_etl_spark.operators.stats import loo_target_encode

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return loo_target_encode(
        orders, "o_orderpriority", "o_totalprice"
    ).select("o_orderkey", "o_orderpriority", "loo_micro")


@query(
    "user_survival_km_weekly", extended=True,
    oracle="""
    WITH per_user AS (
        SELECT user_id, MIN(ts) AS f, MAX(ts) AS l FROM events GROUP BY 1
    ), mx AS (SELECT MAX(ts) AS maxts FROM events),
    base AS (
        SELECT CAST(date_trunc('week', f) AS TIMESTAMP) AS cohort_week,
               date_diff('day', CAST(f AS DATE), CAST(l AS DATE))
                   AS life_days,
               CASE WHEN l < maxts - INTERVAL 7 DAY THEN 1 ELSE 0 END
                   AS churn
        FROM per_user, mx
    ), counts AS (
        SELECT cohort_week, life_days, COUNT(*) AS m, SUM(churn) AS d
        FROM base GROUP BY 1, 2
    ), stepped AS (
        SELECT cohort_week, life_days, d AS d_churned,
               SUM(m) OVER (PARTITION BY cohort_week)
                 - SUM(m) OVER (PARTITION BY cohort_week ORDER BY life_days
                                ROWS UNBOUNDED PRECEDING)
                 + m AS n_risk
        FROM counts
    ), factored AS (
        SELECT cohort_week, life_days, n_risk, d_churned,
               CASE WHEN n_risk > d_churned THEN
                   CAST(round(ln(CAST(n_risk - d_churned AS DOUBLE)
                                 / CAST(n_risk AS DOUBLE)) * 1000000.0)
                        AS BIGINT)
               END AS factor,
               MAX(CASE WHEN n_risk = d_churned THEN 1 ELSE 0 END)
                   OVER (PARTITION BY cohort_week ORDER BY life_days
                         ROWS UNBOUNDED PRECEDING) AS dead
        FROM stepped
    )
    SELECT cohort_week, life_days, n_risk, d_churned,
           CASE WHEN dead = 0 THEN
               SUM(factor) OVER (PARTITION BY cohort_week ORDER BY life_days
                                 ROWS UNBOUNDED PRECEDING)
           END AS log_surv_micro
    FROM factored
    """,
)
def user_survival_km_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-retention curves per signup-week cohort
    (operators/eventtime.py::user_survival_km): censoring-aware
    survival over event lifetimes, shipped as integer micro-nat log
    survival — the at-risk-adjusted churn view beside
    cohort_retention_weekly's raw activity matrix."""
    from top_produce_etl_spark.operators.eventtime import user_survival_km

    events = load_table(spark, sf_dir, "events")
    return user_survival_km(events, "user_id", "ts", censor_days=7)


@query(
    "parts_bought_together", extended=True,
    oracle="""
    WITH bi AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ), items AS (
        SELECT i AS item, COUNT(*) AS n_item FROM bi GROUP BY 1
    ), tot AS (SELECT COUNT(DISTINCT b) AS nb FROM bi),
    pairs AS (
        SELECT l.i AS item_a, r.i AS item_b, COUNT(*) AS n_pairs
        FROM bi l JOIN bi r ON l.b = r.b AND l.i < r.i
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    )
    SELECT p.item_a, p.item_b, p.n_pairs,
           CAST(round(CAST(p.n_pairs AS DOUBLE) / CAST(nb AS DOUBLE)
                      * 1000000.0) AS BIGINT) AS support_micro,
           CAST(round(CAST(p.n_pairs AS DOUBLE) / CAST(a.n_item AS DOUBLE)
                      * 1000000.0) AS BIGINT) AS conf_a_to_b_micro,
           CAST(round(CAST(p.n_pairs AS DOUBLE) / CAST(b.n_item AS DOUBLE)
                      * 1000000.0) AS BIGINT) AS conf_b_to_a_micro,
           CAST(round(CAST(p.n_pairs AS DOUBLE) * CAST(nb AS DOUBLE)
                      / (CAST(a.n_item AS DOUBLE) * CAST(b.n_item AS DOUBLE))
                      * 1000000.0) AS BIGINT) AS lift_micro
    FROM pairs p
    JOIN items a ON p.item_a = a.item
    JOIN items b ON p.item_b = b.item, tot
    """,
)
def parts_bought_together(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order line items
    (operators/basket.py::pair_rules): support / confidence / lift
    for part pairs co-ordered at least twice. The pair explosion is
    within-basket (bounded by basket size², single digits here) —
    never corpus²; metrics are a fixed double tree over exact counts
    at 1e6 fixed point."""
    from top_produce_etl_spark.operators.basket import pair_rules

    lineitem = load_table(spark, sf_dir, "lineitem")
    return pair_rules(lineitem, "l_orderkey", "l_partkey", 2)


def _AB_ORACLE() -> str:
    from top_produce_etl_spark.operators.splits import fold_oracle_sql

    arm = fold_oracle_sql("user_id", 2, "ab-v1")
    return f"""
    WITH units AS (
        SELECT user_id, {arm} AS arm,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS success
        FROM events GROUP BY user_id
    ), m AS (
        SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
               SUM(CASE WHEN arm = 0 THEN success ELSE 0 END) AS x0,
               SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN arm = 1 THEN success ELSE 0 END) AS x1
        FROM units
    )
    SELECT n0, x0, n1, x1,
           CAST(round(CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE) * 1000000.0)
                AS BIGINT) AS rate0_micro,
           CAST(round(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) * 1000000.0)
                AS BIGINT) AS rate1_micro,
           CAST(round((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                      * 1000000.0) AS BIGINT) AS lift_micro,
           CASE WHEN n0 > 0 AND n1 > 0 THEN
               CASE WHEN ((CAST(x0 AS DOUBLE) + CAST(x1 AS DOUBLE))
                          / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)))
                        * (1.0 - (CAST(x0 AS DOUBLE) + CAST(x1 AS DOUBLE))
                                 / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)))
                        * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))
                        > 0
               THEN CAST(round(
                   (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                    - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                   / sqrt(((CAST(x0 AS DOUBLE) + CAST(x1 AS DOUBLE))
                           / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)))
                          * (1.0 - (CAST(x0 AS DOUBLE) + CAST(x1 AS DOUBLE))
                                   / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)))
                          * (1.0 / CAST(n0 AS DOUBLE)
                             + 1.0 / CAST(n1 AS DOUBLE)))
                   * 1000000.0) AS BIGINT)
               END
           END AS z_micro
    FROM m
    """


@query("ab_conversion_ztest", extended=True, oracle=_AB_ORACLE())
def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout over events: users split into two arms
    by the deterministic fold hash (operators/splits.py::assign_fold,
    k=2 — engine/retry-stable assignment), success = user ever
    purchases; rates, lift and pooled two-proportion z in micro
    fixed point (operators/stats.py::two_proportion_ztest). The null
    split should and does read as |z| small — the harness for real
    arm columns when an experiment ships one."""
    from top_produce_etl_spark.operators.splits import assign_fold
    from top_produce_etl_spark.operators.stats import two_proportion_ztest

    events = load_table(spark, sf_dir, "events")
    units = events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("success")
    )
    units = assign_fold(units, "user_id", k=2, salt="ab-v1", out="arm")
    return two_proportion_ztest(units, "arm", "success")


def _CUPED_ORACLE() -> str:
    from top_produce_etl_spark.operators.splits import fold_oracle_sql

    arm = fold_oracle_sql("user_id", 2, "ab-v1")
    d = "CAST({} AS DOUBLE)"
    moments = """
    WITH mid AS (
        SELECT (CAST(epoch_ms(MIN(ts)) AS BIGINT)
                + CAST(epoch_ms(MAX(ts)) AS BIGINT)) // 2 AS m
        FROM events
    ), units AS (
        SELECT user_id, {arm} AS arm,
               CAST(SUM(CASE WHEN CAST(epoch_ms(ts) AS BIGINT) <= mid.m
                        THEN CAST(value AS DECIMAL(18,4)) ELSE 0 END)
                    AS DOUBLE) AS x,
               CAST(SUM(CASE WHEN CAST(epoch_ms(ts) AS BIGINT) > mid.m
                        THEN CAST(value AS DECIMAL(18,4)) ELSE 0 END)
                    AS DOUBLE) AS y
        FROM events, mid
        GROUP BY user_id, mid.m
    ), m AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(x AS DECIMAL(19,4))) AS sx,
               SUM(CAST(y AS DECIMAL(19,4))) AS sy,
               SUM(CAST(x AS DECIMAL(19,4)) * CAST(x AS DECIMAL(19,4))) AS sxx,
               SUM(CAST(y AS DECIMAL(19,4)) * CAST(y AS DECIMAL(19,4))) AS syy,
               SUM(CAST(x AS DECIMAL(19,4)) * CAST(y AS DECIMAL(19,4))) AS sxy,
               SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
               SUM(CASE WHEN arm = 0 THEN CAST(x AS DECIMAL(19,4)) END) AS sx0,
               SUM(CASE WHEN arm = 0 THEN CAST(y AS DECIMAL(19,4)) END) AS sy0,
               SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN arm = 1 THEN CAST(x AS DECIMAL(19,4)) END) AS sx1,
               SUM(CASE WHEN arm = 1 THEN CAST(y AS DECIMAL(19,4)) END) AS sy1
        FROM units
    )
    """.format(arm=arm)
    n, sx, sy = d.format("n"), d.format("sx"), d.format("sy")
    sxx, syy, sxy = d.format("sxx"), d.format("syy"), d.format("sxy")
    cov = f"(({n} * {sxy}) - ({sx} * {sy}))"
    vx = f"(({n} * {sxx}) - ({sx} * {sx}))"
    vy = f"(({n} * {syy}) - ({sy} * {sy}))"
    theta = f"({cov} / {vx})"
    rho2 = f"(({cov} * {cov}) / ({vx} * {vy}))"
    my0 = f"({d.format('sy0')} / {d.format('n0')})"
    my1 = f"({d.format('sy1')} / {d.format('n1')})"
    mx0 = f"({d.format('sx0')} / {d.format('n0')})"
    mx1 = f"({d.format('sx1')} / {d.format('n1')})"
    mic = "CAST(round({} * 1000000.0) AS BIGINT)"
    return f"""{moments}
    SELECT n0, n1,
           {mic.format(f"({my1} - {my0})")} AS lift_micro,
           {mic.format(f"(({my1} - {my0}) - {theta} * ({mx1} - {mx0}))")}
               AS adj_lift_micro,
           {mic.format(theta)} AS theta_micro,
           {mic.format(rho2)} AS rho2_micro
    FROM m
    """


@query("cuped_adjusted_lift_events", extended=True, oracle=_CUPED_ORACLE())
def cuped_adjusted_lift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced lift over events
    (operators/stats.py::cuped_adjusted_lift): per-user pre-period
    spend (first half of the timeline, exact decimal) is the
    covariate for post-period spend; fold-hash arms as in
    ab_conversion_ztest. The timeline midpoint is integer epoch-ms
    arithmetic riding a one-row broadcast — no driver state, no
    float timestamps."""
    from top_produce_etl_spark.operators.splits import assign_fold
    from top_produce_etl_spark.operators.stats import cuped_adjusted_lift

    events = load_table(spark, sf_dir, "events")
    mid = F.broadcast(
        events.agg(
            (
                (F.min(F.unix_millis("ts")) + F.max(F.unix_millis("ts")))
                / F.lit(2)
            ).cast("bigint").alias("__mid")
        ).withColumn(
            "__k", F.pmod(F.col("__mid"), F.lit(1)).cast("int")
        )
    )
    val = F.col("value").cast("decimal(18,4)")
    units = (
        events.withColumn(
            "__k", F.pmod(F.unix_millis("ts"), F.lit(1)).cast("int")
        )
        .join(mid, "__k")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.unix_millis("ts") <= F.col("__mid"), val).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            ).cast("double").alias("x"),
            F.sum(
                F.when(F.unix_millis("ts") > F.col("__mid"), val).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            ).cast("double").alias("y"),
        )
    )
    units = assign_fold(units, "user_id", k=2, salt="ab-v1", out="arm")
    return cuped_adjusted_lift(units, "arm", "x", "y")


@query(
    "psi_price_drift", extended=True,
    oracle="""
    WITH base AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS v,
               CASE WHEN date_diff('day', DATE '1970-01-01', o_orderdate)
                    > (SELECT (MIN(date_diff('day', DATE '1970-01-01',
                                             o_orderdate))
                               + MAX(date_diff('day', DATE '1970-01-01',
                                               o_orderdate))) // 2
                       FROM orders)
                    THEN 1 ELSE 0 END AS cur
        FROM orders
    ), edges AS (
        SELECT list_transform(
                   quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
                                     0.6, 0.7, 0.8, 0.9]),
                   e -> round(e, 6)) AS es
        FROM base WHERE cur = 0
    ), binned AS (
        SELECT len(list_filter(es, e -> v > e)) AS bin, cur
        FROM base, edges
    ), counts AS (
        SELECT bin,
               SUM(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS n_ref,
               SUM(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS n_cur
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM counts
    )
    SELECT bin, n_ref, n_cur,
           CASE WHEN n_ref > 0 AND n_cur > 0 THEN
               CAST(round(
                   (CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE)
                    - CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE))
                   * ln((CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE))
                        / (CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE)))
                   * 1000000.0) AS BIGINT)
           END AS psi_contrib_micro
    FROM counts, tot
    """,
)
def psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of order value, first half of the
    timeline (reference) vs second half (current) — decile bins from
    the reference slice, per-bin contributions in 1e6 fixed point
    (operators/anomaly.py::psi_report). The numeric drift gate
    beside chi2_lang_source's categorical one."""
    from top_produce_etl_spark.operators.anomaly import psi_report

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "__day", F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    )
    mid = F.broadcast(
        orders.agg(
            ((F.min("__day") + F.max("__day")) / F.lit(2))
            .cast("bigint")
            .alias("__mid")
        ).withColumn("__k", F.pmod(F.col("__mid"), F.lit(1)).cast("int"))
    )
    sliced = (
        orders.withColumn(
            "__k", F.pmod(F.col("__day").cast("long"), F.lit(1)).cast("int")
        )
        .join(mid, "__k")
        .select(
            "o_totalprice",
            (F.col("__day") > F.col("__mid")).cast("int").alias("is_cur"),
        )
    )
    return psi_report(sliced, "o_totalprice", "is_cur", quantiles=10)


@query(
    "trimmed_mean_price_by_priority", extended=True,
    oracle="""
    WITH edges AS (
        SELECT o_orderpriority,
               round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.05), 6)
                   AS lo,
               round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.95), 6)
                   AS hi
        FROM orders GROUP BY 1
    )
    SELECT o.o_orderpriority,
           COUNT(*) AS n,
           SUM(CASE WHEN CAST(o_totalprice AS DOUBLE) >= lo
                     AND CAST(o_totalprice AS DOUBLE) <= hi
                    THEN 1 ELSE 0 END) AS n_used,
           CAST(round(
               CAST(SUM(CASE WHEN CAST(o_totalprice AS DOUBLE) >= lo
                              AND CAST(o_totalprice AS DOUBLE) <= hi
                             THEN CAST(o_totalprice AS DECIMAL(19,4)) END)
                    AS DOUBLE)
               / CAST(SUM(CASE WHEN CAST(o_totalprice AS DOUBLE) >= lo
                                AND CAST(o_totalprice AS DOUBLE) <= hi
                               THEN 1 ELSE 0 END) AS DOUBLE)
               * 1000000.0) AS BIGINT) AS trimmed_mean_micro
    FROM orders o JOIN edges USING (o_orderpriority)
    GROUP BY o.o_orderpriority
    """,
)
def trimmed_mean_price_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """5-95% trimmed mean of order value per priority
    (operators/stats.py::trimmed_mean): exact-quantile cut points,
    exact-decimal interior sum — the robust location metric beside
    the raw mean in agg_profile_pack."""
    from top_produce_etl_spark.operators.stats import trimmed_mean

    orders = load_table(spark, sf_dir, "orders")
    return trimmed_mean(
        orders, ["o_orderpriority"], "o_totalprice", 0.05, 0.95
    )


@query(
    "copurchase_triangles", extended=True,
    oracle="""
    WITH bi AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ), e AS (
        SELECT l.i AS a, r.i AS b
        FROM bi l JOIN bi r ON l.b = r.b AND l.i < r.i
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ), wedges AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM e e1 JOIN e e2 ON e1.b = e2.a
    )
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM wedges) AS n_wedges,
           (SELECT COUNT(*) FROM wedges w
            JOIN e e3 ON w.a = e3.a AND w.c = e3.b) AS n_triangles
    """,
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the support-≥2 co-purchase graph
    (operators/graph.py::count_triangles over
    operators/basket.py::pair_rules edges): how cliquish
    bought-together behavior is — n_edges, wedges, triangles in one
    ordered two-path join, every triangle counted exactly once."""
    from top_produce_etl_spark.operators.basket import pair_rules
    from top_produce_etl_spark.operators.graph import count_triangles

    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = pair_rules(lineitem, "l_orderkey", "l_partkey", 2).select(
        "item_a", "item_b"
    )
    return count_triangles(edges, "item_a", "item_b")


@query(
    "event_audience_overlap", extended=True,
    oracle="""
    WITH gm AS (
        SELECT DISTINCT event_type AS g, user_id AS m FROM events
    ), sizes AS (
        SELECT g, COUNT(*) AS n FROM gm GROUP BY 1
    ), both_ AS (
        SELECT l.g AS group_a, r.g AS group_b, COUNT(*) AS n_both
        FROM gm l JOIN gm r ON l.m = r.m AND l.g < r.g
        GROUP BY 1, 2
    )
    SELECT b.group_a, b.group_b, a.n AS n_a, c.n AS n_b, b.n_both,
           CAST(round(CAST(b.n_both AS DOUBLE)
                      / CAST(a.n + c.n - b.n_both AS DOUBLE)
                      * 1000000.0) AS BIGINT) AS jaccard_micro
    FROM both_ b
    JOIN sizes a ON b.group_a = a.g
    JOIN sizes c ON b.group_b = c.g
    """,
)
def event_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types
    (operators/sequences.py::audience_overlap): which behaviors share
    users, as exact intersection/union counts and fixed-point
    Jaccard — the set-similarity report at segment granularity
    (the MinHash machinery handles it at document granularity)."""
    from top_produce_etl_spark.operators.sequences import audience_overlap

    events = load_table(spark, sf_dir, "events")
    return audience_overlap(events, "event_type", "user_id")


def _BENFORD_ORACLE() -> str:
    from top_produce_etl_spark.operators.anomaly import BENFORD_P

    cases = " ".join(
        f"WHEN '{d}' THEN {p!r}" for d, p in BENFORD_P.items()
    )
    return f"""
    WITH counts AS (
        SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                      1, 1) AS digit,
               COUNT(*) AS n
        FROM orders WHERE o_totalprice >= 1
        GROUP BY 1
    ), tot AS (SELECT SUM(n) AS t FROM counts)
    SELECT digit, n,
           CAST(round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE) * 1000000.0)
                AS BIGINT) AS obs_micro,
           CAST(round((CASE digit {cases} END) * 1000000.0) AS BIGINT)
               AS exp_micro,
           CAST(round(
               CAST(t AS DOUBLE)
               * (CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
                  - (CASE digit {cases} END))
               * (CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
                  - (CASE digit {cases} END))
               / (CASE digit {cases} END)
               * 1000000.0) AS BIGINT) AS chi2_contrib_micro
    FROM counts, tot
    """


@query("benford_price_digits", extended=True, oracle=_BENFORD_ORACLE())
def benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen on order values
    (operators/anomaly.py::benford_report): observed vs log10(1+1/d)
    shares and per-digit χ² contributions — the bulk
    fabricated-amounts detector. Digit extraction is string-exact
    (decimal rendering), expected probabilities are shared Python
    literals, so the readout is engine-exact."""
    from top_produce_etl_spark.operators.anomaly import benford_report

    orders = load_table(spark, sf_dir, "orders")
    return benford_report(orders, "o_totalprice")


@query(
    "gini_revenue_by_segment", extended=True,
    oracle="""
    WITH j AS (
        SELECT c.c_mktsegment, o.o_totalprice, o.o_orderkey
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), ranked AS (
        SELECT c_mktsegment,
               CAST(o_totalprice AS DECIMAL(18,4)) AS x,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY o_totalprice, o_orderkey
               ) AS i
        FROM j
    ), m AS (
        SELECT c_mktsegment, COUNT(*) AS n,
               SUM(x) AS s,
               SUM(x * CAST(i AS DECIMAL(19,0))) AS ws
        FROM ranked GROUP BY 1
    )
    SELECT c_mktsegment, n,
           CASE WHEN s > 0 THEN
               CAST(round(
                   (2.0 * CAST(ws AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
                    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
                   * 1000000.0) AS BIGINT)
           END AS gini_micro
    FROM m
    """,
)
def gini_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of order value per market segment
    (operators/stats.py::gini_by_group): how much of each segment's
    spend sits in its largest orders — rank-weighted exact-decimal
    sums, closed form at 1e6 fixed point."""
    from top_produce_etl_spark.operators.stats import gini_by_group

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(
        customer,
        orders["o_custkey"] == customer["c_custkey"],
    ).select("c_mktsegment", "o_totalprice", "o_orderkey")
    return gini_by_group(
        j, ["c_mktsegment"], "o_totalprice", "o_orderkey"
    )


@query(
    "ks_price_drift_by_priority", extended=True,
    oracle="""
    WITH base AS (
        SELECT o_orderpriority,
               CAST(o_totalprice AS DOUBLE) AS v,
               CASE WHEN date_diff('day', DATE '1970-01-01', o_orderdate)
                    > (SELECT (MIN(date_diff('day', DATE '1970-01-01',
                                             o_orderdate))
                               + MAX(date_diff('day', DATE '1970-01-01',
                                               o_orderdate))) // 2
                       FROM orders)
                    THEN 1 ELSE 0 END AS cur
        FROM orders
    ), stepped AS (
        SELECT o_orderpriority,
               -- RANGE frame: ECDF evaluated after each full tie group
               SUM(CASE WHEN cur = 0 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY o_orderpriority ORDER BY v
                         RANGE UNBOUNDED PRECEDING) AS cr,
               SUM(cur) OVER (PARTITION BY o_orderpriority ORDER BY v
                              RANGE UNBOUNDED PRECEDING) AS cc,
               SUM(CASE WHEN cur = 0 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY o_orderpriority) AS nr,
               SUM(cur) OVER (PARTITION BY o_orderpriority) AS nc
        FROM base
    )
    SELECT o_orderpriority,
           MAX(nr) AS n_ref,
           MAX(nc) AS n_cur,
           MAX(CAST(round(abs(CAST(cr AS DOUBLE) / CAST(nr AS DOUBLE)
                              - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE))
                          * 1000000.0) AS BIGINT)) AS ks_micro
    FROM stepped
    GROUP BY o_orderpriority
    """,
)
def ks_price_drift_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample KS statistic of order value per priority, first
    half of the timeline vs second (operators/anomaly.py::
    ks_two_sample) — the nonparametric drift member beside
    psi_price_drift and chi2_lang_source. Per-step |ΔECDF| rounds to
    fixed point before the group max, so D is an integer max."""
    from top_produce_etl_spark.operators.anomaly import ks_two_sample

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "__day", F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    )
    mid = F.broadcast(
        orders.agg(
            ((F.min("__day") + F.max("__day")) / F.lit(2))
            .cast("bigint")
            .alias("__mid")
        ).withColumn("__k", F.pmod(F.col("__mid"), F.lit(1)).cast("int"))
    )
    sliced = (
        orders.withColumn(
            "__k", F.pmod(F.col("__day").cast("long"), F.lit(1)).cast("int")
        )
        .join(mid, "__k")
        .select(
            "o_orderpriority",
            "o_totalprice",
            (F.col("__day") > F.col("__mid")).cast("int").alias("is_cur"),
        )
    )
    return ks_two_sample(
        sliced, ["o_orderpriority"], "o_totalprice", "is_cur"
    )


@query(
    "source_entropy_by_lang", extended=True,
    oracle="""
    WITH counts AS (
        SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2
    ), stepped AS (
        SELECT lang, n,
               CAST(round(
                   -(CAST(n AS DOUBLE)
                     / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE))
                   * ln(CAST(n AS DOUBLE)
                        / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE))
                   * 1000000.0) AS BIGINT) AS h
        FROM counts
    ), agg AS (
        SELECT lang, SUM(n) AS n, COUNT(*) AS n_cats,
               SUM(h) AS entropy_micro
        FROM stepped GROUP BY lang
    )
    SELECT lang, n, n_cats, entropy_micro,
           CASE WHEN n_cats > 1 THEN
               CAST(round(CAST(entropy_micro AS DOUBLE)
                          / (ln(CAST(n_cats AS DOUBLE)) * 1000000.0)
                          * 1000000.0) AS BIGINT)
           ELSE 0 END AS evenness_micro
    FROM agg
    """,
)
def source_entropy_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the source mix per language
    (operators/stats.py::entropy_by_group): corpus-composition
    diversity with micro-nat integer contributions and an evenness
    ratio — the static companion to the chi²/PSI/KS drift gates."""
    from top_produce_etl_spark.operators.stats import entropy_by_group

    docs = load_table(spark, sf_dir, "documents")
    return entropy_by_group(docs, ["lang"], "source")


@query(
    "event_audience_overlap_hll", extended=True,
    # computable-error-bound oracle (r6 verdict #2): the exact
    # counts hash-check against DuckDB; the HLL estimates are
    # verified through 3σ in-band FLAGS (lgk=12 → σ ≈ 1.04/√4096 ≈
    # 1.6%, 3σ ≈ 5%; the inclusion-exclusion intersection compounds
    # three estimates, so its band is 5% of n_a+n_b). A drifting
    # sketch flips a flag to false → hash mismatch → battery FAIL.
    oracle="""
    WITH gm AS (
        SELECT DISTINCT event_type AS g, user_id AS m FROM events
    ), sizes AS (
        SELECT g, COUNT(*) AS n FROM gm GROUP BY 1
    ), both_ AS (
        SELECT l.g AS group_a, r.g AS group_b, COUNT(*) AS n_both
        FROM gm l JOIN gm r ON l.m = r.m AND l.g < r.g
        GROUP BY 1, 2
    )
    SELECT b.group_a, b.group_b, a.n AS n_a, c.n AS n_b, b.n_both,
           TRUE AS a_in_band, TRUE AS b_in_band,
           TRUE AS union_in_band, TRUE AS both_in_band
    FROM both_ b
    JOIN sizes a ON b.group_a = a.g
    JOIN sizes c ON b.group_b = c.g
    """,
)
def event_audience_overlap_hll(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sketch-based twin of event_audience_overlap
    (operators/sequences.py::audience_overlap_hll): per-group HLL
    sketches + inclusion-exclusion — the path for member domains too
    large for the exact self-join (|groups| sketches move, not
    (group, member) pairs). Battery shape (r6 verdict #2): exact
    counts + 3σ in-band flags on every estimate, so the sketch is
    error-bound-verified per run instead of rows-only."""
    from top_produce_etl_spark.operators.sequences import (
        audience_overlap,
        audience_overlap_hll,
    )

    events = load_table(spark, sf_dir, "events")
    exact = audience_overlap(events, "event_type", "user_id").select(
        "group_a", "group_b", "n_a", "n_b", "n_both"
    )
    est = audience_overlap_hll(events, "event_type", "user_id").select(
        "group_a", "group_b", "est_a", "est_b", "est_union", "est_both"
    )
    band = 0.05  # 3σ at lgk=12
    j = exact.join(est, ["group_a", "group_b"])
    union_exact = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return j.select(
        "group_a", "group_b", "n_a", "n_b", "n_both",
        (F.abs(F.col("est_a") - F.col("n_a"))
         <= band * F.col("n_a")).alias("a_in_band"),
        (F.abs(F.col("est_b") - F.col("n_b"))
         <= band * F.col("n_b")).alias("b_in_band"),
        (F.abs(F.col("est_union") - union_exact)
         <= band * union_exact).alias("union_in_band"),
        (F.abs(F.col("est_both") - F.col("n_both"))
         <= band * (F.col("n_a") + F.col("n_b"))).alias("both_in_band"),
    )


def _TRENDING_ORACLE() -> str:
    from top_produce_etl_spark.operators.stats import (
        trailing_ewma_oracle_sql,
    )

    expr = trailing_ewma_oracle_sql(
        "qty", "p_brand", "day", alpha=0.3, span=7
    )
    return f"""
    WITH daily AS (
        SELECT p.p_brand,
               CAST(l.l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ), sm AS (
        SELECT p_brand, day, qty, {expr} AS ewma_micro FROM daily
    ), latest AS (
        SELECT p_brand, day, ewma_micro,
               ROW_NUMBER() OVER (
                   PARTITION BY p_brand ORDER BY day DESC
               ) AS rn
        FROM sm
    )
    SELECT p_brand, day AS as_of, ewma_micro
    FROM latest WHERE rn = 1
    ORDER BY ewma_micro DESC, p_brand LIMIT 10
    """


@query("trending_brands_ewma", extended=True, oracle=_TRENDING_ORACLE())
def trending_brands_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending detection: top-10 brands by SMOOTHED shipment
    momentum — per-brand daily quantity, 7-day trailing EWMA
    (integer fixed point, literal weights), each brand read at its
    last observed day, globally ranked. The composition a
    merchandising/radar dashboard runs: rollup shuffle + partitioned
    windows + TakeOrderedAndProject, nothing data-sized on one
    task."""
    from top_produce_etl_spark.operators.stats import trailing_ewma

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    daily = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand", F.col("l_shipdate").cast("date").alias("day")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty")
        )
    )
    sm = trailing_ewma(
        daily, ["p_brand"], ["day"], "qty", alpha=0.3, span=7
    )
    return (
        top_n_window(sm, "p_brand", "day", 1, rank_col="__rn")
        .select("p_brand", F.col("day").alias("as_of"), "ewma_micro")
        .orderBy(F.col("ewma_micro").desc(), "p_brand")
        .limit(10)
    )


ADC_TOPK_SQL = """
    WITH sc AS (
        SELECT vec_id,
               127.0 / greatest(
                   list_max(list_transform(embedding,
                                           x -> abs(CAST(x AS DOUBLE)))),
                   1e-12) AS s
        FROM embeddings
    ), exc AS (
        SELECT e.vec_id, r.i,
               CAST(round(CAST(e.embedding[r.i] AS DOUBLE) * sc.s)
                    AS BIGINT) AS qv
        FROM embeddings e JOIN sc USING (vec_id),
             unnest(range(1, 65)) r(i)
    ), exq AS (
        SELECT vec_id, r.i, CAST(embedding[r.i] AS DOUBLE) AS v
        FROM embeddings, unnest(range(1, 65)) r(i)
        WHERE vec_id < 10
    ), cnorm AS (
        SELECT vec_id, sqrt(CAST(SUM(qv * qv) AS DOUBLE)) AS nrm
        FROM exc GROUP BY vec_id
    ), qnorm AS (
        SELECT vec_id,
               sqrt(CAST(SUM(CAST(v * v AS DECIMAL(28,14))) AS DOUBLE))
                   AS nrm
        FROM exq GROUP BY vec_id
    ), dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(SUM(CAST(q.v * CAST(c.qv AS DOUBLE)
                             AS DECIMAL(28,14))) AS DOUBLE) AS dot
        FROM exq q JOIN exc c ON q.i = c.i
        WHERE q.vec_id <> c.vec_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_cosine, "rank"
    FROM (
        SELECT d.query_id, d.neighbor_id,
               d.dot / (nq.nrm * nc.nrm) AS adc_cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY d.query_id
                   ORDER BY d.dot / (nq.nrm * nc.nrm) DESC,
                            d.neighbor_id ASC
               ) AS "rank"
        FROM dots d
        JOIN qnorm nq ON d.query_id = nq.vec_id
        JOIN cnorm nc ON d.neighbor_id = nc.vec_id
    )
    WHERE "rank" <= 3
    """


@query("cosine_topk_adc", extended=True, oracle=ADC_TOPK_SQL)
def cosine_topk_adc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric quantized top-3 cosine
    (operators/similarity.py::cosine_topk_adc): int8 corpus,
    full-precision queries — the corpus keeps the 4x compression
    while per-score quantization noise enters once instead of
    twice. On THIS fixture recall@3 equals the symmetric variant's
    0.9667: the one miss (query 8, rank 3) has a true-cosine gap of
    ~4e-4 to the interloper — below int8 resolution whichever side
    is exact, i.e. the fixture's 8-bit noise floor, not an ADC
    defect (same analysis as the RP recall note). Gated per round
    in bench beside the symmetric variant. Decimal-exact scoring
    keeps the whole pipeline oracle-checked."""
    from top_produce_etl_spark.operators.similarity import cosine_topk_adc

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_adc(emb, queries, "vec_id", "embedding", k=3)


_BOOT_MEANS_DUCK = __import__(
    "top_produce_etl_spark.operators.bootstrap",
    fromlist=["bootstrap_means_oracle_sql"],
).bootstrap_means_oracle_sql(
    "orders", ["o_orderpriority"], "o_orderkey", "o_totalprice", b=50
)


@query(
    "bootstrap_ci_order_value", extended=True,
    oracle=f"""
    WITH bm AS ({_BOOT_MEANS_DUCK}),
    rk AS (
        SELECT o_orderpriority, boot_mean,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY boot_mean, rep
               ) AS rn
        FROM bm
    ),
    pk AS (
        SELECT o_orderpriority,
               MAX(CASE WHEN rn = 2 THEN boot_mean END) AS ci_lo,
               MAX(CASE WHEN rn = 49 THEN boot_mean END) AS ci_hi,
               COUNT(*) AS n_reps
        FROM rk GROUP BY 1
    ),
    pt AS (
        SELECT o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                    AS DOUBLE) / COUNT(*) AS point_est
        FROM orders GROUP BY 1
    )
    SELECT pt.o_orderpriority, point_est, ci_lo, ci_hi, n_reps
    FROM pt JOIN pk USING (o_orderpriority)
    """,
)
def bootstrap_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for mean order value per priority
    (operators/bootstrap.py — the Chamandy et al. distributed
    bootstrap: each row gets a deterministic hash-derived Poisson(1)
    multiplicity per replicate, so a replicate is a narrow per-row
    weight, never a global resample; 50 replicates = one ×50 explode
    + one (group, rep) hash-agg + B-row order statistics). Every
    stage is bit-identical cross-engine: literal Poisson CDF
    thresholds, exact-decimal weighted sums, row_number order-stat
    picks."""
    from top_produce_etl_spark.operators.bootstrap import bootstrap_ci

    orders = load_table(spark, sf_dir, "orders")
    return bootstrap_ci(
        orders, ["o_orderpriority"], "o_orderkey", "o_totalprice", b=50
    )


@query(
    "bootstrap_ci_fast", extended=True,
    # computable-bound oracle (r6 verdict #2): the exact-decimal
    # point estimate hash-checks against DuckDB; the xxhash64 CIs
    # (valid but not DuckDB-expressible randomization) are verified
    # through invariant flags — ordered bounds that bracket the
    # point estimate with all 50 replicates present. A broken
    # weighting/order-stat pick flips a flag and fails the hash.
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                AS DOUBLE) / COUNT(*) AS point_est,
           TRUE AS ci_ordered, TRUE AS ci_brackets_point,
           50 AS n_reps
    FROM orders GROUP BY 1
    """,
)
def bootstrap_ci_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of :func:`bootstrap_ci_order_value` on the
    xxhash64 intrinsic (one fused JVM call per row instead of the
    interpreted portable polynomial — the countmin_user_fast
    precedent). A different but equally valid replicate
    randomization: CIs shift within bootstrap noise, the point
    estimate is identical. Battery shape (r6 verdict #2): exact
    point estimate + CI invariant flags replace the rows-only
    check; this twin takes the bench clock."""
    from top_produce_etl_spark.operators.bootstrap import bootstrap_ci

    orders = load_table(spark, sf_dir, "orders")
    ci = bootstrap_ci(
        orders, ["o_orderpriority"], "o_orderkey", "o_totalprice",
        b=50, hasher="xxhash64",
    )
    return ci.select(
        "o_orderpriority",
        "point_est",
        (F.col("ci_lo") <= F.col("ci_hi")).alias("ci_ordered"),
        (
            (F.col("ci_lo") <= F.col("point_est"))
            & (F.col("point_est") <= F.col("ci_hi"))
        ).alias("ci_brackets_point"),
        F.col("n_reps").cast("int").alias("n_reps"),
    )


_CONF_IV_DUCK = __import__(
    "top_produce_etl_spark.operators.conformal",
    fromlist=["conformal_intervals_oracle_sql"],
).conformal_intervals_oracle_sql(
    "orders", ["o_orderpriority"], "o_orderkey", "o_totalprice",
    alpha=0.1,
)


@query(
    "conformal_intervals_orders", extended=True, oracle=_CONF_IV_DUCK,
)
def conformal_intervals_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% prediction intervals for order value per
    priority (operators/conformal.py — Lei et al. split conformal:
    train-mean predictor on the salted-hash train slice, absolute
    residuals on the disjoint calibration slice, half-width = the
    ceil((n_cal+1)·0.9)-th smallest residual, a finite-sample-valid
    order statistic). Every stage — split, decimal means, row_number
    order-stat pick — is bit-identical cross-engine."""
    from top_produce_etl_spark.operators.conformal import (
        conformal_intervals,
    )

    orders = load_table(spark, sf_dir, "orders")
    return conformal_intervals(
        orders, ["o_orderpriority"], "o_orderkey", "o_totalprice",
        alpha=0.1,
    )


@query(
    "conformal_coverage_report", extended=True,
    oracle=__import__(
        "top_produce_etl_spark.operators.conformal",
        fromlist=["conformal_coverage_oracle_sql"],
    ).conformal_coverage_oracle_sql(
        "orders", ["o_orderpriority"], "o_orderkey", "o_totalprice",
        alpha=0.1,
    ),
)
def conformal_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conformal SELF-EVALUATION: empirical coverage of the 90%
    intervals on the TEST slice (disjoint from train and
    calibration) — marginal validity says E[coverage] >= 0.9, and
    this query measures it in-engine (integer per-mille, exact)."""
    from top_produce_etl_spark.operators.conformal import (
        conformal_coverage,
    )

    orders = load_table(spark, sf_dir, "orders")
    return conformal_coverage(
        orders, ["o_orderpriority"], "o_orderkey", "o_totalprice",
        alpha=0.1,
    )


@query(
    "weighted_quantiles_lineitem", extended=True,
    oracle="""
    WITH byv AS (
        SELECT l_returnflag, l_extendedprice AS v,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2
    ), cum AS (
        SELECT l_returnflag, v, w,
               SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS c,
               SUM(w) OVER (PARTITION BY l_returnflag) AS t
        FROM byv
    )
    SELECT l_returnflag,
           MIN(CASE WHEN c * 2 >= t * 1 THEN v END) AS wq_1_2,
           MIN(CASE WHEN c * 10 >= t * 9 THEN v END) AS wq_9_10
    FROM cum GROUP BY 1
    """,
)
def weighted_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-weighted price quantiles per return flag
    (round 8 — operators/stats.py::weighted_quantiles): the
    importance-weighted order statistic (each price weighted by the
    units shipped at it). Quantile reach is the cross-multiplied
    integer test den·cum ≥ num·W — no floats, the returned quantile
    is an actual decimal data value, bit-exact cross-engine."""
    from top_produce_etl_spark.operators.stats import weighted_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    # explicit integral cast at the CALL SITE (r9 advisor fix): the
    # operator now rejects fractional weight columns instead of
    # silently truncating; l_quantity is integral-valued by TPC-H
    # construction, so this cast is lossless in both engines
    li = li.withColumn("__qty", F.col("l_quantity").cast("bigint"))
    return weighted_quantiles(
        li, ["l_returnflag"], "l_extendedprice", "__qty",
        qs=((1, 2), (9, 10)),
    )


def _KAPPA_ORACLE() -> str:
    from top_produce_etl_spark.operators.stats import (
        cohens_kappa_oracle_sql,
    )

    return cohens_kappa_oracle_sql(
        "documents",
        "CASE WHEN n_chars > 300 THEN 1 ELSE 0 END",
        "CASE WHEN len(string_split(text, ' ')) >= 55 THEN 1 ELSE 0 END",
        group_sql=("source",),
    )


@query("labeler_agreement_kappa", extended=True, oracle=_KAPPA_ORACLE())
def labeler_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two weak quality labelers per source
    (round 9 — operators/stats.py::cohens_kappa): a char-length rule
    vs a token-count rule. The labelers agree far above chance
    (length and token count correlate) but kappa corrects for the
    imbalanced marginals raw agreement flatters — the label-quality
    audit a weak-supervision pipeline gates on. Exact DECIMAL(38,0)
    integer arithmetic end to end (truncated division = DuckDB
    HUGEINT //), NULL on degenerate marginals."""
    from top_produce_etl_spark.operators.stats import cohens_kappa

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "source",
        F.when(F.col("n_chars") > 300, 1).otherwise(0).alias("la"),
        F.when(F.size(F.split("text", " ")) >= 55, 1)
        .otherwise(0)
        .alias("lb"),
    )
    return cohens_kappa(labeled, "la", "lb", group_cols=("source",))


def _ALPHA_ORACLE() -> str:
    from top_produce_etl_spark.operators.stats import (
        krippendorff_alpha_oracle_sql,
    )

    ratings = """(
        SELECT source, doc_id AS item,
               CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS label
        FROM documents
        UNION ALL
        SELECT source, doc_id,
               CASE WHEN len(string_split(text, ' ')) >= 55
                    THEN 1 ELSE 0 END
        FROM documents
        UNION ALL
        SELECT source, doc_id,
               CASE WHEN n_chars + doc_id % 37 > 310 THEN 1 ELSE 0 END
        FROM documents WHERE doc_id % 4 <> 0
    )"""
    return krippendorff_alpha_oracle_sql(
        ratings, "item", "label", group_sql=("source",)
    )


@query("labeler_agreement_alpha", extended=True, oracle=_ALPHA_ORACLE())
def labeler_agreement_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha per source (round 10 —
    operators/stats.py::krippendorff_alpha): the label audit kappa
    cannot run — THREE weak labelers with MISSING ratings (the third
    annotator skips every 4th document), long-format input, nominal
    metric. Two length-derived raters plus a jittered third give
    above-chance but imperfect agreement; items the third rater
    skipped still pair on the remaining two. Exact integer contract
    (one truncated division per item + the final DECIMAL(38,0) one),
    bit-identical to the DuckDB HUGEINT twin; degenerate groups NULL."""
    from top_produce_etl_spark.operators.stats import (
        krippendorff_alpha,
    )

    docs = load_table(spark, sf_dir, "documents")
    la = docs.select(
        "source", F.col("doc_id").alias("item"),
        F.when(F.col("n_chars") > 300, 1).otherwise(0).alias("label"),
    )
    lb = docs.select(
        "source", F.col("doc_id").alias("item"),
        F.when(F.size(F.split("text", " ")) >= 55, 1)
        .otherwise(0).alias("label"),
    )
    lc = docs.where(F.col("doc_id") % 4 != 0).select(
        "source", F.col("doc_id").alias("item"),
        F.when(F.col("n_chars") + F.col("doc_id") % 37 > 310, 1)
        .otherwise(0).alias("label"),
    )
    ratings = la.unionByName(lb).unionByName(lc)
    return krippendorff_alpha(
        ratings, "item", "label", group_cols=("source",)
    )
