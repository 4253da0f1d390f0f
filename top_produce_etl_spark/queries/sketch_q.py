"""Frequency / distinct-intersection sketch queries (round 5,
wave 5): count-min point-frequency estimation and KMV (theta-family)
distinct + overlap estimation — the two mergeable-sketch shapes the
HLL rollup (queries/eventtime.py) does not cover. Every query is
fully oracle-checked: the sketches are built on the portable 56-bit
hash and integer math, so DuckDB reproduces them bit-identically.

Reference parity: the reference's transform core
(src/transform/core.py) is empty; beyond-reference sketch tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top_produce_etl_spark.io.sources import load_table
from top_produce_etl_spark.operators.countmin import (
    cms_build,
    cms_cells_oracle_sql,
    cms_estimate,
    cms_key_coords_oracle_sql,
)
from top_produce_etl_spark.operators.kmv import (
    kmv_estimate,
    kmv_estimate_oracle_sql,
    kmv_overlap,
    kmv_sketch,
    kmv_sketch_oracle_sql,
)
from top_produce_etl_spark.operators.topn import top_n_window
from top_produce_etl_spark.queries import query

# user-day key: "<user_id>@<yyyy-mm-dd>" — both engines render
# BIGINT and DATE casts to identical strings
_UDAY_SPARK = (
    "concat(CAST(user_id AS STRING), '@', "
    "CAST(CAST(ts AS DATE) AS STRING))"
)
_UDAY_DUCK = (
    "concat(CAST(user_id AS VARCHAR), '@', "
    "CAST(CAST(ts AS DATE) AS VARCHAR))"
)


@query(
    "countmin_user_event_counts", extended=True,
    oracle=f"""
    WITH cells AS ({cms_cells_oracle_sql("events", "user_id")}),
    ex AS (
        SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY 1
    ),
    keys AS (
        SELECT * FROM ex ORDER BY exact_cnt DESC, user_id LIMIT 20
    ),
    kb AS ({cms_key_coords_oracle_sql("SELECT * FROM keys", "user_id")})
    SELECT kb.user_id, kb.exact_cnt,
           MIN(COALESCE(c.cnt, 0)) AS cms_est,
           MIN(COALESCE(c.cnt, 0)) - kb.exact_cnt AS overcount
    FROM kb LEFT JOIN cells c USING (depth, bucket)
    GROUP BY kb.user_id, kb.exact_cnt
    """,
)
def countmin_user_event_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-min sketch point queries vs exact truth: sketch the
    event stream by user, then estimate the 20 busiest users'
    event counts from the sketch alone (operators/countmin.py —
    build is one sketch-sized hash-agg shuffle; the depth×width
    sketch broadcasts to the key probes; estimate ≥ exact is the
    CMS one-sided guarantee, surfaced as ``overcount``)."""
    ev = load_table(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    keys = exact.orderBy(
        F.col("exact_cnt").desc(), F.col("user_id").asc()
    ).limit(20)
    est = cms_estimate(sketch, keys, "user_id")
    return est.withColumn(
        "overcount", F.col("cms_est") - F.col("exact_cnt")
    )


_KMV_SKETCH_DUCK = kmv_sketch_oracle_sql(
    "events", ["event_type"], _UDAY_DUCK
)


@query(
    "kmv_userdays_by_type", extended=True,
    oracle=f"""
    WITH sk AS ({_KMV_SKETCH_DUCK}),
    est AS ({kmv_estimate_oracle_sql("SELECT * FROM sk", ["event_type"])}),
    ex AS (
        SELECT event_type,
               COUNT(DISTINCT {_UDAY_DUCK}) AS exact_distinct
        FROM events GROUP BY 1
    )
    SELECT est.event_type, est.distinct_est, ex.exact_distinct
    FROM est JOIN ex USING (event_type)
    """,
)
def kmv_userdays_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct estimation vs exact truth: per event type,
    estimate the number of distinct user-days from the k=64 smallest
    portable-hash values (operators/kmv.py — one distinct shuffle,
    then a WindowGroupLimit rank filter; the estimator is pure
    integer math so the oracle is exact)."""
    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(ev, ["event_type"], _UDAY_SPARK)
    est = kmv_estimate(sk, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct(F.expr(_UDAY_SPARK)).alias("exact_distinct")
    )
    return est.join(exact, "event_type")


_VIEW_SK_DUCK = kmv_sketch_oracle_sql(
    "(SELECT * FROM events WHERE event_type = 'view')", [], _UDAY_DUCK
)
_CLICK_SK_DUCK = kmv_sketch_oracle_sql(
    "(SELECT * FROM events WHERE event_type = 'click')", [], _UDAY_DUCK
)


@query(
    "kmv_overlap_view_click", extended=True,
    oracle=f"""
    WITH ska AS ({_VIEW_SK_DUCK}),
    skb AS ({_CLICK_SK_DUCK}),
    ast AS (SELECT COUNT(*) AS n, MAX(h) AS hk FROM ska),
    bst AS (SELECT COUNT(*) AS n, MAX(h) AS hk FROM skb),
    th AS (
        SELECT LEAST(
            CASE WHEN ast.n < 64 THEN {1 << 56} ELSE ast.hk END,
            CASE WHEN bst.n < 64 THEN {1 << 56} ELSE bst.hk END
        ) AS theta
        FROM ast, bst
    ),
    samp AS (
        SELECT DISTINCT h FROM (
            SELECT h FROM ska UNION ALL SELECT h FROM skb), th
        WHERE h < th.theta
    ),
    uc AS (SELECT COUNT(*) AS c FROM samp),
    ic AS (
        SELECT COUNT(*) AS c FROM samp
        WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)
    ),
    est AS (
        SELECT
            CASE WHEN theta = {1 << 56} THEN uc.c
                 WHEN theta < 512 THEN NULL
                 ELSE uc.c * ({1 << 56} // theta)
                      + (uc.c * ({1 << 56} % theta)) // theta
            END AS union_est,
            CASE WHEN theta = {1 << 56} THEN ic.c
                 WHEN theta < 512 THEN NULL
                 ELSE ic.c * ({1 << 56} // theta)
                      + (ic.c * ({1 << 56} % theta)) // theta
            END AS inter_est
        FROM th, uc, ic
    ),
    va AS (SELECT DISTINCT {_UDAY_DUCK} AS ud FROM events
           WHERE event_type = 'view'),
    vb AS (SELECT DISTINCT {_UDAY_DUCK} AS ud FROM events
           WHERE event_type = 'click'),
    ex AS (
        SELECT (SELECT COUNT(*) FROM (SELECT ud FROM va
                UNION SELECT ud FROM vb)) AS exact_union,
               (SELECT COUNT(*) FROM va WHERE ud IN
                (SELECT ud FROM vb)) AS exact_inter
    )
    SELECT est.union_est, est.inter_est, ex.exact_union,
           ex.exact_inter
    FROM est, ex
    """,
)
def kmv_overlap_view_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set INTERSECTION estimation — the query shape HLL
    cannot answer without inclusion-exclusion error blowup: how many
    user-days saw BOTH a view and a click, estimated from two k=64
    KMV sketches (operators/kmv.py::kmv_overlap — the theta
    estimator: below θ = min sketch threshold every sample member's
    per-set membership is decidable, so counts scale by M/θ).
    Exact truth rides along for the audit."""
    ev = load_table(spark, sf_dir, "events")
    view = ev.where(F.col("event_type") == "view")
    click = ev.where(F.col("event_type") == "click")
    ska = kmv_sketch(view, [], _UDAY_SPARK)
    skb = kmv_sketch(click, [], _UDAY_SPARK)
    est = kmv_overlap(ska, skb)

    ka = view.select(F.expr(_UDAY_SPARK).alias("ud")).distinct()
    kb = click.select(F.expr(_UDAY_SPARK).alias("ud")).distinct()
    exact_union = (
        ka.union(kb).distinct().agg(
            F.count(F.lit(1)).alias("exact_union")
        )
    )
    exact_inter = ka.join(kb, "ud", "left_semi").agg(
        F.count(F.lit(1)).alias("exact_inter")
    )
    from top_produce_etl_spark.operators.joins import attach_scalar_row

    # 1-row attaches as constant-key broadcast hash joins (the
    # no-cartesian plan-audit contract)
    return attach_scalar_row(
        attach_scalar_row(est, exact_union, "union_est", "exact_union"),
        exact_inter,
        "exact_union",
        "exact_inter",
    )


@query(
    "kmv_userdays_fast", extended=True,
    # computable-error-bound oracle (r6 verdict #2): exact NDV
    # hash-checks; the xxhash64 estimate is verified via a 3σ
    # in-band flag (KMV k=64 → rsd ≈ 1/√(k−2) ≈ 12.7%, 3σ ≈ 38%) —
    # a broken sketch/hasher flips the flag and fails the hash.
    oracle=f"""
    SELECT event_type,
           COUNT(DISTINCT {_UDAY_DUCK}) AS exact_distinct,
           TRUE AS in_band
    FROM events GROUP BY 1
    """,
)
def kmv_userdays_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of :func:`kmv_userdays_by_type` on masked
    xxhash64 (same 56-bit space, same integer estimator) — a
    different but equally uniform hash, so estimates differ within
    the k=64 error band. Battery shape (r6 verdict #2): exact NDV +
    a 3σ in-band flag replaces the old rows-only check."""
    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(ev, ["event_type"], _UDAY_SPARK, hasher="xxhash64")
    est = kmv_estimate(sk, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct(F.expr(_UDAY_SPARK)).alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("distinct_est") - F.col("exact_distinct"))
            <= 3.0 / (62.0 ** 0.5) * F.col("exact_distinct")
        ).alias("in_band"),
    )


# exact cents: the double goes through DECIMAL first (the
# functions/numeric.py discipline) — a raw double*100 cast
# truncates in Spark but rounds in DuckDB (observed 3-cent
# drift on this fixture)
_REV_SPARK = "CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)"
_REV_DUCK = "CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)"


@query(
    "countmin_revenue_by_customer", extended=True,
    oracle=f"""
    WITH cells AS ({cms_cells_oracle_sql(
        "orders", "o_custkey", value_sql=_REV_DUCK)}),
    ex AS (
        SELECT o_custkey, SUM({_REV_DUCK}) AS exact_cents
        FROM orders GROUP BY 1
    ),
    keys AS (
        SELECT * FROM ex ORDER BY exact_cents DESC, o_custkey LIMIT 10
    ),
    kb AS ({cms_key_coords_oracle_sql("SELECT * FROM keys", "o_custkey")})
    SELECT kb.o_custkey, kb.exact_cents,
           MIN(COALESCE(c.cnt, 0)) AS cms_cents,
           MIN(COALESCE(c.cnt, 0)) - kb.exact_cents AS overcount
    FROM kb LEFT JOIN cells c USING (depth, bucket)
    GROUP BY kb.o_custkey, kb.exact_cents
    """,
)
def countmin_revenue_by_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-min SUM sketch: estimated revenue-cents per customer
    from sketch space alone (operators/countmin.py::cms_build with
    value_sql — same depth×width cells, SUM instead of COUNT; the
    one-sided guarantee holds because revenue is non-negative).
    Probes the 10 top spenders against exact truth."""
    orders = load_table(spark, sf_dir, "orders")
    sketch = cms_build(orders, "o_custkey", value_sql=_REV_SPARK)
    exact = orders.groupBy("o_custkey").agg(
        F.sum(F.expr(_REV_SPARK)).alias("exact_cents")
    )
    keys = exact.orderBy(
        F.col("exact_cents").desc(), F.col("o_custkey").asc()
    ).limit(10)
    est = cms_estimate(sketch, keys, "o_custkey", out="cms_cents")
    return est.withColumn(
        "overcount", F.col("cms_cents") - F.col("exact_cents")
    )


@query(
    "countmin_user_fast", extended=True,
    # computable-error-bound oracle (r6 verdict #2): the exact
    # counts of the 20 hottest users hash-check against DuckDB; the
    # xxhash64 CMS estimates are verified through the one-sided
    # guarantee (est >= exact — hash-independent, a-priori TRUE)
    # and the depth-4 collision envelope (est <= exact + 4N/width).
    oracle=f"""
    WITH ex AS (
        SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY 1
    ), keys AS (
        SELECT * FROM ex ORDER BY exact_cnt DESC, user_id LIMIT 20
    ), n AS (SELECT COUNT(*) AS total FROM events)
    SELECT user_id, exact_cnt,
           TRUE AS one_sided_ok, TRUE AS envelope_ok
    FROM keys
    """,
)
def countmin_user_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of :func:`countmin_user_event_counts` on
    xxhash64 buckets (one fused JVM intrinsic per depth vs the
    interpreted portable-hash fold — 34 s → sub-second on the sf0.1
    build under the noop-sink protocol). Battery shape (r6 verdict
    #2): exact counts + the one-sided and collision-envelope flags
    replace the old rows-only check."""
    from top_produce_etl_spark.operators.countmin import WIDTH

    ev = load_table(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id", hasher="xxhash64")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    keys = exact.orderBy(
        F.col("exact_cnt").desc(), F.col("user_id").asc()
    ).limit(20)
    est = cms_estimate(sketch, keys, "user_id", hasher="xxhash64")
    total = ev.agg(F.count(F.lit(1)).alias("__total"))
    from top_produce_etl_spark.operators.joins import attach_scalar_row

    est = attach_scalar_row(est, total, "exact_cnt", "__total")
    return est.select(
        "user_id",
        "exact_cnt",
        (F.col("cms_est") >= F.col("exact_cnt")).alias("one_sided_ok"),
        (
            F.col("cms_est")
            <= F.col("exact_cnt") + 4.0 * F.col("__total") / WIDTH
        ).alias("envelope_ok"),
    )


_KMV_DAILY_DUCK = kmv_sketch_oracle_sql(
    "evd", ["event_type", "day"], "CAST(user_id AS VARCHAR)"
)
_KMV_DIRECT_DUCK = kmv_sketch_oracle_sql(
    "events", ["event_type"], "CAST(user_id AS VARCHAR)"
)


@query(
    "kmv_rollup_month_exactness", extended=True,
    oracle=f"""
    WITH evd AS (
        SELECT *, CAST(CAST(ts AS DATE) AS VARCHAR) AS day FROM events
    ),
    daily AS ({_KMV_DAILY_DUCK}),
    merged AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h) AS rn
            FROM (SELECT DISTINCT event_type, h FROM daily)
        ) WHERE rn <= 64
    ),
    mest AS ({kmv_estimate_oracle_sql(
        "SELECT event_type, h FROM merged", ["event_type"])}),
    direct AS ({_KMV_DIRECT_DUCK}),
    dest AS ({kmv_estimate_oracle_sql(
        "SELECT event_type, h FROM direct", ["event_type"])})
    SELECT mest.event_type, mest.distinct_est AS merged_est,
           dest.distinct_est AS direct_est,
           CAST(mest.distinct_est = dest.distinct_est AS BOOLEAN)
               AS lossless
    FROM mest JOIN dest USING (event_type)
    """,
)
def kmv_rollup_month_exactness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The stored-rollup story with EXACT verification (the HLL
    rollup's transparent twin): per-(type, day) KMV sketches merge
    to a month sketch whose estimate must equal sketching the raw
    month directly — k-smallest of a union of daily k-smallest IS
    the month's k-smallest, so the merge is provably lossless and
    the whole chain is oracle-checked, no DataSketches binary
    opacity. One distinct shuffle for the dailies; everything after
    is sketch-sized."""
    ev = load_table(spark, sf_dir, "events")
    with_day = ev.withColumn(
        "day", F.col("ts").cast("date").cast("string")
    )
    daily = kmv_sketch(
        with_day, ["event_type", "day"], "CAST(user_id AS STRING)"
    )
    # merge: k smallest distinct hashes per type across the days —
    # the grouped twin of kmv_union (WindowGroupLimit, sketch-sized)
    merged = top_n_window(
        daily.select("event_type", "h").distinct(),
        "event_type", "h", 64, ascending=True, rank_col="__rn",
    ).select("event_type", "h")
    mest = kmv_estimate(merged, ["event_type"], out="merged_est")
    direct = kmv_sketch(ev, ["event_type"], "CAST(user_id AS STRING)")
    dest = kmv_estimate(direct, ["event_type"], out="direct_est")
    return (
        mest.join(dest, "event_type")
        .withColumn(
            "lossless", F.col("merged_est") == F.col("direct_est")
        )
    )


_DD_ORACLE = __import__(
    "top_produce_etl_spark.operators.ddsketch",
    fromlist=["dd_quantiles_oracle_sql"],
).dd_quantiles_oracle_sql(
    "orders", "o_orderpriority", "o_totalprice", [0.5, 0.9, 0.99]
)


@query("ddsketch_price_quantiles", extended=True, oracle=_DD_ORACLE)
def ddsketch_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch quantiles (operators/ddsketch.py): p50/p90/p99 of
    order value per priority from a mergeable log-bucket sketch —
    RELATIVE-error quantiles at any value scale, the rollup-algebra
    complement of the fixed-bin histogram (absolute error) and HLL
    (distincts). Micro-nat integer bucketing makes the whole chain
    oracle-exact; the γ=1.02 guarantee (±2% relative error) is
    gated against exact percentiles in tests/test_ddsketch.py."""
    from top_produce_etl_spark.operators.ddsketch import (
        dd_build,
        dd_quantiles,
    )

    orders = load_table(spark, sf_dir, "orders")
    sk = dd_build(orders, ["o_orderpriority"], "o_totalprice")
    return dd_quantiles(sk, ["o_orderpriority"], [0.5, 0.9, 0.99])


_DD_CELLS_DUCK = """
    SELECT event_type, {b} AS bucket, COUNT(*) AS cnt
    FROM events WHERE value > 0
    GROUP BY 1, 2
""".format(
    b=__import__(
        "top_produce_etl_spark.operators.ddsketch",
        fromlist=["dd_bucket_sql"],
    ).dd_bucket_sql("value")
)


@query("stream_ddsketch_parity", extended=True, oracle=_DD_CELLS_DUCK)
def stream_ddsketch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch built by Structured Streaming
    (streaming/jobs.py::run_ddsketch_stream): grid-bounded
    incremental state whose sink must equal both the batch sketch
    and DuckDB's re-derivation of the log-bucket cells — streaming
    parity AND cross-engine determinism for the quantile sketch in
    one query (the stream_countmin_parity pattern)."""
    from top_produce_etl_spark.streaming.jobs import run_ddsketch_stream

    return run_ddsketch_stream(spark, sf_dir, sink_table="oracle_stream_dd")


def _CMS_JOIN_ORACLE() -> str:
    from top_produce_etl_spark.operators.countmin import (
        cms_cells_oracle_sql,
        cms_join_size_oracle_sql,
    )

    est = cms_join_size_oracle_sql(
        cms_cells_oracle_sql(
            "(SELECT * FROM events WHERE event_type = 'view')", "user_id"
        ),
        cms_cells_oracle_sql(
            "(SELECT * FROM events WHERE event_type = 'click')", "user_id"
        ),
    )
    return f"""
    WITH est AS ({est}),
    ex AS (
        SELECT CAST(SUM(v.n * c.n) AS BIGINT) AS exact_join_size
        FROM (SELECT user_id, COUNT(*) AS n FROM events
              WHERE event_type = 'view' GROUP BY 1) v
        JOIN (SELECT user_id, COUNT(*) AS n FROM events
              WHERE event_type = 'click' GROUP BY 1) c
          ON v.user_id = c.user_id
    )
    SELECT est.est_join_size, ex.exact_join_size,
           est.est_join_size - ex.exact_join_size AS overcount
    FROM est, ex
    """


@query("cms_join_size_view_click", extended=True, oracle=_CMS_JOIN_ORACLE())
def cms_join_size_view_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from stored sketches (r7 —
    operators/countmin.py::cms_join_size, the AMS/CMS inner
    product): |view ⋈ click on user_id| — the genuinely quadratic
    per-user join a pre-flight wants sized BEFORE the shuffle —
    estimated from two depth×width sketch tables alone, no scan of
    either side at estimate time. One-sided (collisions only add);
    exact truth rides along. Fully oracle-checked (portable
    hasher)."""
    from top_produce_etl_spark.operators.countmin import (
        cms_build,
        cms_join_size,
    )
    from top_produce_etl_spark.operators.joins import attach_scalar_row

    ev = load_table(spark, sf_dir, "events")
    view = ev.where(F.col("event_type") == "view")
    click = ev.where(F.col("event_type") == "click")
    est = cms_join_size(
        cms_build(view, "user_id"), cms_build(click, "user_id")
    )
    exact = (
        view.groupBy("user_id").agg(F.count(F.lit(1)).alias("__nv"))
        .join(
            click.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("__nc")
            ),
            "user_id",
        )
        .agg(
            F.sum(F.col("__nv") * F.col("__nc"))
            .cast("bigint")
            .alias("exact_join_size")
        )
    )
    return attach_scalar_row(
        est, exact, "est_join_size", "exact_join_size"
    ).select(
        "est_join_size",
        "exact_join_size",
        (F.col("est_join_size") - F.col("exact_join_size")).alias(
            "overcount"
        ),
    )


_CMS_JOIN_FAST_ORACLE = """
WITH ex AS (
    SELECT CAST(SUM(v.n * c.n) AS BIGINT) AS exact_join_size,
           CAST(SUM(v.n) AS BIGINT) AS nv
    FROM (SELECT user_id, COUNT(*) AS n FROM events
          WHERE event_type = 'view' GROUP BY 1) v
    JOIN (SELECT user_id, COUNT(*) AS n FROM events
          WHERE event_type = 'click' GROUP BY 1) c
      ON v.user_id = c.user_id
), nb AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM events
    WHERE event_type = 'click'
)
SELECT ex.exact_join_size, TRUE AS one_sided_ok, TRUE AS envelope_ok
FROM ex, nb
"""


@query("cms_join_size_fast", extended=True, oracle=_CMS_JOIN_FAST_ORACLE)
def cms_join_size_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of cms_join_size_view_click on the xxhash64
    intrinsic (the countmin_user_fast precedent — the interpreted
    portable polynomial pays its 3-30x tax PER DEPTH, so the
    portable variant is battery-gated and this is the timed entry).
    Error-bound-flag oracle: the estimate is one-sided (collisions
    only add) and must sit inside the AMS collision envelope
    ``exact + 4·Nv·Nc/width`` — Nv·Nc/width bounds ONE depth's
    expected overcount and the min over 4 depths sits far below 4x
    that, so a broken hasher or a dropped-depth bug trips the flag
    long before numerics would."""
    from top_produce_etl_spark.operators.countmin import (
        WIDTH,
        cms_build,
        cms_join_size,
    )
    from top_produce_etl_spark.operators.joins import attach_scalar_row

    ev = load_table(spark, sf_dir, "events")
    view = ev.where(F.col("event_type") == "view")
    click = ev.where(F.col("event_type") == "click")
    est = cms_join_size(
        cms_build(view, "user_id", hasher="xxhash64"),
        cms_build(click, "user_id", hasher="xxhash64"),
    )
    nv = view.count()
    nc = click.count()
    exact = (
        view.groupBy("user_id").agg(F.count(F.lit(1)).alias("__nv"))
        .join(
            click.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("__nc")
            ),
            "user_id",
        )
        .agg(
            F.sum(F.col("__nv") * F.col("__nc"))
            .cast("bigint")
            .alias("exact_join_size")
        )
    )
    return attach_scalar_row(
        est, exact, "est_join_size", "exact_join_size"
    ).select(
        "exact_join_size",
        (F.col("est_join_size") >= F.col("exact_join_size")).alias(
            "one_sided_ok"
        ),
        (
            F.col("est_join_size")
            <= F.col("exact_join_size") + 4.0 * nv * nc / WIDTH
        ).alias("envelope_ok"),
    )
