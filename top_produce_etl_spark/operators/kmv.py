"""KMV (k-minimum-values) distinct sketch with set-intersection
estimation.

HLL (operators/sketches.py) estimates |A| and |A ∪ B| but NOT
|A ∩ B| without inclusion-exclusion error blowup. KMV (the theta-
sketch family: Bar-Yossef et al. 2002, Beyer et al. 2007) keeps the
k smallest distinct hash values of a set; h_k (the k-th smallest,
normalized by hash space M) is a uniform order statistic, so

    distinct ≈ (k-1) · M / h_k        (unbiased KMV estimator)

and — the part HLL cannot do — set EXPRESSIONS: below θ = min of
the two sketches' thresholds, the combined distinct hashes are a
uniform sample of A ∪ B in which every member's per-set membership
is decidable, so |A ∪ B| and |A ∩ B| scale directly from sample
counts (the theta-sketch estimator; see :func:`kmv_overlap`).

Spark-first design (100 TB shape):
- sketch: distinct (group, hash) is one hash-agg shuffle; the
  per-group k-smallest filter is a rank window that Spark executes
  as WindowGroupLimit — bounded per-partition state, no full sort
  materialization.
- everything downstream operates on sketches (k rows per group) —
  merge/union/intersect never touch the raw data again.

Cross-engine determinism: the 56-bit composite portable hash
(functions/portable_hash.py) makes DuckDB compute bit-identical
sketches, and the estimator uses INTEGER division ((k-1)·M DIV h_k,
max (k-1)·2^56 < 2^63), so build + estimate + overlap are fully
oracle-checked with no float tolerance.

Reference parity: the reference's transform core
(src/transform/core.py) is empty; beyond-reference sketch tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.functions.portable_hash import (
    COMPOSITE_BITS,
    composite_hash_col,
    composite_hash_sql,
)
from top_produce_etl_spark.operators.topn import top_n_window

HASH_SPACE = 1 << COMPOSITE_BITS  # 2^56
K = 64
# the estimator's (k-1)·2^56 numerator must stay inside int64
# ((k-1) ≤ 127 ⇒ ≤ 127·2^56 < 2^63); k=128 is already ~8.8% rel.
# std. error — raise COMPOSITE bits, not k, if you need tighter
MAX_K = 128


def _check_k(k: int) -> None:
    if not 1 <= k <= MAX_K:
        raise ValueError(f"k must be in [1, {MAX_K}], got {k}")


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    key_sql: str,
    k: int = K,
    hasher: str = "portable",
) -> DataFrame:
    """Per-group KMV sketch: the k smallest distinct hash values.

    Output: group cols + ``h`` (one row per kept hash, ≤ k rows per
    group). ``key_sql`` is a SQL expression inlined into the hash
    (splits.py convention). Distinct KEYS are identified by distinct
    HASHES — the 56-bit space makes same-group collisions negligible
    and, crucially, deterministic (both engines lose the same ones).

    ``hasher``: "portable" (oracle-checkable cross-engine, the
    battery path) or "xxhash64" (one fused JVM intrinsic masked to
    the same 56-bit space — the production path, ~3× cheaper; the
    simhash/ivf fast-twin precedent). Estimator math is identical.
    """
    _check_k(k)
    if hasher == "xxhash64":
        # xxhash64(NULL) returns the seed, not NULL — guard so NULL
        # keys drop in both paths alike
        h = F.expr(
            f"CASE WHEN ({key_sql}) IS NULL THEN NULL "
            f"ELSE xxhash64({key_sql}) & {HASH_SPACE - 1} END"
        )
    elif hasher == "portable":
        h = composite_hash_col(key_sql)
    else:
        raise ValueError(f"unknown hasher: {hasher!r}")
    hashed = df.select(*group_cols, h.alias("h")).where(
        F.col("h").isNotNull()
    )
    distinct = hashed.distinct()
    if not group_cols:
        # global sketch: sort+limit → TakeOrderedAndProject, a
        # bounded per-partition top-k (a global row_number window
        # would be a data-sized single partition — audit-forbidden)
        return distinct.orderBy(F.col("h").asc()).limit(k)
    return top_n_window(
        distinct, group_cols, "h", k, ascending=True, rank_col="__rn"
    ).select(*group_cols, "h")


def kmv_estimate(
    sketch: DataFrame,
    group_cols: list[str],
    k: int = K,
    out: str = "distinct_est",
) -> DataFrame:
    """Distinct-count estimate per group from its sketch rows.

    Fewer than k kept values means the sketch IS the distinct set —
    the estimate is exact. Otherwise (k-1)·M DIV h_k (integer)."""
    _check_k(k)
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"), F.max("h").alias("__hk")
    )
    # integer DIV, not float /: (k-1)·2^56 exceeds double's 2^53
    # exact-integer range, and Spark casts double→bigint by
    # truncation while DuckDB rounds — DIV sidesteps both.
    est = F.when(F.col("__n") < k, F.col("__n")).otherwise(
        F.expr(f"{(k - 1) * HASH_SPACE}L DIV __hk")
    )
    return agg.select(*group_cols, est.alias(out))


def kmv_union(a: DataFrame, b: DataFrame, k: int = K) -> DataFrame:
    """Union sketch: k smallest of the combined distinct hashes.
    Operates on sketches only (≤ 2k rows in)."""
    _check_k(k)
    both = a.select("h").union(b.select("h")).distinct()
    # sort+limit (TakeOrderedAndProject), not a global window —
    # already sketch-sized here, but the audit rule is uniform
    return both.orderBy(F.col("h").asc()).limit(k)


def _theta_scaled(cnt_col: str, theta_col: str) -> str:
    """Exact integer floor(cnt · M / θ) decomposed to stay inside
    int64:  cnt·(M DIV θ) + (cnt·(M MOD θ)) DIV θ.

    Safe because cnt ≤ 2k ≤ 256 = 2^8, M MOD θ < 2^56, and θ ≥ 2k
    in any realistic regime (θ < 2k would mean ≳2^52 distinct keys;
    callers get a NULL there rather than silent overflow — see the
    guard at the call sites). Both engines evaluate the identical
    integer ops, so the oracle matches bit-for-bit (cross-engine
    check pinned when this landed: Spark DIV == DuckDB // on the
    decomposition for boundary θ values)."""
    return (
        f"{cnt_col} * ({HASH_SPACE}L DIV {theta_col})"
        f" + ({cnt_col} * ({HASH_SPACE}L % {theta_col})) DIV {theta_col}"
    )


def kmv_overlap(
    a: DataFrame, b: DataFrame, k: int = K
) -> DataFrame:
    """One-row |A ∪ B| and |A ∩ B| estimates from two sketches —
    the standard THETA-sketch estimator (Dasgupta et al. 2016
    lineage): θ = min of the two sketches' k-th smallest values
    (M when a sketch holds its whole set), the combined distinct
    hashes below θ form a uniform sample of A ∪ B at inclusion
    probability θ/M, and EVERY sample member's membership in each
    input is decidable (h < θ ≤ that sketch's own threshold), so

        est(S) = |sample ∩ S| · M / θ        (integer-exact DIV)

    — unlike the naive union-sketch resemblance, which cannot decide
    B-membership for hashes past B's threshold and undercounts ρ.
    When both inputs hold their whole sets (θ = M) the estimates are
    exact. θ < 512 (≈2^52+ distinct keys) returns NULL estimates
    instead of risking int64 overflow in the scale-up.
    """
    _check_k(k)
    from top_produce_etl_spark.operators.joins import attach_scalar_row

    a_st = a.agg(F.count(F.lit(1)).alias("__na"), F.max("h").alias("__ha"))
    b_st = b.agg(F.count(F.lit(1)).alias("__nb"), F.max("h").alias("__hb"))
    m = F.lit(HASH_SPACE)
    # every 1-row attach below is a constant-key broadcast HASH join
    # (attach_scalar_row), not a crossJoin — the no-cartesian plan
    # audit stays meaningful; count columns key the joins (never
    # NULL, unlike max(h) on an empty sketch)
    stats = (
        attach_scalar_row(a_st, b_st, "__na", "__nb")
        .withColumn(
            "__theta",
            F.least(
                F.when(F.col("__na") < k, m).otherwise(F.col("__ha")),
                F.when(F.col("__nb") < k, m).otherwise(F.col("__hb")),
            ),
        )
        .select("__theta")
    )
    hashes = a.select("h").union(b.select("h")).distinct()
    sample = attach_scalar_row(hashes, stats, "h", "__theta").where(
        F.col("h") < F.col("__theta")
    )
    u_cnt = sample.agg(F.count(F.lit(1)).alias("__uc"))
    i_cnt = (
        sample.join(a.select("h").distinct(), "h", "left_semi")
        .join(b.select("h").distinct(), "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("__ic"))
    )
    est = (
        attach_scalar_row(
            attach_scalar_row(u_cnt, i_cnt, "__uc", "__ic"),
            stats.select(F.col("__theta").alias("__theta")),
            "__uc",
            "__theta",
        )
        .withColumn(
            "union_est",
            F.when(F.col("__theta") == m, F.col("__uc"))
            .when(F.col("__theta") < 512, F.lit(None).cast("bigint"))
            .otherwise(F.expr(_theta_scaled("__uc", "__theta"))),
        )
        .withColumn(
            "inter_est",
            F.when(F.col("__theta") == m, F.col("__ic"))
            .when(F.col("__theta") < 512, F.lit(None).cast("bigint"))
            .otherwise(F.expr(_theta_scaled("__ic", "__theta"))),
        )
    )
    return est.select("union_est", "inter_est")


def kmv_sketch_oracle_sql(
    from_sql: str,
    group_sql: list[str],
    key_sql: str,
    k: int = K,
) -> str:
    """DuckDB CTE body producing the identical sketch rows."""
    h = composite_hash_sql(f"CAST({key_sql} AS VARCHAR)")
    gsel = ", ".join(group_sql)
    gpart = f"PARTITION BY {gsel}" if group_sql else ""
    prefix = f"{gsel}, " if group_sql else ""
    return f"""
        SELECT {prefix}h FROM (
            SELECT {prefix}h,
                   row_number() OVER ({gpart} ORDER BY h) AS rn
            FROM (SELECT DISTINCT {prefix}({h}) AS h
                  FROM {from_sql}
                  WHERE {key_sql} IS NOT NULL)
        ) WHERE rn <= {k}
    """


def kmv_estimate_oracle_sql(
    sketch_sql: str, group_sql: list[str], k: int = K
) -> str:
    """DuckDB estimator over a sketch CTE (same integer math)."""
    gsel = ", ".join(group_sql)
    prefix = f"{gsel}, " if group_sql else ""
    gby = f"GROUP BY {gsel}" if group_sql else ""
    return f"""
        SELECT {prefix}
               CASE WHEN COUNT(*) < {k} THEN COUNT(*)
                    ELSE {(k - 1) * HASH_SPACE} // MAX(h)
               END AS distinct_est
        FROM ({sketch_sql}) {gby}
    """
