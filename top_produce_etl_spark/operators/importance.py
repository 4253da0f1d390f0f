"""DSIR-style importance resampling for training-data selection.

Data Selection with Importance Resampling (Xie et al., NeurIPS
2023, public paper): select raw-corpus documents whose hashed
n-gram distribution looks like a TARGET corpus. Both distributions
are bagged into B hash buckets; each bucket gets a log importance
weight

    λ_b = log p_target(b) − log p_raw(b)        (add-1 smoothed)

and a document's score is the sum of λ over its token occurrences.
Selection = top-N by score (deterministic) or Gumbel-max resampling
(sample ∝ exp(score) — the classic Gumbel trick: perturb each score
with G = −ln(−ln u) and take the top-N of the perturbed scores).

Spark-first design (100 TB shape):
- featurize: explode tokens → bucket via the portable hash; ONE
  (bucket) hash-agg per distribution — partial aggregation caps the
  shuffle at tasks × B rows (B defaults to 512).
- the λ relation is EXACTLY B rows — fixed cardinality, broadcast
  unconditionally (nation/region-class, not SF-scaled).
- score: one (doc, bucket) explode joined map-side against the
  broadcast λ, then a per-doc sum — a single data-sized shuffle.
- no data-sized driver state; the model (λ) never leaves the JVM.

Cross-engine determinism: the micro-nat fixed-point discipline of
operators/retrieval.py::unigram_surprisal — every log is rounded to
an integer number of micro-nats FIRST (L(x) = round(ln x · 1e6)),
so per-doc totals are associative integer sums and DuckDB matches
bit-for-bit. Gumbel noise derives from the portable hash of the
doc id (u = (h + 0.5) / 2^56), so the "random" resample is also
fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.functions.portable_hash import (
    COMPOSITE_BITS,
    composite_hash_col,
    composite_hash_sql,
)

BUCKETS = 512
INFO_SCALE = 1_000_000  # micro-nats
_HASH_SPACE = 1 << COMPOSITE_BITS


def _L(col):  # micro-nat fixed-point log (same contract as retrieval.py)
    return F.round(F.log(col.cast("double")) * INFO_SCALE).cast("bigint")


def _tok_bucket(buckets: int, hasher: str) -> Column:
    """The bucket of the exploded ``__tok`` column: "portable" (oracle
    path) or "xxhash64" (production path — one fused JVM intrinsic
    per token; a different but equally valid bucketing, so scores
    shift slightly while the selection signal is preserved —
    parity-tested)."""
    if hasher == "xxhash64":
        return F.pmod(F.xxhash64("__tok"), F.lit(buckets))
    if hasher == "portable":
        return composite_hash_col("__tok") % buckets
    raise ValueError(f"unknown hasher: {hasher!r}")


def _doc_buckets(
    docs: DataFrame, id_col: str, text_col: str, buckets: int,
    hasher: str = "portable",
) -> DataFrame:
    """(id, bucket): one row per token occurrence. Whitespace
    tokenization (functions/text.py convention); empty tokens from
    consecutive/leading/trailing spaces are FILTERED on both engines
    — the portable hash's sequence(1,0)/element_at machinery is
    undefined at length 0 (Spark raises INVALID_INDEX_OF_ZERO where
    DuckDB silently yields NULL), so the only cross-engine-safe
    contract is to drop them symmetrically.

    ``hasher``: see :func:`_tok_bucket`."""
    bucket = _tok_bucket(buckets, hasher)
    tok = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
    ).where(F.col("__tok") != "")
    return tok.select(F.col(id_col), bucket.alias("bucket"))


def bucket_log_ratios(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: str,
    buckets: int = BUCKETS,
    hasher: str = "portable",
) -> DataFrame:
    """The fitted model: B rows of (bucket, lambda_micro).

    λ_micro = [L(c_tgt+1) − L(T_tgt+B)] − [L(c_raw+1) − L(T_raw+B)]
    with c the bucket counts, T the total counts, add-1 smoothing
    over the full bucket domain (absent buckets count 0 — the domain
    is materialized from sequence(), not from observed rows).

    The target flag rides the token explode as a plain column — no
    join back to the corpus on doc id (that would be a second
    data-sized shuffle purely to re-attach a predicate the scan
    already evaluates)."""
    bucket = _tok_bucket(buckets, hasher)
    tb = (
        docs.select(
            F.expr(target_pred).alias("__is_tgt"),
            F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
        )
        .where(F.col("__tok") != "")  # see _doc_buckets: length-0-unsafe hash
        .select(F.col("__is_tgt"), bucket.alias("bucket"))
    )
    counts = tb.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.when(F.col("__is_tgt"), 1).otherwise(0)).alias("c_tgt"),
    )
    domain = counts.sparkSession.range(buckets).select(
        F.col("id").alias("bucket")
    )
    # Broadcast the BUILD side (counts, bounded by the bucket domain):
    # Spark cannot build-side-broadcast the preserved side of a LEFT
    # OUTER join, so hinting `domain` would be silently ignored.
    full = domain.join(F.broadcast(counts), "bucket", "left").select(
        "bucket",
        F.coalesce("c_raw", F.lit(0)).alias("c_raw"),
        F.coalesce("c_tgt", F.lit(0)).alias("c_tgt"),
    )
    totals = full.agg(
        F.sum("c_raw").alias("t_raw"), F.sum("c_tgt").alias("t_tgt")
    )
    from top_produce_etl_spark.operators.joins import attach_scalar_row

    lam = (
        # 1-row totals attach as a constant-key broadcast HASH join
        # (not crossJoin — keeps the no-cartesian plan audit green)
        attach_scalar_row(full, totals, "c_raw", "t_raw")
        .select(
            "bucket",
            (
                (_L(F.col("c_tgt") + 1) - _L(F.col("t_tgt") + buckets))
                - (_L(F.col("c_raw") + 1) - _L(F.col("t_raw") + buckets))
            ).alias("lambda_micro"),
        )
    )
    return lam


def dsir_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: str,
    buckets: int = BUCKETS,
    hasher: str = "portable",
) -> DataFrame:
    """(id, n_tokens, score_micro): per-doc importance score =
    integer sum of its token buckets' λ. The λ relation is exactly
    ``buckets`` rows → unconditional broadcast."""
    lam = bucket_log_ratios(
        docs, id_col, text_col, target_pred, buckets, hasher
    )
    tb = _doc_buckets(docs, id_col, text_col, buckets, hasher)
    return (
        tb.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lambda_micro").alias("score_micro"),
        )
    )


def gumbel_micro(id_sql: str, salt: str = "dsir-g1"):
    """Integer micro-nat Gumbel(0,1) noise from the portable hash:
    u = (h + 0.5) / 2^56 (never 0 or 1), G = −ln(−ln u)."""
    h = composite_hash_col(f"concat('{salt}', CAST({id_sql} AS STRING))")
    u = (h.cast("double") + 0.5) / float(_HASH_SPACE)
    return F.round(-F.log(-F.log(u)) * INFO_SCALE).cast("bigint")


def gumbel_micro_sql(id_sql: str, salt: str = "dsir-g1") -> str:
    """DuckDB twin of :func:`gumbel_micro`."""
    h = composite_hash_sql(
        f"concat('{salt}', CAST({id_sql} AS VARCHAR))"
    )
    u = f"((({h}) + 0.5) / {float(_HASH_SPACE)})"
    return f"CAST(round(-ln(-ln({u})) * {INFO_SCALE}) AS BIGINT)"


def bucket_log_ratios_oracle_sql(
    docs_sql: str,
    id_sql: str,
    text_sql: str,
    target_pred: str,
    buckets: int = BUCKETS,
) -> str:
    """DuckDB CTE body for the λ relation (bit-identical)."""
    h = composite_hash_sql("__tok")
    return f"""
        WITH tb AS (
            SELECT {id_sql} AS id, ({h}) % {buckets} AS bucket,
                   ({target_pred}) AS __is_tgt
            FROM (SELECT *, unnest(string_split({text_sql}, ' '))
                         AS __tok
                  FROM {docs_sql})
            WHERE __tok <> ''
        ),
        counts AS (
            SELECT bucket, COUNT(*) AS c_raw,
                   SUM(CASE WHEN __is_tgt THEN 1 ELSE 0 END) AS c_tgt
            FROM tb GROUP BY 1
        ),
        full_dom AS (
            SELECT d.bucket, COALESCE(c.c_raw, 0) AS c_raw,
                   COALESCE(c.c_tgt, 0) AS c_tgt
            FROM (SELECT unnest(range({buckets})) AS bucket) d
                 LEFT JOIN counts c USING (bucket)
        ),
        tot AS (SELECT SUM(c_raw) AS t_raw, SUM(c_tgt) AS t_tgt
                FROM full_dom)
        SELECT bucket,
               (CAST(round(ln(c_tgt + 1) * {INFO_SCALE}) AS BIGINT)
                - CAST(round(ln(t_tgt + {buckets}) * {INFO_SCALE})
                       AS BIGINT))
               - (CAST(round(ln(c_raw + 1) * {INFO_SCALE}) AS BIGINT)
                  - CAST(round(ln(t_raw + {buckets}) * {INFO_SCALE})
                         AS BIGINT)) AS lambda_micro
        FROM full_dom, tot
    """


def dsir_scores_oracle_sql(
    docs_sql: str,
    id_sql: str,
    text_sql: str,
    target_pred: str,
    buckets: int = BUCKETS,
) -> str:
    """DuckDB twin of :func:`dsir_scores` (reuses the λ CTE)."""
    h = composite_hash_sql("__tok")
    lam = bucket_log_ratios_oracle_sql(
        docs_sql, id_sql, text_sql, target_pred, buckets
    )
    return f"""
        WITH lam AS ({lam}),
        tb2 AS (
            SELECT {id_sql} AS id, ({h}) % {buckets} AS bucket
            FROM (SELECT *, unnest(string_split({text_sql}, ' '))
                         AS __tok
                  FROM {docs_sql})
            WHERE __tok <> ''
        )
        SELECT tb2.id, COUNT(*) AS n_tokens,
               SUM(lam.lambda_micro) AS score_micro
        FROM tb2 JOIN lam USING (bucket)
        GROUP BY tb2.id
    """


def effective_sample_size(
    df: DataFrame,
    weight_sql: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Kish effective sample size of an importance-weighted slice —
    the one-number diagnostic every reweighted corpus needs BEFORE
    training on it: ``ESS = (Σw)² / Σw²`` collapses toward 1 when a
    few rows carry all the mass (the mixture is really that handful
    of documents resampled) and equals n under uniform weights. Run
    it on DSIR/mixture weights to catch a degenerate reweighting at
    plan time instead of as a training-loss mystery.

    Determinism contract: weights pass through DECIMAL(28,6) for
    both moments, the ratio divides once in double and rounds to 1e3
    fixed point — bit-identical cross-engine. One hash-agg (or one
    global agg) — nothing data-sized moves.

    Output: (group_cols…, n, ess_milli, ess_ratio_milli) — ratio =
    ESS/n in 1e3 fixed point (1000 = uniform, →0 = degenerate).
    """
    group_cols = group_cols or []
    w = F.expr(weight_sql).cast("decimal(28,6)")
    base = df.select(*group_cols, w.alias("__w")).where(
        F.col("__w").isNotNull() & (F.col("__w") >= 0)
    )
    agg = (
        base.groupBy(*group_cols)
        if group_cols
        else base.groupBy()
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__w").cast("double").alias("__s1"),
        F.sum(F.col("__w") * F.col("__w")).cast("double").alias("__s2"),
    )
    ess = (F.col("__s1") * F.col("__s1")) / F.col("__s2")
    return agg.select(
        *group_cols,
        "n",
        F.round(ess * 1000.0).cast("bigint").alias("ess_milli"),
        F.round(ess / F.col("n") * 1000.0)
        .cast("bigint")
        .alias("ess_ratio_milli"),
    )
