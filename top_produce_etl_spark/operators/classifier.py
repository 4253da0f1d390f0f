"""In-engine trained quality classifier (round 9): logistic-style
regression over hashed bag-of-words features, trained by full-batch
gradient descent INSIDE the engine — the fasttext-shaped quality
gate of a training-data pipeline (score every document, keep the
top fraction), with the training loop itself expressed as
aggregations.

Why a *quasi*-logistic link: the standard sigmoid needs exp(), and
two engines' exp() may differ in the last ulp — enough to break a
bit-exact training oracle after a few iterations. The fast sigmoid

    s(z) = 1/2 + z / (2·(1 + |z|))

is ALGEBRAIC (one abs, one add, one divide), and this implementation
evaluates it entirely in scaled INT64 arithmetic (micro-units,
truncated division — Spark ``div`` and DuckDB ``//`` both truncate
toward zero), so every weight after every iteration is bit-identical
across engines, partition counts, and row orders. Same link shape,
same monotonicity, same [0,1] range; the gradient uses the
prediction error exactly as logistic regression does.

This module also holds the ONE integer-GD core of every hashed linear
model in the package: :func:`_hashed_counts` builds the (doc, bucket,
count) feature relation from any token-array column, and
:func:`_train_heads` trains K quasi-logistic heads over it in one
loop. The quality classifier is its one-head case over space tokens;
the language identifier (operators/langid.py) is its |langs|-head
case over character n-grams.

Scale design (the 100 TB lens):
- The per-doc feature arrays are built ONCE (one tokenize + one
  hash-agg) and persisted via the house ``_cache`` registry — every
  GD iteration re-reads them instead of re-deriving the corpus scan
  (the unigram-surprisal lesson from round 8).
- Each iteration is one scan of that relation (every head's z and
  error computed map-side from literal weight arrays) and one
  |buckets|-wide shuffle for the gradients; NO corpus-sized state
  ever sits on the driver. The per-iteration collect is the weight
  vector itself (B+1 rows per head — model-sized, the k-means/kcenter
  precedent).
- Buckets use the engine-portable polynomial hash so training is
  oracle-checkable; a production run swaps in xxhash64 (the
  countmin/kmv/dsir fast-twin convention) with the same plan.

Reference scope: the reference engine has no trainable component at
all (its core transform is empty — src/transform/top3_logic.py);
this family is part of the §2.12 beyond-reference surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.functions.portable_hash import (
    portable_hash_spark_sql,
    portable_hash_sql,
)
from top_produce_etl_spark.operators._cache import persist_tracked

MICRO = 1_000_000
BIAS_BUCKET = -1


def _hashed_counts(
    docs: DataFrame,
    id_col: str,
    toks: Column,
    n_buckets: int,
    hash_mode: str = "portable",
) -> DataFrame:
    """(id, bucket, c) hashed counts of the token-array column ``toks``
    + one bias row per doc — the feature relation of every hashed
    linear model here (space tokens for the quality classifier,
    character n-grams for langid). ``hash_mode="xxhash64"`` is the
    production bucket hash (one JVM intrinsic per token — the
    countmin/kmv/dsir fast-twin convention); "portable" is the
    polynomial hash the DuckDB training oracles can replay."""
    # Drop empty tokens (doubled/leading/trailing spaces): Spark would
    # hash '' to bucket 0 while DuckDB's list_sum over an empty range
    # is NULL, silently diverging the bit-exact training oracle on
    # such corpora (round-10 ADVICE fix — filtered on BOTH engines).
    # A char n-gram (n >= 1) is never empty, so langid is unaffected.
    exploded = docs.select(
        F.col(id_col).alias("id"), F.explode(toks).alias("tok")
    ).where(F.col("tok") != "")
    if hash_mode == "xxhash64":
        bucket = (
            F.pmod(F.xxhash64(F.col("tok")), F.lit(n_buckets))
        ).cast("int")
    elif hash_mode == "portable":
        bucket = (
            F.expr(portable_hash_spark_sql("tok")) % F.lit(n_buckets)
        ).cast("int")
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    counts = (
        exploded.select("id", bucket.alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    bias = docs.select(
        F.col(id_col).alias("id"),
        F.lit(BIAS_BUCKET).cast("int").alias("bucket"),
        F.lit(1).cast("bigint").alias("c"),
    )
    return counts.unionByName(bias)


def _sigma_micro_expr(z_col: str) -> str:
    """Fast sigmoid in micro-units, pure int64: s_micro =
    500000 + (z_micro * 1e6) div (2 * (1e6 + |z_micro|)). Truncated
    division matches DuckDB ``//`` exactly, negatives included."""
    return (
        f"500000 + (({z_col} * {MICRO}L) div "
        f"(2 * ({MICRO}L + abs({z_col}))))"
    )


def _train_heads(
    docs: DataFrame,
    id_col: str,
    counts: DataFrame,
    label: Column,
    targets: list[Column],
    n_buckets: int,
    iters: int,
    lr: tuple[int, int],
    feats_out: list | None = None,
) -> list[dict[int, int]]:
    """The integer-GD core shared by every hashed linear model: trains
    ``len(targets)`` quasi-logistic heads over the (id, bucket, c)
    relation ``counts`` in ONE loop and returns one driver-side
    ``{bucket: w_micro}`` per head. ``label`` is a named per-doc
    column over ``docs`` persisted beside the feature arrays;
    ``targets[h]`` is head h's bigint target in micro-units over that
    column. ``lr`` is a RATIONAL learning rate (num, den) so the
    weight update stays integer:

        w ← w − (num · Σ_d err_micro_d · x_db) div (den · N)

    Integer sums are exact and commutative, so the trained weights
    are independent of partitioning — the property that makes the
    unrolled DuckDB training oracles bit-identical.

    ``feats_out``: pass a list to receive the PERSISTED per-doc
    relation (id, fx: array<struct<bucket,c>>, label)."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    lr_num, lr_den = lr
    # Persisted ONCE as per-doc feature ARRAYS with the label inline:
    # each iteration then scans this relation exactly once, computes
    # z and the error map-side from a literal weight array, and pays a
    # single |buckets|-wide shuffle for the gradient — the minimal
    # per-iteration plan (an earlier (doc,bucket)-rows formulation
    # paid an id-keyed join per iteration; at the 5k-doc bench
    # fixture that was ~2x this loop's wall).
    feats = persist_tracked(
        counts.groupBy("id")
        .agg(F.collect_list(F.struct("bucket", "c")).alias("fx"))
        .join(docs.select(F.col(id_col).alias("id"), label), "id")
    )
    if feats_out is not None:
        feats_out.append(feats)
    n_docs = docs.count()
    heads = range(len(targets))
    # w_micro per head, driver-side
    w = [{b: 0 for b in range(-1, n_buckets)} for _ in heads]
    for _ in range(iters):
        per_doc = feats
        for h in heads:
            # weights enter as a LITERAL ARRAY folded into the
            # expression tree — no broadcast relation, no extra job
            # per iteration. Array, not map (guide §1.2 "per-task
            # work"): the z fold is an interpreted higher-order
            # lambda, and element_at on a literal map LINEAR-SCANS all
            # |buckets|+1 keys per feature element, while
            # element_at(array, bucket+2) is an O(1) index (buckets
            # are -1..n_buckets-1 by construction, so the 1-based
            # offset is bucket+2; measured in OPTIMIZATION_r11.md).
            # Same integer weights, bit-identical training.
            w_arr = F.array(
                *[F.lit(w[h][b]) for b in range(-1, n_buckets)]
            )
            z = F.aggregate(
                F.col("fx"),
                F.lit(0).cast("bigint"),
                lambda acc, s: acc
                + s.getField("c")
                * F.element_at(w_arr, s.getField("bucket") + 2),
            )
            per_doc = per_doc.withColumn(f"__z{h}", z).withColumn(
                f"__e{h}",
                F.expr(_sigma_micro_expr(f"__z{h}")) - targets[h],
            )
        grad = (
            per_doc.select(
                F.explode("fx").alias("s"),
                *[F.col(f"__e{h}") for h in heads],
            )
            .groupBy(F.col("s.bucket").alias("bucket"))
            .agg(
                *[
                    F.sum(F.col("s.c") * F.col(f"__e{h}")).alias(f"g{h}")
                    for h in heads
                ]
            )
            .collect()
        )
        step_den = lr_den * n_docs
        for row in grad:  # |buckets|+1 rows x heads — model-sized
            for h in heads:
                step_num = lr_num * row[f"g{h}"]
                q = abs(step_num) // step_den  # truncate toward zero
                w[h][row["bucket"]] -= q if step_num >= 0 else -q
    return w


def train_quasi_logreg(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = 32,
    iters: int = 3,
    lr: tuple[int, int] = (1, 2),
    hash_mode: str = "portable",
) -> DataFrame:
    """Train the hashed-feature quasi-logistic classifier; returns
    the model relation (bucket, w_micro) with ``bucket = -1`` the
    bias. ``label_col`` must be 0/1. The one-head case of
    :func:`_train_heads` (target ``label · 1e6``; ``lr`` the rational
    learning rate (num, den)), so the model is bit-identical to
    :func:`train_quasi_logreg_oracle_sql`'s."""
    counts = _hashed_counts(
        docs, id_col, F.split(F.col(text_col), " "), n_buckets, hash_mode
    )
    y_micro = (F.col(label_col).cast("bigint") * MICRO).alias("y_micro")
    (w,) = _train_heads(
        docs, id_col, counts, y_micro, [F.col("y_micro")], n_buckets,
        iters, lr,
    )
    return docs.sparkSession.createDataFrame(
        sorted(w.items()), "bucket int, w_micro bigint"
    )


def score_quasi_logreg(
    docs: DataFrame,
    model: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 32,
    hash_mode: str = "portable",
) -> DataFrame:
    """Score documents with a trained model: (id, score_micro, pred)
    where score is the fast-sigmoid probability in micro-units and
    pred = 1 iff score_micro >= 500000. One broadcast join + one
    per-doc sum — scan-speed inference, the shape a 100 TB quality
    sweep needs."""
    feats = _hashed_counts(
        docs, id_col, F.split(F.col(text_col), " "), n_buckets, hash_mode
    )
    z = (
        feats.join(F.broadcast(model), "bucket")
        .groupBy("id")
        .agg(F.sum(F.col("c") * F.col("w_micro")).alias("z_micro"))
    )
    return z.select(
        "id",
        F.expr(_sigma_micro_expr("z_micro")).alias("score_micro"),
        F.when(
            F.expr(_sigma_micro_expr("z_micro")) >= 500000, F.lit(1)
        ).otherwise(F.lit(0)).alias("pred"),
    )


def _duck_sigma(z_sql: str) -> str:
    """DuckDB twin of the integer fast sigmoid. DuckDB ``//``
    truncates toward zero on integers, matching Spark ``div``."""
    return (
        f"500000 + (({z_sql} * {MICRO}) // "
        f"(2 * ({MICRO} + abs({z_sql}))))"
    )


def train_quasi_logreg_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    label_sql: str = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
    n_buckets: int = 32,
    iters: int = 3,
    lr: tuple[int, int] = (1, 2),
    final_select: str | None = None,
) -> str:
    """DuckDB twin of the WHOLE training loop, iterations unrolled as
    CTEs (the unrolled-Lloyd k-means precedent), each MATERIALIZED —
    w_t is referenced twice per step (directly and through the
    gradient chain), so an inlining planner would otherwise pay
    2^iters plan copies: identical integer arithmetic, so the returned (bucket, w_micro) model hash-matches
    the Spark-trained one bit for bit. ``final_select`` (optional)
    replaces the default model SELECT with a consumer query over the
    final weight CTE ``w{iters}`` (used by the scoring oracle)."""
    lr_num, lr_den = lr
    h = portable_hash_sql("tok")
    parts = [f"""
feats AS MATERIALIZED (
    SELECT id, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT {id_col} AS id,
               CAST(({h}) % {n_buckets} AS INT) AS bucket
        FROM (SELECT {id_col},
                     unnest(string_split({text_col}, ' ')) AS tok
              FROM {table})
        WHERE tok <> ''
    ) GROUP BY 1, 2
    UNION ALL
    SELECT {id_col} AS id, {BIAS_BUCKET} AS bucket, 1 AS c
    FROM {table}
),
labels AS MATERIALIZED (
    SELECT {id_col} AS id,
           CAST(({label_sql}) AS BIGINT) * {MICRO} AS y_micro
    FROM {table}
),
n AS (SELECT COUNT(*) AS n_docs FROM labels),
buckets AS (
    SELECT CAST(i AS INT) AS bucket
    FROM unnest(range({BIAS_BUCKET}, {n_buckets})) t(i)
),
w0 AS (SELECT bucket, CAST(0 AS BIGINT) AS w_micro FROM buckets)"""]
    for t in range(1, iters + 1):
        prev, cur = f"w{t - 1}", f"w{t}"
        sig = _duck_sigma("z.z_micro")
        parts.append(f"""
z{t} AS MATERIALIZED (
    SELECT f.id, SUM(f.c * w.w_micro) AS z_micro
    FROM feats f JOIN {prev} w USING (bucket)
    GROUP BY 1
),
e{t} AS MATERIALIZED (
    SELECT z.id, ({sig}) - l.y_micro AS err_micro
    FROM z{t} z JOIN labels l USING (id)
),
g{t} AS MATERIALIZED (
    SELECT f.bucket, SUM(f.c * e.err_micro) AS g
    FROM feats f JOIN e{t} e USING (id)
    GROUP BY 1
),
{cur} AS MATERIALIZED (
    SELECT w.bucket,
           w.w_micro - (
               CASE WHEN {lr_num} * COALESCE(g.g, 0) >= 0
                    THEN ({lr_num} * COALESCE(g.g, 0))
                         // ({lr_den} * n.n_docs)
                    ELSE -((-({lr_num} * COALESCE(g.g, 0)))
                           // ({lr_den} * n.n_docs)) END
           ) AS w_micro
    FROM {prev} w CROSS JOIN n
    LEFT JOIN g{t} g USING (bucket)
)""")
    body = ",".join(parts)
    tail = final_select or (
        f"SELECT bucket, w_micro FROM w{iters}"
    )
    return f"WITH {body}\n{tail}"


def score_quasi_logreg_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    label_sql: str = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
    n_buckets: int = 32,
    iters: int = 3,
    lr: tuple[int, int] = (1, 2),
) -> str:
    """DuckDB twin of train-then-score: reuses the training CTE chain
    and extends it with the final scoring join — a confusion-matrix
    rollup of the trained model's predictions against the labels,
    with per-cell score-mass integers so the probabilities are
    hash-checked, not just the argmax."""
    sig = _duck_sigma("z.z_micro")
    final = f"""SELECT y, pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score_micro) AS BIGINT) AS sum_score_micro,
           CAST(MIN(score_micro) AS BIGINT) AS min_score_micro,
           CAST(MAX(score_micro) AS BIGINT) AS max_score_micro
    FROM (
        SELECT z.id, ({sig}) AS score_micro,
               CASE WHEN ({sig}) >= 500000 THEN 1 ELSE 0 END AS pred,
               l.y_micro // {MICRO} AS y
        FROM (
            SELECT f.id, SUM(f.c * w.w_micro) AS z_micro
            FROM feats f JOIN w{iters} w USING (bucket)
            GROUP BY 1
        ) z JOIN labels l USING (id)
    ) GROUP BY 1, 2"""
    return train_quasi_logreg_oracle_sql(
        table, id_col, text_col, label_sql, n_buckets, iters, lr,
        final_select=final,
    )
