"""In-engine language-identification queries (round 10 —
operators/langid.py): multi-head one-vs-rest training and the
train-then-score confusion census, both hash-checked against the
unrolled DuckDB training oracle on a deterministic multi-language
corpus with planted lexicons (so the diagonal structure is real,
not fixture luck)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top_produce_etl_spark.io.sources import load_table
from top_produce_etl_spark.operators.langid import (
    langid_confusion_oracle_sql,
    score_langid,
    synthesize_lang_corpus,
    synthesize_lang_corpus_oracle,
    train_langid,
    train_langid_oracle_sql,
)
from top_produce_etl_spark.queries import query

ITERS = 3
N_BUCKETS = 64
LR = (1, 4)

_CORPUS_CTE = (
    f"lang_corpus AS ({synthesize_lang_corpus_oracle('documents')})"
)


@query(
    "langid_train",
    extended=True,
    oracle=train_langid_oracle_sql(
        "lang_corpus", iters=ITERS, n_buckets=N_BUCKETS, lr=LR,
        pre_ctes=_CORPUS_CTE,
    ),
)
def langid_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN language identification inside the engine (round 10,
    closing the r9 verdict gap: ``lang`` stops being a given fixture
    column). All 5 one-vs-rest heads train in ONE loop over hashed
    char-trigram features: per iteration one scan of the persisted
    per-doc feature arrays (every head's z map-side from literal
    weight maps), one |buckets|-wide shuffle carrying 5 gradient
    columns, one model-sized collect. Integer micro-unit arithmetic
    end to end — the returned (lang, bucket, w_micro) model
    hash-matches the unrolled DuckDB gradient-descent oracle bit for
    bit."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = synthesize_lang_corpus(docs)
    model = train_langid(
        corpus, iters=ITERS, n_buckets=N_BUCKETS, lr=LR
    )
    return model


@query(
    "langid_confusion",
    extended=True,
    oracle=langid_confusion_oracle_sql(
        "lang_corpus", iters=ITERS, n_buckets=N_BUCKETS, lr=LR,
        pre_ctes=_CORPUS_CTE,
    ),
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-score confusion census: every document scored by
    all 5 trained heads in one broadcast-model join + one per-doc
    aggregate (5 conditional sums, argmax as an array_min over
    (−z, lang) structs — deterministic, no second shuffle), rolled
    up by (true, predicted) with the winning-z mass integers so the
    scores are hash-checked, not just the argmax. On the planted
    corpus the matrix is exactly diagonal — recovered language
    structure, pinned by the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = synthesize_lang_corpus(docs)
    # the trainer's persisted per-doc feature arrays hold the exact
    # (id, bucket, c) rows the scoring pass needs — explode them
    # instead of re-deriving _char_features from the corpus (one
    # corpus scan + n-gram hash pass saved; guide §2.4)
    cap: list = []
    model = train_langid(
        corpus, iters=ITERS, n_buckets=N_BUCKETS, lr=LR, feats_out=cap
    )
    feats_raw = cap[0].select(
        "id", F.explode("fx").alias("__s")
    ).select(
        "id",
        F.col("__s.bucket").alias("bucket"),
        F.col("__s.c").alias("c"),
    )
    scored = score_langid(
        corpus, model, n_buckets=N_BUCKETS, feats=feats_raw
    )
    out = (
        scored.join(
            corpus.select(
                F.col("doc_id").alias("id"),
                F.col("lang").alias("lang_true"),
            ),
            "id",
        )
        .groupBy("lang_true", "pred_lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("z_micro").cast("bigint").alias("sum_z_micro"),
            F.min("z_micro").cast("bigint").alias("min_z_micro"),
            F.max("z_micro").cast("bigint").alias("max_z_micro"),
        )
    )
    return out


# --- Stored-model serving (round 11) ---

def _STORED_SERVE_ORACLE() -> str:
    from top_produce_etl_spark.operators.langid import (
        langid_stored_serve_oracle_sql,
    )

    return langid_stored_serve_oracle_sql(
        synthesize_lang_corpus_oracle("documents"),
        n_buckets=N_BUCKETS, iters=ITERS, lr=LR,
    )


@query(
    "langid_stored_model_serve", extended=True,
    oracle=_STORED_SERVE_ORACLE(),
)
def langid_stored_model_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stored-model langid serving (round 11 — the production
    train/serve split as a parquet ARTIFACT, completing the
    stored-lifecycle triple beside the PQ index and the frozen
    surprisal cutoffs): train on the even-id slice, SAVE the
    (lang, bucket, w_micro) weight relation, LOAD it back, score
    the held-out odd-id slice from the loaded artifact. The
    confusion census hash-matches the DuckDB twin that re-trains on
    the even slice in unrolled MATERIALIZED CTEs and scores the odd
    slice — a lossy save/load (dropped weights, type drift) cannot
    pass."""
    import hashlib
    import os
    import tempfile

    from top_produce_etl_spark.operators.langid import (
        load_langid_model,
        save_langid_model,
        train_langid,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = synthesize_lang_corpus(docs)
    train = corpus.where(F.col("doc_id") % 2 == 0)
    held = corpus.where(F.col("doc_id") % 2 == 1)
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(
        tempfile.gettempdir(), f"tp_langid_model_{digest}"
    )
    save_langid_model(
        train_langid(train, iters=ITERS, n_buckets=N_BUCKETS, lr=LR),
        path,
    )
    model = load_langid_model(spark, path)
    scored = score_langid(held, model, n_buckets=N_BUCKETS)
    out = (
        scored.join(
            held.select(
                F.col("doc_id").alias("id"),
                F.col("lang").alias("lang_true"),
            ),
            "id",
        )
        .groupBy("lang_true", "pred_lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("z_micro").cast("bigint").alias("sum_z_micro"),
            F.min("z_micro").cast("bigint").alias("min_z_micro"),
            F.max("z_micro").cast("bigint").alias("max_z_micro"),
        )
    )
    return out
