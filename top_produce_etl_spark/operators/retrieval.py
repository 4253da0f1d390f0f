"""Ranked-retrieval scoring: BM25 against a fixed query, TF-IDF
term weighting (SURVEY.md §2.11 text-analysis tier; the relevance
side of a training-data curation pipeline — e.g. scoring documents
against quality/topic probe queries before sampling).

Scale design:

- **BM25 vs a small literal query** is a pure broadcast pattern:
  the only corpus-level state is (n_docs, total_doc_len, df per
  query term) — a handful of scalars. One single-row aggregate scan
  computes them; they come back as a broadcast 1-row table joined on
  a literal key (BroadcastHashJoin — an equi-join on a constant,
  NOT a nested-loop cartesian), and scoring is a narrow per-row
  codegen expression. Two corpus scans, ONE 1-row shuffle, zero
  wide shuffles: per-document term frequencies never leave their
  row (``F.filter`` over the token array instead of
  explode+groupBy).
- **TF-IDF** genuinely needs the (doc, term) matrix, so it earns
  its explode+groupBy shuffle; document frequencies aggregate to
  |vocabulary| rows, which broadcast back (natural-language vocab
  is ~1e6 terms — driver-safe) so the big (doc, term) side never
  re-shuffles for the join.

Cross-engine determinism (DuckDB oracles): integer token counts and
integer document frequencies everywhere; ``avgdl`` derived as
exact-integer-sum / count; the per-term score sum written in fixed
left-to-right order; final scores scaled by 1e4 and rounded to
BIGINT so the ≤1-ulp ``ln`` difference between libm and Java
``Math.log`` cannot flip a hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.operators._cache import persist_tracked
from top_produce_etl_spark.operators.topn import top_n_window
from pyspark.sql.window import Window

# Classic Robertson/Sparck-Jones defaults.
BM25_K1 = 1.2
BM25_B = 0.75
SCORE_SCALE = 10_000  # fixed-point: round(score * 1e4) → BIGINT


def _tokens(text_col: str):
    return F.split(F.col(text_col), " ")


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Score every document against a fixed bag of query ``terms``.

    Output: (id_col, matched int, score_scaled bigint) for documents
    matching at least one term; ``score_scaled`` =
    round(BM25 · 1e4), ``matched`` = number of distinct query terms
    present.

    BM25(d, q) = Σ_t idf(t) · tf(t,d)·(k1+1) /
                 (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    with idf(t) = ln(1 + (n − df(t) + 0.5)/(df(t) + 0.5)).
    """
    def _eq(term: str):
        # NB: a `lambda x, t=t:` default-arg capture would give the
        # lambda TWO parameters, which F.filter interprets as the
        # (element, index) form — a proper closure keeps it unary.
        return lambda x: x == F.lit(term)

    toks = _tokens(text_col)
    per_doc = docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        *[
            F.size(F.filter(toks, _eq(t))).alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    # Corpus stats: ONE single-row aggregate (n, Σdl, df per term),
    # broadcast back onto every row. The join key `pmod(col, 1)` is
    # always 0 but derived from a data column, so Catalyst cannot
    # constant-fold it (a literal key folds the condition to `true`
    # and the join degrades to a BroadcastNestedLoopJoin, which the
    # scale audit rightly flags; `col·0+1` folds too — non-nullable
    # times zero simplifies). This plans as a plain equi
    # BroadcastHashJoin and the operator stays lazy (no driver-side
    # collect of the stats row).
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    ).withColumn("__k", F.pmod(F.col("n_docs"), F.lit(1)).cast("int"))
    scored = per_doc.withColumn(
        "__k", F.pmod(F.col("dl"), F.lit(1)).cast("int")
    ).join(F.broadcast(stats), "__k")
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    n = F.col("n_docs").cast("double")
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"tf{i}").cast("double")
        df_t = F.col(f"df{i}").cast("double")
        idf = F.log(F.lit(1.0) + (n - df_t + 0.5) / (df_t + 0.5))
        score = score + idf * tf * (k1 + 1.0) / (
            tf + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
        )
    matched = sum(
        (F.col(f"tf{i}") > 0).cast("int") for i in range(len(terms))
    )
    return (
        scored.withColumn("matched", matched)
        .filter(F.col("matched") > 0)
        .select(
            F.col(id_col),
            F.col("matched"),
            F.round(score * SCORE_SCALE).cast("bigint").alias("score_scaled"),
        )
    )


def bm25_oracle_sql(
    terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`bm25_scores` — same integer counts,
    same left-to-right score sum, same 1e4 fixed-point rounding."""
    tf_cols = ",\n           ".join(
        f"len(list_filter(string_split({text_col}, ' '), x -> x = '{t}')) "
        f"AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n           ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df{i} AS DOUBLE) + 0.5))"
        f" * CAST(tf{i} AS DOUBLE) * ({k1} + 1.0)"
        f" / (CAST(tf{i} AS DOUBLE) + {k1} * (1.0 - {b} + {b}"
        f" * CAST(dl AS DOUBLE)"
        f" / (CAST(sum_dl AS DOUBLE) / n_docs))))"
        for i in range(len(terms))
    )
    matched = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(terms))
    )
    return f"""
    WITH per_doc AS (
        SELECT {id_col}, len(string_split({text_col}, ' ')) AS dl,
           {tf_cols}
        FROM {table}
    ), stats AS (
        SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
           {df_cols}
        FROM per_doc
    )
    SELECT {id_col}, {matched} AS matched,
           CAST(round((0.0 + {score}) * {SCORE_SCALE}) AS BIGINT)
               AS score_scaled
    FROM per_doc, stats
    WHERE {matched} > 0
    """


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (sklearn convention: tf · (ln((1+n)/(1+df)) + 1)).

    Output: (id_col, term, tfidf_scaled bigint, rank int).

    Plan: explode → (doc, term) tf aggregate (the one unavoidable
    wide shuffle), df aggregated to |vocab| rows and BROADCAST back
    so the (doc, term) side joins without moving, then a per-doc
    ranking window. Deterministic: fixed-point score + term-asc
    tiebreak."""
    toks = docs.select(
        F.col(id_col), F.explode(_tokens(text_col)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tfreq"))
    # same two-subtree shape as unigram_surprisal (df rollup + the
    # scoring join both consume tf): persist once instead of
    # re-running the corpus explode+agg per subtree
    tf = persist_tracked(tf)
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        # non-foldable always-0 key: see the BroadcastHashJoin note
        # in bm25_scores
        .withColumn("__k", F.pmod(F.col("dfreq"), F.lit(1)).cast("int"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs")).withColumn(
        "__k", F.pmod(F.col("n_docs"), F.lit(1)).cast("int")
    )
    dfreq_n = dfreq.join(F.broadcast(n_docs), "__k").drop("__k")
    scored = tf.join(dfreq_n, "term").withColumn(
        "tfidf_scaled",
        F.round(
            F.col("tfreq").cast("double")
            * (
                F.log(
                    (1.0 + F.col("n_docs").cast("double"))
                    / (1.0 + F.col("dfreq").cast("double"))
                )
                + 1.0
            )
            * SCORE_SCALE
        ).cast("bigint"),
    )
    return top_n_window(
        scored, id_col, "tfidf_scaled", top_k, tiebreak="term"
    ).select(F.col(id_col), "term", "tfidf_scaled", "rank")


def tfidf_oracle_sql(
    top_k: int = 3,
    id_col: str = "doc_id",
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`tfidf_top_terms`."""
    return f"""
    WITH toks AS (
        SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS term
        FROM {table}
    ), tf AS (
        SELECT {id_col}, term, COUNT(*) AS tfreq FROM toks GROUP BY 1, 2
    ), dfreq AS (
        SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1
    ), stats AS (
        SELECT COUNT(*) AS n_docs FROM {table}
    ), scored AS (
        SELECT tf.{id_col}, tf.term,
               CAST(round(CAST(tfreq AS DOUBLE)
                    * (ln((1.0 + CAST(n_docs AS DOUBLE))
                          / (1.0 + CAST(dfreq AS DOUBLE))) + 1.0)
                    * {SCORE_SCALE}) AS BIGINT) AS tfidf_scaled
        FROM tf JOIN dfreq USING (term), stats
    )
    SELECT {id_col}, term, tfidf_scaled, "rank"
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY {id_col}
            ORDER BY tfidf_scaled DESC, term
        ) AS "rank"
        FROM scored
    )
    WHERE "rank" <= {top_k}
    """


# Fixed-point scale for log-probabilities (micro-nats).
INFO_SCALE = 1_000_000


def unigram_surprisal(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document unigram language-model surprisal — the classic
    cheap perplexity proxy for pre-training quality filtering (CCNet
    /Gopher lineage: documents whose tokens are uniformly corpus-rare
    or corpus-dominant are boilerplate/noise candidates; the mean
    per-token information in nats ranks them).

    For token t with corpus count c(t) out of T total tokens,
    information = -ln(c(t)/T) = ln T - ln c(t). Output per document:
    ``n_tokens``, ``info_micro`` (total information in micro-nats),
    ``mean_info_micro`` (integer mean).

    Cross-engine determinism: each DISTINCT count's log is rounded
    to micro-nat BIGINT first (L(x) = round(ln(x)·1e6)); per-doc
    totals are then pure integer sums — associative, so Spark's
    aggregation order cannot perturb the value, and the DuckDB twin
    is bit-identical. ln T ≥ ln c(t) and rounding is monotone, so
    every contribution is a non-negative integer.

    Scale: the same shape as :func:`tfidf_top_terms` — ONE wide
    (doc, term) shuffle for tf; corpus term counts derive from tf
    (|vocab| rows, natural-language vocab ~1e6 — broadcast back so
    the big side never re-shuffles); the corpus total rides a 1-row
    broadcast on a non-foldable key. No data-sized driver state.
    """
    toks = docs.select(
        F.col(id_col), F.explode(_tokens(text_col)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tfreq"))
    # tf feeds BOTH the corpus term-count rollup and the scoring
    # join; unpersisted, Spark executes the corpus-wide explode+agg
    # TWICE per call (no common-subexpression reuse across subtrees)
    # — measured 14.75 → 8.5 s on the 200k-doc curation stage from
    # this one persist (the caller's pipeline_session releases it)
    tf = persist_tracked(tf)
    ct = tf.groupBy("term").agg(F.sum("tfreq").alias("ctotal"))
    total = (
        ct.agg(F.sum("ctotal").alias("ttotal"))
        # non-foldable always-0 key: see the BroadcastHashJoin note
        # in bm25_scores
        .withColumn("__k", F.pmod(F.col("ttotal"), F.lit(1)).cast("int"))
    )
    ct_t = ct.withColumn(
        "__k", F.pmod(F.col("ctotal"), F.lit(1)).cast("int")
    ).join(F.broadcast(total), "__k").drop("__k")

    def L(c):  # micro-nat fixed-point log
        return F.round(F.log(c.cast("double")) * INFO_SCALE).cast("bigint")

    scored = tf.join(ct_t, "term").withColumn(
        "__contrib", F.col("tfreq") * (L(F.col("ttotal")) - L(F.col("ctotal")))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("tfreq").alias("n_tokens"),
            F.sum("__contrib").alias("info_micro"),
        )
        .withColumn(
            "mean_info_micro", F.expr("info_micro DIV n_tokens")
        )
    )


def surprisal_oracle_sql(
    id_col: str = "doc_id", table: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB twin of :func:`unigram_surprisal` (identical integer
    fixed-point arithmetic)."""
    return f"""
    WITH toks AS (
        SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS term
        FROM {table}
    ), tf AS (
        SELECT {id_col}, term, COUNT(*) AS tfreq FROM toks GROUP BY 1, 2
    ), ct AS (
        SELECT term, SUM(tfreq) AS ctotal FROM tf GROUP BY 1
    ), tot AS (
        SELECT SUM(ctotal) AS ttotal FROM ct
    ), scored AS (
        SELECT tf.{id_col}, tf.tfreq,
               tf.tfreq * (CAST(round(ln(CAST(ttotal AS DOUBLE)) * {INFO_SCALE}) AS BIGINT)
                         - CAST(round(ln(CAST(ctotal AS DOUBLE)) * {INFO_SCALE}) AS BIGINT))
                   AS contrib
        FROM tf JOIN ct USING (term), tot
    )
    SELECT {id_col},
           SUM(tfreq)  AS n_tokens,
           SUM(contrib) AS info_micro,
           SUM(contrib) // SUM(tfreq) AS mean_info_micro
    FROM scored GROUP BY {id_col}
    """


def bigram_cond_surprisal(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document BIGRAM-conditional surprisal — one rung up the
    LM-quality ladder from :func:`unigram_surprisal`: information of
    each token GIVEN its predecessor, -ln(c(w₋₁w)/c(w₋₁·)). Unigram
    surprisal flags corpus-rare vocabulary; the conditional variant
    additionally flags incoherent SEQUENCES (shuffled or
    concatenated text whose words are individually common reads as
    high conditional surprisal, low unigram surprisal) — the
    standard cheap step toward real-LM perplexity filtering.

    Same determinism contract as the unigram operator: per-distinct
    count logs round to micro-nat BIGINT first, per-doc totals are
    pure integer sums. c(w₋₁·) is the count of bigram POSITIONS with
    that prefix (so probabilities over successors sum to 1 and every
    contribution is a non-negative integer).

    Scale: ONE (doc, bigram) shuffle; corpus bigram and prefix
    tables are vocab-sized and broadcast back under the planner's
    threshold — the big side
    never re-shuffles (tfidf/unigram house shape). First tokens have
    no context and are skipped; single-token docs emit nothing.

    Output: (id_col, n_bigrams, cond_info_micro,
    mean_cond_info_micro).

    Caching side effect: the (doc, bigram) tf relation is persisted
    (it feeds three subtrees); materialize the result inside
    ``operators._cache.pipeline_session()``, which releases it.
    """
    toks = _tokens(text_col)
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(1))
    bg = docs.filter(F.size(toks) >= 2).select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                ),
            )
        ).alias("bigram"),
    )
    # the big (doc, bigram) shuffle carries ONLY the bigram string —
    # the prefix is derivable (first token), so re-deriving it on the
    # |doc×bigram|-sized AGGREGATED relation keeps the wide shuffle
    # rows ~40% narrower for identical output (measured 5.0 → 3.8 s
    # at sf0.1)
    tf = bg.groupBy(id_col, "bigram").agg(
        F.count(F.lit(1)).alias("bfreq")
    ).withColumn("prefix", F.split("bigram", " ")[0])
    # tf feeds THREE subtrees (cbg rollup, cpf rollup, the scoring
    # join) and Catalyst does not share them — the plan re-explodes
    # and re-aggregates the corpus once per consumer (verified in
    # plans/r11/bigram_surprisal_scores_before.txt: three parallel
    # Scan→Generate→HashAggregate towers). Persist it once, same as
    # unigram_surprisal (guide §2.4 — remove repeated passes).
    tf = persist_tracked(tf)
    cb = tf.groupBy("bigram").agg(F.sum("bfreq").alias("cbg"))
    cp = tf.groupBy("prefix").agg(F.sum("bfreq").alias("cpf"))

    def L(c):  # micro-nat fixed-point log (see unigram_surprisal)
        return F.round(F.log(c.cast("double")) * INFO_SCALE).cast("bigint")

    scored = (
        tf.join(cb, "bigram")
        .join(cp, "prefix")
        .withColumn(
            "__contrib",
            F.col("bfreq") * (L(F.col("cpf")) - L(F.col("cbg"))),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("bfreq").alias("n_bigrams"),
            F.sum("__contrib").alias("cond_info_micro"),
        )
        .withColumn(
            "mean_cond_info_micro",
            F.expr("cond_info_micro DIV n_bigrams"),
        )
    )


def bigram_surprisal_oracle_sql(
    id_col: str = "doc_id", table: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB twin of :func:`bigram_cond_surprisal`."""
    return f"""
    WITH toks AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS t FROM {table}
    ), bg AS (
        SELECT {id_col},
               t[CAST(i AS INT)] AS prefix,
               t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS bigram
        FROM toks, unnest(range(1, len(t))) r(i)
        WHERE len(t) >= 2
    ), tf AS (
        SELECT {id_col}, prefix, bigram, COUNT(*) AS bfreq
        FROM bg GROUP BY 1, 2, 3
    ), cb AS (
        SELECT bigram, SUM(bfreq) AS cbg FROM tf GROUP BY 1
    ), cp AS (
        SELECT prefix, SUM(bfreq) AS cpf FROM tf GROUP BY 1
    ), scored AS (
        SELECT tf.{id_col}, tf.bfreq,
               tf.bfreq * (CAST(round(ln(CAST(cpf AS DOUBLE)) * {INFO_SCALE}) AS BIGINT)
                         - CAST(round(ln(CAST(cbg AS DOUBLE)) * {INFO_SCALE}) AS BIGINT))
                   AS contrib
        FROM tf JOIN cb USING (bigram) JOIN cp USING (prefix)
    )
    SELECT {id_col},
           SUM(bfreq) AS n_bigrams,
           SUM(contrib) AS cond_info_micro,
           SUM(contrib) // SUM(bfreq) AS mean_cond_info_micro
    FROM scored GROUP BY {id_col}
    """


def hashed_bow_vectors(
    docs: DataFrame, id_col: str, text_col: str, k: int = 32
) -> DataFrame:
    """Feature-hashing ("hashing trick") document vectors: token →
    bucket via the engine-portable polynomial hash, dense k-dim
    term-count vector per document — model-free embeddings that feed
    the existing ANN/k-means/standardization stack when no learned
    embedding column exists (Weinberger et al. 2009; the classic
    first vectorizer of a text pipeline).

    ONE (doc, bucket) shuffle; densification is a per-doc map lookup
    over a constant k — no corpus-wide vocabulary table at all,
    which is the point of the trick at 100 TB (a vocabulary join
    needs a second shuffle and an unbounded dim; the hash needs
    neither). Integer counts → the cross-engine contract is exact.
    Output: (id, vec: array<bigint> of length k).
    """
    from top_produce_etl_spark.functions.portable_hash import (
        portable_hash_spark_sql,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(_tokens(text_col)).alias("tok")
    )
    bucket = (
        F.expr(portable_hash_spark_sql("tok")) % F.lit(k)
    ).cast("int")
    counts = toks.select("id", bucket.alias("bucket")).groupBy(
        "id", "bucket"
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("bucket", "c"))
            ).alias("__m")
        )
        .select(
            "id",
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: F.coalesce(
                    F.element_at("__m", i.cast("int")), F.lit(0).cast("bigint")
                ),
            ).alias("vec"),
        )
    )


def hashed_bow_oracle_sql(
    id_col: str = "doc_id",
    table: str = "documents",
    text_col: str = "text",
    k: int = 32,
) -> str:
    """DuckDB twin of :func:`hashed_bow_vectors` (same polynomial
    hash, same buckets, same dense layout)."""
    from top_produce_etl_spark.functions.portable_hash import (
        portable_hash_sql,
    )

    h = portable_hash_sql("tok")
    return f"""
    WITH toks AS (
        SELECT {id_col} AS id, unnest(string_split({text_col}, ' ')) AS tok
        FROM {table}
    ), bk AS (
        SELECT id, CAST(({h}) % {k} AS INT) AS bucket FROM toks
    ), cnt AS (
        SELECT id, bucket, COUNT(*) AS c FROM bk GROUP BY 1, 2
    ), grid AS (
        SELECT d.id, CAST(r.i AS INT) AS i
        FROM (SELECT DISTINCT id FROM bk) d, unnest(range(0, {k})) r(i)
    )
    SELECT g.id, list(COALESCE(c.c, 0) ORDER BY g.i) AS vec
    FROM grid g
    LEFT JOIN cnt c ON c.id = g.id AND c.bucket = g.i
    GROUP BY g.id
    """


def rrf_fuse(
    rankings: list[DataFrame],
    query_col: str = "query_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rank",
    k: int = 60,
    topn: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke, Büttcher 2009) — the
    standard hybrid-retrieval ensemble: each input ranking
    contributes ``1/(k + rank)`` for a (query, doc) it retrieved and
    0 otherwise, and documents re-rank by the summed score. This is
    how production search fuses a keyword ranker with an ANN ranker
    without score calibration (ranks are comparable, raw scores are
    not).

    Scale shape: every input is already a top-N list (|Q|·N rows —
    the OUTPUT of the retrieval tiers, never the corpus), so the
    fusion is |rankings| small joins on (query, doc) plus one
    per-query window — driver- and shuffle-trivial at any corpus
    size. Determinism: the score terms are added in declaration
    order of ``rankings`` (IEEE addition order fixed, so the DuckDB
    oracle is bit-identical), ties break on doc id.

    Output: (query_col, doc_col, rrf_score, rank).
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    # best (min) rank per (query, doc) per ranking FIRST: a ranking
    # that lists a pair twice must not fan the join out into
    # duplicate fused rows (and RRF's convention for a duplicated
    # doc is its best rank)
    rankings = [
        r.groupBy(query_col, doc_col).agg(
            F.min(rank_col).alias(rank_col)
        )
        for r in rankings
    ]
    pairs = None
    for r in rankings:
        p = r.select(query_col, doc_col)
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.distinct()
    score = None
    out = pairs
    for i, r in enumerate(rankings):
        rr = r.select(
            F.col(query_col),
            F.col(doc_col),
            F.col(rank_col).alias(f"__r{i}"),
        )
        out = out.join(rr, [query_col, doc_col], "left")
        term = F.coalesce(
            F.lit(1.0) / (F.lit(k) + F.col(f"__r{i}")), F.lit(0.0)
        )
        score = term if score is None else score + term
    w = Window.partitionBy(query_col).orderBy(
        F.col("rrf_score").desc(), F.col(doc_col).asc()
    )
    out = out.withColumn("rrf_score", score).withColumn(
        "rank", F.row_number().over(w)
    )
    if topn is not None:
        out = out.filter(F.col("rank") <= topn)
    return out.select(query_col, doc_col, "rrf_score", "rank")
