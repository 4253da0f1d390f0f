"""Repetition-based document quality signals (Gopher-rules tier of
the LLM-pipeline surface; complements queries/text_q.py's
length/punctuation/stopword scores).

The classic pre-training filters (Rae et al. 2021 "Scaling Language
Models" §A1.1; public reimplementations in Dolma/CCNet) drop
documents dominated by repetition: high duplicate-n-gram fraction,
or one token carrying an outsized share of the text. Both are
PER-DOCUMENT statistics, so the scalable formulation is a single
narrow projection over higher-order array functions — tokenize,
build n-grams, measure — with ZERO shuffle and zero Python: every
document computes its own stats inside whole-stage codegen, which
at 100 TB means the filter runs at scan speed.

The top-token share uses a sort+max-run-length fold
(``aggregate``) instead of a token→count map: sorting the token
array groups equal tokens adjacently, so the longest run IS the top
token's count — no per-doc hash map, no explode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.operators._cache import persist_tracked


def _ngrams(tokens: Column, n: int) -> Column:
    """Word n-grams of a token array (empty when the doc is too
    short)."""
    idx = F.sequence(F.lit(0), F.size(tokens) - F.lit(n))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tokens, i + k + 1) for k in range(n)]
    )
    return F.when(F.size(tokens) >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def _max_run_length(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements (= top element count
    on a sorted array), as a single fold."""
    step = lambda acc, x: F.struct(  # noqa: E731
        x.alias("prev"),
        F.when(x == acc["prev"], acc["run"] + 1)
        .otherwise(F.lit(1))
        .alias("run"),
        F.greatest(
            acc["best"],
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
        ).alias("best"),
    )
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, ngram: int = 3
) -> DataFrame:
    """Per-document repetition signals: token count, duplicate
    n-gram fraction, and top-token share. All-narrow plan.

    Tokenization staged into its own projection: the n-gram lambda
    indexes the token array per position, and an inlined split()
    would re-tokenize per n-gram — O(n²) per doc (the
    functions.text.shingles_of inlining note)."""
    toked = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    toks = F.col("__toks")
    grams = _ngrams(toks, ngram)
    n_grams = F.size(grams)
    dup_frac = F.when(
        n_grams > 0,
        (n_grams - F.size(F.array_distinct(grams))).cast("double")
        / n_grams.cast("double"),
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        F.size(toks) > 0,
        _max_run_length(F.sort_array(toks)).cast("double")
        / F.size(toks).cast("double"),
    ).otherwise(F.lit(0.0))
    return toked.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        dup_frac.alias(f"dup_{ngram}gram_frac"),
        top_frac.alias("top_token_frac"),
    )


def token_runs(
    df: DataFrame, id_col: str, text_col: str, min_len: int = 2
) -> DataFrame:
    """Run-length encoding of each document's token stream: one row
    per maximal run of ``min_len``+ consecutive equal tokens —
    ``(id, run_start, term, run_len)`` with 1-based token offsets.

    The localized form of the repetition signals above: where
    :func:`repetition_stats` says *how much* a document repeats,
    this says *where* (the rows feed span-level cleanup — trim the
    run, keep the document).

    Scale: pure higher-order array expressions — run starts are the
    positions whose token differs from its predecessor
    (``filter`` over ``sequence``), run lengths are the deltas of
    adjacent starts (``zip_with`` against the shifted starts) — and
    the ``min_len`` filter is applied INSIDE the array before
    ``explode``, so short runs never become rows. Zero shuffle,
    zero Python; at 100 TB this runs at scan speed like the rest of
    the quality tier. A native Python-UDTF twin lives in
    ``functions/udtfs.py`` (API-surface coverage, SURVEY §2.10) and
    shares this operator's oracle.
    """
    # STAGED projections, not one big expression: an alias that is
    # non-cheap and referenced more than once survives CollapseProject,
    # so the token array (and then the starts array) materialize ONCE
    # per row. Inlining split() into every element_at call — the
    # single-select formulation — re-tokenizes per position: O(n²)
    # work per document (measured 6.4 s → ~0.3 s at sf0.1).
    toked = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__t")
    )
    t = F.col("__t")
    n = F.size(t)
    # 1-based start positions of maximal runs
    starts = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i == F.lit(1))
        | (F.element_at(t, i) != F.element_at(t, i - F.lit(1))),
    )
    staged = toked.select(F.col(id_col), "__t", starts.alias("__starts"))
    s = F.col("__starts")
    # end[i] = start[i+1] (the next run begins where this one ends),
    # last run ends at n+1; concat keeps lengths equal for zip_with
    ends = F.concat(
        F.slice(s, 2, F.greatest(F.size(s) - F.lit(1), F.lit(0))),
        F.array(n + F.lit(1)),
    )
    runs = F.filter(
        F.zip_with(
            s,
            ends,
            lambda a, b: F.struct(
                a.alias("run_start"), (b - a).alias("run_len")
            ),
        ),
        lambda r: r["run_len"] >= F.lit(min_len),
    )
    return (
        staged.select(F.col(id_col), "__t", F.explode(runs).alias("__r"))
        .select(
            F.col(id_col),
            F.col("__r.run_start").alias("run_start"),
            F.element_at(F.col("__t"), F.col("__r.run_start")).alias("term"),
            F.col("__r.run_len").alias("run_len"),
        )
    )


def curation_funnel(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang: str = "en",
    min_quality: float = 0.65,
    max_dup_ngram_frac: float = 0.05,
    max_mean_info_micro: int = 3_450_000,
    ngram: int = 3,
) -> DataFrame:
    """The curation pipeline as ONE reusable operator: language-ID ×
    quality score × duplicate-n-gram repetition × unigram surprisal,
    composed into a keep/drop decision with per-rule failure
    attribution ('dropped: quality,entropy' beats a bare boolean —
    the audit trail a data-curation run must emit).

    Composition is the point: every signal is an already-verified
    operator (functions.text.predict_lang / quality_score,
    repetition_stats' dup fraction, retrieval.unigram_surprisal),
    and the only shuffle is the surprisal (doc, term) aggregate —
    the narrow signals ride the same scan. Output: (id_col, keep,
    fail_reasons). Thresholds are the config surface
    (plans/builder.py op "curation_funnel"; the oracle-checked
    query queries/text_q.py::curation_funnel delegates here).
    """
    from top_produce_etl_spark.functions.text import (
        predict_lang,
        quality_score,
    )
    from top_produce_etl_spark.io.sources import fan_out
    from top_produce_etl_spark.operators.retrieval import unigram_surprisal

    # The corpus projection feeds THREE subtrees (surprisal explode,
    # repetition stats, lang/quality signals), each heavy map-side
    # work that would otherwise re-run the scan per subtree — and a
    # one-row-group fixture file scans as ONE task, serializing all
    # of it on one core (guide §2.4 + §2.5). Fan out (scale-gated
    # no-op on wide scans) and persist once (released by the
    # caller's pipeline_session — operators/_cache.py).
    # Placement-invariant: every signal is row-local, the surprisal
    # aggregates are keyed integer sums, and the id joins are exact.
    src = persist_tracked(
        fan_out(df.select(F.col(id_col), F.col(text_col)))
    )
    sup = unigram_surprisal(src, id_col, text_col).select(
        id_col, "mean_info_micro"
    )
    rep = repetition_stats(src, id_col, text_col, ngram=ngram).select(
        F.col(id_col), F.col(f"dup_{ngram}gram_frac").alias("__dupfrac")
    )
    sig = (
        src.select(
            F.col(id_col),
            predict_lang(text_col).alias("__plang"),
            quality_score(text_col).alias("__quality"),
        )
        .join(rep, id_col)
        .join(sup, id_col)
    )
    r_lang = F.col("__plang") != lang
    r_quality = F.col("__quality") < min_quality
    r_rep = F.col("__dupfrac") > max_dup_ngram_frac
    r_info = F.col("mean_info_micro") > max_mean_info_micro
    return sig.select(
        F.col(id_col),
        (~r_lang & ~r_quality & ~r_rep & ~r_info).alias("keep"),
        F.concat_ws(
            ",",
            F.when(r_lang, "lang"),
            F.when(r_quality, "quality"),
            F.when(r_rep, "repetition"),
            F.when(r_info, "entropy"),
        ).alias("fail_reasons"),
    )


def strip_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 4,
    min_df: int = 2,
) -> DataFrame:
    """Corpus-level boilerplate removal — the C4/CCNet rewrite step
    that DELETES repeated spans instead of scoring or dropping whole
    documents (complements dedup: survivors keep their unique prose,
    shared headers/footers/navigation chrome vanish).

    Documents are cut into consecutive non-overlapping
    ``chunk_tokens``-token chunks (the last chunk may be shorter); a
    chunk whose corpus document-frequency reaches ``min_df`` is
    boilerplate, and the cleaned text is the in-order concatenation
    of the surviving chunks (possibly empty — fully-boilerplate docs
    still emit a row, so downstream counts reconcile).

    Scale shape: one narrow explode (doc → chunks with position),
    ONE chunk-keyed hash agg for document frequency (map-side
    partials; distinct-doc count per chunk), one join of chunks
    against the flagged-chunk relation (broadcast by the planner — the
    boilerplate set is small by construction at sane ``min_df``),
    and ONE doc-keyed reassembly agg whose in-group state is a
    single document's chunk list — bounded by document length, never
    by corpus size. Chunks join on their string value here for
    oracle transparency; at 100 TB swap the join key for
    ``xxhash64(chunk)`` (the house fast-path pattern, see
    operators/dedup.py's simhash notes) without changing the plan
    shape.

    Output: (id, cleaned_text, n_chunks, n_removed).
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2, got {min_df}")
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunk_at = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)
    )
    chunks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - F.lit(1)),
                lambda i: F.struct(
                    i.cast("int").alias("pos"), chunk_at(i).alias("chunk")
                ),
            )
        ).alias("c"),
    ).select("id", "c.pos", "c.chunk")
    boiler = (
        chunks.groupBy("chunk")
        .agg(F.count_distinct("id").alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("chunk", F.lit(True).alias("__boiler"))
    )
    flagged = chunks.join(boiler, "chunk", "left").select(
        "id",
        "pos",
        "chunk",
        F.coalesce(F.col("__boiler"), F.lit(False)).alias("is_boiler"),
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("pos", "chunk", "is_boiler"))
            ).alias("__cs"),
        )
        .select(
            "id",
            F.concat_ws(
                " ",
                F.transform(
                    F.filter("__cs", lambda c: ~c["is_boiler"]),
                    lambda c: c["chunk"],
                ),
            ).alias("cleaned_text"),
            F.size("__cs").alias("n_chunks"),
            F.size(F.filter("__cs", lambda c: c["is_boiler"])).alias(
                "n_removed"
            ),
        )
    )


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
    stopwords: tuple[str, ...] | None = None,
) -> DataFrame:
    """The Gopher DOCUMENT-SHAPE rule suite (Rae et al. 2021 §A1.1;
    the thresholds are the paper's defaults) — the companion of
    :func:`repetition_stats`, which covers the paper's
    repetition-based rules. Eight rules, each a per-document array/
    string expression (zero shuffle, zero Python — the filter runs
    at scan speed, the 100 TB contract of this module):

    - word count within [min_words, max_words];
    - mean word length within [min_mean_word_len, max_mean_word_len];
    - symbol-to-word ratio (``#`` and ``...``/``…``) ≤ max_symbol_ratio;
    - fraction of LINES starting with a bullet ≤ max_bullet_frac;
    - fraction of lines ending with an ellipsis ≤ max_ellipsis_frac;
    - fraction of words with ≥1 alphabetic character ≥
      min_alpha_word_frac;
    - ≥ min_stopwords stopword hits (the "the/a/..." existence
      check that kills keyword-stuffing pages).

    Output: per-doc measurements, one boolean per rule, and the
    conjunction ``keep`` — per-rule attribution, like
    :func:`curation_funnel`'s fail_reasons.
    """
    from top_produce_etl_spark.functions.text import LANG_MARKERS, tokens

    sw = stopwords if stopwords is not None else LANG_MARKERS["en"]
    toks = tokens(text_col)
    n_words = F.size(toks)
    nw = n_words.cast("double")
    mean_wl = (
        F.length(F.regexp_replace(F.col(text_col), " ", "")).cast("double")
        / nw
    )
    n_sym = (
        F.size(F.split(F.col(text_col), "#", -1)) - 1
        + F.size(F.split(F.col(text_col), r"\.\.\.", -1)) - 1
        + F.size(F.split(F.col(text_col), "…", -1)) - 1
    )
    lines = F.split(F.col(text_col), "\n", -1)
    n_lines = F.size(lines).cast("double")
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda ln: ln.startswith("-")
                | ln.startswith("*")
                | ln.startswith("•"),
            )
        ).cast("double")
        / n_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(
                lines, lambda ln: ln.endswith("...") | ln.endswith("…")
            )
        ).cast("double")
        / n_lines
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double")
        / nw
    )
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*sw)))
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        (n_sym.cast("double") / nw).alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_word_frac"),
        n_stop.alias("n_stopwords"),
    )
    r_words = (F.col("n_words") >= min_words) & (
        F.col("n_words") <= max_words
    )
    r_wl = (F.col("mean_word_len") >= min_mean_word_len) & (
        F.col("mean_word_len") <= max_mean_word_len
    )
    r_sym = F.col("symbol_ratio") <= max_symbol_ratio
    r_bullet = F.col("bullet_frac") <= max_bullet_frac
    r_ell = F.col("ellipsis_frac") <= max_ellipsis_frac
    r_alpha = F.col("alpha_word_frac") >= min_alpha_word_frac
    r_stop = F.col("n_stopwords") >= min_stopwords
    return out.select(
        "*",
        r_words.alias("ok_words"),
        r_wl.alias("ok_word_len"),
        r_sym.alias("ok_symbols"),
        r_bullet.alias("ok_bullets"),
        r_ell.alias("ok_ellipsis"),
        r_alpha.alias("ok_alpha"),
        r_stop.alias("ok_stopwords"),
        (
            r_words & r_wl & r_sym & r_bullet & r_ell & r_alpha & r_stop
        ).alias("keep"),
    )


def clean_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 3,
    bad_markers: tuple[str, ...] = ("lorem ipsum", "javascript", "{"),
    terminals: str = ".!?\"",
) -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020 §2.2) — the
    rewrite that operates INSIDE a document where
    :func:`strip_boilerplate` operates across the corpus: keep only
    lines that (a) have ≥ ``min_words`` words, (b) end in a terminal
    punctuation mark, and (c) contain no bad marker
    (case-insensitive) — the lorem-ipsum / javascript / curly-brace
    filters of the paper.

    Pure per-document array expressions (split → filter lambda →
    array_join): zero shuffle, zero Python — line cleaning runs at
    scan speed, which is the only acceptable cost for a rule applied
    to every document of a 100 TB crawl.

    Output: (id, text_clean, n_lines, n_kept).
    """
    lines = F.split(F.col(text_col), "\n", -1)

    def _keep(ln: Column) -> Column:
        t = F.trim(ln)
        ok = (F.size(F.split(t, " ", -1)) >= min_words) & (
            F.substring(t, -1, 1).isin(*list(terminals))
        )
        low = F.lower(t)
        for m in bad_markers:
            ok = ok & ~low.contains(m.lower())
        return ok

    kept = F.filter(lines, _keep)
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text_clean"),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
    )


def perplexity_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    by: tuple[str, ...] = (),
) -> DataFrame:
    """CCNet-style head/middle/tail quality buckets (round 10): rank
    every document by its unigram LM surprisal (the cheap perplexity
    proxy — operators/retrieval.py::unigram_surprisal, integer
    micro-nats end to end) and split the corpus into equal thirds —
    ``head`` = lowest surprisal (most language-model-like), ``tail``
    = highest. CCNet buckets per language; pass ``by=("lang",)`` (or
    any grouping columns carried on ``docs``) to tercile within each
    group.

    Output: (id, *by, n_tokens, mean_info_micro, ppl_bucket).

    Determinism: ntile(3) over the total order
    (mean_info_micro, id) — integer keys, no ties left to the
    engine, so the DuckDB twin (:func:`perplexity_buckets_oracle_
    ctes`) is row-identical.

    Scale: the surprisal stage is the scan-shaped tf/ct pipeline
    (one (doc, term) shuffle, |vocab| broadcast back); the tercile
    is a window over |docs| SCORE rows (id + one bigint — the text
    never enters it). Ungrouped it is a single-partition sort of
    that slim relation: exact, the oracle tier. The 100 TB
    production twin is CCNet's own trick — freeze the two cutoff
    VALUES from a reference run / sample quantiles and broadcast
    them as literals, turning bucketing into a pure comparison; the
    per-lang grouped form here already shards the sort by language.
    """
    from pyspark.sql import Window

    from top_produce_etl_spark.operators.retrieval import (
        unigram_surprisal,
    )

    scores = unigram_surprisal(docs, id_col, text_col)
    if by:
        scores = scores.join(
            docs.select(id_col, *by), id_col
        )
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(
        F.col("mean_info_micro"), F.col(id_col)
    )
    tercile = F.ntile(3).over(w)
    bucket = (
        F.when(tercile == 1, F.lit("head"))
        .when(tercile == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scores.select(
        id_col, *by, "n_tokens", "mean_info_micro",
        bucket.alias("ppl_bucket"),
    )


def perplexity_buckets_oracle_ctes(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    by: tuple[str, ...] = (),
) -> str:
    """DuckDB CTE chain ending in ``ppl_buckets`` with the same
    columns — identical integer surprisal + the same ntile order."""
    from top_produce_etl_spark.operators.retrieval import INFO_SCALE

    by_sel = "".join(f"b.{c}, " for c in by)
    by_join = (
        f"JOIN (SELECT {id_col}, {', '.join(by)} FROM {table}) b "
        f"USING ({id_col})" if by else ""
    )
    part = f"PARTITION BY {', '.join('b.' + c for c in by)} " if by else ""
    return f"""
ppl_toks AS (
    SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS term
    FROM {table}
),
ppl_tf AS (
    SELECT {id_col}, term, COUNT(*) AS tfreq FROM ppl_toks GROUP BY 1, 2
),
ppl_ct AS (SELECT term, SUM(tfreq) AS ctotal FROM ppl_tf GROUP BY 1),
ppl_tot AS (SELECT SUM(ctotal) AS ttotal FROM ppl_ct),
ppl_scores AS (
    SELECT {id_col},
           SUM(tfreq) AS n_tokens,
           SUM(tfreq * (
               CAST(round(ln(CAST(ttotal AS DOUBLE)) * {INFO_SCALE})
                    AS BIGINT)
             - CAST(round(ln(CAST(ctotal AS DOUBLE)) * {INFO_SCALE})
                    AS BIGINT))) AS info_micro
    FROM ppl_tf JOIN ppl_ct USING (term), ppl_tot
    GROUP BY 1
),
ppl_buckets AS (
    SELECT s.{id_col}, {by_sel}s.n_tokens,
           s.info_micro // s.n_tokens AS mean_info_micro,
           CASE ntile(3) OVER ({part}ORDER BY
                    s.info_micro // s.n_tokens, s.{id_col})
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM ppl_scores s {by_join}
)"""


# --- Frozen-cutoff surprisal bucketing (round 11) -----------------
#
# perplexity_buckets recomputes terciles per run — correct for the
# oracle tier, but not append-stable: growing the corpus moves both
# the LM term counts AND the ntile boundaries, so yesterday's "head"
# document can become today's "middle". The production twin (CCNet's
# own deployment shape, and the r10 verdict #4 ask) freezes BOTH
# from a reference run as a stored parquet artifact — the
# operators/pq.py stored-index lifecycle precedent:
#
#   {path}/lm       (term, ctotal)  — the unigram LM counts
#   {path}/cutoffs  (*by, c1_score, c1_id, c2_score, c2_id, ttotal,
#                    n_ref_docs)    — tercile boundary PAIRS
#
# Scoring new/streaming data is then a broadcast join (or literal
# fold — see score_surprisal_expr) plus a pure comparison: zero wide
# sorts, append-stable by construction, and bucketing the REFERENCE
# rows against the frozen cutoffs reproduces the original ntile(3)
# assignment EXACTLY because the boundaries are (score, id) pairs —
# the same composite the ntile order sorts by, so ties at a boundary
# score cannot flip across it.


def unigram_lm(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram LM term counts ``(term, ctotal)`` of a reference
    corpus — one explode + one hash-agg (|vocab| result rows)."""
    return (
        docs.select(
            F.explode(F.split(F.col(text_col), " ")).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("ctotal"))
    )


def _linfo(c: Column) -> Column:
    """Micro-nat fixed-point log (retrieval.unigram_surprisal's L)."""
    from top_produce_etl_spark.operators.retrieval import INFO_SCALE

    return F.round(F.log(c.cast("double")) * INFO_SCALE).cast("bigint")


def surprisal_cutoffs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Tercile boundary PAIRS of :func:`perplexity_buckets`' ntile
    order, per ``by`` group: ``c1`` = the (mean_info_micro, id) of
    the LAST head row, ``c2`` = of the last middle row (NULL when a
    group has too few rows to populate the tercile). ``ttotal``
    (the reference corpus token count) rides along so the frozen
    scorer needs no second artifact read."""
    from top_produce_etl_spark.operators.retrieval import (
        unigram_surprisal,
    )

    scores = unigram_surprisal(docs, id_col, text_col)
    if by:
        scores = scores.join(docs.select(id_col, *by), id_col)
    return surprisal_cutoffs_from_scores(scores, id_col, by)


def surprisal_cutoffs_from_scores(
    scores: DataFrame,
    id_col: str = "doc_id",
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Cutoff pairs from an ALREADY-SCORED relation carrying
    ``mean_info_micro``, ``n_tokens`` and the ``by`` columns — the
    shared-scan path: a caller that scores the corpus once (e.g.
    with :func:`score_with_frozen_lm`) derives cutoffs, frozen
    buckets AND the reference ntile from the same persisted relation
    instead of paying the (doc, term) pipeline per derivation."""
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(
        F.col("mean_info_micro"), F.col(id_col)
    )
    pair = F.struct(
        F.col("mean_info_micro").alias("s"),
        F.col(id_col).cast("bigint").alias("i"),
    )
    g = (
        scores.withColumn("__t", F.ntile(3).over(w))
        .groupBy(*[F.col(c) for c in by])
        .agg(
            F.max(F.when(F.col("__t") == 1, pair)).alias("__c1"),
            F.max(F.when(F.col("__t") == 2, pair)).alias("__c2"),
            F.sum("n_tokens").alias("__ntok"),
            F.count(F.lit(1)).alias("n_ref_docs"),
        )
    )
    return g.select(
        *by,
        F.col("__c1.s").alias("c1_score"),
        F.col("__c1.i").alias("c1_id"),
        F.col("__c2.s").alias("c2_score"),
        F.col("__c2.i").alias("c2_id"),
        F.col("__ntok").cast("bigint").alias("ref_group_tokens"),
        F.col("n_ref_docs").cast("bigint").alias("n_ref_docs"),
    )


def save_surprisal_reference(
    lm_df: DataFrame, cutoffs_df: DataFrame, path: str
) -> None:
    """Materialize the frozen-reference artifact (LM counts +
    cutoff pairs) as parquet — the pq.py stored-index lifecycle."""
    lm_df.write.mode("overwrite").parquet(f"{path}/lm")
    cutoffs_df.write.mode("overwrite").parquet(f"{path}/cutoffs")


def load_surprisal_reference(
    spark, path: str
) -> tuple[DataFrame, DataFrame]:
    return (
        spark.read.parquet(f"{path}/lm"),
        spark.read.parquet(f"{path}/cutoffs"),
    )


def score_with_frozen_lm(
    docs: DataFrame,
    lm_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document surprisal against a FROZEN unigram LM — the
    stable scorer: corpus growth cannot move any old document's
    score because the counts come from the artifact, not the data.
    Out-of-vocabulary terms score as count 1 (maximum surprisal,
    ln ttotal — the deterministic OOV convention). Same integer
    micro-nat arithmetic as unigram_surprisal, so scoring the
    reference corpus itself reproduces its original scores exactly
    (no OOV by construction).

    Shape: one (doc, term) tf shuffle + a broadcast of the |vocab|
    LM — the big side never re-shuffles.
    """
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tfreq")
    )
    # ttotal joins EVERY tf row (not just in-vocabulary ones — an
    # OOV term still pays ln ttotal), so it rides its own 1-row
    # broadcast on a non-foldable always-0 key (the
    # unigram_surprisal BroadcastHashJoin trick; a crossJoin would
    # be a nested-loop the plan audit flags)
    total = lm_df.agg(F.sum("ctotal").alias("ttotal")).withColumn(
        "__k", F.pmod(F.col("ttotal"), F.lit(1)).cast("int")
    )
    tf_t = tf.withColumn(
        "__k", F.pmod(F.col("tfreq"), F.lit(1)).cast("int")
    ).join(F.broadcast(total), "__k").drop("__k")
    scored = tf_t.join(lm_df, "term", "left").withColumn(
        "__contrib",
        F.col("tfreq")
        * (
            _linfo(F.col("ttotal"))
            - _linfo(F.coalesce(F.col("ctotal"), F.lit(1)))
        ),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("tfreq").alias("n_tokens"),
            F.sum("__contrib").alias("info_micro"),
        )
        .withColumn("mean_info_micro", F.expr("info_micro DIV n_tokens"))
    )


def bucket_frozen(
    scored: DataFrame,
    cutoffs_df: DataFrame,
    id_col: str = "doc_id",
    by: tuple[str, ...] = (),
    out: str = "ppl_bucket",
) -> DataFrame:
    """Bucket pre-scored rows (``mean_info_micro`` present) against
    FROZEN cutoff pairs: head iff (score, id) ≤ c1 pair, middle iff
    ≤ c2 pair, else tail — a broadcast join plus one comparison, no
    window, no sort. NULL cutoffs (group absent from the reference,
    or a tercile the reference was too small to populate) compare
    false, so such rows deterministically land on the tail side."""
    if by:
        joined = scored.join(F.broadcast(cutoffs_df), list(by), "left")
    else:
        # ungrouped: the 1-row cutoffs relation joins every scored
        # row on a non-foldable always-0 key (BroadcastHashJoin, not
        # a nested-loop cartesian — the unigram_surprisal trick)
        joined = scored.withColumn(
            "__k", F.pmod(F.col("mean_info_micro"), F.lit(1)).cast("int")
        ).join(
            F.broadcast(
                cutoffs_df.withColumn(
                    "__k",
                    F.pmod(F.col("n_ref_docs"), F.lit(1)).cast("int"),
                )
            ),
            "__k",
            "left",
        )
    s, i = F.col("mean_info_micro"), F.col(id_col).cast("bigint")

    def le(cs: str, ci: str) -> Column:
        return F.coalesce(
            (s < F.col(cs))
            | ((s == F.col(cs)) & (i <= F.col(ci))),
            F.lit(False),
        )

    bucket = (
        F.when(le("c1_score", "c1_id"), F.lit("head"))
        .when(le("c2_score", "c2_id"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    drop = [
        c
        for c in (
            "c1_score", "c1_id", "c2_score", "c2_id",
            "ref_group_tokens", "n_ref_docs", "__k",
        )
        if c in joined.columns
    ]
    return joined.withColumn(out, bucket).drop(*drop)


def score_surprisal_expr(
    docs: DataFrame,
    lm_rows: list,
    ttotal: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """ZERO-SHUFFLE frozen-LM surprisal scorer (the streaming twin —
    the langid score_langid_expr precedent): the LM folds into a
    literal map term → micro-nat info(term) and the per-document
    total is ``aggregate`` over the token array — pure column
    expressions, no explode, no aggregation, hence legal inside a
    Structured Streaming query where the tf-join scorer's chained
    groupBys are not.

    ``lm_rows`` are collected ``(term, ctotal)`` rows (VOCAB-sized —
    the model-sized-collect house rule, same contract as the langid
    weight maps); info values are computed here with Spark's own
    round-half-up so they bit-match the join scorer.
    """
    lt = _round_half_up_micro(ttotal)
    entries: list = []
    for r in lm_rows:
        entries.append(F.lit(r["term"]))
        entries.append(F.lit(lt - _round_half_up_micro(r["ctotal"])))
    info_map = F.create_map(*entries)
    toks = F.split(F.col(text_col), " ")
    # OOV terms pay ln ttotal - ln 1 = lt micro-nats
    total_info = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc
        + F.coalesce(info_map[t], F.lit(lt).cast("bigint")),
    )
    return docs.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.size(toks).cast("bigint").alias("n_tokens"),
        total_info.alias("info_micro"),
    ).withColumn("mean_info_micro", F.expr("info_micro DIV n_tokens"))


def _round_half_up_micro(c: int) -> int:
    """round(ln(c)·1e6) with HALF-UP ties — what Spark's F.round and
    DuckDB's round() both do for positive doubles, unlike Python's
    banker's round()."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from top_produce_etl_spark.operators.retrieval import INFO_SCALE

    return int(
        Decimal(math.log(c) * INFO_SCALE).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP
        )
    )


def frozen_buckets_oracle_ctes(
    ref_where: str = "doc_id % 2 = 0",
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> str:
    """DuckDB CTE chain re-deriving the WHOLE frozen-cutoff
    lifecycle in SQL: reference LM counts, frozen scoring of every
    row (OOV → count 1), per-language ntile(3) boundary pairs from
    the reference slice, and the frozen comparison bucketing. Ends
    in ``frozen_buckets`` (id, lang, n_tokens, mean_info_micro,
    ppl_bucket) and ``ref_ntile`` (id, ref_bucket) — identical
    integer arithmetic to the Spark operators, so engine and oracle
    cannot drift."""
    from top_produce_etl_spark.operators.retrieval import INFO_SCALE

    L = (
        lambda expr: f"CAST(round(ln(CAST({expr} AS DOUBLE)) * "
        f"{INFO_SCALE}) AS BIGINT)"
    )
    return f"""
fz_ref AS (SELECT * FROM {table} WHERE {ref_where}),
fz_lm AS (
    SELECT term, COUNT(*) AS ctotal
    FROM (SELECT unnest(string_split({text_col}, ' ')) AS term
          FROM fz_ref)
    GROUP BY 1
),
fz_tot AS (SELECT SUM(ctotal) AS ttotal FROM fz_lm),
fz_tf AS (
    SELECT {id_col}, term, COUNT(*) AS tfreq
    FROM (SELECT {id_col},
                 unnest(string_split({text_col}, ' ')) AS term
          FROM {table})
    GROUP BY 1, 2
),
fz_scores AS (
    SELECT {id_col}, SUM(tfreq) AS n_tokens,
           SUM(tfreq * ({L("ttotal")}
                      - {L("COALESCE(ctotal, 1)")})) AS info_micro
    FROM fz_tf LEFT JOIN fz_lm USING (term), fz_tot
    GROUP BY 1
),
fz_mean AS (
    SELECT {id_col}, n_tokens,
           info_micro // n_tokens AS mean_info_micro
    FROM fz_scores
),
fz_rt AS (
    SELECT m.{id_col}, d.{lang_col} AS lang, m.mean_info_micro,
           ntile(3) OVER (PARTITION BY d.{lang_col}
                          ORDER BY m.mean_info_micro, m.{id_col})
               AS t
    FROM fz_mean m JOIN fz_ref d USING ({id_col})
),
fz_cuts AS (
    SELECT lang,
           max(CASE WHEN t = 1 THEN struct_pack(
               s := mean_info_micro,
               i := CAST({id_col} AS BIGINT)) END) AS c1,
           max(CASE WHEN t = 2 THEN struct_pack(
               s := mean_info_micro,
               i := CAST({id_col} AS BIGINT)) END) AS c2
    FROM fz_rt GROUP BY 1
),
frozen_buckets AS (
    SELECT m.{id_col}, d.{lang_col} AS lang, m.n_tokens,
           m.mean_info_micro,
           CASE WHEN COALESCE(
                    m.mean_info_micro < c.c1.s
                    OR (m.mean_info_micro = c.c1.s
                        AND CAST(m.{id_col} AS BIGINT) <= c.c1.i),
                    FALSE) THEN 'head'
                WHEN COALESCE(
                    m.mean_info_micro < c.c2.s
                    OR (m.mean_info_micro = c.c2.s
                        AND CAST(m.{id_col} AS BIGINT) <= c.c2.i),
                    FALSE) THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM fz_mean m
    JOIN {table} d USING ({id_col})
    LEFT JOIN fz_cuts c ON d.{lang_col} = c.lang
),
ref_ntile AS (
    SELECT {id_col},
           CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS ref_bucket
    FROM fz_rt
)"""
