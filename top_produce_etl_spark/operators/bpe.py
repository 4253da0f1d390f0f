"""Byte-pair-encoding tokenizer training (SURVEY.md §2.12
beyond-reference tier: tokenizer-prep for an LLM data pipeline).

The classic BPE trick makes this Spark-friendly at 100 TB: the
corpus is scanned ONCE into a (word, freq) vocabulary table — one
explode + hash-agg shuffle — and every merge round after that runs
on the |vocab|-row table, which is millions of rows at web scale
(vs trillions of tokens). Per-round state crossing the driver is a
single (symbol, symbol) merge pair chosen from a tiny top-1
collect; the merge itself is a per-row higher-order fold
(``F.aggregate``) that stays in codegen — no shuffle, no UDF.

Greedy left-to-right merge semantics (the reference BPE behavior,
Sennrich et al. 2016): scanning the symbol sequence once, an
occurrence of (x, y) merges only if its ``x`` was not consumed by a
previous overlapping merge — "aaaa" under (a,a) becomes
["aa", "aa"], "aaa" becomes ["aa", "a"]. The fold's accumulator
reproduces this exactly: append, unless the last kept symbol is
``x`` AND it was appended un-merged this round is irrelevant —
replacing the tail on sight of ``y`` IS the greedy scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.functions.text import tokens
from top_produce_etl_spark.operators._cache import persist_tracked


def word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) vocabulary — the ONE corpus-wide pass. Empty
    tokens (double spaces / edges) are dropped on both engines."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _adjacent_pairs(sym: Column) -> Column:
    """Adjacent (a, b) symbol pairs of one word as an array of
    structs; words of a single symbol yield an empty array. The
    ``size >= 2`` guard matters: ``F.sequence(1, 0)`` would count
    DOWN (Spark auto-negates the step), not return empty."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(sym) - 1),
        lambda i: F.struct(
            F.element_at(sym, i), F.element_at(sym, i + 1)
        ).cast("struct<a:string,b:string>"),
    )
    return F.when(F.size(sym) >= 2, pairs).otherwise(
        F.array().cast("array<struct<a:string,b:string>>")
    )


def pair_counts(vocab_syms: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-pair counts over a (freq, sym)
    vocabulary: the BPE scoring aggregate. One |vocab|-row explode +
    hash agg — map-side combinable, bounded by the pair space."""
    return (
        vocab_syms.select(
            F.explode(_adjacent_pairs(F.col("sym"))).alias("p"), "freq"
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "freq")
        .groupBy("a", "b")
        .agg(F.sum("freq").alias("cnt"))
    )


def merge_pair(sym: Column, x: str, y: str) -> Column:
    """Apply one learned merge (x, y) -> xy to a symbol array with
    the greedy left-to-right scan, as a codegen'd fold (no UDF)."""
    merged = F.array(F.lit(x + y))
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(x))
            & (s == F.lit(y)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), merged),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    checkpoint_every: int = 16,
    round_times: list | None = None,
    round_clock=None,
    round_clock_times: list | None = None,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges from a corpus; returns the
    ordered merge list (the tokenizer model — driver-side, tiny)
    and the final (word, freq, sym) vocabulary with merges applied.

    Round shape: ``pair_counts`` agg over |vocab| rows, a 1-row
    argmax collect (ties broken by count DESC then pair
    lexicographic — deterministic run-to-run), then the fold-based
    merge as a narrow map. The base vocabulary is PERSISTED
    (operators/_cache.py contract — |vocab|-sized): without it,
    lazy lineage re-runs the corpus-wide word count once per merge
    round (measured 9.4 s → 3.4 s for 2 merges over 50k docs).

    Production merge counts (256 … 30k) need lineage CONTROL, not
    just the base persist: each round's ``withColumn`` nests one
    more fold, so round r re-analyzes and re-executes an r-deep
    expression — O(r²) total and an eventual codegen blowout. Every
    ``checkpoint_every`` rounds the vocabulary is materialized via
    ``localCheckpoint`` (the graph.py iterative-loop discipline),
    truncating both the logical plan and the physical fold chain;
    cost is one |vocab|-row write per k rounds — corpus-size-
    independent. Per-round flatness is probed at 256 merges on a
    200k-doc corpus in bench.py (``bpe_probe``).

    ``round_times``: pass a list to receive per-round wall seconds
    (the probe's flatness evidence); leave None otherwise.
    ``round_clock`` / ``round_clock_times``: an optional second
    monotone clock sampled around each round (bench.py passes its
    mutator-CPU clock so the flatness gate can read CPU-per-round,
    immune to the GC-attribution wall noise that misfired the gate
    in rounds 8-9); per-round deltas append to ``round_clock_times``.
    """
    import time as _time

    vocab = persist_tracked(
        word_vocab(df, text_col).withColumn("sym", F.split("word", ""))
    )
    merges: list[tuple[str, str]] = []
    for r in range(n_merges):
        t0 = _time.monotonic()
        c0 = round_clock() if round_clock is not None else None
        best = (
            pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] <= 0:
            break
        x, y = best[0]["a"], best[0]["b"]
        merges.append((x, y))
        vocab = vocab.withColumn("sym", merge_pair(F.col("sym"), x, y))
        if checkpoint_every and (r + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint(eager=True)
        if round_times is not None:
            round_times.append(_time.monotonic() - t0)
        if c0 is not None and round_clock_times is not None:
            round_clock_times.append(round_clock() - c0)
    return merges, vocab


def segment_words(
    vocab: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Apply an already-learned merge list to a (word, …) relation —
    the ENCODE side of the tokenizer (model = broadcastable literal
    list). Output adds ``sym: array<string>``."""
    out = vocab.withColumn("sym", F.split("word", ""))
    for x, y in merges:
        out = out.withColumn("sym", merge_pair(F.col("sym"), x, y))
    return out


def encode_corpus(
    df: DataFrame, id_col: str, text_col: str, n_merges: int
) -> DataFrame:
    """Tokenize a corpus with a freshly-trained BPE model: learn
    ``n_merges`` merges, then emit each document's piece sequence.

    The scalable shape mirrors training: the greedy merge fold runs
    ONCE PER DISTINCT WORD (the segmented vocabulary), never per
    token occurrence — documents then join the |vocab| piece table
    on the word and reassemble by (token position, piece position).
    The join is category-key (word) equi-join; the reassembly sort
    is per-document via ``array_sort`` over collected structs, so no
    global ordering is ever required. Output: (id_col, encoded —
    space-joined pieces, n_pieces)."""
    _, vocab = bpe_train(df, text_col, n_merges)
    pieces = vocab.select(
        "word", F.col("sym").alias("__pieces")
    )
    words = (
        df.select(
            F.col(id_col),
            F.posexplode(tokens(text_col)).alias("__pos", "word"),
        )
        .filter(F.col("word") != "")
    )
    flat = (
        words.join(pieces, "word")
        .select(
            id_col,
            "__pos",
            F.posexplode("__pieces").alias("__j", "__piece"),
        )
    )
    per_doc = flat.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("__pos", "__j", "__piece"))
        ).alias("__seq")
    )
    return per_doc.select(
        id_col,
        F.array_join(
            F.transform(F.col("__seq"), lambda s: s.getField("__piece")),
            " ",
        ).alias("encoded"),
        F.size("__seq").alias("n_pieces"),
    )
