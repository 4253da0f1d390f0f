"""Sequential-pattern operators over event streams: session path
extraction and top-path mining (SURVEY.md §2.9/§2.12 analytics tier —
sibling of operators/eventtime.py's funnel and transition matrix).

Reference parity: the reference's event model stops at per-event
transforms (src/transform/core.py is empty); path mining is part of
the beyond-reference training-data/product-analytics surface the
round briefs ask for.

Scale shape: sessionization is ONE user-keyed shuffle (the same
gap-and-island contract as operators/eventtime.py::session_window_agg);
the per-session path is built by an ordered in-group fold whose state
is one session's events — bounded by the session gap, never by
|corpus|. Top-path counting is ONE path-keyed hash agg with map-side
partial aggregation; the final top-N cut is a rank over |distinct
paths| rows, partition-pruned by Spark's TakeOrderedAndProject when N
is small. Nothing touches the driver.

Path strings are truncated at ``max_steps`` events (suffix dropped,
marked with a trailing ``>…``) so a runaway session cannot produce an
unbounded group-by key — at 100 TB the shuffle key width must be
bounded by construction, not by hope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.operators._cache import persist_tracked
from top_produce_etl_spark.operators.eventtime import check_interval


def session_paths(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    step_col: str,
    tiebreak: str,
    gap: str = "30 minutes",
    max_steps: int = 20,
    sep: str = ">",
) -> DataFrame:
    """One row per (user, session): the session's ordered step path.

    Ordering inside a session is (ts, tiebreak) — fully deterministic,
    same contract as eventtime.dedup_first_by_time. Output:
    (user, session_start, n_steps, path) where path is the first
    ``max_steps`` step values joined with ``sep`` (``sep + '…'``
    appended when truncated).
    """
    if max_steps < 1:
        raise ValueError(f"max_steps must be >= 1, got {max_steps}")
    check_interval(gap, "gap")
    sess = (
        df.groupBy(
            F.session_window(ts_col, gap).alias("__win"),
            F.col(user_col).alias("user"),
        )
        .agg(
            F.sort_array(
                F.collect_list(F.struct(ts_col, tiebreak, step_col))
            ).alias("__steps"),
        )
        .select(
            "user",
            F.col("__win.start").alias("session_start"),
            F.size("__steps").alias("n_steps"),
            F.concat(
                F.concat_ws(
                    sep,
                    F.slice(
                        F.transform("__steps", lambda s: s[step_col]),
                        1,
                        max_steps,
                    ),
                ),
                F.when(
                    F.size("__steps") > max_steps, F.lit(sep + "…")
                ).otherwise(F.lit("")),
            ).alias("path"),
        )
    )
    return sess


def top_paths(paths: DataFrame, n: int, path_col: str = "path") -> DataFrame:
    """Top-N most frequent paths with a deterministic boundary cut
    (count DESC, then path ASC — the sort key is unique per path row,
    so ties at rank N resolve identically on any engine or
    partitioning). Output: (path, n_sessions).

    Spark plans the sort+limit as TakeOrderedAndProject (per-partition
    top-N then a driver-side merge of N-row heads) — no global sort,
    no unpartitioned window (the plan-audit rule in plans/audit.py
    forbids data-sized global windows for exactly this case)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    counts = paths.groupBy(F.col(path_col).alias("path")).agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    return counts.orderBy(
        F.col("n_sessions").desc(), F.col("path").asc()
    ).limit(n)


def audience_overlap(
    df: DataFrame, group_col: str, member_col: str
) -> DataFrame:
    """Pairwise audience overlap between groups (segments, event
    types, campaigns): |A∩B|, |A∪B| and Jaccard for every group pair
    — the overlap matrix behind "do these audiences duplicate?"
    targeting/dedup decisions.

    ONE distinct projection, a member-keyed self-join (each member
    contributes its own group-pair combinations — bounded by the
    per-member group count squared, with |groups| small by
    definition of a segmentation), and inclusion-exclusion for the
    union from broadcast per-group sizes. Jaccard ships as 1e6
    fixed point over exact integer counts. Canonical a < b pairs.

    Output: (group_a, group_b, n_a, n_b, n_both, jaccard_micro).
    """
    # gm feeds THREE consumers (sizes + both self-join sides);
    # unpersisted, the scan→project→distinct tower re-executes per
    # consumer (guide §2.4). The caller's pipeline_session releases
    # it (operators/_cache.py).
    gm = persist_tracked(
        df.select(
            F.col(group_col).alias("g"), F.col(member_col).alias("m")
        ).distinct()
    )
    sizes = gm.groupBy(F.col("g").alias("grp")).agg(
        F.count(F.lit(1)).alias("n")
    )
    l = gm.select(F.col("g").alias("group_a"), "m")
    r = gm.select(F.col("g").alias("group_b"), F.col("m").alias("m2"))
    both = (
        l.join(r, (l["m"] == r["m2"]) & (l["group_a"] < r["group_b"]))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = sizes.select(F.col("grp").alias("group_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("grp").alias("group_b"), F.col("n").alias("n_b"))
    out = both.join(na, "group_a").join(nb, "group_b")
    union = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return out.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        "n_both",
        F.round(
            F.col("n_both").cast("double") / union.cast("double") * F.lit(1e6)
        ).cast("bigint").alias("jaccard_micro"),
    )


def sequence_gaps(
    df: DataFrame, key_cols: list[str], seq_col: str
) -> DataFrame:
    """Missing-range detection in a per-key integer sequence — the
    gaps-and-islands completeness check for ingest pipelines carrying
    monotone ids/offsets (Kafka offsets, CDC LSNs, invoice numbers):
    every maximal run of ABSENT values between observed neighbors.

    ONE partitioned lag window over the distinct sequence values:
    a row where ``seq − lag(seq) > 1`` contributes the gap
    [lag+1, seq−1]. Bounded by observed rows (gaps are reported as
    ranges, never enumerated), so a billion-wide hole costs one row.

    Output: (*key_cols, gap_start, gap_end, gap_len), one row per
    maximal missing range.
    """
    from pyspark.sql import Window

    if not key_cols:
        raise ValueError("sequence_gaps requires >= 1 key column")
    s = F.col(seq_col).cast("long")
    d = (
        df.select(*key_cols, s.alias("__s"))
        .distinct()
        .withColumn("__prev", F.lag("__s").over(
            Window.partitionBy(*key_cols).orderBy("__s")
        ))
    )
    return d.filter(
        F.col("__prev").isNotNull() & (F.col("__s") - F.col("__prev") > 1)
    ).select(
        *key_cols,
        (F.col("__prev") + 1).alias("gap_start"),
        (F.col("__s") - 1).alias("gap_end"),
        (F.col("__s") - F.col("__prev") - 1).alias("gap_len"),
    )


def audience_overlap_hll(
    df: DataFrame, group_col: str, member_col: str, lgk: int = 12
) -> DataFrame:
    """Sketch-based scale twin of :func:`audience_overlap`: per-group
    HLL sketches once, then pairwise |A∪B| from merged sketches and
    |A∩B| by inclusion–exclusion — for member domains too large for
    the exact self-join (the exact path shuffles every (group,
    member) pair; this path shuffles |groups| sketches of 2^lgk
    bytes, full stop).

    The estimates are approximate (±~1.6%/√2^lgk per HLL), so this
    is a rows-only/bench-gated operator — the EXACT operator remains
    the oracle surface, and the twin's relative error is pinned in
    tests (the cosine fast-path / simhash-xxhash house pattern).
    Intersections can estimate slightly negative on tiny overlaps;
    they clamp at 0.

    Output: (group_a, group_b, est_a, est_b, est_union, est_both).
    """
    sk = df.groupBy(F.col(group_col).alias("g")).agg(
        F.hll_sketch_agg(member_col, F.lit(lgk)).alias("sk"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(member_col, F.lit(lgk))
        ).alias("est"),
    )
    l = sk.select(
        F.col("g").alias("group_a"),
        F.col("sk").alias("__ska"),
        F.col("est").alias("est_a"),
    )
    r = sk.select(
        F.col("g").alias("group_b"),
        F.col("sk").alias("__skb"),
        F.col("est").alias("est_b"),
    )
    pairs = l.join(r, F.col("group_a") < F.col("group_b"))
    est_union = F.hll_sketch_estimate(
        F.hll_union(F.col("__ska"), F.col("__skb"))
    )
    return pairs.select(
        "group_a",
        "group_b",
        F.col("est_a").cast("bigint").alias("est_a"),
        F.col("est_b").cast("bigint").alias("est_b"),
        est_union.cast("bigint").alias("est_union"),
        F.greatest(
            F.lit(0).cast("bigint"),
            (F.col("est_a") + F.col("est_b") - est_union).cast("bigint"),
        ).alias("est_both"),
    )


def symbol_histories(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    step_col: str,
    tiebreak: str,
    symbols: dict[str, str],
    max_steps: int = 1000,
) -> DataFrame:
    """Per-key ordered event history encoded as a one-char-per-event
    symbol string — the relation regex-based sequence patterns match
    against (the MATCH_RECOGNIZE idea, composed from built-ins
    instead of a bespoke NFA operator: symbols are the pattern
    variables, the regex is the PATTERN clause).

    ``symbols`` maps step values to single characters; unmapped
    steps encode as ``_`` so they still occupy a position (patterns
    can skip them with ``_*``). Ordering is (ts, tiebreak) — the
    same deterministic contract as session_paths. Histories truncate
    at ``max_steps`` events so one hyperactive key cannot build an
    unbounded string: at 100 TB the per-group state must be bounded
    by construction.

    ONE key-keyed shuffle (collect_list with map-side partials);
    per-group state is the key's own history, never the corpus.
    Output: (key, n_events, symbols).
    """
    for s, ch in symbols.items():
        if len(ch) != 1:
            raise ValueError(f"symbol for {s!r} must be 1 char, got {ch!r}")
    mapping = F.create_map(
        *[F.lit(x) for kv in symbols.items() for x in kv]
    )
    return (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(ts_col, tiebreak, step_col))
            ).alias("__evts")
        )
        .select(
            "key",
            F.size("__evts").alias("n_events"),
            F.concat_ws(
                "",
                F.transform(
                    F.slice("__evts", 1, max_steps),
                    lambda e: F.coalesce(
                        mapping[e[step_col]], F.lit("_")
                    ),
                ),
            ).alias("symbols"),
        )
    )


def pattern_match_counts(
    histories: DataFrame,
    patterns: dict[str, str],
    symbols_col: str = "symbols",
) -> DataFrame:
    """Corpus-level sequence-pattern report: for each named regex
    pattern, how many keys match at all and how many non-overlapping
    occurrences exist in total. Output: (pattern, n_keys_matched,
    total_matches), one row per pattern, ordered by pattern name.

    Leftmost non-overlapping match counting (``regexp_count``) is
    the shared semantics of RE2/ICU/PCRE for the anchored-free,
    backtracking-unambiguous patterns this is meant for (keep
    alternations non-overlapping; both Spark and the DuckDB oracle
    then count identically).

    ONE scan of the histories relation: all patterns evaluate as
    sibling column expressions inside the same whole-stage-codegen
    span, partial-aggregate to a single |2·patterns|-wide row, and
    the per-pattern rows unpivot from that one row — the histories
    groupBy is never recomputed per pattern.
    """
    if not patterns:
        raise ValueError("patterns must be non-empty")
    names = sorted(patterns)
    aggs = []
    for i, name in enumerate(names):
        n = F.regexp_count(F.col(symbols_col), F.lit(patterns[name]))
        aggs.append(
            F.sum((n > 0).cast("int")).cast("bigint").alias(f"__hit{i}")
        )
        aggs.append(F.sum(n).cast("bigint").alias(f"__n{i}"))
    wide = histories.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', __hit{i}, __n{i}" for i, name in enumerate(names)
    )
    return wide.select(
        F.expr(
            f"stack({len(names)}, {stack_args}) AS "
            "(pattern, n_keys_matched, total_matches)"
        )
    ).orderBy("pattern")
