"""Config→plan builder.

The reference's whole pipeline is declared in YAML — input prefix,
output prefix, and a processing block ``group_by_column /
target_metric / top_n`` (reference ``config/config_prod.yaml:3-13``)
— with the transform body left empty. This module is that layer,
realized: a typed config (``config.JobConfig``) drives the top-N
job end-to-end, and a generalized ``ops`` list compiles arbitrary
declarative pipelines to DataFrame transforms.

Design: the builder emits ONLY declarative DataFrame/SQL-expression
calls (``F.expr`` strings, joins, groupBy) — pure driver-side plan
construction, no new execution boundary (SURVEY.md §3). Because the
plan is declarative, Catalyst still gets full visibility: filters
placed anywhere in the ops list are pushed down to the scan, casts
fold, join strategies stay adaptive. Op order in the config is a
*logical* order, not a physical one.
"""

from __future__ import annotations

import importlib
import inspect
import keyword
from functools import cache
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top_produce_etl_spark.config import JobConfig
from top_produce_etl_spark.io.sinks import write_table
from top_produce_etl_spark.io.sources import read_table
from top_produce_etl_spark.operators._cache import (  # noqa: F401
    persist_tracked,
    pipeline_session,
)
from top_produce_etl_spark.operators.topn import top_n_window


def run_topn_job(
    spark: SparkSession,
    cfg: JobConfig,
    metrics_out: dict[str, int] | None = None,
) -> DataFrame:
    """Reference-parity job: read input, keep the top
    ``cfg.processing.top_n`` rows per ``group_by_column`` by
    ``target_metric`` (row_number semantics, deterministic tiebreak),
    write to output if configured, and return the result ordered by
    (group, rank).

    This is the computation the reference declares
    (``config_prod.yaml:10-13``) with the determinism fix SURVEY §7
    calls out: ties are broken by ``tiebreak_column`` ascending.

    The output (written with ``cfg.output.format`` and
    ``cfg.output.options``) is partitioned by group, and each file is
    rank-ordered by a local sort; the write computes the top-N plan
    once. Only the RETURNED frame is globally ordered: a global sort
    before the write would add a sampling job and a range exchange
    for rows that ``partitionBy`` splits into directories anyway. An
    action on the returned frame re-runs the plan.

    Pass ``metrics_out={}`` to receive job observability counters
    (``rows_in``, ``null_metric_rows``, ``rows_out``) after the write
    action completes. They ride ``DataFrame.observe`` accumulators on
    the running job — ZERO extra Spark actions or scans, which is the
    only acceptable cost for per-job metrics at 100 TB (a count()
    would re-run the pipeline).
    """
    from pyspark.sql import Observation

    p = cfg.processing
    df = read_table(
        spark, cfg.input.path, cfg.input.format, options=cfg.input.options
    )
    if cfg.quality:
        # declarative input gate: abort BEFORE computing/writing
        # anything if the input violates its contract (single-pass
        # evaluation; see operators/quality.py)
        from top_produce_etl_spark.operators.quality import assert_quality

        assert_quality(df, list(cfg.quality))
    metric = F.col(p.target_metric).cast("double")
    df = df.withColumn(p.target_metric, metric)

    obs_in = obs_out = None
    if metrics_out is not None and (cfg.output is None or not cfg.output.path):
        # observe-based counters only materialize when the job runs an
        # action (the write). Failing loudly beats returning a
        # mysteriously-empty dict on a write-less config.
        raise ValueError(
            "metrics_out requires a configured output path — job metrics "
            "ride the write action (DataFrame.observe) and a write-less "
            "run executes no action to harvest them from"
        )
    if metrics_out is not None and cfg.output is not None and cfg.output.path:
        obs_in, obs_out = Observation("topn_in"), Observation("topn_out")
        df = df.observe(
            obs_in,
            F.count(F.lit(1)).alias("rows_in"),
            F.count(F.when(metric.isNull(), 1)).alias("null_metric_rows"),
        )
    out = top_n_window(
        df,
        group_by=p.group_by_column,
        metric=p.target_metric,
        n=p.top_n,
        tiebreak=p.tiebreak_column,
    )
    if obs_out is not None:
        out = out.observe(obs_out, F.count(F.lit(1)).alias("rows_out"))
    if cfg.output is not None and cfg.output.path:
        write_table(
            out,
            cfg.output.path,
            fmt=cfg.output.format,
            partition_by=[p.group_by_column],
            sort_by=[p.group_by_column, "rank"],
            options=cfg.output.options,
        )
        if metrics_out is not None:
            metrics_out.update(obs_in.get)
            metrics_out.update(obs_out.get)
    return out.orderBy(p.group_by_column, "rank")


# ---------------------------------------------------------------------------
# Generalized declarative pipeline: {"source": ..., "ops": [...]}
# ---------------------------------------------------------------------------

def load_pipeline_spec(path: str) -> dict[str, Any]:
    """Load a declarative pipeline spec (the :func:`build_pipeline`
    input) from a YAML or JSON file — the config surface that
    extends the reference's config-driven shape
    (config_prod.yaml:10-13) to arbitrary op pipelines, including
    the curation funnel (configs/pipeline_curation.yaml)."""
    import json

    with open(path) as f:
        if path.endswith(".json"):
            return json.load(f)
        import yaml  # type: ignore

        return yaml.safe_load(f)


def build_pipeline(
    spark: SparkSession, spec: dict[str, Any], tables: dict[str, DataFrame] | None = None
) -> DataFrame:
    """Compile a declarative pipeline spec to a DataFrame plan.

    ``spec = {"source": <table name> | {"path", "format", "options"},
    "ops": [{"op": <name>, <key>: <value>, ...}, ...]}``. Each op name
    is an entry of ``_OPS``: an operator, or a small adapter where the
    op does more than one call. An op's keys are the keyword
    parameters of its entry (a Python keyword such as ``from`` is
    spelled ``from_`` there); a key the spec omits takes the
    operator's own default. Unknown and missing keys, unknown ops and
    unknown top-level spec keys are rejected with ``ValueError``
    before any op runs.

    ``tables`` resolves by-name sources (tests register fixture
    DataFrames; production resolves catalog tables).

    Caching contract: the input of an op that re-reads it
    (``_Op.rereads``) is persisted (MEMORY_AND_DISK) through
    ``operators._cache`` when upstream ops have been applied, and is
    NOT released here — the returned plan is lazy and reads it. The
    caller materializes the plan inside ``pipeline_session()``
    (defined in ``operators._cache``, importable from here), which
    releases the persists on exit.
    """
    unknown = sorted(set(spec) - {"source", "ops"})
    if unknown:
        raise ValueError(f"pipeline spec has unknown keys: {unknown}")
    tables = tables or {}

    def resolve(src: Any) -> DataFrame:
        if isinstance(src, str):
            if src in tables:
                return tables[src]
            return spark.table(src)
        return read_table(
            spark, src["path"], src.get("format", "parquet"),
            options=src.get("options"),
        )

    bound = [_bind(op, resolve) for op in spec.get("ops", [])]
    df = resolve(spec["source"])
    for i, (entry, fn, kwargs) in enumerate(bound):
        # a raw source scan stays lazy, so Catalyst keeps pushdown and
        # pruning across the op chain and a single-op spec is the
        # operator call itself
        if entry.rereads and i:
            df = persist_tracked(df)
        df = fn(df, **kwargs)
    return df


class _Op(NamedTuple):
    """One pipeline op. ``fn(df, **keys)`` is an operator named as
    ``"module:function"`` under ``operators`` (imported on first use:
    the CLI job imports this module on every cold start) or an
    adapter; an adapter that takes a keyword-only ``resolve`` gets the
    table resolver.

    ``rereads``: the op's implementation scans its input more than
    once (a count/rollup aggregate plus a join back, a multi-signal
    fan-out, an eager model fit plus the final projection, ...). In a
    composed pipeline the input is an arbitrary upstream funnel that
    each scan would re-derive — the super-linear composition cost
    bench.py's funnel probe gates (2.0× on
    mixture→strip→curate→budget→pack before the boundary persist) —
    so ``build_pipeline`` persists it first."""

    fn: Callable[..., DataFrame] | str
    rereads: bool = False


@cache
def _entry(
    kind: str,
) -> tuple[_Op, Callable[..., DataFrame], dict[str, inspect.Parameter]]:
    """Op ``kind``'s table entry, its function, and the keys it
    accepts (spec key -> parameter)."""
    if kind not in _OPS:
        raise ValueError(f"unknown op: {kind}")
    entry = _OPS[kind]
    fn = entry.fn
    if isinstance(fn, str):
        module, name = fn.split(":")
        fn = getattr(
            importlib.import_module(f"top_produce_etl_spark.operators.{module}"),
            name,
        )
    params = list(inspect.signature(fn).parameters.values())[1:]
    keys = {
        p.name[:-1] if keyword.iskeyword(p.name[:-1]) else p.name: p
        for p in params
        if p.name != "resolve"
    }
    return entry, fn, keys


def _bind(
    op: dict[str, Any], resolve: Callable[[Any], DataFrame]
) -> tuple[_Op, Callable[..., DataFrame], dict[str, Any]]:
    """Check ``op``'s keys against its entry's signature; return the
    entry, its function and the keyword arguments to call it with."""
    kind = op.get("op")
    entry, fn, params = _entry(kind)
    keys = {k: v for k, v in op.items() if k != "op"}
    unknown = sorted(set(keys) - set(params))
    if unknown:
        raise ValueError(
            f"op {kind!r}: unknown key {unknown[0]!r} "
            f"(accepts: {', '.join(params)})"
        )
    for key, p in params.items():
        if p.default is p.empty and key not in keys:
            raise ValueError(f"op {kind!r}: missing key {key!r}")
    kwargs = {params[k].name: v for k, v in keys.items()}
    if "resolve" in inspect.signature(fn).parameters:
        kwargs["resolve"] = resolve
    return entry, fn, kwargs


# The default of an adapter key that the adapter forwards to an
# operator: an omitted key is not forwarded, so the operator's own
# signature default applies.
_DEFAULT: Any = object()


def _given(**keys: Any) -> dict[str, Any]:
    """``keys`` without the ones the spec omitted."""
    return {k: v for k, v in keys.items() if v is not _DEFAULT}


def _default(fn: Callable, key: str, value: Any) -> Any:
    """``value``, or ``fn``'s default for ``key`` if the spec omitted it."""
    if value is _DEFAULT:
        return inspect.signature(fn).parameters[key].default
    return value


def _keep_ids(
    df: DataFrame, survivors: DataFrame, id_col: str, survivor_id: str | None = None
) -> DataFrame:
    """The rows of ``df`` whose ``id_col`` is among the ``survivor_id``
    (default: ``id_col``) values of ``survivors`` — a left-semi join."""
    ids = survivors.select(
        F.col(survivor_id).alias(id_col) if survivor_id else id_col
    )
    return df.join(ids, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Adapters: ops that do more than forward their keys to one operator
# ---------------------------------------------------------------------------

def _join(df, table, on, how="inner", *, resolve):
    cond = F.expr(on) if isinstance(on, str) and " " in on else on
    return df.join(resolve(table), on=cond, how=how)


def _union(df, table, allow_missing=False, *, resolve):
    return df.unionByName(resolve(table), allowMissingColumns=bool(allow_missing))


def _group_agg(df, aggs, by=()):
    return df.groupBy(*by).agg(*[F.expr(e).alias(name) for name, e in aggs.items()])


def _topn(df, group_by, metric, n, tiebreak=None):
    return top_n_window(
        df, group_by=group_by, metric=metric, n=int(n), tiebreak=tiebreak
    )


def _sort(df, by):
    return df.orderBy(*[
        F.col(c[1:]).desc() if c.startswith("-") else F.col(c).asc()
        for c in by
    ])


def _curation_funnel(
    df, id_col, text_col, lang=_DEFAULT, min_quality=_DEFAULT,
    max_dup_ngram_frac=_DEFAULT, max_mean_info_micro=_DEFAULT,
    ngram=_DEFAULT, keep_only=False,
):
    """The four verified curation signals with their thresholds (the
    oracle-checked query delegates to the same function). keep_only:
    the funnel as a FILTER — survivors with their original columns,
    audit trail dropped."""
    from top_produce_etl_spark.operators.textquality import curation_funnel

    verdicts = curation_funnel(df, id_col, text_col, **_given(
        lang=lang, min_quality=min_quality,
        max_dup_ngram_frac=max_dup_ngram_frac,
        max_mean_info_micro=max_mean_info_micro, ngram=ngram,
    ))
    if keep_only:
        return _keep_ids(df, verdicts.filter(F.col("keep")), id_col)
    return verdicts


def _mask_contaminated_spans(
    df, id_col, text_col, ref_table, k=_DEFAULT, ref_text_col=None,
    sentinel=_DEFAULT, *, resolve,
):
    """Mask the spans leaked from a reference table (typically the
    test split) — the verified path behind
    masked_decontamination_proof."""
    from top_produce_etl_spark.operators.dedup import (
        contaminated_spans,
        mask_spans,
    )

    spans = contaminated_spans(
        df, resolve(ref_table), id_col, text_col,
        ref_text_col=ref_text_col, **_given(k=k),
    )
    return mask_spans(df, spans, id_col, text_col, **_given(sentinel=sentinel))


def _resolve_entities(df, id_col, block_cols, match_pred, attrs=None, golden=None):
    """Record linkage: (id, entity_id), or the merged survivorship rows
    when golden-record aggregates are declared."""
    from top_produce_etl_spark.operators.linkage import (
        golden_records,
        resolve_entities,
    )

    assign = resolve_entities(df, id_col, block_cols, match_pred, attrs=attrs)
    return golden_records(df, assign, id_col, golden) if golden else assign


def _budget_select(
    df, budget, text_col=None, score=None, tokens=None, n_buckets=_DEFAULT,
    keep_audit=False,
):
    """Keep the best score-buckets whose token mass fits the budget.
    score defaults to the house quality_score over text_col, tokens to
    the whitespace count of text_col."""
    from top_produce_etl_spark.functions.text import quality_score
    from top_produce_etl_spark.functions.text import tokens as _tok
    from top_produce_etl_spark.operators.mixture import budget_select

    if text_col is None and (score in (None, "quality") or tokens is None):
        raise ValueError("op 'budget_select': missing key 'text_col'")
    q = quality_score(text_col) if score in (None, "quality") else F.expr(score)
    toks = F.size(_tok(text_col)) if tokens is None else F.expr(tokens)
    kept = budget_select(
        df.withColumn("__q", q).withColumn("__toks", toks), "__q", "__toks",
        budget=budget, **_given(n_buckets=n_buckets),
    )
    return kept if keep_audit else kept.drop("__q", "__toks", "__bucket")


def _pack_sequences(
    df, id_col, budget, text_col=None, len_expr=None, n_shards=_DEFAULT
):
    """A (shard, bin, pos) slot per document under the token budget;
    length is ``len_expr`` or the whitespace token count of
    ``text_col``."""
    from top_produce_etl_spark.functions.text import tokens as _tok
    from top_produce_etl_spark.operators.packing import pack_sequences

    if len_expr is None and text_col is None:
        raise ValueError("op 'pack_sequences': missing key 'text_col'")
    ln = F.size(_tok(text_col)) if len_expr is None else F.expr(len_expr)
    return pack_sequences(df, id_col, ln, budget=budget, **_given(n_shards=n_shards))


def _dsir_select(
    df, id_col, text_col, target_pred, n, buckets=_DEFAULT, hasher=_DEFAULT
):
    """Keep the n documents most like the target slice (the verified
    function behind dsir_selection_top100)."""
    from top_produce_etl_spark.operators.importance import dsir_scores

    scores = dsir_scores(
        df, id_col, text_col, target_pred, **_given(buckets=buckets, hasher=hasher)
    )
    top = scores.orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    ).limit(int(n))
    return _keep_ids(df, top, id_col)


def _privacy_gate(df, quasi_cols, k=None, l=None, t=None, action="fail"):  # noqa: E741
    """Release gate over any subset of k-anonymity / l-diversity /
    t-closeness (the verified operators behind the battery entries):
    ``action: fail`` fails the build — a release pipeline must not
    silently publish; ``action: drop`` suppresses the violating
    quasi-identifier groups."""
    from top_produce_etl_spark.operators.quality import (
        k_anonymity_violations,
        l_diversity_violations,
        t_closeness_violations,
    )

    quasi = list(quasi_cols)
    viols = []
    if k is not None:
        viols.append(("k_anonymity", k_anonymity_violations(df, quasi, int(k))))
    if l is not None:
        viols.append(("l_diversity", l_diversity_violations(
            df, quasi, l["sensitive"], int(l["min"])
        )))
    if t is not None:
        viols.append(("t_closeness", t_closeness_violations(
            df, quasi, t["sensitive"], int(t["t_micro"])
        )))
    if not viols:
        raise ValueError("privacy_gate needs at least one of k/l/t")
    if action == "fail":
        # one eager count per gate serves both the emptiness test and
        # the message
        bad = [f"{name}: {n} violating groups"
               for name, v in viols if (n := v.count()) > 0]
        if bad:
            raise ValueError("privacy gate failed: " + "; ".join(bad))
    elif action == "drop":
        for _, v in viols:
            df = df.join(v.select(*quasi), quasi, "left_anti")
    else:
        raise ValueError(f"unknown privacy_gate action: {action}")
    return df


def _normalize_dedup(df, id_col, text_col, keep="rows"):
    """CCNet-normalized exact dedup, one min-id keeper per class:
    keep="rows" returns the keeper rows, keep="report" the per-class
    report."""
    from top_produce_etl_spark.operators.dedup import normalized_exact_dedup

    rep = normalized_exact_dedup(df, text_col, id_col)
    return _keep_ids(df, rep, id_col) if keep == "rows" else rep


def _quality_classifier_filter(
    df, id_col, text_col, label_expr, n_buckets=_DEFAULT, iters=_DEFAULT,
    lr=_DEFAULT, threshold_micro=500_000,
):
    """Train the quasi-logistic classifier on the current frame against
    a 0/1 label expression (model-sized collects only), score every row
    with one broadcast model join, keep rows whose probability clears
    the threshold."""
    from top_produce_etl_spark.operators.classifier import (
        score_quasi_logreg,
        train_quasi_logreg,
    )

    nb = _given(n_buckets=n_buckets)
    model = train_quasi_logreg(
        df.withColumn("__y", F.expr(label_expr).cast("int")),
        id_col, text_col, "__y", **nb, **_given(iters=iters, lr=lr),
    )
    scored = score_quasi_logreg(df, model, id_col, text_col, **nb)
    kept = scored.filter(F.col("score_micro") >= int(threshold_micro))
    return _keep_ids(df, kept, id_col, "id")


def _langid_filter(
    df, id_col, text_col, train_table, keep_lang, lang_col=_DEFAULT,
    langs=None, train_id_col=None, train_text_col=None,
    n_buckets=_DEFAULT, hash_mode=_DEFAULT, iters=_DEFAULT, lr=_DEFAULT,
    *, resolve,
):
    """Train the one-vs-rest langid on a labeled reference table, score
    the current frame, keep rows predicted as ``keep_lang``. ``langs``
    defaults to the reference's distinct labels."""
    from top_produce_etl_spark.operators.langid import (
        score_langid,
        train_langid,
    )

    ref = resolve(train_table)
    lang_col = _default(train_langid, "lang_col", lang_col)
    if langs is None:
        # |langs|-sized collect — model-sized
        langs = sorted(r[0] for r in ref.select(lang_col).distinct().collect())
    langs = tuple(langs)
    shared = _given(n_buckets=n_buckets, hash_mode=hash_mode)
    model = train_langid(
        ref, id_col=train_id_col or id_col,
        text_col=train_text_col or text_col, lang_col=lang_col,
        langs=langs, **shared, **_given(iters=iters, lr=lr),
    )
    scored = score_langid(
        df, model, id_col, text_col, langs=langs, **shared
    ).filter(F.col("pred_lang") == keep_lang)
    return _keep_ids(df, scored, id_col, "id")


def _surprisal_bucket(
    df, id_col, text_col, by=_DEFAULT, keep=None, frozen=None, *, resolve
):
    """CCNet head/middle/tail unigram-LM surprisal terciles. ``keep``
    filters to the named buckets; without it the ppl_bucket column is
    attached.

    ``frozen: {path, train_table?}`` scores against a stored artifact
    (LM counts + cutoffs, built from train_table or the flowing frame
    and saved on first miss): append-stable, streaming-legal, no wide
    sort."""
    from top_produce_etl_spark.operators import textquality as tq

    by = tuple(_default(tq.perplexity_buckets, "by", by))
    if frozen:
        import os

        path = frozen["path"]
        if not os.path.exists(os.path.join(path, "lm")):
            train = (
                resolve(frozen["train_table"])
                if frozen.get("train_table")
                else df
            )
            tq.save_surprisal_reference(
                tq.unigram_lm(train, text_col),
                tq.surprisal_cutoffs(train, id_col, text_col, by),
                path,
            )
        lm, cuts = tq.load_surprisal_reference(df.sparkSession, path)
        scored = tq.score_with_frozen_lm(df, lm, id_col, text_col)
        if by:
            scored = scored.join(df.select(id_col, *by), id_col)
        b = tq.bucket_frozen(scored, cuts, id_col, by)
    else:
        b = tq.perplexity_buckets(df, id_col, text_col, by=by)
    if keep:
        return _keep_ids(df, b.where(F.col("ppl_bucket").isin(*keep)), id_col)
    return df.join(b.select(id_col, "ppl_bucket"), id_col)


def _paragraph_dedup(df, id_col=_DEFAULT, text_col=_DEFAULT, min_chars=_DEFAULT):
    """Paragraph-grain first-occurrence dedup: the text column is
    rewritten, the other columns re-joined by id."""
    from top_produce_etl_spark.operators.dedup import paragraph_dedup

    id_col = _default(paragraph_dedup, "id_col", id_col)
    text_col = _default(paragraph_dedup, "text_col", text_col)
    clean = paragraph_dedup(df, id_col, text_col, **_given(min_chars=min_chars))
    return df.drop(text_col).join(
        clean.select(id_col, F.col("text_clean").alias(text_col)), id_col
    )


def _mojibake_repair(df, text_col=_DEFAULT, out=None, keep_flag=False):
    from top_produce_etl_spark.operators.encoding import repair_mojibake

    df = repair_mojibake(df, out=out, **_given(text_col=text_col))
    return df if keep_flag else df.drop("was_mojibake")


def _robots_filter(
    df, robots_table, agent=_DEFAULT, domain_col=_DEFAULT,
    path_col=_DEFAULT, robots_text_col=_DEFAULT, *, resolve,
):
    """Keep only the URLs the RFC 9309 longest-match verdict of the
    robots table allows for ``agent``."""
    from top_produce_etl_spark.operators.robots import (
        parse_robots,
        robots_allowed,
    )

    rules = parse_robots(resolve(robots_table), **_given(
        id_col=domain_col, text_col=robots_text_col, agent=agent
    ))
    return robots_allowed(
        df, rules, **_given(domain_col=domain_col, path_col=path_col)
    ).where(F.col("allowed")).drop("allowed", "matched_len")


def _pair_gap_filter(
    df, winner_col=_DEFAULT, loser_col=_DEFAULT, iters=_DEFAULT,
    train_table=None, min_gap_micro=None, max_gap_micro=None, *, resolve,
):
    """Rate items by Bradley-Terry MM (on the flowing pairs or
    ``train_table``), attach each pair's winner−loser gap and keep the
    pairs inside [min_gap_micro, max_gap_micro]; the rating and gap
    columns stay on the survivors."""
    from top_produce_etl_spark.operators.preferences import (
        bt_ratings,
        with_rating_gap,
    )

    cols = _given(winner_col=winner_col, loser_col=loser_col)
    src = resolve(train_table) if train_table else df
    ratings = bt_ratings(src, **cols, **_given(iters=iters))
    df = with_rating_gap(df, ratings, **cols)
    if min_gap_micro is not None:
        df = df.filter(F.col("gap_micro") >= int(min_gap_micro))
    if max_gap_micro is not None:
        df = df.filter(F.col("gap_micro") <= int(max_gap_micro))
    return df


def _url_parse(df, url_col="url"):
    from top_produce_etl_spark.operators.urls import parse_urls

    return parse_urls(df, url_col)


def _url_normalize(df, url_col="url", out=_DEFAULT):
    from top_produce_etl_spark.operators.urls import normalize_urls

    return normalize_urls(df, url_col, **_given(out=out))


def _url_dedup(df, id_col, url_col="url", canonical_col=_DEFAULT, keep="rows"):
    """One hash-agg on the canonical URL (an existing column, or derived)
    with min-id keeper election: keep="rows" keeps the keeper rows,
    keep="report" emits the per-class report — the schema of the
    url_normalize_dedup battery oracle."""
    from top_produce_etl_spark.operators.urls import normalize_urls

    canon = _default(normalize_urls, "out", canonical_col)
    if canon not in df.columns:
        df = normalize_urls(df, url_col, out=canon)
    rep = df.groupBy(canon).agg(
        F.count("*").cast("bigint").alias("n_raw"),
        F.countDistinct(url_col).cast("bigint").alias("n_raw_variants"),
        F.min(id_col).cast("bigint").alias(f"keeper_{id_col}"),
    )
    if keep == "rows":
        return _keep_ids(df, rep, id_col, f"keeper_{id_col}")
    return rep


def _url_domain(df, host_col=_DEFAULT, out=_DEFAULT, psl=True, psl_path=None):
    """Attach the registered domain: psl=true via the broadcast
    public-suffix dimension, else the legacy multi-label literal."""
    cols = _given(host_col=host_col, out=out)
    if not psl:
        from top_produce_etl_spark.operators.urls import with_registered_domain

        return with_registered_domain(df, **cols)
    from top_produce_etl_spark.operators.psl import (
        psl_rules_df,
        with_registered_domain_psl,
    )

    rules = psl_rules_df(df.sparkSession, path=psl_path) if psl_path else None
    return with_registered_domain_psl(df, rules_df=rules, **cols)


def _rrf_fuse(
    df, tables=(), query_col=_DEFAULT, doc_col=_DEFAULT, rank_col=_DEFAULT,
    k=_DEFAULT, topn=None, *, resolve,
):
    """Fuse the current rank list with the ``tables`` ones; the
    declaration order [current, *tables] fixes rrf_fuse's addition
    order, so the result is the hybrid_rrf_retrieval oracle's."""
    from top_produce_etl_spark.operators.retrieval import rrf_fuse

    return rrf_fuse([df, *map(resolve, tables)], topn=topn, **_given(
        query_col=query_col, doc_col=doc_col, rank_col=rank_col, k=k
    ))


def _rerank_exact(
    df, corpus, id_col, vec_col, k=_DEFAULT, scoring=_DEFAULT, *, resolve
):
    """Exact rescoring of the current shortlist against the
    full-precision ``corpus``."""
    from top_produce_etl_spark.operators.similarity import rerank_exact

    return rerank_exact(
        resolve(corpus), df, id_col, vec_col, **_given(k=k, scoring=scoring)
    )


def _ann_topk(
    df, index_path, id_col, vec_col, k=_DEFAULT, build_from=None,
    rebuild=False, dim=None, subspaces=_DEFAULT, codes=_DEFAULT,
    train_sample_mod=None, *, resolve,
):
    """ANN neighbors of the current (query) frame from a stored
    product-quantization index. ``build_from`` names a corpus to index
    first when the index does not exist yet (or ``rebuild``)."""
    import os

    from top_produce_etl_spark.operators.pq import (
        pq_index_save,
        pq_topk_from_index,
    )

    have = os.path.isdir(os.path.join(index_path, "codebooks"))
    if build_from and (not have or rebuild):
        pq_index_save(
            resolve(build_from), id_col, vec_col, dim=dim, path=index_path,
            train_sample_mod=train_sample_mod,
            **_given(subspaces=subspaces, codes=codes),
        )
    return pq_topk_from_index(
        df.sparkSession, index_path, df, id_col, vec_col, **_given(k=k)
    )


_OPS: dict[str, _Op] = {
    "filter": _Op(lambda df, expr: df.filter(F.expr(expr))),
    "select": _Op(lambda df, cols: df.select(*[F.expr(c) for c in cols])),
    "with_column": _Op(lambda df, name, expr: df.withColumn(name, F.expr(expr))),
    "rename": _Op(lambda df, from_, to: df.withColumnRenamed(from_, to)),
    "drop": _Op(lambda df, cols: df.drop(*cols)),
    "join": _Op(_join),
    "group_agg": _Op(_group_agg),
    "topn": _Op(_topn),
    "distinct": _Op(lambda df: df.distinct()),
    # first row per key, nondeterministic without a prior sort — a
    # specific survivor is op=topn with n=1
    "dedup": _Op(lambda df, cols=None: df.dropDuplicates(subset=cols)),
    "dropna": _Op(lambda df, how="any", cols=None: df.na.drop(how=how, subset=cols)),
    "fillna": _Op(lambda df, value, cols=None: df.na.fill(value, subset=cols)),
    "sort": _Op(_sort),
    "limit": _Op(lambda df, n: df.limit(int(n))),
    "union": _Op(_union),
    "sample": _Op(lambda df, fraction, seed=42: df.sample(
        fraction=float(fraction), seed=int(seed)
    )),
    "curation_funnel": _Op(_curation_funnel, rereads=True),
    "strip_duplicate_spans": _Op("dedup:strip_duplicate_spans", rereads=True),
    "mask_contaminated_spans": _Op(_mask_contaminated_spans, rereads=True),
    "rebalance_mixture": _Op("mixture:rebalance_mixture", rereads=True),
    "temperature_mix": _Op("mixture:temperature_rebalance", rereads=True),
    "upsample_mixture": _Op("mixture:upsample_mixture", rereads=True),
    "cap_per_category": _Op("mixture:cap_per_category", rereads=True),
    "resolve_entities": _Op(_resolve_entities, rereads=True),
    "budget_select": _Op(_budget_select, rereads=True),
    "pack_sequences": _Op(_pack_sequences),
    "dsir_select": _Op(_dsir_select, rereads=True),
    "privacy_gate": _Op(_privacy_gate, rereads=True),
    "normalize_dedup": _Op(_normalize_dedup, rereads=True),
    "quality_classifier_filter": _Op(_quality_classifier_filter, rereads=True),
    "langid_filter": _Op(_langid_filter, rereads=True),
    "surprisal_bucket": _Op(_surprisal_bucket, rereads=True),
    "paragraph_dedup": _Op(_paragraph_dedup, rereads=True),
    "mojibake_repair": _Op(_mojibake_repair, rereads=True),
    "robots_filter": _Op(_robots_filter, rereads=True),
    "html_extract": _Op("html:extract_html_text", rereads=True),
    "bt_ratings": _Op("preferences:bt_ratings", rereads=True),
    "pair_gap_filter": _Op(_pair_gap_filter, rereads=True),
    "url_parse": _Op(_url_parse),
    "url_normalize": _Op(_url_normalize),
    "url_dedup": _Op(_url_dedup, rereads=True),
    "url_domain": _Op(_url_domain),
    "rrf_fuse": _Op(_rrf_fuse),
    "rerank_exact": _Op(_rerank_exact),
    "ann_topk": _Op(_ann_topk),
}
