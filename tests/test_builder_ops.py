"""The op table behind ``build_pipeline``: every op's keys, how a bad
key fails, which defaults apply, and what importing the builder costs.

Key checks run on the driver alone: a spec is bound to its op's
signature before any op runs, so a bad key raises before the (fake)
source frame is touched."""

from __future__ import annotations

import importlib
import inspect
import re
import subprocess
import sys
from pathlib import Path

import pytest

from top_produce_etl_spark.plans.builder import build_pipeline

ROOT = Path(__file__).resolve().parents[1]

# Any use of this "frame" fails, so an op that ran instead of being
# rejected does not raise the expected ValueError.
NO_FRAME = object()

# op -> (required keys, optional keys)
OP_KEYS = {
    "filter": ({"expr"}, set()),
    "select": ({"cols"}, set()),
    "with_column": ({"expr", "name"}, set()),
    "rename": ({"from", "to"}, set()),
    "drop": ({"cols"}, set()),
    "join": ({"on", "table"}, {"how"}),
    "group_agg": ({"aggs"}, {"by"}),
    "topn": ({"group_by", "metric", "n"}, {"tiebreak"}),
    "distinct": (set(), set()),
    "dedup": (set(), {"cols"}),
    "dropna": (set(), {"cols", "how"}),
    "fillna": ({"value"}, {"cols"}),
    "sort": ({"by"}, set()),
    "limit": ({"n"}, set()),
    "union": ({"table"}, {"allow_missing"}),
    "sample": ({"fraction"}, {"seed"}),
    "curation_funnel": (
        {"id_col", "text_col"},
        {"keep_only", "lang", "max_dup_ngram_frac", "max_mean_info_micro",
         "min_quality", "ngram"},
    ),
    "strip_duplicate_spans": ({"id_col", "text_col"}, {"k", "min_docs"}),
    "mask_contaminated_spans": (
        {"id_col", "ref_table", "text_col"}, {"k", "ref_text_col", "sentinel"}
    ),
    "rebalance_mixture": (
        {"category_col", "key_col", "weights"}, {"salt", "strategy"}
    ),
    "temperature_mix": ({"category_col", "key_col"}, {"salt"}),
    "upsample_mixture": ({"category_col", "epochs", "key_col"}, {"salt"}),
    "cap_per_category": ({"cap", "category_col", "key_col"}, {"salt", "strategy"}),
    "resolve_entities": (
        {"block_cols", "id_col", "match_pred"}, {"attrs", "golden"}
    ),
    "budget_select": (
        {"budget"},
        {"keep_audit", "n_buckets", "score", "text_col", "tokens"},
    ),
    "pack_sequences": ({"budget", "id_col"}, {"len_expr", "n_shards", "text_col"}),
    "dsir_select": (
        {"id_col", "n", "target_pred", "text_col"}, {"buckets", "hasher"}
    ),
    "privacy_gate": ({"quasi_cols"}, {"action", "k", "l", "t"}),
    "normalize_dedup": ({"id_col", "text_col"}, {"keep"}),
    "quality_classifier_filter": (
        {"id_col", "label_expr", "text_col"},
        {"iters", "lr", "n_buckets", "threshold_micro"},
    ),
    "langid_filter": (
        {"id_col", "keep_lang", "text_col", "train_table"},
        {"hash_mode", "iters", "lang_col", "langs", "lr", "n_buckets",
         "train_id_col", "train_text_col"},
    ),
    "surprisal_bucket": ({"id_col", "text_col"}, {"by", "frozen", "keep"}),
    "paragraph_dedup": (set(), {"id_col", "min_chars", "text_col"}),
    "mojibake_repair": (set(), {"keep_flag", "out", "text_col"}),
    "robots_filter": (
        {"robots_table"}, {"agent", "domain_col", "path_col", "robots_text_col"}
    ),
    "html_extract": (set(), {"html_col", "out"}),
    "bt_ratings": (set(), {"iters", "loser_col", "winner_col"}),
    "pair_gap_filter": (
        set(),
        {"iters", "loser_col", "max_gap_micro", "min_gap_micro",
         "train_table", "winner_col"},
    ),
    "url_parse": (set(), {"url_col"}),
    "url_normalize": (set(), {"out", "url_col"}),
    "url_dedup": ({"id_col"}, {"canonical_col", "keep", "url_col"}),
    "url_domain": (set(), {"host_col", "out", "psl", "psl_path"}),
    "rrf_fuse": (set(), {"doc_col", "k", "query_col", "rank_col", "tables", "topn"}),
    "rerank_exact": ({"corpus", "id_col", "vec_col"}, {"k", "scoring"}),
    "ann_topk": (
        {"id_col", "index_path", "vec_col"},
        {"build_from", "codes", "dim", "k", "rebuild", "subspaces",
         "train_sample_mod"},
    ),
}


def _build(*ops: dict, **spec_keys) -> object:
    return build_pipeline(
        None, {"source": "t", "ops": list(ops), **spec_keys}, {"t": NO_FRAME}
    )


@pytest.mark.parametrize("kind", sorted(OP_KEYS))
def test_op_keys_are_bound_before_any_op_runs(kind):
    """A typo'd key or a missing required one raises ValueError naming
    the op and the key; the keys an op accepts are exactly its own."""
    required, optional = OP_KEYS[kind]
    every_key = {k: 1 for k in required | optional}
    unknown = f"op '{kind}': unknown key 'no_such_key'"
    with pytest.raises(ValueError, match=unknown) as e:
        _build({"op": kind, **every_key, "no_such_key": 1})
    accepted = re.search(r"accepts: (.*)\)", str(e.value)).group(1)
    assert set(accepted.split(", ")) - {""} == required | optional

    for key in sorted(required):
        without = {k: 1 for k in required if k != key}
        with pytest.raises(ValueError, match=f"op '{kind}': missing key '{key}'"):
            _build({"op": kind, **without})


def test_typo_in_a_later_op_fails_before_the_first_runs():
    typo = "op 'strip_duplicate_spans': unknown key 'min_doc'"
    with pytest.raises(ValueError, match=typo):
        _build(
            {"op": "limit", "n": 1},
            {"op": "strip_duplicate_spans", "id_col": "doc_id",
             "text_col": "text", "min_doc": 3},
        )


def test_unknown_top_level_spec_key_rejected():
    """An ``opts:`` typo must not return the unfiltered source."""
    with pytest.raises(ValueError, match=r"unknown keys: \['opts'\]"):
        _build(opts=[{"op": "limit", "n": 1}])


class _Recorded(Exception):
    pass


@pytest.mark.parametrize(
    "op, module, operator, omitted",
    [
        ({"op": "mask_contaminated_spans", "id_col": "doc_id",
          "text_col": "text", "ref_table": "t"},
         "dedup", "contaminated_spans", {"k"}),
        ({"op": "robots_filter", "robots_table": "t"},
         "robots", "parse_robots", {"agent"}),
        ({"op": "quality_classifier_filter", "id_col": "doc_id",
          "text_col": "text", "label_expr": "y"},
         "classifier", "train_quasi_logreg", {"iters", "lr"}),
        ({"op": "dsir_select", "id_col": "doc_id", "text_col": "text",
          "target_pred": "y = 1", "n": 1},
         "importance", "dsir_scores", {"hasher"}),
    ],
)
def test_omitted_key_takes_the_operator_default(
    spark, monkeypatch, op, module, operator, omitted
):
    """A key the spec omits reaches the operator as no value at all, so
    the operator's signature default is the one that applies."""
    mod = importlib.import_module(f"top_produce_etl_spark.operators.{module}")
    signature = inspect.signature(getattr(mod, operator))
    calls = []

    def recorder(*args, **kwargs):
        calls.append(signature.bind(*args, **kwargs).arguments)
        raise _Recorded

    monkeypatch.setattr(mod, operator, recorder)
    frame = spark.createDataFrame(
        [(1, "a b", 1)], "doc_id long, text string, y int"
    )
    with pytest.raises(_Recorded):
        build_pipeline(spark, {"source": "t", "ops": [op]}, {"t": frame})
    (passed,) = calls
    assert omitted.isdisjoint(passed)


def test_builder_import_loads_no_operator_module():
    """The CLI job imports the builder on every cold start: op modules
    load on first use, not at import."""
    code = (
        "import sys, top_produce_etl_spark.plans.builder\n"
        "print(*sorted(m for m in sys.modules"
        " if m.startswith('top_produce_etl_spark')))"
    )
    loaded = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, check=True,
        capture_output=True, text=True,
    ).stdout.split()
    package = "top_produce_etl_spark"
    allowed = {package} | {
        f"{package}.{m}"
        for m in ("config", "session", "io", "io.sinks", "io.sources",
                  "operators", "operators._cache", "operators.topn",
                  "plans", "plans.builder")
    }
    assert set(loaded) <= allowed
