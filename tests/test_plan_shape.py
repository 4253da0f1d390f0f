"""Physical-plan shape assertions — the scale contract.

Correctness tests prove the small-SF answer; these prove the PLAN is
the one that survives a 100 TB / 1000-executor scale-up (SURVEY.md
§4): dimension joins broadcast (fact table never shuffles for them),
predicates reach the parquet scan, projections prune the read
schema, and global top-k compiles to TakeOrderedAndProject instead
of a full sort. A regression here is a performance bug even when
every value still matches the oracle.
"""

from __future__ import annotations

import re

from top_produce_etl_spark.queries import get_all_queries, get_queries


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def test_flagship_broadcasts_all_dims(spark, sf_dir):
    """Star join: at test SF all four dims broadcast (nation/region
    by fixed-cardinality hint, customer/part by the planner's own
    size threshold — they fit under it here). The only
    shuffle-bearing join allowed is lineitem⨝orders."""
    p = plan(get_all_queries()["flagship_top3_region"](spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 4, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_flagship_no_oversized_forced_broadcast(spark, sf_dir):
    """The inverse invariant (round-3 verdict): every broadcast HINT
    in the flagship's logical plan must be on a build side whose
    size estimate fits the session threshold — a forced hint on an
    SF-scaled table would OOM a 100 TB cluster instead of degrading
    to a shuffle join."""
    from top_produce_etl_spark.plans.audit import broadcast_hint_audit

    df = get_all_queries()["flagship_top3_region"](spark, sf_dir)
    assert broadcast_hint_audit(df) == []


def test_audit_flags_forced_oversized_broadcast(spark):
    """A raw F.broadcast on an above-threshold build side is exactly
    the 100 TB OOM pattern — broadcast_hint_audit must flag it and
    assert_scalable must raise on it."""
    import pytest
    from pyspark.sql import functions as F

    from top_produce_etl_spark.plans.audit import (
        assert_scalable,
        broadcast_hint_audit,
    )

    bad = spark.range(10).join(F.broadcast(spark.range(3_000_000)), "id")
    findings = broadcast_hint_audit(bad)
    assert findings and "forced broadcast hint" in findings[0]
    with pytest.raises(AssertionError, match="oversized_broadcast_hints"):
        assert_scalable(bad)


def test_flagship_dims_follow_session_threshold(spark, sf_dir):
    """Only nation/region carry a hint; customer/part are broadcast by
    the planner's own threshold. At the default threshold all four
    dims broadcast; with ``autoBroadcastJoinThreshold=-1`` exactly the
    two hinted joins stay BroadcastHashJoin."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    try:
        p = plan(get_all_queries()["flagship_top3_region"](spark, sf_dir))
        assert p.count("BroadcastHashJoin") >= 4, p
        spark.conf.set(key, "-1")
        p = simple_plan(get_all_queries()["flagship_top3_region"](spark, sf_dir))
        assert p.count("BroadcastHashJoin") == 2, p
    finally:
        spark.conf.set(key, orig)


def test_no_size_gated_hint_helper():
    """Broadcast choice for data-scaled sides belongs to the planner:
    the engine and bench carry no helper that re-derives it."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    files = [root / "bench.py", *(root / "top_produce_etl_spark").rglob("*.py")]
    hits = [str(f) for f in files if "maybe_broadcast" in f.read_text()]
    assert hits == []


def test_proj_filter_cast_pushdown_and_pruning(spark, sf_dir):
    """The filter must land in PushedFilters and the scan must read
    only the 5 referenced columns, not all 11 of lineitem."""
    p = plan(get_all_queries()["proj_filter_cast"](spark, sf_dir))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m, p
    assert "l_discount" in m.group(1) and "l_returnflag" in m.group(1)
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert rs, p
    read_cols = [c.split(":")[0] for c in rs.group(1).split(",")]
    assert sorted(read_cols) == [
        "l_discount", "l_extendedprice", "l_orderkey", "l_partkey", "l_quantity",
        "l_returnflag",
    ], read_cols


def test_global_topk_is_take_ordered(spark, sf_dir):
    """orderBy+limit must compile to TakeOrderedAndProject
    (per-partition heap, no full global sort)."""
    p = simple_plan(get_all_queries()["top_orders_global"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p
    assert "Sort [" not in p  # no standalone global sort


def test_q1_partial_aggregation(spark, sf_dir):
    """Hash aggregate must run map-side (partial) before the
    shuffle — the exchange carries |groups| rows, not |lineitem|."""
    p = plan(get_all_queries()["q1_pricing_summary"](spark, sf_dir))
    assert "partial_sum" in p, p  # map-side phase present
    assert "hashpartitioning(l_returnflag" in p, p


def test_semi_join_stays_semi(spark, sf_dir):
    """Existence filter must execute as a semi join (no payload
    duplication), never be rewritten through an inner join."""
    p = simple_plan(get_all_queries()["semi_join_active_customers"](spark, sf_dir))
    assert "LeftSemi" in p, p


def test_systematic_sample_filter_pushed(spark, sf_dir):
    """The key-mod sample predicate evaluates at/next to the scan —
    no shuffle in the plan at all."""
    p = plan(get_all_queries()["systematic_sample_orders"](spark, sf_dir))
    assert "Exchange" not in p, p


def test_topn_agg_partial_aggregation(spark, sf_dir):
    """Skew-resistant top-N: the collect_list aggregate must show a
    partial (map-side) phase so the revenue rollup pre-reduces
    before its shuffle."""
    df = get_all_queries()["topn_agg_top3_region"](spark, sf_dir)
    p = plan(df)
    assert "ObjectHashAggregate" in p or "SortAggregate" in p, p
    # ranking-window variant of the same computation would show a
    # Window node; the agg variant must not.
    assert "Window" not in simple_plan(df), simple_plan(df)


def test_q6_all_filters_pushed_no_join(spark, sf_dir):
    """Pure scan-filter-agg: every predicate reaches the parquet
    scan and the plan contains no join at all."""
    p = plan(get_all_queries()["q6_forecast_revenue"](spark, sf_dir))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m, p
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in m.group(1), m.group(1)
    assert "Join" not in p, p
    assert "partial_sum" in p, p  # map-side partial before exchange


def test_q10_broadcast_and_take_ordered(spark, sf_dir):
    """Nation (25 rows) broadcasts and the global top-20 compiles to
    TakeOrderedAndProject, never a full sort."""
    p = plan(get_all_queries()["q10_returned_items"](spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 1, p
    assert "TakeOrderedAndProject" in p, p
    assert "CartesianProduct" not in p


def test_q4_exists_is_semi_join(spark, sf_dir):
    """The EXISTS shape must execute as LeftSemi with the non-equi
    lateness predicate as a join residual — no payload duplication,
    no aggregate-side dedup."""
    p = simple_plan(get_all_queries()["q4_priority_lateness"](spark, sf_dir))
    assert "LeftSemi" in p, p


def test_q14_part_broadcasts(spark, sf_dir):
    """The part dimension joins broadcast; the lineitem date window
    is pushed to the scan."""
    p = plan(get_all_queries()["q14_promo_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    m = re.search(r"PushedFilters: \[([^\]]*)l_shipdate([^\]]*)\]", p)
    assert m, p


def test_q18_having_subquery_is_semi_join(spark, sf_dir):
    """The agg-HAVING IN-subquery must execute as an aggregate
    followed by a LeftSemi against orders — orders must not be
    duplicated through an inner join before its own aggregate."""
    p = simple_plan(get_all_queries()["q18_large_volume_orders"](spark, sf_dir))
    assert "LeftSemi" in p, p
    assert "TakeOrderedAndProject" in plan(
        get_all_queries()["q18_large_volume_orders"](spark, sf_dir)
    )


def test_fuzzy_match_length_band_short_circuits(spark, sf_dir):
    """The length-band prefilter must evaluate BEFORE levenshtein in
    the codegen'd Filter conjunction (AND short-circuits left to
    right), so the O(n*m) edit distance only runs on the band
    (round-1 verdict item). Parquet cannot push function-based
    predicates, so conjunct ORDER is the enforceable property."""
    p = plan(get_all_queries()["fuzzy_part_match"](spark, sf_dir))
    cond = next(
        line for line in p.splitlines()
        if "Condition" in line and "levenshtein" in line
    )
    assert "length" in cond and cond.index("length") < cond.index(
        "levenshtein"
    ), cond


def test_window_topn_uses_window_group_limit(spark):
    """Per-group top-N via rank-filter relies on WindowGroupLimit
    (per-partition top-N pushdown below the window sort) — a Spark-4
    physical optimization (COVERAGE.md §2.6 note). If the engine
    floor ever drops below the version providing it, every windowed
    top-N silently degrades to a full per-partition sort; fail loudly
    here instead."""
    from pyspark.sql import functions as F

    from top_produce_etl_spark.operators.topn import top_n_window

    df = spark.range(0, 10_000).select(
        (F.col("id") % 10).alias("g"), F.col("id").alias("m")
    )
    p = simple_plan(top_n_window(df, group_by="g", metric="m", n=3, tiebreak="m"))
    assert "WindowGroupLimit" in p, p


def test_t_closeness_plans_hash_joins_only(spark, sf_dir):
    """The privacy-gate EMD: grid expansion and totals must stay
    BroadcastHashJoin (constant-key attach) with exactly one ordered
    exchange for the cumulative window — never BNLJ, never a global
    window."""
    p = plan(get_all_queries()["t_closeness_customer"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_cusum_single_ordered_exchange(spark, sf_dir):
    """CUSUM's two window passes (cumsum, running min) must REUSE one
    partition-ordered exchange — the closed form's cost claim."""
    p = simple_plan(get_all_queries()["cusum_daily_revenue"](spark, sf_dir))
    assert "BatchEvalPython" not in p
    # all three window passes (stats, cumsum, running min) and the
    # upstream daily agg must satisfy their distributions from ONE
    # key-hash exchange chain — the agg+join formulation this
    # replaced recomputed the daily rollup per branch (4 exchanges)
    import re

    windows = len(re.findall(r"\bWindow\b", p))
    exchanges = len(re.findall(r"\bExchange\b", p))
    assert windows >= 2 and exchanges <= 2, (windows, exchanges, p)


def test_dp_release_is_one_aggregate(spark, sf_dir):
    """The DP mechanism must cost exactly what the un-noised
    aggregate costs: one hash-agg exchange, noise as a narrow map."""
    import re

    p = simple_plan(get_all_queries()["dp_counts_by_priority"](spark, sf_dir))
    assert len(re.findall(r"\bExchange\b", p)) == 1, p
    assert "HashAggregate" in p and "BatchEvalPython" not in p


def test_cdc_chunks_single_doc_window(spark, sf_dir):
    """Content-defined chunking: one per-doc ordered window + one
    (doc, chunk) hash-agg — no second window, no global window."""
    from top_produce_etl_spark.plans.audit import plan_audit

    df = get_all_queries()["cdc_chunks_docs"](spark, sf_dir)
    audit = plan_audit(df)
    assert not audit["global_window"] and not audit["python_row_udf"]
    p = plan(df)
    assert "WindowGroupLimit" in p or "Window" in p


def test_url_parse_zero_shuffle(spark, sf_dir):
    """URL synth + parse + registered domain is pure expressions —
    the whole derivation runs at scan speed with NO exchange (the r9
    family's scale claim)."""
    p = plan(get_all_queries()["url_parse_components"](spark, sf_dir))
    assert "Exchange" not in p, p


def test_url_normalize_dedup_two_exchanges_max(spark, sf_dir):
    """Canonicalization is scan-side; the dedup pays exactly the TWO
    exchanges exact count-distinct costs (the (key, url) expand phase
    then the key rollup) — nothing beyond the aggregation itself, and
    partial aggregation runs before each exchange."""
    p = plan(get_all_queries()["url_normalize_dedup"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2, p
    assert "HashAggregate" in p


def test_pii_scan_zero_shuffle_until_rollup(spark, sf_dir):
    """The r9 normalized dedup KEY derivation is scan-side: deriving
    norm_key adds no exchange over the raw-text dedup plan."""
    from top_produce_etl_spark.io.sources import load_table
    from top_produce_etl_spark.operators.dedup import (
        exact_dedup,
        normalized_exact_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    raw = plan(exact_dedup(docs, "text", "doc_id"))
    norm = plan(normalized_exact_dedup(docs, "text", "doc_id"))
    n_raw = len(re.findall(r"\(\d+\) Exchange", raw))
    n_norm = len(re.findall(r"\(\d+\) Exchange", norm))
    # raw: one dedup exchange; normalized: +1 ONLY for its
    # n_variants count-distinct expand — the key DERIVATION itself
    # adds no exchange (it folds into the scan-side projection)
    assert n_raw == 1 and n_norm == 2, (n_raw, n_norm)


def test_classifier_scoring_single_model_join(spark, sf_dir):
    """Inference = one BROADCAST model join + one per-doc agg — the
    corpus never shuffles against the model."""
    from top_produce_etl_spark.io.sources import load_table
    from top_produce_etl_spark.operators.classifier import (
        score_quasi_logreg,
        train_quasi_logreg,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "y", (F.col("doc_id") % 2).cast("int")
    )
    model = train_quasi_logreg(
        docs, "doc_id", "text", "y", n_buckets=8, iters=1
    )
    p = plan(score_quasi_logreg(docs, model, "doc_id", "text", 8))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_ccnet_buckets_single_tf_scan_shape(spark, sf_dir):
    """perplexity_buckets: the tercile window runs on the slim score
    relation — no Python in the plan, and the window sort is over
    (score, id), never the text column."""
    from top_produce_etl_spark.io.sources import load_table
    from top_produce_etl_spark.operators.textquality import (
        perplexity_buckets,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = perplexity_buckets(docs, "doc_id", "text", by=("lang",))
    p = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BatchEvalPython" not in p, p
    assert "ntile" in p and "mean_info_micro" in p, p
    # the window's sort keys are the integer score + id, not text
    assert re.search(r"Arguments.*ntile.*mean_info_micro", p) or \
        "windowspecdefinition(lang" in p, p


def test_bt_ratings_no_cartesian(spark):
    """Bradley-Terry iterations: hash joins against the distributed
    ratings only — no cartesian, no broadcast nested loop, no
    row-Python anywhere in the final plan."""
    from top_produce_etl_spark.operators.preferences import bt_ratings

    pairs = spark.createDataFrame(
        [(i % 5, (i + 1 + i % 3) % 5) for i in range(0, 100, 7)
         if i % 5 != (i + 1 + i % 3) % 5],
        "winner long, loser long",
    )
    out = bt_ratings(pairs, iters=2)
    p = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p, p


def _pplan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_html_extract_zero_exchange(spark):
    """HTML→text is a pure projection chain: no exchange, no
    Python — scan-speed at any corpus size (r11)."""
    from top_produce_etl_spark.operators.html import (
        extract_html_text,
    )

    df = spark.range(100).selectExpr(
        "id AS doc_id", "'<p>x</p>' AS html"
    )
    p = _pplan(extract_html_text(df))
    assert "Exchange" not in p and "BatchEvalPython" not in p, p


def test_mojibake_repair_zero_exchange(spark):
    from top_produce_etl_spark.operators.encoding import (
        repair_mojibake,
    )

    df = spark.range(100).selectExpr("id", "'cafÃ©' AS text")
    p = _pplan(repair_mojibake(df))
    assert "Exchange" not in p and "BatchEvalPython" not in p, p


def test_robots_gate_broadcasts_rules(spark):
    """The rule dimension reaches the URL stream as a BROADCAST
    join (equi on domain, the regex as a join filter) — the URL
    side's only exchange is the verdict aggregate (r11)."""
    import re

    from top_produce_etl_spark.operators.robots import (
        parse_robots,
        robots_allowed,
        synthesize_robots_corpus,
    )

    docs = spark.range(1000).selectExpr("id AS doc_id")
    robots, urls = synthesize_robots_corpus(docs)
    out = robots_allowed(urls, parse_robots(robots))
    p = _pplan(out)
    assert re.search(r"Broadcast(Hash|NestedLoop)Join", p), p
    # the BIG side (urls) must not shuffle before the join: the
    # only exchanges allowed are the rule-dimension prep and the
    # final verdict aggregate
    assert "SortMergeJoin" not in p, p


def test_topn_job_writes_without_global_sort(spark, tmp_path, monkeypatch):
    """The CLI job's write computes the top-N plan once: the frame
    handed to the writer carries no range exchange (no sampling job,
    no global sort), and its ranking window runs a partial
    WindowGroupLimit in each map task BELOW the hash exchange, so at
    most n rows per group per task are shuffled — why one huge group
    does not land whole on one task. The writer's local sort still
    leaves each group's file in rank order."""
    import pyarrow.parquet as pq

    from top_produce_etl_spark.config import JobConfig
    from top_produce_etl_spark.plans import builder

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        [("EU", f"p{i:02d}", float(i % 7)) for i in range(40)]
        + [("US", f"p{i:02d}", float(i)) for i in range(10)],
        ["region", "product", "sales"],
    ).write.parquet(inp)
    cfg = JobConfig.from_dict({
        "env": "test",
        "input": {"path": inp, "format": "parquet"},
        "output": {"path": out, "format": "parquet"},
        "processing": {"group_by_column": "region", "target_metric": "sales",
                       "top_n": 5, "tiebreak_column": "product"},
    })
    written = []
    real_write = builder.write_table

    def capture(df, *a, **kw):
        written.append(df)
        return real_write(df, *a, **kw)

    monkeypatch.setattr(builder, "write_table", capture)
    builder.run_topn_job(spark, cfg)
    (df,) = written
    p = simple_plan(df)
    assert "rangepartitioning" not in p, p
    lines = p.splitlines()
    exchange = next(
        i for i, ln in enumerate(lines) if "Exchange hashpartitioning(region" in ln
    )
    assert any(
        "WindowGroupLimit" in ln and ln.rstrip().endswith("Partial")
        for ln in lines[exchange + 1:]
    ), p
    eu = pq.read_table(f"{out}/region=EU").column("rank").to_pylist()
    assert eu == [1, 2, 3, 4, 5], eu
