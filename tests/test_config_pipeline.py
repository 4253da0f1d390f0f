"""End-to-end config-driven pipeline tests (SURVEY.md §5 item 3):
the reference-parity YAML→plan→write flow on the synthesized
``top_products`` table (FIXTURES.md §C), plus the generalized
declarative pipeline builder."""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from top_produce_etl_spark.config import JobConfig, load_config
from top_produce_etl_spark.io.sources import load_table
from top_produce_etl_spark.plans.builder import build_pipeline, run_topn_job

ROOT = Path(__file__).resolve().parents[1]
CONFIGS = str(ROOT / "configs")

TOP_PRODUCTS = [
    # region, product, sales — EU has a tie at 30.0 (FIXTURES §C asks
    # for duplicate in-region values to exercise tie handling)
    ("EU", "widget", 50.0),
    ("EU", "gadget", 30.0),
    ("EU", "gizmo", 30.0),
    ("EU", "doohickey", 10.0),
    ("US", "widget", 5.0),
    ("ASIA", "gadget", 7.0),
]


@pytest.fixture()
def config_and_data(spark, tmp_path):
    inp = str(tmp_path / "top_products_input")
    out = str(tmp_path / "top_products_output")
    spark.createDataFrame(TOP_PRODUCTS, ["region", "product", "sales"]).write.parquet(inp)
    cfg = JobConfig.from_dict(
        {
            "env": "test",
            "input": {"path": inp, "format": "parquet"},
            "output": {"path": out, "format": "parquet"},
            "processing": {
                "group_by_column": "region",
                "target_metric": "sales",
                "top_n": 3,
                "tiebreak_column": "product",
            },
        }
    )
    return cfg, out


def test_reference_parity_topn_job(spark, config_and_data):
    cfg, out_path = config_and_data
    result = run_topn_job(spark, cfg)
    rows = [(r["region"], r["product"], r["sales"], r["rank"]) for r in result.collect()]
    # ≤3 per region, ordered by region then rank, deterministic tie:
    # gadget < gizmo alphabetically at 30.0
    assert rows == [
        ("ASIA", "gadget", 7.0, 1),
        ("EU", "widget", 50.0, 1),
        ("EU", "gadget", 30.0, 2),
        ("EU", "gizmo", 30.0, 3),
        ("US", "widget", 5.0, 1),
    ]


def test_topn_job_writes_partitioned_output(spark, config_and_data):
    cfg, out_path = config_and_data
    run_topn_job(spark, cfg)
    # partitioned by the grouping column (partition pruning for readers)
    subdirs = {d for d in os.listdir(out_path) if d.startswith("region=")}
    assert subdirs == {"region=EU", "region=US", "region=ASIA"}
    back = spark.read.parquet(out_path)
    assert back.count() == 5


def test_topn_job_honors_output_options(spark, config_and_data, tmp_path):
    """``cfg.output.options`` reach the writer: a CSV output with
    ``header: "true"`` starts every file with the header line, and
    reading it back with the same options counts the rows."""
    import dataclasses
    import glob

    cfg, _ = config_and_data
    out = str(tmp_path / "csv_out")
    csv_cfg = dataclasses.replace(
        cfg,
        output=dataclasses.replace(
            cfg.output, path=out, format="csv", options={"header": "true"}
        ),
    )
    result = run_topn_job(spark, csv_cfg)
    files = glob.glob(f"{out}/region=*/*.csv")
    assert files
    for f in files:
        with open(f) as fh:
            assert fh.readline().strip() == "product,sales,rank", f
    back = spark.read.format("csv").options(header="true").load(out)
    assert back.count() == 5 == result.count()


def test_config_loader_roundtrip(tmp_path):
    cfg_dir = tmp_path / "configs"
    cfg_dir.mkdir()
    (cfg_dir / "config_dev.json").write_text(
        '{"env": "dev", "input": {"path": "/x"}, '
        '"processing": {"group_by_column": "g", "target_metric": "m", "top_n": 2}}'
    )
    cfg = load_config("dev", str(cfg_dir))
    assert cfg.processing.top_n == 2
    assert cfg.input.format == "parquet"
    assert cfg.output is None


def test_config_validation_rejects_bad_topn():
    with pytest.raises(ValueError, match="top_n"):
        JobConfig.from_dict(
            {
                "input": {"path": "/x"},
                "processing": {"group_by_column": "g", "target_metric": "m", "top_n": 0},
            }
        )


def test_declarative_pipeline_matches_handwritten(spark, sf_dir):
    """The ops-list pipeline must produce the same plan results as
    the equivalent handwritten DataFrame code."""
    tables = {
        "lineitem": load_table(spark, sf_dir, "lineitem"),
        "orders": load_table(spark, sf_dir, "orders"),
    }
    spec = {
        "source": "lineitem",
        "ops": [
            {"op": "filter", "expr": "l_discount > 0.05"},
            {
                "op": "join",
                "table": "orders",
                "on": "l_orderkey = o_orderkey",
                "how": "inner",
            },
            {
                "op": "group_agg",
                "by": ["o_orderpriority"],
                "aggs": {
                    "n_items": "count(1)",
                    "total_qty": "cast(sum(cast(l_quantity as decimal(18,4))) as double)",
                },
            },
            {"op": "sort", "by": ["-total_qty"]},
            {"op": "limit", "n": 3},
        ],
    }
    got = build_pipeline(spark, spec, tables).collect()

    expected = (
        tables["lineitem"]
        .filter(F.col("l_discount") > 0.05)
        .join(tables["orders"], F.expr("l_orderkey = o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc())
        .limit(3)
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in expected]


def test_yaml_curation_funnel_shares_query_oracle(spark, sf_dir, tmp_path):
    """The shipped YAML curation pipeline (round-4 verdict item 5):
    configs/pipeline_curation.yaml -> build_pipeline -> write must
    reproduce the oracle-checked curation_funnel query EXACTLY —
    verified here against the query's own DuckDB oracle on the same
    parquet, i.e. the YAML path inherits the battery's verification."""
    import duckdb

    from top_produce_etl_spark.io.sinks import write_table
    from top_produce_etl_spark.plans.builder import load_pipeline_spec
    from top_produce_etl_spark.queries import get_all_oracles

    spec = load_pipeline_spec(f"{CONFIGS}/pipeline_curation.yaml")
    tables = {"documents": load_table(spark, sf_dir, "documents")}
    out_path = str(tmp_path / "curated")
    write_table(build_pipeline(spark, spec, tables), out_path)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    oracle = {
        (r[0], bool(r[1]), r[2])
        for r in con.execute(get_all_oracles()["curation_funnel"]).fetchall()
    }
    got = {
        (r.doc_id, r.keep, r.fail_reasons)
        for r in spark.read.parquet(out_path).collect()
    }
    assert got == oracle and len(got) > 0


def test_yaml_curation_funnel_keep_only_filters_corpus(spark, sf_dir):
    """keep_only: true turns the funnel into a survivor filter over
    the source columns — the curated-corpus materialization shape."""
    from top_produce_etl_spark.plans.builder import load_pipeline_spec

    spec = load_pipeline_spec(f"{CONFIGS}/pipeline_curation.yaml")
    tables = {"documents": load_table(spark, sf_dir, "documents")}
    audit = build_pipeline(spark, spec, tables)
    n_keep = audit.filter(F.col("keep")).count()

    spec["ops"][0]["keep_only"] = True
    kept = build_pipeline(spark, spec, tables)
    assert kept.columns == tables["documents"].columns
    assert kept.count() == n_keep > 0


def test_pipeline_unknown_op_raises(spark):
    df_tables = {"t": spark.createDataFrame([(1,)], ["a"])}
    with pytest.raises(ValueError, match="unknown op"):
        build_pipeline(spark, {"source": "t", "ops": [{"op": "frobnicate"}]}, df_tables)


def test_cli_module_end_to_end(tmp_path):
    """`python -m top_produce_etl_spark` — the job runner the
    reference scaffolded but left empty — must run the config-driven
    top-N job end to end in a fresh process (own SparkSession), write
    the partitioned result and log its row count. A second run writes
    CSV with a header and previews with ``--show``: its logged count
    is read back with the same output options."""
    import json
    import subprocess
    import sys

    import duckdb

    inp, outp = str(tmp_path / "in"), str(tmp_path / "out")
    duckdb.sql(f"""
        COPY (SELECT * FROM (VALUES
          ('east','apple',100.0),('east','pear',90.0),('east','plum',80.0),
          ('east','fig',70.0),('west','kiwi',50.0),('west','lime',60.0)
        ) t(region, product, sales)) TO '{inp}' (FORMAT PARQUET)
    """)
    cfgdir = tmp_path / "configs"
    cfgdir.mkdir()
    csv_out = str(tmp_path / "csv_out")
    for env, output in [
        ("test", {"path": outp, "format": "parquet"}),
        ("csv", {"path": csv_out, "format": "csv",
                 "options": {"header": "true"}}),
    ]:
        (cfgdir / f"config_{env}.json").write_text(json.dumps({
            "env": env,
            "input": {"source_type": "file", "path": inp, "format": "parquet"},
            "output": {"source_type": "file", **output},
            "processing": {"group_by_column": "region",
                           "target_metric": "sales",
                           "top_n": 2, "tiebreak_column": "product"},
        }))

    def cli(*args):
        return subprocess.run(
            [sys.executable, "-m", "top_produce_etl_spark",
             "--config-dir", str(cfgdir), "--master", "local[2]", *args],
            cwd=ROOT, capture_output=True, text=True, timeout=240,
        )

    r = cli("--env", "test")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "job done: 4 rows" in r.stderr, r.stderr[-2000:]
    r = cli("--env", "csv", "--show", "2")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "job done: 4 rows" in r.stderr, r.stderr[-2000:]
    rows = duckdb.sql(
        f"SELECT region, product, rank FROM read_parquet('{outp}/**/*.parquet',"
        " hive_partitioning=true) ORDER BY region, rank"
    ).fetchall()
    assert rows == [
        ("east", "apple", 1), ("east", "pear", 2),
        ("west", "lime", 1), ("west", "kiwi", 2),
    ]


def test_shipped_yaml_configs_drive_topn_job(spark, tmp_path):
    """The in-tree dual-env YAML configs (reference parity:
    config_prod.yaml/config_dev.yaml differing only in env + paths)
    must parse through the YAML loader branch and drive run_topn_job
    end to end — not just the JSON path."""
    import dataclasses

    prod = load_config("prod", CONFIGS)
    dev = load_config("dev", CONFIGS)
    # dual-env contract: identical processing spec, different env/paths
    assert prod.env == "prod" and dev.env == "dev"
    assert prod.processing == dev.processing
    assert prod.input.source_type == "s3" and dev.input.source_type == "file"

    inp = str(tmp_path / "yaml_in")
    out = str(tmp_path / "yaml_out")
    spark.createDataFrame(TOP_PRODUCTS, ["region", "product", "sales"]).write.parquet(inp)
    cfg = dataclasses.replace(
        dev,
        input=dataclasses.replace(dev.input, path=inp),
        output=dataclasses.replace(dev.output, path=out),
    )
    result = run_topn_job(spark, cfg)
    rows = [(r["region"], r["product"], r["rank"]) for r in result.collect()]
    assert rows == [
        ("ASIA", "gadget", 1),
        ("EU", "widget", 1),
        ("EU", "gadget", 2),
        ("EU", "gizmo", 3),
        ("US", "widget", 1),
    ]
    assert spark.read.parquet(out).count() == 5


def test_declarative_topn_op(spark, config_and_data):
    """The ops-list `topn` op keeps the top rows per group by the
    ranking window and returns the input columns followed by rank."""
    cfg, _ = config_and_data
    df = spark.read.parquet(cfg.input.path)
    spec = {
        "source": "t",
        "ops": [{
            "op": "topn", "group_by": "region", "metric": "sales",
            "n": 2, "tiebreak": "product",
        }, {"op": "sort", "by": ["region", "rank"]}],
    }
    out = build_pipeline(spark, spec, {"t": df})
    assert out.columns == ["region", "product", "sales", "rank"]
    assert [tuple(r) for r in out.collect()] == [
        ("ASIA", "gadget", 7.0, 1),
        ("EU", "widget", 50.0, 1),
        ("EU", "gadget", 30.0, 2),
        ("US", "widget", 5.0, 1),
    ]


def test_config_validation_rejects_bad_strategy():
    """A removed or misspelled processing key fails loudly instead of
    running with a default: a leftover `strategy`, and `tiebreak`
    written for `tiebreak_column` (which would drop the tiebreak)."""
    for key, value in (("strategy", "agg"), ("tiebreak", "product")):
        with pytest.raises(ValueError, match=key):
            JobConfig.from_dict(
                {
                    "input": {"path": "/x"},
                    "processing": {"group_by_column": "g",
                                   "target_metric": "m", key: value},
                }
            )


def test_topn_job_observe_metrics(spark, config_and_data):
    """observe-based job counters ride the write action — no extra
    scans — and report input rows, null-metric rows, output rows."""
    cfg, out_path = config_and_data
    metrics: dict[str, int] = {}
    run_topn_job(spark, cfg, metrics_out=metrics)
    assert metrics == {
        "rows_in": 6,
        "null_metric_rows": 0,
        "rows_out": 5,
    }


def test_quality_gate_blocks_bad_input(spark, tmp_path):
    """A config-declared quality gate must abort the job BEFORE any
    output is written when the input violates its contract, and pass
    through cleanly when it doesn't."""
    import os

    inp = str(tmp_path / "gated_in")
    out = str(tmp_path / "gated_out")
    spark.createDataFrame(
        [("EU", "widget", 50.0), ("EU", None, 30.0)],
        "region string, product string, sales double",
    ).write.parquet(inp)

    base = {
        "env": "test",
        "input": {"path": inp, "format": "parquet"},
        "output": {"path": out, "format": "parquet"},
        "processing": {"group_by_column": "region", "target_metric": "sales",
                       "top_n": 3, "tiebreak_column": "product"},
    }
    bad = JobConfig.from_dict(
        {**base, "quality": [{"check": "not_null", "col": "product"}]}
    )
    with pytest.raises(ValueError, match="not_null_product"):
        run_topn_job(spark, bad)
    assert not os.path.exists(out)  # nothing written

    ok = JobConfig.from_dict(
        {**base, "quality": [{"check": "not_null", "col": "region"},
                             {"check": "in_range", "col": "sales",
                              "lo": 0, "hi": 100}]}
    )
    result = run_topn_job(spark, ok)
    assert result.count() == 2 and os.path.exists(out)


def test_yaml_composition_ops_match_operators(spark, sf_dir):
    """The three corpus-composition ops are config-drivable and the
    YAML path returns EXACTLY what the operator calls return."""
    from top_produce_etl_spark.operators.mixture import (
        cap_per_category,
        temperature_rebalance,
    )

    docs = load_table(spark, sf_dir, "documents")
    spec = {
        "source": "documents",
        "ops": [
            {"op": "temperature_mix", "category_col": "source",
             "key_col": "doc_id"},
            {"op": "cap_per_category", "category_col": "lang",
             "key_col": "doc_id", "cap": 40},
        ],
    }
    got = {
        r.doc_id
        for r in build_pipeline(
            spark, spec, {"documents": docs}
        ).collect()
    }
    want = {
        r.doc_id
        for r in cap_per_category(
            temperature_rebalance(docs, "source", "doc_id"),
            "lang", "doc_id", 40,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_declarative_span_masking_matches_operators(spark, sf_dir):
    """The span-family ops from config must equal the direct
    operator calls (the same verified functions behind the
    stripped_duplicate_corpus / masked_decontamination_proof
    oracles)."""
    from top_produce_etl_spark.operators.dedup import (
        contaminated_spans,
        mask_spans,
        strip_duplicate_spans,
    )
    from top_produce_etl_spark.operators.splits import assign_split

    docs = assign_split(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    train = docs.filter("split = 'train'")
    test = docs.filter("split = 'test'")
    tables = {"train_docs": train, "test_docs": test}

    spec = {
        "source": "train_docs",
        "ops": [
            {
                "op": "mask_contaminated_spans",
                "id_col": "doc_id",
                "text_col": "text",
                "ref_table": "test_docs",
                "k": 3,
            }
        ],
    }
    got = {
        r["doc_id"]: r["text_masked"]
        for r in build_pipeline(spark, spec, tables).collect()
    }
    want = {
        r["doc_id"]: r["text_masked"]
        for r in mask_spans(
            train,
            contaminated_spans(train, test, "doc_id", "text", k=3),
            "doc_id",
            "text",
        ).collect()
    }
    assert got == want

    spec2 = {
        "source": "train_docs",
        "ops": [
            {
                "op": "strip_duplicate_spans",
                "id_col": "doc_id",
                "text_col": "text",
                "k": 8,
            }
        ],
    }
    got2 = {
        r["doc_id"]: (r["text_clean"], r["kept_tokens"])
        for r in build_pipeline(spark, spec2, tables).collect()
    }
    want2 = {
        r["doc_id"]: (r["text_clean"], r["kept_tokens"])
        for r in strip_duplicate_spans(
            train, "doc_id", "text", k=8, min_docs=2
        ).collect()
    }
    assert got2 == want2


def test_yaml_span_clean_runs_end_to_end(spark, sf_dir):
    """configs/pipeline_span_clean.yaml -> build_pipeline must equal
    the direct mask-then-strip composition over the same split."""
    from top_produce_etl_spark.operators.dedup import (
        contaminated_spans,
        mask_spans,
        strip_duplicate_spans,
    )
    from top_produce_etl_spark.operators.splits import assign_split
    from top_produce_etl_spark.plans.builder import load_pipeline_spec

    docs = assign_split(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    train = docs.filter("split = 'train'")
    test = docs.filter("split = 'test'")
    spec = load_pipeline_spec(f"{CONFIGS}/pipeline_span_clean.yaml")
    got = {
        r["doc_id"]: r["text_clean"]
        for r in build_pipeline(
            spark, spec, {"train_docs": train, "test_docs": test}
        ).collect()
    }

    masked = mask_spans(
        train,
        contaminated_spans(train, test, "doc_id", "text", k=3),
        "doc_id",
        "text",
    ).withColumnRenamed("text_masked", "text")
    want = {
        r["doc_id"]: r["text_clean"]
        for r in strip_duplicate_spans(
            masked, "doc_id", "text", k=8, min_docs=2
        ).collect()
    }
    assert got == want and len(got) > 0


def test_yaml_dsir_selection_shares_query_oracle(spark, sf_dir):
    """The shipped YAML DSIR pipeline under the portable hasher must
    select EXACTLY the doc set of the oracle-checked
    dsir_selection_top100 query — the YAML path inherits the
    battery's verification; the shipped xxhash64 default must
    produce the same-shaped corpus (n rows, source columns)."""
    import duckdb

    from top_produce_etl_spark.plans.builder import load_pipeline_spec
    from top_produce_etl_spark.queries import get_all_oracles

    spec = load_pipeline_spec(f"{CONFIGS}/pipeline_dsir.yaml")
    tables = {"documents": load_table(spark, sf_dir, "documents")}

    # production default: selection of n docs with source columns
    fast = build_pipeline(spark, spec, tables)
    assert fast.columns == tables["documents"].columns
    assert fast.count() == 100

    # oracle parity: portable hasher reproduces the battery query
    spec["ops"][0]["hasher"] = "portable"
    got = {
        r["doc_id"] for r in build_pipeline(spark, spec, tables).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    oracle = {
        r[0]
        for r in con.execute(
            get_all_oracles()["dsir_selection_top100"]
        ).fetchall()
    }
    assert got == oracle and len(got) == 100


def test_yaml_full_composition_matches_direct_operators(spark, sf_dir):
    """The composed training-data pipeline (r5 verdict #6):
    configs/pipeline_mix_curate_pack.yaml — mixture cap -> span
    dedup -> curation funnel -> token-budget selection -> packed
    layout — must be row-identical to the same composition spelled
    as direct operator calls. Every stage is the verified function
    behind an oracle-checked battery query, so the YAML path
    inherits each stage's verification."""
    from top_produce_etl_spark.functions.text import quality_score, tokens
    from top_produce_etl_spark.operators.dedup import (
        strip_duplicate_spans,
    )
    from top_produce_etl_spark.operators.mixture import (
        budget_select,
        cap_per_category,
    )
    from top_produce_etl_spark.operators.packing import pack_sequences
    from top_produce_etl_spark.operators.textquality import curation_funnel
    from top_produce_etl_spark.plans.builder import load_pipeline_spec

    docs = load_table(spark, sf_dir, "documents")
    tables = {"documents": docs}
    spec = load_pipeline_spec(
        f"{CONFIGS}/pipeline_mix_curate_pack.yaml"
    )
    got = build_pipeline(spark, spec, tables).collect()

    # the same composition, spelled directly
    capped = cap_per_category(docs, "source", "doc_id", 120)
    cleaned = strip_duplicate_spans(
        capped, "doc_id", "text", k=8, min_docs=2
    ).select("doc_id", F.col("text_clean").alias("text"))
    verdicts = curation_funnel(
        cleaned, "doc_id", "text", lang="en", min_quality=0.65,
        max_dup_ngram_frac=0.05, max_mean_info_micro=3_450_000, ngram=3,
    )
    survivors = cleaned.join(
        verdicts.filter(F.col("keep")).select("doc_id"),
        "doc_id", "left_semi",
    )
    kept = budget_select(
        survivors.withColumn("__q", quality_score("text")).withColumn(
            "__toks", F.size(tokens("text"))
        ),
        "__q", "__toks", budget=20_000,
    ).drop("__q", "__toks", "__bucket")
    expected = pack_sequences(
        kept, "doc_id", F.size(tokens("text")), budget=512, n_shards=8
    ).collect()

    key = lambda r: r["doc_id"]  # noqa: E731
    assert len(got) > 0
    assert sorted(got, key=key) == sorted(expected, key=key)
    # layout invariant: every packed bin respects the token budget
    packed = spark.createDataFrame(got)
    over = (
        packed.groupBy("shard", "bin")
        .agg(F.sum("n_tokens").alias("t"))
        .filter(F.col("t") > 512)
        .count()
    )
    assert over == 0


def test_yaml_resolve_entities_matches_query(spark, sf_dir):
    """The record-linkage op from config reproduces the oracle-checked
    entity_golden_parts query exactly — the YAML surface inherits the
    linkage family's verification."""
    from top_produce_etl_spark.queries.linkage_q import entity_golden_parts

    spec = {
        "source": "part",
        "ops": [
            {
                "op": "resolve_entities",
                "id_col": "p_partkey",
                "block_cols": ["p_name", "p_brand"],
                "match_pred": (
                    "levenshtein(a_p_type, b_p_type) <= 5"
                    " AND abs(a_p_size - b_p_size) <= 3"
                ),
                "attrs": ["p_type", "p_size"],
                "golden": {
                    "n_records": "count(*)",
                    "p_name": "min(p_name)",
                    "p_brand": "min(p_brand)",
                    "best_price": "max(p_retailprice)",
                    "min_size": "min(p_size)",
                },
            }
        ],
    }
    tables = {"part": load_table(spark, sf_dir, "part")}
    got = build_pipeline(spark, spec, tables).collect()
    expected = entity_golden_parts(spark, sf_dir).collect()
    key = lambda r: r["entity_id"]  # noqa: E731
    assert sorted(got, key=key) == sorted(expected, key=key)
    assert len(got) > 0


def test_yaml_ann_topk_shares_pq_oracle(spark, sf_dir, tmp_path):
    """configs/pipeline_ann.yaml (r6 verdict #6): declarative
    index-then-serve ANN. The YAML path must (a) materialize the
    stored-index artifacts, (b) return the SAME neighbor sets as the
    oracle-checked pq battery queries (DuckDB unrolled-Lloyd PQ
    oracle, sets projection — LUT scores are FP-divergent, sets and
    ranks are not), and (c) serve from the stored artifacts on
    re-run without retraining (the cache-bypassing from_index path)."""
    import duckdb

    from top_produce_etl_spark.plans.builder import (
        build_pipeline,
        load_pipeline_spec,
    )
    from top_produce_etl_spark.queries import get_all_oracles

    spec = load_pipeline_spec(f"{CONFIGS}/pipeline_ann.yaml")
    idx = str(tmp_path / "ann_index")
    spec["ops"][1]["index_path"] = idx
    tables = {"embeddings": load_table(spark, sf_dir, "embeddings")}

    out = build_pipeline(spark, spec, tables)
    assert out.columns == ["query_id", "neighbor_id", "pq_cosine", "rank"]
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in out.collect()
    }
    # artifacts exist on disk (the stored-index lifecycle)
    import os

    assert os.path.isdir(f"{idx}/codebooks") and os.path.isdir(f"{idx}/codes")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    oracle = {
        (r[0], r[1], r[2])
        for r in con.execute(
            get_all_oracles()["pq_topk_fast"]  # the sets projection
        ).fetchall()
    }
    assert got == oracle and len(got) == 30

    # second run: serve from the stored index (no build_from table
    # needed at all — the pure serving deployment)
    spec2 = {k: v for k, v in spec.items()}
    spec2["ops"] = [spec["ops"][0], dict(spec["ops"][1])]
    del spec2["ops"][1]["build_from"]
    again = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in build_pipeline(spark, spec2, tables).collect()
    }
    assert again == got


def test_privacy_gate_drop_and_fail(spark, sf_dir):
    """The declarative release gate (r7): action=drop suppresses
    every violating quasi-identifier group (the post-drop frame
    passes its own gate); action=fail raises with the gate names."""
    import pytest

    from top_produce_etl_spark.operators.quality import (
        k_anonymity_violations,
    )
    from top_produce_etl_spark.plans.builder import build_pipeline

    # planted frame: group g_big passes k=8 and l=5; g_small (2
    # rows) violates k; g_homog (20 rows, one sensitive value)
    # violates l — drop must suppress exactly the last two
    rows = [("g_big", i % 7, i) for i in range(40)]
    rows += [("g_small", i, 100 + i) for i in range(2)]
    rows += [("g_homog", 1, 200 + i) for i in range(20)]
    tables = {"people": spark.createDataFrame(
        rows, "segment string, sensitive int, pid long"
    )}
    spec = {
        "source": "people",
        "ops": [
            {
                "op": "privacy_gate",
                "quasi_cols": ["segment"],
                "k": 8,
                "l": {"sensitive": "sensitive", "min": 5},
                "action": "drop",
            },
        ],
    }
    out = build_pipeline(spark, spec, tables)
    kept = {r["segment"] for r in out.collect()}
    assert kept == {"g_big"} and out.count() == 40
    # the suppressed frame passes its own k-gate
    assert k_anonymity_violations(out, ["segment"], 8).count() == 0
    tables["customer"] = load_table(spark, sf_dir, "customer")
    spec_fail = {
        "source": "customer",
        "ops": [
            {
                "op": "privacy_gate",
                "quasi_cols": ["c_nationkey", "c_mktsegment"],
                "k": 8,
                "action": "fail",
            }
        ],
    }
    with pytest.raises(ValueError, match="privacy gate failed"):
        build_pipeline(spark, spec_fail, tables)
    with pytest.raises(ValueError, match="at least one"):
        build_pipeline(
            spark,
            {"source": "customer",
             "ops": [{"op": "privacy_gate", "quasi_cols": ["c_nationkey"]}]},
            tables,
        )


def test_builder_persists_boundary_before_multi_scan_ops(spark, sf_dir):
    """The composed-pipeline boundary persist (round 8 — found by
    bench's funnel probe, where the composed YAML funnel ran 2.0x
    the sum of its stages): a multi-scan op with UPSTREAM lineage
    gets its input persisted; the same op as the FIRST op (raw
    source input) does not — raw scans stay lazy so Catalyst keeps
    pushdown across the chain."""
    from top_produce_etl_spark.operators import _cache
    from top_produce_etl_spark.operators._cache import unpersist_all

    docs = load_table(spark, sf_dir, "documents")
    cap_op = {
        "op": "cap_per_category",
        "category_col": "source",
        "key_col": "doc_id",
        "cap": 100,
    }

    unpersist_all()
    before = len(_cache._PERSISTED)
    build_pipeline(
        spark, {"source": "documents", "ops": [cap_op]},
        {"documents": docs},
    ).count()
    assert len(_cache._PERSISTED) == before  # first op: no boundary

    build_pipeline(
        spark,
        {
            "source": "documents",
            "ops": [
                {"op": "filter", "expr": "n_chars > 0"},
                cap_op,
            ],
        },
        {"documents": docs},
    ).count()
    assert len(_cache._PERSISTED) == before + 1  # boundary persisted


def test_yaml_rrf_fuse_shares_hybrid_oracle(spark, sf_dir):
    """rrf_fuse from config (r9): fusing two registered rank lists
    through the YAML surface reproduces the oracle-checked
    hybrid_rrf_retrieval battery entry bit-exactly, scores included —
    the declarative op inherits the fusion oracle."""
    import duckdb

    from top_produce_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_quantized,
    )
    from top_produce_etl_spark.queries import get_all_oracles

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(emb, queries, "vec_id", "embedding", k=3)
    quant = cosine_topk_quantized(emb, queries, "vec_id", "embedding", k=3)
    spec = {
        "source": "exact_tier",
        "ops": [{"op": "rrf_fuse", "tables": ["quant_tier"], "topn": 3}],
    }
    out = build_pipeline(
        spark, spec, {"exact_tier": exact, "quant_tier": quant}
    )
    assert out.columns == ["query_id", "neighbor_id", "rrf_score", "rank"]
    got = {
        (r["query_id"], r["neighbor_id"], r["rrf_score"], r["rank"])
        for r in out.collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    oracle = {
        tuple(r)
        for r in con.execute(
            get_all_oracles()["hybrid_rrf_retrieval"]
        ).fetchall()
    }
    assert got == oracle and len(got) == 30


def test_yaml_hybrid_serve_full_composition(spark, sf_dir, tmp_path):
    """configs/pipeline_hybrid_serve.yaml (r9 verdict #6): the FULL
    retrieve (stored PQ index) → fuse (RRF with a registered second
    tier) → rerank (exact decimal kernel) serving composition from
    one config, checked against the composed DuckDB oracle that
    re-derives every stage (the hybrid_serve_pipeline battery
    oracle). Also asserts the stored-index artifacts landed — the
    YAML path exercised the index lifecycle, not the in-memory
    cache."""
    import duckdb

    from top_produce_etl_spark.operators.similarity import (
        cosine_topk_quantized,
    )
    from top_produce_etl_spark.plans.builder import load_pipeline_spec
    from top_produce_etl_spark.queries import get_all_oracles

    spec = load_pipeline_spec(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "configs",
            "pipeline_hybrid_serve.yaml",
        )
    )
    idx = str(tmp_path / "hybrid_index")
    for op in spec["ops"]:
        if op["op"] == "ann_topk":
            op["index_path"] = idx
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    second = cosine_topk_quantized(emb, queries, "vec_id", "embedding", k=3)
    out = build_pipeline(
        spark, spec, {"embeddings": emb, "second_tier": second}
    )
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    got = {
        # pico projection (×1e12 BIGINT): engines' double→decimal
        # conversions diverge by 1 ulp at the 14th decimal on some
        # pairs; the battery oracle uses the same integer convention
        (r["query_id"], r["neighbor_id"], round(r["cosine"] * 1e12),
         r["rank"])
        for r in out.collect()
    }
    assert os.path.isdir(f"{idx}/codebooks") and os.path.isdir(f"{idx}/codes")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    oracle = {
        tuple(r)
        for r in con.execute(
            get_all_oracles()["hybrid_serve_pipeline"]
        ).fetchall()
    }
    assert got == oracle and len(got) == 30


def test_pipeline_session_releases_boundary_persists(spark, sf_dir):
    """pipeline_session (r9, round-8 advisor): a library caller who
    composes multi-scan ops inside the context manager leaks nothing
    — boundary persists registered during the block are released on
    exit, including on error, and never a frame an outer scope
    registered."""
    from top_produce_etl_spark.operators import _cache
    from top_produce_etl_spark.plans.builder import pipeline_session

    docs = load_table(spark, sf_dir, "documents")
    spec = {
        "source": "documents",
        "ops": [
            {"op": "filter", "expr": "n_chars > 0"},
            {
                "op": "cap_per_category",
                "category_col": "source",
                "key_col": "doc_id",
                "cap": 100,
            },
        ],
    }
    before = len(_cache._PERSISTED)
    with pipeline_session():
        out = build_pipeline(spark, spec, {"documents": docs})
        assert out.count() > 0
        assert len(_cache._PERSISTED) == before + 1
    assert len(_cache._PERSISTED) == before

    with pytest.raises(ValueError):
        with pipeline_session():
            build_pipeline(spark, spec, {"documents": docs}).count()
            raise ValueError("caller error")
    assert len(_cache._PERSISTED) == before

    # nested scopes: an inner scope releases only its own frames, so
    # a frame the outer caller persisted survives the inner exit
    inner_spec = {**spec, "ops": [{"op": "filter", "expr": "n_chars > 1"},
                                  *spec["ops"][1:]]}
    with pipeline_session():
        outer = build_pipeline(spark, spec, {"documents": docs})
        held = _cache._PERSISTED[-1]
        with pipeline_session():
            build_pipeline(spark, inner_spec, {"documents": docs}).count()
            assert len(_cache._PERSISTED) == before + 2
        assert _cache._PERSISTED[-1] is held
        assert held.storageLevel.useDisk  # still in Spark's cache
        assert outer.count() > 0
    assert len(_cache._PERSISTED) == before
    assert not held.storageLevel.useDisk


def test_yaml_normalize_dedup_matches_direct(spark, sf_dir):
    """normalize_dedup from config (r9): keep='rows' retains exactly
    the min-id keeper per normalized class (planted cosmetic twins
    drop); keep='report' reproduces the oracle-checked
    normalized_exact_dedup relation."""
    from top_produce_etl_spark.operators.dedup import (
        normalized_exact_dedup,
    )

    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "text")
    )
    variants = base.unionByName(
        base.select(
            (F.col("doc_id") + 1).alias("doc_id"),
            F.concat(
                F.lit("  "), F.upper("text"), F.lit(" -- 2024, !!! (99)   ")
            ).alias("text"),
        )
    )
    n_base = base.count()
    spec_rows = {
        "source": "docs",
        "ops": [
            {"op": "filter", "expr": "doc_id >= 0"},
            {"op": "normalize_dedup", "id_col": "doc_id",
             "text_col": "text"},
        ],
    }
    kept = build_pipeline(spark, spec_rows, {"docs": variants}).collect()
    assert len(kept) == n_base  # one survivor per planted class
    assert all(r["doc_id"] % 2 == 0 for r in kept)  # min-id keeper

    spec_rep = {
        "source": "docs",
        "ops": [{"op": "normalize_dedup", "id_col": "doc_id",
                 "text_col": "text", "keep": "report"}],
    }
    rep = build_pipeline(spark, spec_rep, {"docs": variants}).collect()
    direct = normalized_exact_dedup(variants, "text", "doc_id").collect()
    key = lambda r: r["norm_key"]  # noqa: E731
    assert sorted(rep, key=key) == sorted(direct, key=key)


def test_yaml_url_dedup_shares_query_oracle(spark, sf_dir):
    """Round 10: the shipped URL-curation YAML's normalize→dedup
    prefix (keep switched to the report mode) must reproduce the
    oracle-checked url_normalize_dedup query EXACTLY — the YAML path
    inherits the battery's DuckDB verification."""
    import duckdb

    from top_produce_etl_spark.operators.urls import synthesize_urls
    from top_produce_etl_spark.plans.builder import load_pipeline_spec
    from top_produce_etl_spark.queries import get_all_oracles

    spec = load_pipeline_spec(
        f"{CONFIGS}/pipeline_url_curation.yaml"
    )
    prefix = {
        "source": "urls",
        "ops": [spec["ops"][0], {**spec["ops"][1], "keep": "report"}],
    }
    docs = load_table(spark, sf_dir, "documents")
    urls = synthesize_urls(docs, effective_mod=100)
    got = {
        (r["canonical_url"], r["n_raw"], r["n_raw_variants"],
         r["keeper_doc_id"])
        for r in build_pipeline(spark, prefix, {"urls": urls}).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    oracle = set(
        map(tuple,
            con.execute(get_all_oracles()["url_normalize_dedup"])
            .fetchall())
    )
    assert got == oracle and len(got) > 0


def test_yaml_url_curation_full_pipeline(spark, sf_dir):
    """The full shipped composition (normalize → dedup survivors →
    PSL domain → per-domain cap): survivors are exactly the oracle's
    keeper ids, every domain respects the cap, and the domain column
    resolves via the PSL path."""
    import duckdb

    from top_produce_etl_spark.operators.urls import synthesize_urls
    from top_produce_etl_spark.plans.builder import load_pipeline_spec
    from top_produce_etl_spark.queries import get_all_oracles

    spec = load_pipeline_spec(
        f"{CONFIGS}/pipeline_url_curation.yaml"
    )
    docs = load_table(spark, sf_dir, "documents")
    urls = synthesize_urls(docs, effective_mod=100)
    out = build_pipeline(spark, spec, {"urls": urls}).collect()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    keepers = {
        r[3] for r in
        con.execute(get_all_oracles()["url_normalize_dedup"]).fetchall()
    }
    got_ids = {r["doc_id"] for r in out}
    assert got_ids <= keepers and len(got_ids) > 0
    per_domain: dict = {}
    for r in out:
        assert r["domain"] is not None
        per_domain[r["domain"]] = per_domain.get(r["domain"], 0) + 1
    assert max(per_domain.values()) <= 5
    # the capped survivor set is deterministic: re-running the spec
    # returns the same ids (hash-rank cap, no sampling)
    again = {
        r["doc_id"]
        for r in build_pipeline(spark, spec, {"urls": urls}).collect()
    }
    assert again == got_ids


def test_yaml_ccnet_chain_matches_handwritten(spark):
    """Round 10: the shipped CCNet chain (in-engine langid filter →
    normalized dedup → perplexity-bucket keep) must be row-identical
    to the handwritten operator composition, and every survivor must
    actually be the target language (the planted truth the langid
    stage has to recover on text alone — the corpus frame carries no
    lang column)."""
    from pyspark.sql import functions as F

    from top_produce_etl_spark.operators._cache import unpersist_all
    from top_produce_etl_spark.operators.dedup import (
        normalized_exact_dedup,
    )
    from top_produce_etl_spark.operators.langid import (
        score_langid,
        synthesize_lang_corpus,
        train_langid,
    )
    from top_produce_etl_spark.operators.textquality import (
        perplexity_buckets,
    )
    from top_produce_etl_spark.plans.builder import load_pipeline_spec

    # corpus: ids 0..299 with the lang TRUTH held aside; reference:
    # disjoint ids 1000..1299 (same planted lexicons, labeled)
    corpus_full = synthesize_lang_corpus(
        spark.range(300).select(F.col("id").alias("doc_id"))
    )
    docs = corpus_full.select("doc_id", "text")
    truth = {r["doc_id"]: r["lang"] for r in corpus_full.collect()}
    ref = synthesize_lang_corpus(
        spark.range(1000, 1300).select(F.col("id").alias("doc_id"))
    )

    spec = load_pipeline_spec(f"{CONFIGS}/pipeline_ccnet.yaml")
    got = build_pipeline(
        spark, spec, {"docs": docs, "lang_reference": ref}
    ).collect()
    unpersist_all()
    got_ids = {r["doc_id"] for r in got}
    assert len(got_ids) > 0
    assert all(truth[i] == "en" for i in got_ids)

    # handwritten composition
    model = train_langid(ref, iters=3, n_buckets=64)
    en = docs.join(
        score_langid(docs, model, n_buckets=64)
        .where(F.col("pred_lang") == "en")
        .select(F.col("id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    survivors = en.join(
        normalized_exact_dedup(en, "text", "doc_id").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    kept = survivors.join(
        perplexity_buckets(survivors, "doc_id", "text")
        .where(F.col("ppl_bucket").isin("head", "middle"))
        .select("doc_id"),
        "doc_id",
        "left_semi",
    )
    hand_ids = {r["doc_id"] for r in kept.collect()}
    unpersist_all()
    assert got_ids == hand_ids
    # the tail tercile was actually dropped (ntile(3): the tail gets
    # floor(n/3) rows)
    n_surv = survivors.count()
    assert len(got_ids) == n_surv - n_surv // 3 and n_surv > 0


def test_yaml_preference_curation_matches_handwritten(spark):
    """Round 11: the shipped preference-curation chain (BT-rating
    gap filter → per-winner cap → re-rate) must be row-identical to
    the handwritten operator composition, and the bare bt_ratings op
    must be row-identical to the bt_preference_ratings battery
    query's engine path on the same pairs — the pipeline_ccnet
    oracle-sharing precedent."""
    from pyspark.sql import functions as F

    from top_produce_etl_spark.io.sources import load_table
    from top_produce_etl_spark.operators._cache import unpersist_all
    from top_produce_etl_spark.operators.mixture import (
        cap_per_category,
    )
    from top_produce_etl_spark.operators.preferences import (
        bt_ratings,
        with_rating_gap,
    )
    from top_produce_etl_spark.plans.builder import (
        build_pipeline,
        load_pipeline_spec,
    )
    from top_produce_etl_spark.queries.prefs_q import (
        synthesize_preference_pairs,
    )

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    # pair_id = o_orderkey: unique and deterministic (the cap key)
    pairs = synthesize_preference_pairs(orders, with_pair_id=True)
    spec = load_pipeline_spec(
        f"{CONFIGS}/pipeline_preference_curation.yaml"
    )
    got = sorted(
        map(
            tuple,
            build_pipeline(spark, spec, {"pairs": pairs}).collect(),
        )
    )
    unpersist_all()

    # handwritten composition, same parameters as the YAML
    ratings0 = bt_ratings(pairs, iters=3)
    gapped = with_rating_gap(pairs, ratings0)
    kept = gapped.filter(
        (F.col("gap_micro") >= 0) & (F.col("gap_micro") <= 900000)
    )
    capped = cap_per_category(kept, "winner", "pair_id", 60)
    hand = sorted(
        map(tuple, bt_ratings(capped, iters=3).collect())
    )
    unpersist_all()
    assert got == hand and len(got) > 0

    # oracle-sharing leg: the bare bt_ratings op == the
    # bt_preference_ratings battery engine path
    solo_spec = {"source": "pairs", "ops": [{"op": "bt_ratings",
                                            "iters": 3}]}
    solo = sorted(
        map(
            tuple,
            build_pipeline(
                spark, solo_spec, {"pairs": pairs}
            ).collect(),
        )
    )
    battery = sorted(
        map(tuple, bt_ratings(
            synthesize_preference_pairs(orders), iters=3
        ).collect())
    )
    assert solo == battery


def test_yaml_frozen_surprisal_bucket(spark, tmp_path):
    """Round 11: surprisal_bucket's ``frozen`` mode builds the
    LM+cutoffs artifact on first miss (train_table), loads it on
    every later run, and bucketing a GROWN corpus against the frozen
    artifact keeps every reference row's bucket — the append-stable
    production twin, now declarative."""
    from pyspark.sql import functions as F

    from top_produce_etl_spark.operators._cache import unpersist_all
    from top_produce_etl_spark.operators.langid import (
        synthesize_lang_corpus,
    )
    from top_produce_etl_spark.plans.builder import build_pipeline

    corpus = synthesize_lang_corpus(
        spark.range(120).select(F.col("id").alias("doc_id"))
    ).select("doc_id", "lang", "text")
    ref = corpus.filter(F.col("doc_id") < 60)
    path = str(tmp_path / "frozen_ref")
    spec = {
        "source": "docs",
        "ops": [
            {
                "op": "surprisal_bucket",
                "id_col": "doc_id",
                "text_col": "text",
                "by": ["lang"],
                "frozen": {"path": path, "train_table": "ref"},
            }
        ],
    }
    # run 1: reference only — builds the artifact, attaches buckets
    first = {
        r["doc_id"]: r["ppl_bucket"]
        for r in build_pipeline(
            spark, spec, {"docs": ref, "ref": ref}
        ).collect()
    }
    unpersist_all()
    import os

    assert os.path.exists(os.path.join(path, "lm"))
    # run 2: grown corpus, artifact LOADED (train_table absent on
    # purpose — a miss would KeyError)
    spec2 = {
        "source": "docs",
        "ops": [
            {
                "op": "surprisal_bucket",
                "id_col": "doc_id",
                "text_col": "text",
                "by": ["lang"],
                "frozen": {"path": path},
            }
        ],
    }
    grown = {
        r["doc_id"]: r["ppl_bucket"]
        for r in build_pipeline(spark, spec2, {"docs": corpus}).collect()
    }
    assert len(grown) == 120
    # append-stability: every reference row keeps its bucket
    assert all(grown[i] == b for i, b in first.items())


def test_yaml_crawl_chain_from_raw_html(spark):
    """Round 11: the crawl config starts at RAW HTML and must be
    row-identical to extracting first and running the handwritten
    langid → dedup → bucket chain on the extracted text."""
    from pyspark.sql import functions as F

    from top_produce_etl_spark.operators._cache import unpersist_all
    from top_produce_etl_spark.operators.dedup import (
        normalized_exact_dedup,
    )
    from top_produce_etl_spark.operators.html import (
        extract_html_text,
        synthesize_html_docs,
    )
    from top_produce_etl_spark.operators.langid import (
        score_langid,
        synthesize_lang_corpus,
        train_langid,
    )
    from top_produce_etl_spark.operators.textquality import (
        perplexity_buckets,
    )
    from top_produce_etl_spark.plans.builder import (
        build_pipeline,
        load_pipeline_spec,
    )

    corpus = synthesize_lang_corpus(
        spark.range(200).select(F.col("id").alias("doc_id"))
    )
    pages = synthesize_html_docs(corpus.select("doc_id", "text"))
    ref = synthesize_lang_corpus(
        spark.range(1000, 1200).select(F.col("id").alias("doc_id"))
    )
    spec = load_pipeline_spec(f"{CONFIGS}/pipeline_crawl.yaml")
    got_ids = {
        r["doc_id"]
        for r in build_pipeline(
            spark, spec, {"pages": pages, "lang_reference": ref}
        ).collect()
    }
    unpersist_all()
    assert len(got_ids) > 0

    # handwritten: extract, then the ccnet chain on extracted text
    docs = extract_html_text(pages).select("doc_id", "text")
    model = train_langid(ref, iters=3, n_buckets=64)
    en = docs.join(
        score_langid(docs, model, n_buckets=64)
        .where(F.col("pred_lang") == "en")
        .select(F.col("id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    surv = en.join(
        normalized_exact_dedup(en, "text", "doc_id").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    kept = surv.join(
        perplexity_buckets(surv, "doc_id", "text")
        .where(F.col("ppl_bucket").isin("head", "middle"))
        .select("doc_id"),
        "doc_id",
        "left_semi",
    )
    hand_ids = {r["doc_id"] for r in kept.collect()}
    assert got_ids == hand_ids
