"""In-engine quasi-logistic classifier (round 9 —
operators/classifier.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from top_produce_etl_spark.operators.classifier import (
    score_quasi_logreg,
    train_quasi_logreg,
)


@pytest.fixture()
def toy(spark):
    # perfectly separable: label = contains 'good'; vocabulary is
    # tiny so hash collisions can't merge the deciding buckets
    rows = []
    for i in range(40):
        y = i % 2
        text = ("good " * (2 + i % 3) + "pad filler") if y else (
            "bad " * (2 + i % 3) + "pad filler"
        )
        rows.append((i, text.strip(), y))
    return spark.createDataFrame(rows, "doc_id long, text string, y int")


def test_training_separates_separable_data(spark, toy):
    model = train_quasi_logreg(
        toy, "doc_id", "text", "y", n_buckets=16, iters=12, lr=(1, 10)
    )
    scored = score_quasi_logreg(toy, model, "doc_id", "text", n_buckets=16)
    acc = (
        scored.join(toy.select(F.col("doc_id").alias("id"), "y"), "id")
        .filter(F.col("pred") == F.col("y"))
        .count()
    )
    assert acc == 40  # linearly separable -> perfect train accuracy


def test_training_partitioning_invariance(spark, toy):
    """Integer aggregation makes the trained weights independent of
    partitioning — the distributed-training determinism claim."""
    w1 = train_quasi_logreg(
        toy.repartition(1), "doc_id", "text", "y",
        n_buckets=16, iters=5, lr=(1, 10),
    ).collect()
    w17 = train_quasi_logreg(
        toy.repartition(17), "doc_id", "text", "y",
        n_buckets=16, iters=5, lr=(1, 10),
    ).collect()
    assert sorted(map(tuple, w1)) == sorted(map(tuple, w17))


def test_scores_bounded_and_monotone(spark, toy):
    model = train_quasi_logreg(
        toy, "doc_id", "text", "y", n_buckets=16, iters=8, lr=(1, 10)
    )
    rows = score_quasi_logreg(
        toy, model, "doc_id", "text", n_buckets=16
    ).collect()
    assert all(0 <= r["score_micro"] <= 1_000_000 for r in rows)
    assert all(
        r["pred"] == (1 if r["score_micro"] >= 500_000 else 0)
        for r in rows
    )


def test_train_rejects_bad_iters(spark, toy):
    with pytest.raises(ValueError, match="iters"):
        train_quasi_logreg(toy, "doc_id", "text", "y", iters=0)


def test_xxhash64_production_path(spark, toy):
    """The production bucket hash (xxhash64 intrinsic) trains a model
    with the same separation power and the same partitioning
    invariance as the portable twin — the countmin/kmv/dsir
    fast-twin convention, pinned here since no serial engine can
    replay xxhash64."""
    model = train_quasi_logreg(
        toy, "doc_id", "text", "y",
        n_buckets=16, iters=12, lr=(1, 10), hash_mode="xxhash64",
    )
    scored = score_quasi_logreg(
        toy, model, "doc_id", "text", n_buckets=16,
        hash_mode="xxhash64",
    )
    acc = (
        scored.join(toy.select(F.col("doc_id").alias("id"), "y"), "id")
        .filter(F.col("pred") == F.col("y"))
        .count()
    )
    w1 = train_quasi_logreg(
        toy.repartition(1), "doc_id", "text", "y",
        n_buckets=16, iters=4, lr=(1, 10), hash_mode="xxhash64",
    ).collect()
    w9 = train_quasi_logreg(
        toy.repartition(9), "doc_id", "text", "y",
        n_buckets=16, iters=4, lr=(1, 10), hash_mode="xxhash64",
    ).collect()
    assert acc == 40
    assert sorted(map(tuple, w1)) == sorted(map(tuple, w9))


def test_bad_hash_mode_rejected(spark, toy):
    with pytest.raises(ValueError, match="hash_mode"):
        train_quasi_logreg(
            toy, "doc_id", "text", "y", hash_mode="md5"
        )


def test_yaml_quality_classifier_filter_matches_direct(spark, toy):
    """The declarative learned-quality-gate op reproduces the direct
    train→score→filter composition row for row, and the kept slice
    actually discriminates (only label-1 docs survive on separable
    data with a 0.5 threshold)."""
    from top_produce_etl_spark.plans.builder import build_pipeline

    spec = {
        "source": "docs",
        "ops": [
            {
                "op": "quality_classifier_filter",
                "id_col": "doc_id",
                "text_col": "text",
                "label_expr": "y",
                "n_buckets": 16,
                "iters": 12,
                "lr": [1, 10],
            }
        ],
    }
    kept = build_pipeline(spark, spec, {"docs": toy}).collect()
    model = train_quasi_logreg(
        toy, "doc_id", "text", "y", n_buckets=16, iters=12, lr=(1, 10)
    )
    scored = score_quasi_logreg(toy, model, "doc_id", "text", n_buckets=16)
    direct = (
        toy.join(
            scored.filter(F.col("score_micro") >= 500_000)
            .select(F.col("id").alias("doc_id")),
            "doc_id",
            "left_semi",
        ).collect()
    )
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(kept, key=key) == sorted(direct, key=key)
    assert len(kept) == 20 and all(r["y"] == 1 for r in kept)


def test_training_oracle_bit_exact_with_empty_tokens(spark):
    """Round-10 ADVICE regression: doubled/leading/trailing spaces
    produce empty tokens from split(); both engines must DROP them
    (Spark would hash '' to bucket 0, DuckDB's polynomial hash of ''
    is NULL and the row would silently vanish from the training
    joins) — the trained model must still hash-match bit for bit."""
    import duckdb

    from top_produce_etl_spark.operators.classifier import (
        train_quasi_logreg_oracle_sql,
    )

    rows = [
        (0, "good  good pad", 1),
        (1, " bad bad  pad ", 0),
        (2, "good pad   pad", 1),
        (3, "bad   pad", 0),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, y int")
    model = sorted(
        map(
            tuple,
            train_quasi_logreg(
                docs, "doc_id", "text", "y",
                n_buckets=8, iters=3, lr=(1, 4),
            ).collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {t!r}, {y})" for i, t, y in rows)
        + ") t(doc_id, text, y)"
    )
    duck = sorted(
        map(
            tuple,
            con.execute(
                train_quasi_logreg_oracle_sql(
                    label_sql="y", n_buckets=8, iters=3, lr=(1, 4)
                )
            ).fetchall(),
        )
    )
    assert model == duck


def test_one_gd_core_for_hashed_linear_models():
    """The quality classifier and langid share ONE integer-GD core:
    across both modules there is one training loop, one persisted
    feature relation and one langid argmax — a second copy of any of
    them is a second model implementation to keep bit-exact."""
    import ast
    from pathlib import Path

    import top_produce_etl_spark.operators as ops

    loops = persists = argmaxes = 0
    for name in ("classifier.py", "langid.py"):
        tree = ast.parse((Path(ops.__file__).parent / name).read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.For)
                and isinstance(node.target, ast.Name)
                and node.target.id == "_"
                and ast.unparse(node.iter) == "range(iters)"
            ):
                loops += 1
            elif isinstance(node, ast.Call):
                fn = node.func
                fn_name = fn.attr if isinstance(fn, ast.Attribute) else (
                    fn.id if isinstance(fn, ast.Name) else None
                )
                persists += fn_name == "persist_tracked"
                argmaxes += fn_name == "array_min"
    assert (loops, persists, argmaxes) == (1, 1, 1)
