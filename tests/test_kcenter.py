"""Greedy k-center selection invariants
(operators/clustering.py::k_center_select)."""

from __future__ import annotations

from top_produce_etl_spark.operators.clustering import k_center_select


def test_kcenter_selection_properties(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sel = k_center_select(emb, "vec_id", "embedding", k=6).collect()
    assert len(sel) == 6
    ids = [r["vec_id"] for r in sel]
    assert len(set(ids)) == 6
    # deterministic seed: lowest id first
    assert ids[0] == emb.agg({"vec_id": "min"}).collect()[0][0]
    # farthest-first ⇒ the coverage radius never increases
    radii = [r["radius"] for r in sorted(sel, key=lambda r: r["sel_round"])]
    assert radii[0] == 0.0
    assert all(a >= b for a, b in zip(radii[1:], radii[2:]))
    # greedy 2-approx sanity: every radius after round 1 is positive
    assert all(r > 0 for r in radii[1:])


def test_kcenter_rerun_is_identical(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = k_center_select(emb, "vec_id", "embedding", k=4).collect()
    b = k_center_select(emb, "vec_id", "embedding", k=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_kcenter_empty_pool_raises_diagnosable(spark):
    """ADVICE r6: an over-aggressive sample_mod must raise a named
    ValueError, not a bare IndexError from an empty collect."""
    import pytest

    from top_produce_etl_spark.operators.clustering import (
        k_center_select,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(5)],
        "id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="empty candidate pool"):
        k_center_select(df, "id", "embedding", k=2,
                        sample_mod=10_000_019)


def test_kcenter_releases_each_superseded_round(spark, sf_dir):
    """The greedy loop releases each round's persisted state once the
    next round has materialized: only the candidate pool and the last
    round's state stay registered for the caller's scope to release."""
    from top_produce_etl_spark.operators import _cache

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    before = len(_cache._PERSISTED)
    assert len(k_center_select(emb, "vec_id", "embedding", k=5).collect()) == 5
    assert len(_cache._PERSISTED) - before <= 2
