"""Prefix-filtered exact Jaccard join (round 9 —
operators/dedup.py::prefix_filter_jaccard_pairs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from top_produce_etl_spark.io.sources import load_table
from top_produce_etl_spark.operators.dedup import (
    jaccard_pairs,
    prefix_filter_jaccard_pairs,
)


def test_prefix_join_equals_full_join(spark, sf_dir):
    """Losslessness on the fixture: identical pair set AND identical
    jaccard values as the inverted-index full join."""
    docs = load_table(spark, sf_dir, "documents")
    full = {
        (r["a_id"], r["b_id"], round(r["jaccard"], 12))
        for r in jaccard_pairs(docs, "doc_id", "text", k=5).collect()
    }
    pref = {
        (r["a_id"], r["b_id"], round(r["jaccard"], 12))
        for r in prefix_filter_jaccard_pairs(
            docs, "doc_id", "text", k=5, threshold=(1, 2)
        ).collect()
    }
    assert pref == full and len(pref) > 0


def test_prefix_join_skew_immunity(spark):
    """A boilerplate shingle shared by EVERY doc never enters any
    prefix (it is the most frequent, i.e. last in rarity order), so
    the candidate space stays pair-sparse while qualifying pairs are
    still found — the skew story the full self-join cannot tell."""
    boiler = "copyright footer all rights reserved"
    rows = []
    for i in range(60):
        # docs 0/1 are near-identical (share most content shingles);
        # everyone shares the boilerplate sentence
        if i < 2:
            body = f"alpha beta gamma delta epsilon zeta eta theta v{i}"
        else:
            body = " ".join(f"w{i}_{j}" for j in range(9))
        rows.append((i, f"{body} {boiler}"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", k=5, threshold=(1, 3)
    ).collect()
    pairs = {(r["a_id"], r["b_id"]) for r in out}
    assert (0, 1) in pairs
    # the 58 boilerplate-only docs share ~4 of ~10 shingles pairwise
    # (J < 1/3): none may pair
    assert all(a < 2 for a, b in pairs)


def test_prefix_join_rejects_bad_threshold(spark):
    docs = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="outside"):
        prefix_filter_jaccard_pairs(docs, "doc_id", "text", threshold=(3, 2))


def test_cohens_kappa_hand_checked(spark):
    """Known 2x2 table (Cohen 1960 structure): n=100, agree=70,
    marginals A: 60/40, B: 50/50 -> pe = 0.5, kappa = 0.4."""
    from top_produce_etl_spark.operators.stats import cohens_kappa

    rows = (
        [("g", 1, 1)] * 40 + [("g", 1, 0)] * 20
        + [("g", 0, 1)] * 10 + [("g", 0, 0)] * 30
    )
    df = spark.createDataFrame(rows, ["g", "a", "b"])
    out = cohens_kappa(df, "a", "b", group_cols=("g",)).collect()[0]
    assert out["n_rows"] == 100 and out["n_agree"] == 70
    # S = 60*50 + 40*50 = 5000; kappa = (100*70 - 5000)/(10000-5000) = 0.4
    assert out["kappa_micro"] == 400_000


def test_cohens_kappa_degenerate_marginals_null(spark):
    """Constant raters: n^2 == S, kappa undefined -> NULL (both
    engines guard before dividing)."""
    from top_produce_etl_spark.operators.stats import cohens_kappa

    df = spark.createDataFrame(
        [("g", 1, 1)] * 5, ["g", "a", "b"]
    )
    out = cohens_kappa(df, "a", "b", group_cols=("g",)).collect()[0]
    assert out["kappa_micro"] is None and out["n_agree"] == 5


def test_krippendorff_alpha_hand_checked(spark):
    """Classic nominal case A:(1,1) B:(1,2) C:(2,2) -> alpha = 4/9;
    a single-rating item is unpairable and must drop out entirely
    (including from the marginals)."""
    from top_produce_etl_spark.operators.stats import (
        krippendorff_alpha,
    )

    rows = [("A", 1), ("A", 1), ("B", 1), ("B", 2), ("C", 2), ("C", 2),
            ("D", 1)]
    df = spark.createDataFrame(rows, "item string, label int")
    out = krippendorff_alpha(df, "item", "label").collect()[0]
    assert out["n_items"] == 3 and out["n_ratings"] == 6
    # 4/9 in micro-units under the documented per-item + final
    # truncations: do=2e6, N=6, De-mass=36-18=18 ->
    # 1e6 - (2e6*5)//18 = 444445
    assert out["alpha_micro"] == 444445


def test_krippendorff_alpha_edges(spark):
    """Perfect agreement -> exactly 1e6; constant labels -> NULL
    (De = 0); missing third rater handled as absent rows."""
    from top_produce_etl_spark.operators.stats import (
        krippendorff_alpha,
    )

    perfect = spark.createDataFrame(
        [("A", 1), ("A", 1), ("B", 2), ("B", 2)],
        "item string, label int",
    )
    assert krippendorff_alpha(perfect, "item", "label").collect()[0][
        "alpha_micro"
    ] == 1_000_000
    const = spark.createDataFrame(
        [("A", 1), ("A", 1), ("B", 1), ("B", 1)],
        "item string, label int",
    )
    assert krippendorff_alpha(const, "item", "label").collect()[0][
        "alpha_micro"
    ] is None
    # three raters, one missing on item B: B still pairs on two
    three = spark.createDataFrame(
        [("A", 1), ("A", 1), ("A", 2), ("B", 1), ("B", 1)],
        "item string, label int",
    )
    out = krippendorff_alpha(three, "item", "label").collect()[0]
    assert out["n_items"] == 2 and out["n_ratings"] == 5


def test_krippendorff_alpha_oracle_bit_exact(spark):
    import duckdb

    from top_produce_etl_spark.operators.stats import (
        krippendorff_alpha,
        krippendorff_alpha_oracle_sql,
    )

    rows = [("g1", "A", 1), ("g1", "A", 2), ("g1", "B", 1),
            ("g1", "B", 1), ("g1", "B", 2), ("g2", "A", 3),
            ("g2", "A", 3), ("g2", "C", 3), ("g2", "C", 4)]
    df = spark.createDataFrame(rows, "g string, item string, label int")
    got = sorted(
        map(tuple, krippendorff_alpha(
            df, "item", "label", group_cols=("g",)).collect())
    )
    vals = ", ".join(f"('{g}', '{i}', {l})" for g, i, l in rows)
    sql = krippendorff_alpha_oracle_sql(
        f"(SELECT * FROM (VALUES {vals}) t(g, item, label))",
        "item", "label", group_sql=("g",),
    )
    duck = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == duck
