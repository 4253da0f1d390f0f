"""Unit tests for the top-N operator family — the reference's core
computation (reference config/config_prod.yaml:10-13), including the
tie-handling semantics SURVEY.md §7 flags as the main risk."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from top_produce_etl_spark.operators.topn import top_n_agg, top_n_window

ROWS = [
    # region, product, sales — note the tie at EU/30.0
    ("EU", "a", 50.0),
    ("EU", "b", 30.0),
    ("EU", "c", 30.0),
    ("EU", "d", 10.0),
    ("US", "x", 5.0),
    ("US", "y", 7.0),
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, ["region", "product", "sales"])


def collect_sorted(out):
    return sorted(
        (r["region"], r["product"], r["sales"], r["rank"]) for r in out.collect()
    )


def test_row_number_exactly_n_with_deterministic_ties(df):
    out = top_n_window(df, "region", "sales", 2, tiebreak="product")
    assert collect_sorted(out) == [
        ("EU", "a", 50.0, 1),
        ("EU", "b", 30.0, 2),  # tie broken by product asc: b beats c
        ("US", "x", 5.0, 2),
        ("US", "y", 7.0, 1),
    ]


def test_rank_method_returns_ties_beyond_n(df):
    out = top_n_window(df, "region", "sales", 2, tiebreak=None, method="rank")
    eu = [r for r in collect_sorted(out) if r[0] == "EU"]
    # rank: 50→1, 30→2, 30→2 — both ties included
    assert {(p, rk) for (_, p, _, rk) in eu} == {("a", 1), ("b", 2), ("c", 2)}


def test_agg_strategy_matches_window_strategy(df):
    """The collect/sort/slice formulation must produce
    exactly the row_number-window result."""
    w = top_n_window(df, "region", "sales", 2, tiebreak="product")
    a = top_n_agg(df, "region", "sales", 2, tiebreak="product")
    assert collect_sorted(w) == collect_sorted(a)


def test_agg_strategy_multi_group_payload(spark):
    df = spark.createDataFrame(
        [("EU", "de", "a", 3.0), ("EU", "de", "b", 9.0), ("EU", "fr", "c", 1.0)],
        ["region", "country", "product", "sales"],
    )
    out = top_n_agg(
        df, ["region", "country"], "sales", 1, tiebreak="product"
    )
    got = sorted(
        (r["region"], r["country"], r["product"], r["sales"], r["rank"])
        for r in out.collect()
    )
    assert got == [("EU", "de", "b", 9.0, 1), ("EU", "fr", "c", 1.0, 1)]


def test_input_permutation_invariance(spark):
    """Top-N must be stable under input row order (hypothesis-style
    property, enumerated)."""
    import itertools

    base = [("g", p, s) for p, s in [("a", 1.0), ("b", 2.0), ("c", 2.0)]]
    results = set()
    for perm in itertools.permutations(base):
        df = spark.createDataFrame(list(perm), ["region", "product", "sales"])
        out = top_n_window(df, "region", "sales", 2, tiebreak="product")
        results.add(tuple(collect_sorted(out)))
    assert len(results) == 1


def test_output_subset_and_bound(df):
    out = top_n_window(df, "region", "sales", 3, tiebreak="product")
    rows = out.collect()
    per_group: dict[str, int] = {}
    input_keys = {(r[0], r[1]) for r in ROWS}
    for r in rows:
        per_group[r["region"]] = per_group.get(r["region"], 0) + 1
        assert (r["region"], r["product"]) in input_keys
    assert all(n <= 3 for n in per_group.values())
