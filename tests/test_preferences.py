"""Bradley-Terry preference ratings (round 10 —
operators/preferences.py)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from top_produce_etl_spark.operators._cache import unpersist_all
from top_produce_etl_spark.operators.preferences import (
    bt_ratings,
    bt_ratings_oracle_sql,
)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "winner long, loser long")


def _rate(spark, rows, iters=3):
    out = {
        r["item"]: r
        for r in bt_ratings(_pairs(spark, rows), iters=iters).collect()
    }
    return out


def test_transitive_round_robin_orders_correctly(spark):
    """2 beats 1 twice, 1 beats 0 twice, 2 beats 0 twice, plus one
    upset each way so nobody is unbeaten: ratings order 2 > 1 > 0."""
    rows = [(2, 1), (2, 1), (1, 0), (1, 0), (2, 0), (2, 0),
            (1, 2), (0, 1), (0, 2)]
    r = _rate(spark, rows)
    assert r[2]["r_micro"] > r[1]["r_micro"] > r[0]["r_micro"]
    assert r[2]["wins"] == 4 and r[2]["games"] == 6
    assert r[0]["wins"] == 2 and r[0]["games"] == 6


def test_zero_win_floor(spark):
    """A winless item rates to the 1-micro floor and stays at the
    bottom; later iterations never divide by zero even when two
    floored items share a game."""
    rows = [(3, 1), (3, 2), (4, 1), (4, 2), (1, 2), (2, 1)]
    # items 1 and 2 split their head-to-head; give 0 nothing:
    rows += [(1, 0), (2, 0)]
    r = _rate(spark, rows, iters=4)
    assert r[0]["wins"] == 0 and r[0]["r_micro"] == 1
    assert min(v["r_micro"] for k, v in r.items() if k != 0) > 1


def test_partitioning_invariance(spark):
    rows = [(i % 5, (i + 1 + i % 3) % 5) for i in range(0, 200, 7)]
    rows = [(w, l) for w, l in rows if w != l]
    a = sorted(
        map(tuple, bt_ratings(
            _pairs(spark, rows).repartition(1)).collect())
    )
    unpersist_all()
    b = sorted(
        map(tuple, bt_ratings(
            _pairs(spark, rows).repartition(17)).collect())
    )
    assert a == b


def test_oracle_bit_exact(spark):
    rows = [(2, 1), (1, 0), (2, 0), (0, 2), (1, 2), (2, 1), (1, 0)]
    got = sorted(map(tuple, bt_ratings(_pairs(spark, rows)).collect()))
    vals = ", ".join(f"({w}, {l})" for w, l in rows)
    sql = bt_ratings_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) t(winner, loser)"
    )
    duck = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == duck


def test_planted_strength_recovery(spark):
    """The battery fixture's shape: stronger item wins 75% of games
    deterministically — 3 MM updates must recover the full planted
    order for well-sampled items. The upset keys on the ROUND
    number (k // (n·(n−1))) so it is exactly uniform per pair
    class; keying on k itself correlates upsets with pair identity
    (k mod n·(n−1) pins k mod 4 up to a gcd) and skews per-pair
    win rates — a fixture bug, not a rating bug."""
    n_items = 7
    period = n_items * (n_items - 1)
    rows = []
    for k in range(4200):
        a = k % n_items
        b = (a + 1 + (k // n_items) % (n_items - 1)) % n_items
        if a == b:
            continue
        if (k // period) % 4 == 0:
            rows.append((min(a, b), max(a, b)))
        else:
            rows.append((max(a, b), min(a, b)))
    r = _rate(spark, rows)
    order = sorted(r, key=lambda i: r[i]["r_micro"])
    assert order == list(range(n_items))


def test_rejects_bad_iters(spark):
    with pytest.raises(ValueError):
        bt_ratings(_pairs(spark, [(1, 0)]), iters=0)
