"""Market-basket association rules — pairwise support / confidence /
lift over (basket, item) relations (SURVEY.md §2.12 analytics tier).

The classic co-occurrence miner ("parts ordered together"), built
scale-first: the pair explosion is a self-join WITHIN basket — its
output is Σ_b |b|² rows, bounded by the square of the largest basket
(order line counts here, single digits), never |corpus|²; pair and
item supports are plain hash aggs with map-side partials; the basket
total rides a 1-row broadcast on the non-foldable always-0 key
(house pattern). Metrics evaluate in a FIXED double tree over exact
integer counts → 1e6 fixed point, so a DuckDB oracle reproduces them
bit-for-bit at any parallelism.

A full FP-growth is deliberately out of scope: pairwise rules cover
the reporting/feature use-cases, and anything deeper should mine the
pair graph (operators/graph.py's LPA communities compose directly on
the pair output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.operators._cache import persist_tracked

SCALE = 1_000_000


def pair_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
) -> DataFrame:
    """Association rules for ordered item pairs (a < b).

    support counts are over DISTINCT (basket, item) — multiplicity
    inside one basket does not inflate co-occurrence. Output per
    surviving pair: (item_a, item_b, n_pairs, support_micro,
    conf_a_to_b_micro, conf_b_to_a_micro, lift_micro) where
    support = n_ab/N, confidence(a→b) = n_ab/n_a and
    lift = n_ab·N/(n_a·n_b); N = distinct baskets.
    """
    if min_pair_count < 1:
        raise ValueError(
            f"min_pair_count must be >= 1, got {min_pair_count}"
        )
    # bi feeds FOUR consumers (items, the 1-row total, and both
    # self-join sides); unpersisted, Spark re-executes the
    # scan→project→distinct tower per consumer (no cross-subtree
    # reuse — guide §2.4). Persisted once; the caller's
    # pipeline_session releases it (operators/_cache.py).
    bi = persist_tracked(
        df.select(
            F.col(basket_col).alias("b"), F.col(item_col).alias("i")
        ).distinct()
    )
    items = bi.groupBy(F.col("i").alias("item")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    total = F.broadcast(
        bi.agg(F.count_distinct("b").alias("__nb")).withColumn(
            "__k", F.pmod(F.col("__nb"), F.lit(1)).cast("int")
        )
    )
    l = bi.select(F.col("b"), F.col("i").alias("item_a"))
    r = bi.select(F.col("b").alias("b2"), F.col("i").alias("item_b"))
    pairs = (
        l.join(r, (l["b"] == r["b2"]) & (l["item_a"] < r["item_b"]))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .filter(F.col("n_pairs") >= min_pair_count)
    )
    na = items.select(
        F.col("item").alias("item_a"), F.col("n_item").alias("__na")
    )
    nb = items.select(
        F.col("item").alias("item_b"), F.col("n_item").alias("__nbk")
    )

    joined = (
        pairs.join(na, "item_a")
        .join(nb, "item_b")
        .withColumn("__k", F.pmod(F.col("n_pairs"), F.lit(1)).cast("int"))
        .join(total, "__k")
    )
    micro = lambda c: F.round(c * F.lit(float(SCALE))).cast("bigint")  # noqa: E731
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return joined.select(
        "item_a",
        "item_b",
        "n_pairs",
        micro(d("n_pairs") / d("__nb")).alias("support_micro"),
        micro(d("n_pairs") / d("__na")).alias("conf_a_to_b_micro"),
        micro(d("n_pairs") / d("__nbk")).alias("conf_b_to_a_micro"),
        micro(
            d("n_pairs") * d("__nb") / (d("__na") * d("__nbk"))
        ).alias("lift_micro"),
    )
