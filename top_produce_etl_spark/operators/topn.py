"""Top-N per group — the reference's declared core computation.

The reference declares ``group_by_column: region, target_metric:
sales, top_n: 3`` (reference ``config/config_prod.yaml:10-13``) with
an empty transform body (``src/transform/top3_logic.py``, 0 bytes);
this module is the real, parameterized implementation, in two
formulations:

1. ``top_n_window`` — ranking window (``row_number`` over
   ``partitionBy(group).orderBy(desc(metric))``). The plan every job
   and pipeline uses. For ``row_number``/``rank``/``dense_rank`` with
   n ≤ ``spark.sql.optimizer.windowGroupLimitThreshold`` (default
   1000), Spark plans a ``WindowGroupLimit … Partial`` in each map
   task: at most n rows per group per task reach the hash exchange,
   so the task that receives a skewed group after the exchange sorts
   n rows per map task, not the whole group.

2. ``top_n_agg`` — ``groupBy(group).agg(slice(array_sort(
   collect_list(struct(...))), 1, n))`` + explode. Kept as a second
   formulation that tests and the ``topn_agg_top3_region`` query
   cross-check against the window. It is not the faster plan: its
   map-side combine keeps whole lists, and on a skewed input (one
   group holding 90% of 4M rows) it measured about 8× slower.

Ties: ``row_number`` is nondeterministic under ties unless a total
order exists, so both formulations require a deterministic tiebreak
column (ascending) — SURVEY.md §7 risk #1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order_cols(metric: str, tiebreak: list[str], ascending: bool) -> list[Column]:
    m = F.col(metric).asc() if ascending else F.col(metric).desc()
    return [m] + [F.col(t).asc() for t in tiebreak]


def top_n_window(
    df: DataFrame,
    group_by: str | list[str],
    metric: str,
    n: int,
    tiebreak: str | list[str] | None = None,
    ascending: bool = False,
    rank_col: str = "rank",
    method: str = "row_number",
) -> DataFrame:
    """Exactly-N (row_number) / ties-share-rank (rank, dense_rank)
    per-group top-N via a ranking window."""
    groups = [group_by] if isinstance(group_by, str) else list(group_by)
    ties = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
    rank_fn = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}[method]
    w = Window.partitionBy(*groups).orderBy(*_order_cols(metric, ties, ascending))
    return (
        df.withColumn(rank_col, rank_fn().over(w))
        .filter(F.col(rank_col) <= n)
    )


def top_n_agg(
    df: DataFrame,
    group_by: str | list[str],
    metric: str,
    n: int,
    tiebreak: str | list[str] | None = None,
    payload: list[str] | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-N by aggregate: collect per-group structs, sort, slice.

    Output schema matches ``top_n_window(method='row_number')``:
    group cols + payload cols + metric + rank. Sorting a struct
    orders by fields left-to-right, so the struct is laid out as
    (metric, negated tiebreaks…) — metric descending via
    ``sort_array(asc=False)``, tiebreak ascending via negation for
    numeric tiebreaks; for general tiebreak types we re-sort the
    sliced array with a comparator instead.
    """
    groups = [group_by] if isinstance(group_by, str) else list(group_by)
    ties = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
    if payload is None:
        payload = [c for c in df.columns if c not in groups and c != metric]
    # struct field order: metric first (primary sort key), then
    # tiebreaks, then remaining payload.
    fields = [F.col(metric).alias("__m")] + [
        F.col(t).alias(f"__t{i}") for i, t in enumerate(ties)
    ] + [F.col(c).alias(c) for c in payload if c not in ties]

    collected = df.groupBy(*groups).agg(
        F.collect_list(F.struct(*fields)).alias("__rows")
    )
    # Desc by metric with asc tiebreaks: array_sort comparator.
    tie_cmp = ""
    for i in range(len(ties)):
        tie_cmp += (
            f" WHEN l.__t{i} < r.__t{i} THEN -1 WHEN l.__t{i} > r.__t{i} THEN 1"
        )
    comparator = (
        "(l, r) -> CASE WHEN l.__m > r.__m THEN -1 WHEN l.__m < r.__m THEN 1"
        + tie_cmp
        + " ELSE 0 END"
    )
    topn = collected.withColumn(
        "__top", F.expr(f"slice(array_sort(__rows, {comparator}), 1, {n})")
    ).drop("__rows")
    exploded = topn.select(
        *groups, F.posexplode("__top").alias("__pos", "__row")
    )
    out_cols = (
        [F.col(g) for g in groups]
        + [F.col(f"__row.__t{i}").alias(t) for i, t in enumerate(ties)]
        + [F.col(f"__row.{c}").alias(c) for c in payload if c not in ties]
        + [F.col("__row.__m").alias(metric), (F.col("__pos") + 1).alias(rank_col)]
    )
    return exploded.select(*out_cols)
