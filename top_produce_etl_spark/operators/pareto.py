"""Pareto-frontier (skyline) extraction — the multi-objective
"best tradeoffs" operator (SURVEY.md §2.12 analytics tier; the
classic skyline query from the OLAP literature).

A row is ON the skyline iff no other row dominates it: u dominates v
when u is <= v on every MINIMIZE objective, >= v on every MAXIMIZE
objective, and strictly better on at least one. Rows equal on every
objective do not dominate each other — all of them survive, which
keeps the result a deterministic set (no arbitrary tie survivor).

Scale shape (two phases, the standard distributed-skyline design):

1. **Local prune** (mapInPandas): each Arrow batch drops its locally
   dominated rows with a vectorized numpy mask. Correct because the
   skyline operator is idempotent and distributive over union —
   skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B)) — so pruning
   any subset never removes a global-skyline row, and the FINAL
   result is invariant to how rows landed in batches. For random
   data the local skyline is O(log^{d-1} n) of the batch, so the
   surviving candidate set is tiny relative to the corpus.
2. **Global refine**: the pruned candidates anti-join themselves on
   the dominance predicate (a non-equi BroadcastNestedLoopJoin —
   legitimate HERE because phase 1 already shrank both sides to the
   union of local skylines; the corpus itself never meets the
   quadratic operator).

Python appears only in phase 1's batch-local mask — an honest
Pandas-UDF use: dominance pruning has no built-in columnar
expression, and the mask is numpy-vectorized per batch, never
row-at-a-time Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.operators._cache import persist_tracked


def _validate(df: DataFrame, minimize: list[str], maximize: list[str]) -> None:
    objectives = list(minimize) + list(maximize)
    if not objectives:
        raise ValueError("need at least one minimize/maximize column")
    if len(set(objectives)) != len(objectives):
        raise ValueError(f"objective columns overlap: {objectives}")
    missing = [c for c in objectives if c not in df.columns]
    if missing:
        raise ValueError(f"objective columns not in df: {missing}")


def _local_prune(minimize: list[str], maximize: list[str]):
    """Batch-local dominated-row mask, numpy-vectorized.

    O(s·n) per batch where s is the local skyline size (each
    candidate is compared against the whole batch at numpy speed) —
    the classic block-nested-loop skyline bounded by the small s.
    """
    import numpy as np

    def prune(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # orient every objective as MINIMIZE (negate maximize)
            obj = np.column_stack(
                [pdf[c].to_numpy(dtype="float64") for c in minimize]
                + [-pdf[c].to_numpy(dtype="float64") for c in maximize]
            )
            n = len(pdf)
            alive = np.ones(n, dtype=bool)
            # process in a sorted pass: a row can only be dominated
            # by one that precedes it in (sum of objectives) order,
            # never by one that follows — so each survivor is final
            # when visited, and dominated rows are masked early.
            order = np.argsort(obj.sum(axis=1), kind="stable")
            for idx in order:
                if not alive[idx]:
                    continue
                le = (obj[idx] <= obj).all(axis=1)
                lt = (obj[idx] < obj).any(axis=1)
                dominated = le & lt
                dominated[idx] = False
                alive &= ~dominated
            yield pdf[alive]

    return prune


def skyline(
    df: DataFrame,
    minimize: list[str] | None = None,
    maximize: list[str] | None = None,
) -> DataFrame:
    """All rows of ``df`` not dominated on the given objectives.

    Output schema = input schema (a pure filter). Deterministic: the
    surviving SET is partition-layout-invariant (see module doc), so
    the order-insensitive oracle hash matches at any parallelism.
    """
    minimize = list(minimize or [])
    maximize = list(maximize or [])
    _validate(df, minimize, maximize)

    # phase 2 references the pruned candidates TWICE (probe side +
    # broadcast dominator side) — persist once or the upstream
    # pipeline (often an aggregation) executes per branch
    candidates = persist_tracked(
        df.mapInPandas(_local_prune(minimize, maximize), df.schema)
    )

    # Global refine: anti-join candidates against themselves on the
    # dominance predicate. Column-name collision is avoided by
    # aliasing the dominator side.
    dom = candidates.select(
        *[F.col(c).alias(f"__d_{c}") for c in minimize + maximize]
    )
    le = [F.col(f"__d_{c}") <= F.col(c) for c in minimize] + [
        F.col(f"__d_{c}") >= F.col(c) for c in maximize
    ]
    lt = [F.col(f"__d_{c}") < F.col(c) for c in minimize] + [
        F.col(f"__d_{c}") > F.col(c) for c in maximize
    ]
    cond = F.lit(True)
    for c in le:
        cond = cond & c
    strict = F.lit(False)
    for c in lt:
        strict = strict | c
    return candidates.join(
        F.broadcast(dom), on=cond & strict, how="left_anti"
    )


def skyline_oracle_sql(
    rel_sql: str, minimize: list[str], maximize: list[str]
) -> str:
    """DuckDB oracle: NOT EXISTS dominance over the same relation.

    ``rel_sql`` selects the full input relation (all columns the
    Spark side returns)."""
    le = [f"u.{c} <= t.{c}" for c in minimize] + [
        f"u.{c} >= t.{c}" for c in maximize
    ]
    lt = [f"u.{c} < t.{c}" for c in minimize] + [
        f"u.{c} > t.{c}" for c in maximize
    ]
    return f"""
    WITH rel AS ({rel_sql})
    SELECT t.* FROM rel t
    WHERE NOT EXISTS (
        SELECT 1 FROM rel u
        WHERE {' AND '.join(le)} AND ({' OR '.join(lt)})
    )"""
