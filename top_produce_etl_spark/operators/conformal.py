"""Split-conformal prediction intervals (applied-statistics tier).

Split conformal prediction (Vovk et al.; Lei et al. 2018 — public
literature) wraps ANY point predictor in finite-sample-valid
intervals: fit on a TRAIN slice, score absolute residuals on a
held-out CALIBRATION slice, and take the ceil((n+1)(1−α))-th
smallest residual as the interval half-width — coverage ≥ 1−α holds
marginally under exchangeability with NO distributional or model
assumptions. In an LLM-data platform this is the honest way to put
error bars on per-group quality/size/cost predictions without
trusting the predictor.

Spark-first shape: the split is the append-stable salted-hash
assignment of operators/splits.py (never row_number — re-runs and
appends move nothing); the predictor here is the per-group
exact-decimal TRAIN mean (conformal is model-agnostic — the
simplest honest model keeps every stage oracle-checkable);
residual quantiles are ORDER STATISTICS picked by row_number over
the calibration slice (ceil((n+1)(1−α)) rank — the finite-sample
correction), never an interpolating percentile function. One split
projection, two group hash-aggs, one |cal|-partitioned window.
Everything is bit-identical cross-engine.

Rank overflow: if ceil((n_cal+1)(1−α)) > n_cal (tiny calibration
sets), the conformal half-width is +∞ by definition — emitted as
NULL bounds with the rank surfaced, so callers see "not enough
calibration data" instead of a silently clipped interval.

Reference parity: no statistics surface exists in the 98-LoC
reference; beyond-reference applied-statistics tier
(SURVEY.md §2.12) beside the A/B z-test, CUPED, and the Poisson
bootstrap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from top_produce_etl_spark.operators._cache import persist_tracked
from top_produce_etl_spark.operators.splits import assign_split

_FRACTIONS = {"train": 0.5, "cal": 0.25, "test": 0.25}


def conformal_intervals(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    value_sql: str,
    alpha: float = 0.1,
    salt: str = "conf-v1",
    fractions: dict[str, float] | None = None,
) -> DataFrame:
    """Per-group split-conformal interval around the train-mean
    predictor. Output: group cols + (pred, qhat, lo, hi, n_train,
    n_cal, q_rank) — lo/hi NULL when the finite-sample rank exceeds
    n_cal (see module docstring).

    Caching side effect: the salted-split relation is persisted (it
    feeds two consumers); materialize the result inside
    ``operators._cache.pipeline_session()``, which releases it."""
    fractions = fractions or _FRACTIONS
    # labeled feeds BOTH the train aggregate and the calibration
    # slice (single-file fixture scans are one task — guide §2.5/§6:
    # the split-hash CASE is the expensive map-side work here, and
    # unpersisted it is re-evaluated once per consumer tower).
    labeled = persist_tracked(
        assign_split(df, key_col, fractions, salt).select(
            *group_cols,
            F.expr(value_sql).cast("decimal(28,6)").alias("__y"),
            "split",
        )
    )
    train = (
        labeled.where(F.col("split") == "train")
        .groupBy(*group_cols)
        .agg(
            (
                F.sum("__y").cast("double") / F.count(F.lit(1))
            ).alias("pred"),
            F.count(F.lit(1)).alias("n_train"),
        )
    )
    cal = labeled.where(F.col("split") == "cal").join(
        train, group_cols
    )
    # pred/n_train ride along on the calibration rows (constant per
    # group after the train join) so the final report needs NO second
    # join back onto train — the old shape re-built the whole
    # labeled→train aggregation tower a second time just to re-fetch
    # them (one more scan of df + one more exchange; guide §2.4).
    resid = cal.select(
        *group_cols,
        F.abs(F.col("__y").cast("double") - F.col("pred")).alias("__r"),
        "pred",
        "n_train",
    )
    w = Window.partitionBy(*group_cols).orderBy(F.col("__r").asc())
    # n_cal as an unbounded COUNT window over the SAME partition keys
    # as the row_number — one exchange+sort serves both, instead of a
    # separate per-group aggregate plus a resid-sized join back (the
    # old shape re-derived resid — itself cal⋈train — a second time;
    # guide §2.4 "two operations keyed the same way share one
    # exchange"). Same per-group row count, bit-identical output.
    ranked = resid.withColumn("__rn", F.row_number().over(w)).withColumn(
        "n_cal",
        F.count(F.lit(1)).over(Window.partitionBy(*group_cols)),
    )
    # rank = ceil((n_cal + 1) * (1 - alpha)), computed in-plan so the
    # per-group calibration sizes never cross the driver
    rank = F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - alpha)).cast("int")
    picked = (
        ranked.withColumn("__qrank", rank)
        .groupBy(*group_cols)
        .agg(
            F.max(
                F.when(
                    F.col("__rn") == F.col("__qrank"), F.col("__r")
                )
            ).alias("qhat"),
            F.max("n_cal").alias("n_cal"),
            F.max("__qrank").alias("q_rank"),
            F.max("pred").alias("pred"),
            F.max("n_train").alias("n_train"),
        )
    )
    return picked.select(
        *group_cols,
        "pred",
        "qhat",
        (F.col("pred") - F.col("qhat")).alias("lo"),
        (F.col("pred") + F.col("qhat")).alias("hi"),
        "n_train",
        "n_cal",
        "q_rank",
    )


def conformal_coverage(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    value_sql: str,
    alpha: float = 0.1,
    salt: str = "conf-v1",
    fractions: dict[str, float] | None = None,
) -> DataFrame:
    """The self-evaluation: empirical coverage of the conformal
    intervals on the TEST slice (disjoint from train AND
    calibration). Output: group cols + (n_test, n_covered,
    coverage_milli int — exact integer per-mille, no float ratio to
    drift cross-engine). Marginal theory says E[coverage] ≥ 1−α."""
    fractions = fractions or _FRACTIONS
    iv = conformal_intervals(
        df, group_cols, key_col, value_sql, alpha, salt, fractions
    )
    labeled = assign_split(df, key_col, fractions, salt).select(
        *group_cols,
        F.expr(value_sql).cast("double").alias("__y"),
        "split",
    )
    test = labeled.where(F.col("split") == "test").join(iv, group_cols)
    # NULL-interval contract (cross-engine, see ADVICE r6): when the
    # finite-sample rank overflowed n_cal the interval is (NULL, NULL)
    # = half-width +inf, and coverage is UNDEFINED, not 0 — emit an
    # EXPLICIT NULL per row so SUM yields NULL for such groups on
    # both engines instead of Spark-NULL-vs-DuckDB-0 divergence.
    covered = (
        F.when(F.col("lo").isNull(), F.lit(None).cast("int"))
        .when(
            (F.col("__y") >= F.col("lo")) & (F.col("__y") <= F.col("hi")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    return (
        test.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(covered).alias("n_covered"),
        )
        .withColumn(
            "coverage_milli",
            (F.col("n_covered") * 1000).cast("bigint")
            / F.col("n_test"),
        )
        .withColumn(
            "coverage_milli",
            F.floor(F.col("coverage_milli")).cast("bigint"),
        )
    )


def _split_case_sql(key_sql: str, salt: str) -> str:
    from top_produce_etl_spark.operators.splits import split_oracle_sql

    return split_oracle_sql(key_sql, _FRACTIONS, salt)


def conformal_intervals_oracle_sql(
    from_sql: str,
    group_sql: list[str],
    key_sql: str,
    value_sql: str,
    alpha: float = 0.1,
    salt: str = "conf-v1",
) -> str:
    """DuckDB twin of :func:`conformal_intervals` (bit-identical)."""
    gsel = ", ".join(group_sql)
    split = _split_case_sql(key_sql, salt)
    one_minus = 1.0 - alpha
    return f"""
        WITH lab AS (
            SELECT {gsel},
                   CAST({value_sql} AS DECIMAL(28,6)) AS __y,
                   {split} AS split
            FROM {from_sql}
        ),
        tr AS (
            SELECT {gsel},
                   CAST(SUM(__y) AS DOUBLE) / COUNT(*) AS pred,
                   COUNT(*) AS n_train
            FROM lab WHERE split = 'train' GROUP BY {gsel}
        ),
        resid AS (
            SELECT lab.*, abs(CAST(__y AS DOUBLE) - tr.pred) AS __r
            FROM lab JOIN tr USING ({gsel})
            WHERE split = 'cal'
        ),
        rk AS (
            SELECT {gsel}, __r,
                   row_number() OVER (
                       PARTITION BY {gsel} ORDER BY __r
                   ) AS __rn,
                   COUNT(*) OVER (PARTITION BY {gsel}) AS n_cal
            FROM resid
        ),
        pk AS (
            SELECT {gsel},
                   MAX(CASE WHEN __rn = CAST(
                           ceil((n_cal + 1) * {one_minus!r}) AS INT)
                        THEN __r END) AS qhat,
                   MAX(n_cal) AS n_cal,
                   MAX(CAST(ceil((n_cal + 1) * {one_minus!r}) AS INT))
                       AS q_rank
            FROM rk GROUP BY {gsel}
        )
        SELECT tr.{gsel.replace(', ', ', tr.')}, pred, qhat,
               pred - qhat AS lo, pred + qhat AS hi,
               n_train, n_cal, q_rank
        FROM tr JOIN pk USING ({gsel})
    """


def conformal_coverage_oracle_sql(
    from_sql: str,
    group_sql: list[str],
    key_sql: str,
    value_sql: str,
    alpha: float = 0.1,
    salt: str = "conf-v1",
) -> str:
    """DuckDB twin of :func:`conformal_coverage`.

    NULL-interval contract (ADVICE r6): a rank-overflow group has
    lo IS NULL = +inf half-width, so its coverage is UNDEFINED —
    the CASE emits NULL (matching Spark's explicit per-row NULL),
    never a semantically-wrong 0%.
    """
    gsel = ", ".join(group_sql)
    iv = conformal_intervals_oracle_sql(
        from_sql, group_sql, key_sql, value_sql, alpha, salt
    )
    split = _split_case_sql(key_sql, salt)
    covered = (
        "CASE WHEN iv.lo IS NULL THEN NULL "
        "WHEN __y >= iv.lo AND __y <= iv.hi THEN 1 ELSE 0 END"
    )
    return f"""
    WITH iv AS ({iv}),
    lab AS (
        SELECT {gsel},
               CAST({value_sql} AS DOUBLE) AS __y,
               {split} AS split
        FROM {from_sql}
    )
    SELECT lab.{gsel.replace(', ', ', lab.')},
           COUNT(*) AS n_test,
           SUM({covered}) AS n_covered,
           CAST(floor(SUM({covered}) * 1000.0 / COUNT(*)) AS BIGINT)
               AS coverage_milli
    FROM lab JOIN iv USING ({gsel})
    WHERE split = 'test'
    GROUP BY lab.{gsel.replace(', ', ', lab.')}
    """
