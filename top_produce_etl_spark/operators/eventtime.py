"""Event-time operators (SURVEY.md §2.9) — batch-first, with
semantics identical to Structured Streaming's windowed aggregations,
so the same transform functions run under ``readStream`` unchanged
(streaming.jobs wires that up).

Windows align to the Unix epoch (Spark's contract for ``F.window``);
session windows use Spark's [start, last_event + gap) semantics —
an event exactly ``gap`` after the previous one starts a NEW session
(window end is exclusive).

Scale notes: tumbling/sliding aggregation is a plain hash aggregate
on (window, keys) — partial map-side agg applies; a sliding window
with overlap k multiplies shuffle rows by k (here 2×), which is the
real cost knob at 100 TB. Session windows shuffle on the session
key; skewed users are the risk case (AQE skew handling applies to
the shuffle, while a single user's session chain still sorts in one
task — same tradeoff as any per-key ordered computation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from top_produce_etl_spark.operators.topn import top_n_window

_SAFE_INTERVAL = __import__("re").compile(
    r"(?i)\d+\s+(?:second|minute|hour|day|week|month|year)s?"
)


def check_interval(s: str, what: str = "interval") -> str:
    """Validate a user-supplied duration before interpolating it into
    an ``INTERVAL`` SQL fragment (same hygiene as operators/splits.py
    salts): restrict to ``<n> <unit>`` so a stray quote or expression
    can't produce a broken or injected parse."""
    if not _SAFE_INTERVAL.fullmatch(s.strip()):
        raise ValueError(
            f"{what} must look like '<n> <unit>' (e.g. '1 day'), got {s!r}"
        )
    return s.strip()


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Fixed, non-overlapping event-time windows."""
    return (
        df.groupBy(F.window(ts_col, duration).alias("win"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("win.start"))
        .withColumn("window_end", F.col("win.end"))
        .drop("win")
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Overlapping windows: each event lands in duration/slide
    windows (Spark expands them before the aggregate — shuffle
    volume scales with the overlap factor)."""
    return (
        df.groupBy(F.window(ts_col, duration, slide).alias("win"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("win.start"))
        .withColumn("window_end", F.col("win.end"))
        .drop("win")
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Gap-based session windows per key: session = maximal run of
    events where consecutive gaps are < ``gap``."""
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("win"), *keys)
        .agg(*aggs)
        .withColumn("session_start", F.col("win.start"))
        .withColumn("session_end", F.col("win.end"))
        .drop("win")
    )


def dedup_first_by_time(
    df: DataFrame, keys: list[str], ts_col: str, tiebreak: str
) -> DataFrame:
    """Deterministic keep-first-by-event-time dedup — the batch
    equivalent of streaming ``withWatermark().dropDuplicates(keys)``
    but with a defined winner (earliest ts, then tiebreak), where
    ``dropDuplicates`` alone keeps an arbitrary row."""
    return top_n_window(
        df, keys, ts_col, 1, tiebreak=tiebreak, ascending=True, rank_col="__rn"
    ).drop("__rn")


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    period_days: int = 7,
) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    tracked across subsequent weeks.

    Output: (cohort_week, week_offset, n_active, retention) where
    cohort_week = date_trunc('week', first event ts) per user,
    week_offset = whole weeks between cohort_week and the activity
    week, n_active = distinct users of that cohort active at that
    offset, retention = n_active / cohort size (offset-0 count —
    every user is active in their own first week by construction).

    Scale shape: two key shuffles. (1) min-ts per user — map-side
    partial min, |users| rows out; the per-user activity distinct
    reuses the SAME user-keyed exchange (Catalyst co-partitions the
    join). (2) the (cohort, offset) aggregate over |users × active
    weeks| rows. The offset-0 cohort size comes from a window over
    the already-tiny matrix, not a re-scan.
    """
    wk = lambda c: F.date_trunc("week", c)  # noqa: E731
    first = df.groupBy(user_col).agg(
        wk(F.min(ts_col)).alias("cohort_week")
    )
    active = df.select(
        F.col(user_col), wk(F.col(ts_col)).alias("__wk")
    ).distinct()
    matrix = (
        active.join(first, user_col)
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.col("__wk"), F.col("cohort_week"))
                / F.lit(period_days)
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct(user_col).alias("n_active"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cohort_week")
    size0 = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_active"))
    ).over(w)
    return matrix.withColumn(
        "retention",
        (F.col("n_active").cast("double") / size0.cast("double")),
    )


def ordered_funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    within: str | None = None,
) -> DataFrame:
    """Strict ordered funnel (à la ClickHouse ``windowFunnel``): per
    user, the deepest prefix of ``steps`` completed in strict time
    order, optionally within ``within`` (e.g. ``"7 days"``) of the
    first step.

    Step k's timestamp = MIN event ts of type steps[k] that is
    strictly after step k-1's timestamp (and ≤ t1 + within). Output:
    (user, step_reached, first_ts, last_ts) — one row per user who
    completed step 1.

    Scale shape: k-1 chained (filter → join → min-aggregate) stages,
    all keyed on the user — every exchange hashes the same key, so
    AQE/Catalyst reuse the partitioning, and each stage's input is
    only the rows of ONE event type (the filter pushes to the scan).
    No per-user sort, no window over raw events, no Python. This is
    the relational formulation; the sessionize-style applyInPandas
    one (operators for which exist in streaming/jobs.py) trades a
    single shuffle for Python row handling — worse at 100 TB when
    the step list is short.
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    base = (
        df.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t1"))
    )
    deadline = (
        (F.col("t1") + F.expr(f"INTERVAL {check_interval(within, 'within')}"))
        if within
        else F.lit(None)
    )
    prev = base.withColumn("__prev_ts", F.col("t1"))
    stage_frames = []
    for i, step in enumerate(steps[1:], start=2):
        ev = df.filter(F.col(type_col) == step).select(
            F.col(user_col), F.col(ts_col).alias("__ts")
        )
        cond = F.col("__ts") > F.col("__prev_ts")
        if within:
            cond = cond & (F.col("__ts") <= deadline)
        cur = (
            ev.join(prev, user_col)
            .filter(cond)
            .groupBy(user_col)
            .agg(F.min("__ts").alias(f"t{i}"))
        )
        stage_frames.append(cur)
        prev = cur.join(base, user_col).withColumn(
            "__prev_ts", F.col(f"t{i}")
        )
    out = base
    for frame in stage_frames:
        out = out.join(frame, user_col, "left")
    k = len(steps)
    step_reached = F.lit(1)
    for i in range(2, k + 1):
        step_reached = F.when(
            F.col(f"t{i}").isNotNull(), F.lit(i)
        ).otherwise(step_reached)
    last_ts = F.coalesce(
        *[F.col(f"t{i}") for i in range(k, 1, -1)], F.col("t1")
    )
    return out.select(
        F.col(user_col),
        step_reached.alias("step_reached"),
        F.col("t1").alias("first_ts"),
        last_ts.alias("last_ts"),
    )


def transition_matrix(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak: str,
) -> DataFrame:
    """First-order state transitions per user stream: counts and
    row-normalized probabilities of (previous event type → event
    type). One user-keyed exchange feeds the lag window; the
    (prev, next) aggregate and its normalizing row-sum window both
    run on |types|² rows."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak).asc()
    )
    trans = (
        df.withColumn("__prev", F.lag(type_col).over(w))
        .filter(F.col("__prev").isNotNull())
        .groupBy(F.col("__prev").alias("prev_type"), F.col(type_col).alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_total = F.sum("n").over(Window.partitionBy("prev_type"))
    return trans.withColumn(
        "p", F.col("n").cast("double") / row_total.cast("double")
    )


def gapfill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step: str = "1 day",
    fill: str = "locf",
) -> DataFrame:
    """Time-series gap filling (the hypertable
    ``time_bucket_gapfill`` staple): densify each series to a
    regular grid from its first to its last bucket, marking and
    filling the holes.

    Input rows must already be bucketed to ``step`` boundaries (one
    row per (key, bucket) — aggregate first). Output: (key, ts,
    value, is_gap) where ``fill`` is

    - ``"locf"`` — last observation carried forward (state-like
      metrics: balances, gauges);
    - ``"zero"`` — 0 for missing buckets (count/sum metrics);
    - ``"null"`` — leave holes NULL (downstream interpolation);
    - ``"linear"`` — linear interpolation between the surrounding
      observations (sensor/gauge series where a straight line is
      the honest estimate). Interior holes get
      ``prev + (next−prev)·Δt/ΔT`` on the epoch-second axis
      (as DOUBLE, fixed operand order so the DuckDB oracle is
      bit-identical); leading/trailing gaps have no bracket and
      stay NULL. Two extra per-key ordered windows (forward +
      backward ignore-nulls) on the same key hash — no new
      exchange beyond locf's.

    Scale shape: per-key grid generated from a (key, min, max)
    aggregate — ONE groupBy shuffle, grid rows ≈ series length ×
    |keys| (never data²) — then a left join back on (key, ts) and,
    for locf only, a per-key ordered window. The join and window
    both hash on the key, so AQE reuses the exchange; skew follows
    the key distribution (salt upstream if one series dominates).
    The grid explode is bounded by (max−min)/step per key — a
    malformed series spanning decades at second granularity is the
    failure mode, so validate time bounds upstream (the data-quality
    tier's in_range check).
    """
    if fill not in ("locf", "zero", "null", "linear"):
        raise ValueError(
            f"fill must be locf|zero|null|linear, got {fill!r}"
        )
    grid = (
        df.groupBy(key_col)
        .agg(F.min(ts_col).alias("__lo"), F.max(ts_col).alias("__hi"))
        .select(
            key_col,
            F.explode(
                F.sequence(F.col("__lo"), F.col("__hi"), F.expr(f"INTERVAL {check_interval(step, 'step')}"))
            ).alias(ts_col),
        )
    )
    joined = grid.join(
        df.select(key_col, ts_col, value_col), [key_col, ts_col], "left"
    ).withColumn("is_gap", F.col(value_col).isNull())
    if fill == "locf":
        w = (
            Window.partitionBy(key_col)
            .orderBy(ts_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        joined = joined.withColumn(
            value_col, F.last(value_col, ignorenulls=True).over(w)
        )
    elif fill == "zero":
        joined = joined.withColumn(
            value_col,
            F.coalesce(
                F.col(value_col), F.lit(0).cast(joined.schema[value_col].dataType)
            ),
        )
    elif fill == "linear":
        back = (
            Window.partitionBy(key_col)
            .orderBy(ts_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        fwd = (
            Window.partitionBy(key_col)
            .orderBy(ts_col)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        v = F.col(value_col).cast("double")
        obs_ts = F.when(F.col(value_col).isNotNull(), F.col(ts_col))
        pv = F.last(v, ignorenulls=True).over(back)
        pt = F.last(obs_ts, ignorenulls=True).over(back)
        nv = F.first(v, ignorenulls=True).over(fwd)
        nt = F.first(obs_ts, ignorenulls=True).over(fwd)
        dt = (
            F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(pt)
        ).cast("double")
        span = (
            F.unix_timestamp(nt) - F.unix_timestamp(pt)
        ).cast("double")
        joined = joined.withColumn(
            value_col,
            F.when(F.col(value_col).isNotNull(), v)
            .when(
                pv.isNotNull() & nv.isNotNull(),
                pv + (nv - pv) * dt / span,
            ),
        )
    return joined.select(key_col, ts_col, value_col, "is_gap")


def user_survival_km(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    censor_days: int = 7,
) -> DataFrame:
    """Kaplan-Meier user-retention curve per signup cohort — the
    survival-analysis view of churn that cohort_retention's activity
    matrix can't give: a proper at-risk-adjusted survival estimate
    with censoring (users still active near the corpus edge are
    CENSORED, not counted as churned — naive "days until last event"
    curves are biased low without this).

    Definitions: lifetime = days between a user's first and last
    event; churned iff the last event is more than ``censor_days``
    before the corpus max timestamp, else censored. Per cohort
    (first-activity week) and lifetime t: n = users with lifetime ≥
    t (at risk), d = churned at t, and the KM curve
    S(t) = Π_{t'≤t} (1 − d/n).

    Determinism contract: each step's log-factor ln((n−d)/n) rounds
    to micro-nat BIGINT, and the curve ships as the INTEGER running
    sum log S(t)·1e6 — associative, partition-order-free, DuckDB
    bit-identical (the pagerank/surprisal playbook). Steps where
    n = d (curve hits zero) yield NULL log-survival from that point.

    Shape: one user-keyed agg, a 1-row max-ts broadcast on the
    non-foldable always-0 key, one (cohort, lifetime) agg, then
    windows PARTITIONED by cohort over the |lifetimes|-row rollup —
    bounded by the calendar, never by |users|.

    Output: (cohort_week, life_days, n_risk, d_churned,
    log_surv_micro).
    """
    from pyspark.sql import Window

    if censor_days < 0:
        raise ValueError(f"censor_days must be >= 0, got {censor_days}")
    per_user = df.groupBy(F.col(user_col).alias("u")).agg(
        F.min(ts_col).alias("__first"), F.max(ts_col).alias("__last")
    )
    maxts = F.broadcast(
        df.agg(F.max(ts_col).alias("__maxts")).withColumn(
            "__k",
            F.pmod(F.unix_timestamp("__maxts"), F.lit(1)).cast("int"),
        )
    )
    base = (
        per_user.withColumn(
            "__k", F.pmod(F.unix_timestamp("__first"), F.lit(1)).cast("int")
        )
        .join(maxts, "__k")
        .select(
            F.date_trunc("week", "__first").alias("cohort_week"),
            F.datediff(F.col("__last"), F.col("__first")).alias("life_days"),
            (
                F.col("__last")
                < F.col("__maxts") - F.expr(f"INTERVAL {int(censor_days)} DAY")
            ).cast("int").alias("__churn"),
        )
    )
    counts = base.groupBy("cohort_week", "life_days").agg(
        F.count(F.lit(1)).alias("__m"), F.sum("__churn").alias("d_churned")
    )
    w = Window.partitionBy("cohort_week").orderBy("life_days")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    total = Window.partitionBy("cohort_week")
    stepped = counts.withColumn(
        "n_risk",
        F.sum("__m").over(total) - F.sum("__m").over(wrun) + F.col("__m"),
    ).withColumn(
        "__factor",
        F.when(
            F.col("n_risk") > F.col("d_churned"),
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("d_churned")).cast("double")
                    / F.col("n_risk").cast("double")
                )
                * F.lit(1e6)
            ).cast("bigint"),
        ),
    ).withColumn(
        "__dead",
        F.max(
            (F.col("n_risk") == F.col("d_churned")).cast("int")
        ).over(wrun),
    )
    return stepped.select(
        "cohort_week",
        "life_days",
        "n_risk",
        "d_churned",
        F.when(
            F.col("__dead") == 0, F.sum("__factor").over(wrun)
        ).alias("log_surv_micro"),
    )
