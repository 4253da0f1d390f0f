"""Pairwise column statistics — Pearson correlation and simple
linear-regression slope — from EXACT decimal co-moments.

``df.stat.corr`` (and SQL ``corr()``) streams floating co-moments
whose value depends on partition merge order — fine for exploration,
un-oracle-able and run-to-run jittery at the last ulps. This
operator instead aggregates the five raw moments
(Σx, Σy, Σx², Σy², Σxy) in exact DECIMAL — associative, so Spark's
partial-aggregate merge order cannot perturb them and a 1000-
executor run equals a 1-executor run bit-for-bit — then evaluates
the closed forms

    corr = (n·Σxy − Σx·Σy) / (√(n·Σx² − Σx²ᵗᵒᵗ) · √(n·Σy² − Σy²ᵗᵒᵗ))
    beta = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²ᵗᵒᵗ)

in IEEE-754 double with a FIXED expression tree, so DuckDB computes
the identical bits from the identical exact moments (both engines'
×, −, / and sqrt are correctly rounded). Results ship as 1e6
fixed-point BIGINT.

Scale: ONE aggregate pass computes all k² moments for k columns
(map-side partial agg → a single 1-row reduce); the pair expansion
is a driver-free explode of a k(k−1)/2-element literal-shaped array
on that one row. No second scan, no shuffle beyond the 1-row
reduce, no driver collect.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from top_produce_etl_spark.functions.numeric import dec

STAT_SCALE = 1_000_000


def pairwise_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Correlation + OLS slope for every unordered column pair.

    Output: (x, y, n, corr_micro, beta_micro) with beta the slope of
    y regressed on x. Pairs with zero variance in either column
    yield NULL corr/beta (0/0 guarded).
    """
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(dec(c)).alias(f"s_{c}"))
        aggs.append(F.sum(dec(c) * dec(c)).alias(f"ss_{c}"))
    for x, y in combinations(cols, 2):
        aggs.append(F.sum(dec(x) * dec(y)).alias(f"sp_{x}_{y}"))
    m = df.agg(*aggs)

    def _pair(x: str, y: str):
        n = F.col("n").cast("double")
        sx, sy = F.col(f"s_{x}").cast("double"), F.col(f"s_{y}").cast("double")
        sxx, syy = (
            F.col(f"ss_{x}").cast("double"),
            F.col(f"ss_{y}").cast("double"),
        )
        sxy = F.col(f"sp_{x}_{y}").cast("double")
        cov_n = n * sxy - sx * sy
        var_x = n * sxx - sx * sx
        var_y = n * syy - sy * sy
        corr = F.when(
            (var_x > 0) & (var_y > 0),
            cov_n / (F.sqrt(var_x) * F.sqrt(var_y)),
        )
        beta = F.when(var_x > 0, cov_n / var_x)
        return F.struct(
            F.lit(x).alias("x"),
            F.lit(y).alias("y"),
            F.col("n").alias("n"),
            F.round(corr * STAT_SCALE).cast("bigint").alias("corr_micro"),
            F.round(beta * STAT_SCALE).cast("bigint").alias("beta_micro"),
        )

    pairs = F.array(*[_pair(x, y) for x, y in combinations(cols, 2)])
    return m.select(F.explode(pairs).alias("p")).select("p.*")


def pairwise_stats_oracle_sql(
    cols: list[str], table: str = "lineitem", dec_typ: str = "DECIMAL(19,4)"
) -> str:
    """DuckDB twin: identical exact moments, identical double
    expression tree, identical fixed-point rounding.

    Operands cast to DECIMAL(19,4) — one digit wider than the Spark
    side's (18,4) — because DuckDB executes a (18,4)×(18,4) product
    in int64 physical storage and overflows; 19 digits forces int128.
    Both engines' moments are exact integers-scaled values either
    way, so the declared-width difference cannot change a value."""
    sels = ["COUNT(*) AS n"]
    for c in cols:
        sels.append(f"SUM(CAST({c} AS {dec_typ})) AS s_{c}")
        sels.append(
            f"SUM(CAST({c} AS {dec_typ}) * CAST({c} AS {dec_typ})) AS ss_{c}"
        )
    for x, y in combinations(cols, 2):
        sels.append(
            f"SUM(CAST({x} AS {dec_typ}) * CAST({y} AS {dec_typ})) AS sp_{x}_{y}"
        )
    rows = []
    for x, y in combinations(cols, 2):
        n = "CAST(n AS DOUBLE)"
        sx, sy = f"CAST(s_{x} AS DOUBLE)", f"CAST(s_{y} AS DOUBLE)"
        sxx, syy = f"CAST(ss_{x} AS DOUBLE)", f"CAST(ss_{y} AS DOUBLE)"
        sxy = f"CAST(sp_{x}_{y} AS DOUBLE)"
        cov_n = f"(({n} * {sxy}) - ({sx} * {sy}))"
        var_x = f"(({n} * {sxx}) - ({sx} * {sx}))"
        var_y = f"(({n} * {syy}) - ({sy} * {sy}))"
        corr = (
            f"CASE WHEN {var_x} > 0 AND {var_y} > 0 THEN "
            f"{cov_n} / (sqrt({var_x}) * sqrt({var_y})) END"
        )
        beta = f"CASE WHEN {var_x} > 0 THEN {cov_n} / {var_x} END"
        rows.append(
            f"SELECT '{x}' AS x, '{y}' AS y, n, "
            f"CAST(round(({corr}) * {STAT_SCALE}) AS BIGINT) AS corr_micro, "
            f"CAST(round(({beta}) * {STAT_SCALE}) AS BIGINT) AS beta_micro "
            f"FROM m"
        )
    return f"WITH m AS (SELECT {', '.join(sels)} FROM {table})\n" + (
        "\nUNION ALL\n".join(rows)
    )


def chi_squared(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Chi-squared independence test between two categorical
    columns (corpus composition drift: is ``lang`` independent of
    ``source``? — the release-gate companion to the mixture
    rebalancer).

    One (a, b) hash aggregate builds the contingency table
    (|A|·|B| rows — tiny); margins come from windows OVER THAT
    TABLE, not a rescan. Per-cell contributions
    ``(O−E)²/E`` round to 1e6 fixed point BEFORE summing, so the
    total is an associative integer sum — deterministic and
    bit-identical to the DuckDB oracle (a raw double Σ over cells
    would be merge-order-dependent). Output: one row
    (n, dof, chi2_micro) where chi2_micro = Σ round(cell·1e6).
    """
    counts = df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("o"))
    wa = Window.partitionBy(col_a)
    wb = Window.partitionBy(col_b)
    # grand total via the 1-row broadcast pattern, NOT an
    # unpartitioned window — plans/audit.py's global_window rule
    # flags empty-partition windows as the all-to-one-task scale
    # killer, and this operator keeps the registry exemption-free
    total = counts.agg(F.sum("o").alias("n")).withColumn(
        "__k", F.pmod(F.col("n"), F.lit(1)).cast("int")
    )
    cells = (
        counts.select(
            col_a,
            col_b,
            "o",
            F.sum("o").over(wa).alias("ra"),
            F.sum("o").over(wb).alias("cb"),
        )
        .withColumn("__k", F.pmod(F.col("o"), F.lit(1)).cast("int"))
        .join(F.broadcast(total), "__k")
        .drop("__k")
    )
    e = (
        F.col("ra").cast("double")
        * F.col("cb").cast("double")
        / F.col("n").cast("double")
    )
    d = F.col("o").cast("double") - e
    contrib = F.round(d * d / e * STAT_SCALE).cast("bigint")
    return (
        cells.withColumn("__c", contrib)
        .agg(
            F.max("n").alias("n"),
            (
                (F.count_distinct(F.col(col_a)) - 1)
                * (F.count_distinct(F.col(col_b)) - 1)
            ).cast("int").alias("dof"),
            F.sum("__c").alias("chi2_micro"),
        )
    )


def ewma_weights(alpha: float, span: int) -> list[float]:
    """Trailing-EWMA weights w_i = (1-alpha)^i, i = 0..span-1, as
    Python doubles. Computed ONCE here and inlined as literals into
    BOTH engines' expressions, so no engine's pow() implementation
    ever participates — the float literals round-trip identically
    (shortest-repr) and the weighted sum is a fixed expression tree
    of correctly-rounded IEEE ops, hence bit-portable."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if span < 1:
        raise ValueError(f"span must be >= 1, got {span}")
    w, out = 1.0, []
    for _ in range(span):
        out.append(w)
        w *= 1.0 - alpha
    return out


def trailing_ewma(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.3,
    span: int = 7,
    out_col: str = "ewma_micro",
) -> DataFrame:
    """Per-key trailing exponentially-weighted moving average over
    the last ``span`` rows (pandas ``ewm(alpha, adjust=True)``
    restricted to a bounded window):

        ewma_t = Σ_{i<span} w_i·x_{t−i} / Σ_{i<span, t−i exists} w_i

    emitted as 1e6 fixed-point BIGINT (house determinism contract).

    Shape: ``span − 1`` LAG columns over ONE partitioned window —
    a single key shuffle, whole-stage-codegen arithmetic after it,
    bounded frame by construction (no unpartitioned data-sized
    window; the early rows simply renormalize over the lags that
    exist). The span is a constant, so the shuffle key width and the
    expression size are independent of data volume.
    """
    if not keys:
        raise ValueError("trailing_ewma requires >= 1 partition key")
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    ws = ewma_weights(alpha, span)
    x = F.col(value_col).cast("double")
    lags = [x] + [F.lag(x, i).over(w) for i in range(1, span)]
    num = F.lit(0.0)
    den = F.lit(0.0)
    for wi, li in zip(ws, lags):
        num = num + F.coalesce(li * F.lit(wi), F.lit(0.0))
        den = den + F.when(li.isNotNull(), F.lit(wi)).otherwise(F.lit(0.0))
    return df.withColumn(
        out_col,
        F.round(num / den * F.lit(float(STAT_SCALE))).cast("bigint"),
    )


def trailing_ewma_oracle_sql(
    value_sql: str,
    partition_sql: str,
    order_sql: str,
    alpha: float = 0.3,
    span: int = 7,
) -> str:
    """DuckDB expression computing :func:`trailing_ewma`'s fixed
    point bit-identically: the same weight literals (Python repr →
    nearest double in both parsers), the same left-fold tree order,
    the same null renormalization."""
    ws = ewma_weights(alpha, span)
    over = f"OVER (PARTITION BY {partition_sql} ORDER BY {order_sql})"
    terms_n, terms_d = [], []
    for i, wi in enumerate(ws):
        li = (
            f"CAST({value_sql} AS DOUBLE)"
            if i == 0
            else f"lag(CAST({value_sql} AS DOUBLE), {i}) {over}"
        )
        terms_n.append(f"coalesce(({li}) * {wi!r}, 0.0)")
        terms_d.append(
            f"CASE WHEN ({li}) IS NOT NULL THEN {wi!r} ELSE 0.0 END"
        )
    # left-fold starting at 0.0 — must match the Spark tree exactly
    num = "0.0"
    den = "0.0"
    for tn, td in zip(terms_n, terms_d):
        num = f"({num} + {tn})"
        den = f"({den} + {td})"
    return (
        f"CAST(round({num} / {den} * {float(STAT_SCALE)!r}) AS BIGINT)"
    )


def grouped_trend(
    df: DataFrame, keys: list[str], x_col: str, y_col: str
) -> DataFrame:
    """Per-group OLS slope + correlation of y on x — the grouped twin
    of :func:`pairwise_stats` (same exact-decimal moments, same fixed
    double tree, same 1e6 fixed point), for trend monitoring per
    segment ("is revenue drifting down for THIS priority class?").

    ONE group-keyed hash agg computes the five moments (map-side
    partials), then the closed forms evaluate per group row — no
    second pass, no window. Zero-variance groups yield NULL
    corr/beta (0/0 guarded). Output: (*keys, n, corr_micro,
    beta_micro).
    """
    if not keys:
        raise ValueError("grouped_trend requires >= 1 group key")
    x, y = dec(x_col), dec(y_col)
    m = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    corr = F.when(
        (var_x > 0) & (var_y > 0), cov_n / (F.sqrt(var_x) * F.sqrt(var_y))
    )
    beta = F.when(var_x > 0, cov_n / var_x)
    return m.select(
        *keys,
        "n",
        F.round(corr * STAT_SCALE).cast("bigint").alias("corr_micro"),
        F.round(beta * STAT_SCALE).cast("bigint").alias("beta_micro"),
    )


def grouped_trend_oracle_sql(
    keys_sql: str,
    x_sql: str,
    y_sql: str,
    table: str,
    dec_typ: str = "DECIMAL(19,4)",
) -> str:
    """DuckDB twin of :func:`grouped_trend` (see
    :func:`pairwise_stats_oracle_sql` for the (19,4) width note)."""
    xd, yd = f"CAST({x_sql} AS {dec_typ})", f"CAST({y_sql} AS {dec_typ})"
    n = "CAST(n AS DOUBLE)"
    sx, sy = "CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)"
    sxx, syy = "CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)"
    sxy = "CAST(sxy AS DOUBLE)"
    cov_n = f"(({n} * {sxy}) - ({sx} * {sy}))"
    var_x = f"(({n} * {sxx}) - ({sx} * {sx}))"
    var_y = f"(({n} * {syy}) - ({sy} * {sy}))"
    corr = (
        f"CASE WHEN {var_x} > 0 AND {var_y} > 0 THEN "
        f"{cov_n} / (sqrt({var_x}) * sqrt({var_y})) END"
    )
    beta = f"CASE WHEN {var_x} > 0 THEN {cov_n} / {var_x} END"
    return f"""
    WITH m AS (
        SELECT {keys_sql}, COUNT(*) AS n,
               SUM({xd}) AS sx, SUM({yd}) AS sy,
               SUM({xd} * {xd}) AS sxx, SUM({yd} * {yd}) AS syy,
               SUM({xd} * {yd}) AS sxy
        FROM {table}
        GROUP BY {keys_sql}
    )
    SELECT {keys_sql}, n,
           CAST(round(({corr}) * {STAT_SCALE}) AS BIGINT) AS corr_micro,
           CAST(round(({beta}) * {STAT_SCALE}) AS BIGINT) AS beta_micro
    FROM m
    """


def loo_target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    out_col: str = "loo_micro",
) -> DataFrame:
    """Leave-one-out target encoding — the standard high-cardinality
    categorical feature for tabular ML: each row gets its category's
    mean target EXCLUDING the row itself, (Σ_cat − y) / (n_cat − 1),
    so the encoding can't leak the row's own label into training.
    Singleton categories encode NULL (no peers to average).

    ONE category-keyed exact-decimal agg, stats broadcast back
    (|categories| rows, under the planner's threshold) — the fact
    table never shuffles.
    The division happens per row in a fixed double tree over exact
    sums, emitted at 1e6 fixed point: deterministic at any
    parallelism, same contract as :func:`grouped_trend`.
    """
    stats = df.groupBy(F.col(cat_col).alias("__cat")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(dec(target_col)).alias("__s"),
    )
    joined = df.join(stats, df[cat_col] == F.col("__cat"))
    y = dec(target_col).cast("double")
    loo = F.when(
        F.col("__n") > 1,
        (F.col("__s").cast("double") - y)
        / (F.col("__n") - F.lit(1)).cast("double"),
    )
    return joined.select(
        *df.columns,
        F.round(loo * STAT_SCALE).cast("bigint").alias(out_col),
    )


def loo_target_encode_oracle_sql(
    cols_sql: str,
    cat_sql: str,
    target_sql: str,
    table: str,
    out_col: str = "loo_micro",
    dec_typ: str = "DECIMAL(19,4)",
) -> str:
    """DuckDB twin of :func:`loo_target_encode` (same exact sums,
    same double tree, same fixed point)."""
    return f"""
    WITH st AS (
        SELECT {cat_sql} AS cat, COUNT(*) AS n,
               SUM(CAST({target_sql} AS {dec_typ})) AS s
        FROM {table}
        GROUP BY 1
    )
    SELECT {cols_sql},
           CAST(round(
               CASE WHEN n > 1 THEN
                   (CAST(s AS DOUBLE)
                    - CAST(CAST({target_sql} AS {dec_typ}) AS DOUBLE))
                   / CAST(n - 1 AS DOUBLE)
               END * {STAT_SCALE}) AS BIGINT) AS {out_col}
    FROM {table} JOIN st ON {cat_sql} = st.cat
    """


def two_proportion_ztest(
    df: DataFrame,
    arm_col: str,
    success_col: str,
) -> DataFrame:
    """Two-proportion z-test — the A/B experiment readout: conversion
    rates per arm, absolute lift, and the pooled z statistic

        z = (p₁ − p₀) / √( p̂(1−p̂)(1/n₀ + 1/n₁) ),  p̂ pooled.

    ``arm_col`` must be 0/1 (deterministic assignment — pair with
    operators/splits.py::assign_fold(k=2) so the arm split is
    engine/retry-stable); ``success_col`` is 0/1 per unit. ONE
    global agg of four integer counts, then a fixed double tree →
    1e6 fixed point (z in micro-sigmas), so the whole readout is
    oracle-exact. Degenerate arms (n = 0 or zero pooled variance)
    yield NULL z. Output: (n0, x0, n1, x1, rate0_micro, rate1_micro,
    lift_micro, z_micro).
    """
    a = F.col(arm_col).cast("int")
    s = F.col(success_col).cast("int")
    m = df.agg(
        F.sum(F.when(a == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(a == 0, s).otherwise(0)).alias("x0"),
        F.sum(F.when(a == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(a == 1, s).otherwise(0)).alias("x1"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # try_divide everywhere: the session runs ANSI mode, where a
    # bare x/0 on a degenerate arm is a runtime error, not a NULL —
    # the guards alone don't help because ANSI evaluates eagerly
    p0 = F.try_divide(d("x0"), d("n0"))
    p1 = F.try_divide(d("x1"), d("n1"))
    pp = F.try_divide(d("x0") + d("x1"), d("n0") + d("n1"))
    var = (
        pp
        * (F.lit(1.0) - pp)
        * (
            F.try_divide(F.lit(1.0), d("n0"))
            + F.try_divide(F.lit(1.0), d("n1"))
        )
    )
    micro = lambda c: F.round(c * F.lit(float(STAT_SCALE))).cast("bigint")  # noqa: E731
    return m.select(
        "n0", "x0", "n1", "x1",
        micro(p0).alias("rate0_micro"),
        micro(p1).alias("rate1_micro"),
        micro(p1 - p0).alias("lift_micro"),
        F.when(
            (F.col("n0") > 0) & (F.col("n1") > 0) & (var > 0),
            micro((p1 - p0) / F.sqrt(var)),
        ).alias("z_micro"),
    )


def cuped_adjusted_lift(
    df: DataFrame,
    arm_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """CUPED variance-reduced experiment lift (Deng et al. 2013,
    "Improving the Sensitivity of Online Controlled Experiments") —
    the standard industry trick: regress the experiment metric Y on
    a PRE-period covariate X (θ = cov(X,Y)/var(X), pooled), then
    read the lift on the adjusted metric Ŷ = Y − θ·(X − X̄), which
    removes the ρ² fraction of between-unit variance that mere
    randomization can't.

    ONE global agg computes the five pooled decimal moments plus
    per-arm conditional sums (``arm_col`` ∈ {0, 1}); every ratio
    evaluates in a fixed double tree over those exact sums with
    ``try_divide`` (ANSI-safe on degenerate inputs) → 1e6 fixed
    point. Output (single row): n0, n1, lift_micro (raw Y),
    adj_lift_micro, theta_micro, rho2_micro (the variance fraction
    removed). adj_lift = (Ȳ₁−Ȳ₀) − θ·(X̄₁−X̄₀) — the X̄ recentring
    cancels in the difference.
    """
    a = F.col(arm_col).cast("int")
    x, y = dec(x_col), dec(y_col)
    m = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
        F.sum(F.when(a == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(a == 0, x)).alias("sx0"),
        F.sum(F.when(a == 0, y)).alias("sy0"),
        F.sum(F.when(a == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(a == 1, x)).alias("sx1"),
        F.sum(F.when(a == 1, y)).alias("sy1"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    cov_n = d("n") * d("sxy") - d("sx") * d("sy")
    var_x = d("n") * d("sxx") - d("sx") * d("sx")
    var_y = d("n") * d("syy") - d("sy") * d("sy")
    theta = F.try_divide(cov_n, var_x)
    rho2 = F.try_divide(cov_n * cov_n, var_x * var_y)
    my0 = F.try_divide(d("sy0"), d("n0"))
    my1 = F.try_divide(d("sy1"), d("n1"))
    mx0 = F.try_divide(d("sx0"), d("n0"))
    mx1 = F.try_divide(d("sx1"), d("n1"))
    micro = lambda c: F.round(c * F.lit(float(STAT_SCALE))).cast("bigint")  # noqa: E731
    return m.select(
        "n0", "n1",
        micro(my1 - my0).alias("lift_micro"),
        micro((my1 - my0) - theta * (mx1 - mx0)).alias("adj_lift_micro"),
        micro(theta).alias("theta_micro"),
        micro(rho2).alias("rho2_micro"),
    )


def trimmed_mean(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group trimmed mean — the robust location estimate a
    monitoring dashboard wants when a handful of fat-tail rows drag
    the plain mean (sibling of the IQR fences in operators/anomaly):
    mean of the values strictly inside the group's [lo, hi] exact
    quantiles.

    The cut points are exact `percentile` values rounded to 6 dp
    (the cross-engine quantile contract, see
    price_quantiles_by_priority); the interior mean accumulates in
    exact DECIMAL → one double division → 1e6 fixed point. TWO
    passes over the group (edges, then filtered mean) fused into one
    shuffle each — both are |keys|-bounded aggs. Groups whose
    interior is empty (tiny or constant groups) yield NULL.

    Output: (*keys, n, n_used, trimmed_mean_micro).
    """
    if not keys:
        raise ValueError("trimmed_mean requires >= 1 group key")
    if not (0.0 <= lo < hi <= 1.0):
        raise ValueError(f"need 0 <= lo < hi <= 1, got {lo}, {hi}")

    v = F.col(value_col).cast("double")
    edges = df.groupBy(*keys).agg(
        F.round(F.expr(f"percentile(CAST({value_col} AS DOUBLE), {lo!r})"), 6).alias("__lo"),
        F.round(F.expr(f"percentile(CAST({value_col} AS DOUBLE), {hi!r})"), 6).alias("__hi"),
    )
    joined = df.join(edges, keys)
    inside = (v >= F.col("__lo")) & (v <= F.col("__hi"))
    agg = joined.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(inside.cast("int")).alias("n_used"),
        F.sum(F.when(inside, dec(value_col))).alias("__s"),
    )
    mean = F.try_divide(
        F.col("__s").cast("double"), F.col("n_used").cast("double")
    )
    return agg.select(
        *keys,
        "n",
        "n_used",
        F.round(mean * STAT_SCALE).cast("bigint").alias(
            "trimmed_mean_micro"
        ),
    )


def gini_by_group(
    df: DataFrame, keys: list[str], value_col: str, tiebreak: str
) -> DataFrame:
    """Per-group Gini concentration of a non-negative value — "how
    much of this segment's revenue sits in its biggest accounts":
    G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over values ranked ascending
    (ties broken by ``tiebreak`` so the rank — and therefore every
    bit — is engine-identical).

    ONE partitioned rank window + ONE group agg of exact-decimal
    Σx and Σ i·x, then the closed form in a fixed double tree → 1e6
    fixed point. Zero-sum groups yield NULL. Output:
    (*keys, n, gini_micro).
    """
    if not keys:
        raise ValueError("gini_by_group requires >= 1 group key")
    w = Window.partitionBy(*keys).orderBy(
        F.col(value_col).asc(), F.col(tiebreak).asc()
    )
    x = dec(value_col)
    ranked = df.withColumn("__i", F.row_number().over(w))
    m = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("__s"),
        F.sum(x * F.col("__i").cast("decimal(19,0)")).alias("__ws"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    gini = F.when(
        F.col("__s") > 0,
        F.lit(2.0) * d("__ws") / (d("n") * d("__s"))
        - (d("n") + F.lit(1.0)) / d("n"),
    )
    return m.select(
        *keys,
        "n",
        F.round(gini * STAT_SCALE).cast("bigint").alias("gini_micro"),
    )


def entropy_by_group(
    df: DataFrame, keys: list[str], cat_col: str
) -> DataFrame:
    """Per-group Shannon entropy of a categorical column — the
    composition-diversity gauge ("is this language's corpus all one
    source?") that complements the chi²/PSI drift tests: H = −Σ_c
    p_c·ln p_c in nats, with per-category contributions rounded to
    micro-nats BEFORE the integer sum (the surprisal contract), so H
    is engine-exact. Also emits the category count and the evenness
    ratio H/ln(k) (1 = uniform).

    TWO |keys×cats|-bounded hash aggs (category counts, then the
    entropy fold) — no windows, no data-sized state.

    Output: (*keys, n, n_cats, entropy_micro, evenness_micro).
    """
    if not keys:
        raise ValueError("entropy_by_group requires >= 1 group key")
    counts = df.groupBy(*keys, F.col(cat_col).alias("__c")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    tot = Window.partitionBy(*keys)
    p = F.try_divide(
        F.col("__n").cast("double"), F.sum("__n").over(tot).cast("double")
    )
    contrib = F.round(-p * F.log(p) * F.lit(1e6)).cast("bigint")
    stepped = counts.withColumn("__h", contrib)
    out = stepped.groupBy(*keys).agg(
        F.sum("__n").alias("n"),
        F.count(F.lit(1)).alias("n_cats"),
        F.sum("__h").alias("entropy_micro"),
    )
    evenness = F.when(
        F.col("n_cats") > 1,
        F.round(
            F.col("entropy_micro")
            / (F.log(F.col("n_cats").cast("double")) * F.lit(1e6))
            * F.lit(1e6)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return out.select(
        *keys, "n", "n_cats", "entropy_micro", evenness.alias("evenness_micro")
    )


def distribution_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    cat_sql: str,
    smoothing: int = 1,
) -> DataFrame:
    """KL and Jensen-Shannon divergence between two slices'
    CATEGORICAL distributions (r7, beyond-reference §2.12) — the
    mixture-drift monitor for discrete domains: token distributions
    of two corpus snapshots, source/lang mixes across releases,
    label balance across splits. Complements the numeric drift gates
    (PSI `psi_price_drift`, KS `ks_price_drift_by_priority`) and the
    static composition gauge (`entropy_by_group`).

    Math: add-``smoothing`` (Laplace) smoothing over the UNION
    domain of both slices — so a category seen only on one side
    contributes finitely instead of blowing KL to +inf —
    ``p_c = (n_ac + k) / (n_a + k·V)``, then

        KL(a‖b)  = Σ_c p_c · ln(p_c / q_c)
        JS(a,b)  = ½·KL(a‖m) + ½·KL(b‖m),  m = (p+q)/2

    Determinism contract (the entropy_by_group/surprisal pattern):
    every per-category contribution rounds to micro-nats BEFORE the
    integer sum, so the report is bit-identical cross-engine. JS is
    computed term-wise from the same p/q doubles, bounded by ln 2 ≈
    693147 micro-nats.

    Plan shape: one |vocab|-bounded hash agg per side, a full-outer
    join on category (absent side counts 0 via smoothing), totals
    attached by constant-key broadcast hash joins (no BNLJ), one
    final 1-row fold. Nothing data-sized crosses a join.

    Output (one row): (n_a, n_b, vocab, kl_ab_micro, kl_ba_micro,
    js_micro).
    """
    if smoothing < 1:
        raise ValueError(f"smoothing must be >= 1, got {smoothing}")
    from top_produce_etl_spark.operators.joins import attach_scalar_row

    ca = (
        df_a.select(F.expr(cat_sql).alias("__c"))
        .where(F.col("__c").isNotNull())
        .groupBy("__c")
        .agg(F.count(F.lit(1)).alias("__na"))
    )
    cb = (
        df_b.select(F.expr(cat_sql).alias("__c"))
        .where(F.col("__c").isNotNull())
        .groupBy("__c")
        .agg(F.count(F.lit(1)).alias("__nb"))
    )
    grid = (
        ca.join(cb, "__c", "full_outer")
        .select(
            "__c",
            F.coalesce(F.col("__na"), F.lit(0)).alias("__na"),
            F.coalesce(F.col("__nb"), F.lit(0)).alias("__nb"),
        )
    )
    tots = grid.agg(
        F.sum("__na").alias("__ta"),
        F.sum("__nb").alias("__tb"),
        F.count(F.lit(1)).alias("__v"),
    )
    grid = attach_scalar_row(grid, tots, "__na", "__ta")
    k = float(smoothing)
    p = (F.col("__na").cast("double") + F.lit(k)) / (
        F.col("__ta").cast("double") + F.lit(k) * F.col("__v")
    )
    q = (F.col("__nb").cast("double") + F.lit(k)) / (
        F.col("__tb").cast("double") + F.lit(k) * F.col("__v")
    )
    m = (p + q) / F.lit(2.0)

    def micro(x):
        return F.round(x * F.lit(1e6)).cast("bigint")

    terms = grid.select(
        "__na", "__nb", "__ta", "__tb", "__v",
        micro(p * F.log(p / q)).alias("__ab"),
        micro(q * F.log(q / p)).alias("__ba"),
        micro(
            F.lit(0.5) * p * F.log(p / m)
            + F.lit(0.5) * q * F.log(q / m)
        ).alias("__js"),
    )
    return terms.agg(
        F.max("__ta").alias("n_a"),
        F.max("__tb").alias("n_b"),
        F.max("__v").alias("vocab"),
        F.sum("__ab").alias("kl_ab_micro"),
        F.sum("__ba").alias("kl_ba_micro"),
        F.sum("__js").alias("js_micro"),
    )


def distribution_divergence_oracle_sql(
    rel_a: str,
    rel_b: str,
    cat_sql: str,
    smoothing: int = 1,
) -> str:
    """DuckDB twin of :func:`distribution_divergence`
    (bit-identical: same smoothing, same per-term micro rounding)."""
    k = float(smoothing)
    return f"""
    WITH ca AS (
        SELECT {cat_sql} AS c, COUNT(*) AS na FROM {rel_a}
        WHERE {cat_sql} IS NOT NULL GROUP BY 1
    ),
    cb AS (
        SELECT {cat_sql} AS c, COUNT(*) AS nb FROM {rel_b}
        WHERE {cat_sql} IS NOT NULL GROUP BY 1
    ),
    grid AS (
        SELECT COALESCE(ca.c, cb.c) AS c,
               COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
        FROM ca FULL OUTER JOIN cb ON ca.c = cb.c
    ),
    tots AS (
        SELECT SUM(na) AS ta, SUM(nb) AS tb, COUNT(*) AS v FROM grid
    ),
    terms AS (
        SELECT ta, tb, v,
               (CAST(na AS DOUBLE) + {k!r})
                   / (CAST(ta AS DOUBLE) + {k!r} * v) AS p,
               (CAST(nb AS DOUBLE) + {k!r})
                   / (CAST(tb AS DOUBLE) + {k!r} * v) AS q
        FROM grid CROSS JOIN tots
    )
    SELECT MAX(ta) AS n_a, MAX(tb) AS n_b, MAX(v) AS vocab,
           SUM(CAST(round(p * ln(p / q) * 1000000.0) AS BIGINT))
               AS kl_ab_micro,
           SUM(CAST(round(q * ln(q / p) * 1000000.0) AS BIGINT))
               AS kl_ba_micro,
           SUM(CAST(round((0.5 * p * ln(p / (0.5 * (p + q)))
                           + 0.5 * q * ln(q / (0.5 * (p + q))))
                          * 1000000.0) AS BIGINT)) AS js_micro
    FROM terms
    """


def weighted_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    qs: tuple[tuple[int, int], ...] = ((1, 2),),
    prefix: str = "wq",
) -> DataFrame:
    """Exact per-group WEIGHTED quantiles — the importance-weighted
    corpus statistic (token-weighted median document quality,
    sample-weight-aware fences) the unweighted quantile table can't
    give. Quantile q is the lower weighted quantile: the smallest
    value whose cumulative weight reaches q of the group total.

    Exactness contract: ``qs`` are RATIONALS (num, den), and the
    reach test is the cross-multiplied integer comparison
    ``den·cum ≥ num·W`` — no floating point anywhere, so the DuckDB
    oracle is trivially bit-identical and the returned quantile is
    an actual data value (decimal/int preserved, the house
    order-statistic convention from MAD/trimmed-mean).

    Scale shape: ONE (group, value) hash-agg collapses duplicate
    values (map-side partial), one per-group ordered window for the
    cumulative weight, one conditional min per quantile — group
    cardinality bounds everything after the first agg; no
    percentile_approx convention in play.

    Weights must be an INTEGRAL column (the cross-multiplied reach
    test is exact only over integers; Spark's cast to bigint
    truncates while DuckDB's rounds, so a silent cast of fractional
    weights would break the bit-exact oracle contract in a
    data-dependent way). Fractional weights are rejected up front —
    pre-scale to integers (e.g. micro-units) at the call site."""
    from pyspark.sql.window import Window as W
    from pyspark.sql.types import ByteType, ShortType, IntegerType, LongType

    for num, den in qs:
        if not (0 < num <= den):
            raise ValueError(f"quantile {num}/{den} outside (0, 1]")
    wtype = df.schema[weight_col].dataType
    if not isinstance(wtype, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"weighted_quantiles requires an integral weight column; "
            f"{weight_col!r} is {wtype.simpleString()} — pre-scale "
            "fractional weights to integer units (engines disagree on "
            "cast rounding, which would break the exact oracle contract)"
        )
    byv = (
        df.groupBy(*group_cols, F.col(value_col).alias("__v"))
        .agg(F.sum(F.col(weight_col).cast("bigint")).alias("__w"))
    )
    w = (
        W.partitionBy(*group_cols)
        .orderBy("__v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot = W.partitionBy(*group_cols)
    cum = (
        byv.withColumn("__cum", F.sum("__w").over(w))
        .withColumn("__tot", F.sum("__w").over(tot))
    )
    aggs = [
        F.min(
            F.when(
                F.col("__cum") * den >= F.col("__tot") * num,
                F.col("__v"),
            )
        ).alias(f"{prefix}_{num}_{den}")
        for num, den in qs
    ]
    return cum.groupBy(*group_cols).agg(*aggs)


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Chance-corrected inter-rater agreement (Cohen 1960) between
    two categorical label columns — the label-QUALITY audit of a
    training-data pipeline: two weak labelers / two model versions /
    annotator-vs-heuristic, per group. Raw agreement flatters
    imbalanced labels (two raters who always say "keep" agree 100%
    by chance); kappa subtracts the marginal-product chance rate.

    Exact integer contract: with n rows, ``agree`` matching rows and
    S = Σ_k n_ak·n_bk the chance mass,

        kappa = (n·agree − S) / (n² − S)

    is computed as ``kappa_micro = (1e6·(n·agree − S)) div (n² − S)``
    in DECIMAL(38,0) arithmetic (n² and the 1e6 scaling overflow
    int64 around n ≈ 3e6 per group; decimal keeps the contract exact
    to 100 TB group sizes). Truncated division matches DuckDB's
    HUGEINT ``//``, so the oracle is bit-identical. Degenerate groups
    (n² = S — a constant-marginal rater, kappa undefined) return
    NULL on both engines.

    Scale shape: two hash-aggs over (group, label) marginals + one
    over the (group) totals — never wider than |groups × labels|.
    Output: *group_cols, n_rows, n_agree, kappa_micro."""
    g = list(group_cols)
    a, b = F.col(rater_a), F.col(rater_b)
    base = df.groupBy(*g).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum((a == b).cast("long")).alias("__agree"),
    )
    ma = df.groupBy(*g, a.alias("__k")).agg(
        F.count(F.lit(1)).alias("__na")
    )
    mb = df.groupBy(*g, b.alias("__k")).agg(
        F.count(F.lit(1)).alias("__nb")
    )
    on = g + ["__k"]
    s = (
        ma.join(mb, on, "inner")
        .groupBy(*g)
        .agg(F.sum(F.col("__na") * F.col("__nb")).alias("__s"))
    )
    joined = base.join(s, g) if g else base.crossJoin(s)
    dec = "decimal(38,0)"
    num = (
        F.lit(1_000_000).cast(dec)
        * (
            F.col("__n").cast(dec) * F.col("__agree").cast(dec)
            - F.col("__s").cast(dec)
        )
    )
    den = (
        F.col("__n").cast(dec) * F.col("__n").cast(dec)
        - F.col("__s").cast(dec)
    )
    return joined.select(
        *g,
        F.col("__n").cast("bigint").alias("n_rows"),
        F.col("__agree").cast("bigint").alias("n_agree"),
        F.when(den != 0, F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * "
            "(CAST(__n AS DECIMAL(38,0)) * CAST(__agree AS DECIMAL(38,0))"
            " - CAST(__s AS DECIMAL(38,0)))) div "
            "(CAST(__n AS DECIMAL(38,0)) * CAST(__n AS DECIMAL(38,0))"
            " - CAST(__s AS DECIMAL(38,0))) AS BIGINT)"
        )).alias("kappa_micro"),
    )


def cohens_kappa_oracle_sql(
    from_sql: str,
    rater_a_sql: str,
    rater_b_sql: str,
    group_sql: tuple[str, ...] = (),
) -> str:
    """DuckDB twin of :func:`cohens_kappa` (HUGEINT arithmetic,
    ``//`` truncation — identical integers)."""
    g = ", ".join(group_sql)
    gsel = f"{g}, " if g else ""
    gby = f"GROUP BY {g}" if g else ""
    on = " AND ".join(f"ma.{c} = mb.{c}" for c in group_sql)
    on = (on + " AND " if on else "") + "ma.__k = mb.__k"
    sjoin = " AND ".join(f"base.{c} = s.{c}" for c in group_sql) or "TRUE"
    maga = f"{g}, __k" if g else "__k"
    return f"""
    WITH rows_ AS (
        SELECT {gsel}{rater_a_sql} AS __a, {rater_b_sql} AS __b
        FROM {from_sql}
    ),
    base AS (
        SELECT {gsel}COUNT(*) AS __n,
               SUM(CASE WHEN __a = __b THEN 1 ELSE 0 END) AS __agree
        FROM rows_ {gby}
    ),
    ma AS (SELECT {gsel}__a AS __k, COUNT(*) AS __na FROM rows_
           GROUP BY {maga.replace('__k', '__a')}),
    mb AS (SELECT {gsel}__b AS __k, COUNT(*) AS __nb FROM rows_
           GROUP BY {maga.replace('__k', '__b')}),
    s AS (
        SELECT {("ma." + ", ma.".join(group_sql) + ", ") if group_sql else ""}
               SUM(ma.__na * mb.__nb) AS __s
        FROM ma JOIN mb ON {on}
        {("GROUP BY " + ", ".join("ma." + c for c in group_sql)) if group_sql else ""}
    )
    SELECT {("base." + ", base.".join(group_sql) + ", ") if group_sql else ""}
           CAST(base.__n AS BIGINT) AS n_rows,
           CAST(base.__agree AS BIGINT) AS n_agree,
           CASE WHEN CAST(base.__n AS HUGEINT) * base.__n - s.__s <> 0
                THEN CAST((CAST(1000000 AS HUGEINT) *
                     (CAST(base.__n AS HUGEINT) * base.__agree - s.__s))
                     // (CAST(base.__n AS HUGEINT) * base.__n - s.__s)
                     AS BIGINT)
                ELSE NULL END AS kappa_micro
    FROM base JOIN s ON {sjoin}
    """


def krippendorff_alpha(
    df: DataFrame,
    item_col: str,
    label_col: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Krippendorff's alpha, nominal metric (Krippendorff 2004) —
    the label-audit statistic Cohen's kappa cannot be: ANY number of
    raters per item and MISSING ratings (absent rows), the shape
    real multi-annotator training-data audits have. Input is long
    format: one row per (item, rating); items with a single rating
    are unpairable and drop out, per the definition.

    Integer contract (deterministic on both engines): with
    ``disag_i = n_i² − Σ_c n_ic²`` (ordered differing pairs inside
    item i), ``N = Σ n_i`` over pairable items and label marginals
    ``n_c`` over the same items,

        do_micro    = Σ_i (1e6 · disag_i) div (n_i − 1)
        alpha_micro = 1e6 − (do_micro · (N−1)) div (N² − Σ_c n_c²)

    — the exact nominal alpha up to one truncated division per item
    plus the final one (each loses < 1 micro-unit; both engines
    truncate identically). The final products run in DECIMAL(38,0)
    (N² overflows int64 near N ≈ 3e6, the kappa precedent); the
    per-item step stays int64 (1e6·n_i² needs n_i ≤ 3e6 raters per
    item — far beyond any annotation reality). Degenerate groups
    (every rating the same label → De = 0) return NULL.

    Scale shape: two hash-aggs over (group, item, label) then
    (group, item), a marginal agg over (group, label) — never wider
    than items × labels; nothing driver-sized.
    Output: *group_cols, n_items, n_ratings, alpha_micro."""
    g = list(group_cols)
    it, lab = F.col(item_col), F.col(label_col)
    per_il = df.groupBy(*g, it.alias("__it"), lab.alias("__l")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nil")
    )
    per_item = (
        per_il.groupBy(*g, "__it")
        .agg(
            F.sum("__nil").alias("__ni"),
            F.sum(F.col("__nil") * F.col("__nil")).alias("__sq"),
        )
        .where(F.col("__ni") >= 2)
        .withColumn(
            "__do",
            F.expr(
                "(1000000L * (__ni * __ni - __sq)) div (__ni - 1)"
            ),
        )
    )
    dog = per_item.groupBy(*g).agg(
        F.sum("__do").alias("__do_micro"),
        F.sum("__ni").alias("__N"),
        F.count(F.lit(1)).alias("__items"),
    )
    pairable = per_item.select(*g, "__it")
    marg = (
        per_il.join(pairable, g + ["__it"], "left_semi")
        .groupBy(*g, "__l")
        .agg(F.sum("__nil").alias("__nc"))
        .groupBy(*g)
        .agg(
            F.sum(
                F.col("__nc").cast("decimal(38,0)")
                * F.col("__nc").cast("decimal(38,0)")
            ).alias("__sumsq")
        )
    )
    joined = dog.join(marg, g) if g else dog.crossJoin(marg)
    dec = "CAST({} AS DECIMAL(38,0))"
    de = (
        f"({dec.format('__N')} * {dec.format('__N')} "
        f"- CAST(__sumsq AS DECIMAL(38,0)))"
    )
    alpha = (
        f"CAST(CAST(1000000 AS DECIMAL(38,0)) - "
        f"({dec.format('__do_micro')} * ({dec.format('__N')} - 1)) "
        f"div {de} AS BIGINT)"
    )
    return joined.select(
        *g,
        F.col("__items").cast("bigint").alias("n_items"),
        F.col("__N").cast("bigint").alias("n_ratings"),
        F.when(
            F.expr(de) != F.lit(0).cast("decimal(38,0)"),
            F.expr(alpha),
        ).alias("alpha_micro"),
    )


def krippendorff_alpha_oracle_sql(
    from_sql: str,
    item_sql: str,
    label_sql: str,
    group_sql: tuple[str, ...] = (),
) -> str:
    """DuckDB twin of :func:`krippendorff_alpha` (HUGEINT products,
    ``//`` truncation — identical integers)."""
    g = ", ".join(group_sql)
    gsel = f"{g}, " if g else ""
    gby = f"GROUP BY {g}" if g else ""
    semi = " AND ".join(f"m.{c} = p.{c}" for c in group_sql)
    semi = (semi + " AND " if semi else "") + "m.__it = p.__it"
    dj = " AND ".join(f"d.{c} = mm.{c}" for c in group_sql) or "TRUE"
    return f"""
    WITH rows_ AS (
        SELECT {gsel}{item_sql} AS __it, {label_sql} AS __l
        FROM {from_sql}
    ),
    per_il AS (
        SELECT {gsel}__it, __l, COUNT(*) AS __nil
        FROM rows_ GROUP BY {gsel.rstrip(', ') + ', ' if g else ''}__it, __l
    ),
    per_item AS (
        SELECT {gsel}__it, SUM(__nil) AS __ni,
               SUM(__nil * __nil) AS __sq
        FROM per_il GROUP BY {gsel.rstrip(', ') + ', ' if g else ''}__it
        HAVING SUM(__nil) >= 2
    ),
    dog AS (
        SELECT {gsel}SUM((1000000 * (__ni * __ni - __sq))
                         // (__ni - 1)) AS __do_micro,
               SUM(__ni) AS __N, COUNT(*) AS __items
        FROM per_item {gby}
    ),
    marg AS (
        SELECT {gsel}SUM(CAST(__nc AS HUGEINT) * CAST(__nc AS HUGEINT))
               AS __sumsq FROM (
            SELECT {('m.' + ', m.'.join(group_sql) + ', ') if g else ''}
                   m.__l, SUM(m.__nil) AS __nc
            FROM per_il m
            WHERE EXISTS (SELECT 1 FROM per_item p WHERE {semi})
            GROUP BY {('m.' + ', m.'.join(group_sql) + ', ') if g else ''}m.__l
        ) {gby}
    )
    SELECT {('d.' + ', d.'.join(group_sql) + ', ') if g else ''}
           CAST(d.__items AS BIGINT) AS n_items,
           CAST(d.__N AS BIGINT) AS n_ratings,
           CASE WHEN CAST(d.__N AS HUGEINT) * d.__N - mm.__sumsq <> 0
                THEN CAST(1000000 - (CAST(d.__do_micro AS HUGEINT)
                          * (d.__N - 1))
                     // (CAST(d.__N AS HUGEINT) * d.__N - mm.__sumsq)
                     AS BIGINT)
           END AS alpha_micro
    FROM dog d JOIN marg mm ON {dj}
    """
