"""Deterministic train/val/test splits (training-data tier).

Production split assignment must be (a) deterministic — re-running
the pipeline reassigns nothing; (b) hash-based, not row-number-based
— adding documents later never moves an existing document between
splits (a row_number split reshuffles everything on every append,
silently contaminating yesterday's test set into today's train set);
(c) salted — a new salt string is a fresh, independent split.

Implementation: bucket = portable 56-bit hash of (salt ‖ key) mod
``BUCKETS``; cumulative fraction thresholds map buckets to split
names. A narrow codegen'd expression — no shuffle, no state — and
the portable hash (functions/portable_hash.py) means DuckDB computes
the identical assignment, so the split is fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.functions.portable_hash import (
    composite_hash_col,
    composite_hash_sql,
)
from top_produce_etl_spark.operators.topn import top_n_window

BUCKETS = 10_000

_SAFE_SALT = __import__("re").compile(r"[A-Za-z0-9_.\-]+")
_SAFE_IDENT = __import__("re").compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _check_safe(salt: str, key: str | None = None) -> None:
    """Salt and key column are interpolated into generated SQL (both
    the Spark expression and the DuckDB oracle); restrict them to a
    quote-free charset so a stray ``'`` can't produce a broken or
    injected expression with a cryptic parse error."""
    if not _SAFE_SALT.fullmatch(salt):
        raise ValueError(
            f"salt must match {_SAFE_SALT.pattern!r}, got {salt!r}"
        )
    if key is not None and not _SAFE_IDENT.fullmatch(key):
        raise ValueError(
            f"key column must be a plain identifier, got {key!r}"
        )


def _thresholds(fractions: dict[str, float]) -> list[tuple[str, int]]:
    if abs(sum(fractions.values()) - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {fractions}")
    out, acc = [], 0.0
    for name, frac in fractions.items():  # insertion order = priority
        acc += frac
        out.append((name, int(round(acc * BUCKETS))))
    return out


def split_column(
    key_col: str, fractions: dict[str, float], salt: str = "split-v1"
) -> Column:
    """Split-label Column for a string-able key column.

    ``composite_hash_col`` inlines its argument into the generated
    SQL, so the salted-key expression passes straight through."""
    _check_safe(salt, key_col)
    keyed_sql = f"concat('{salt}', CAST({key_col} AS STRING))"
    bucket = composite_hash_col(keyed_sql) % BUCKETS
    cases = _thresholds(fractions)
    label: Column = F.lit(cases[-1][0])
    for name, hi in reversed(cases[:-1]):
        label = F.when(bucket < hi, F.lit(name)).otherwise(label)
    return label


def assign_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float] | None = None,
    salt: str = "split-v1",
    out: str = "split",
) -> DataFrame:
    """Attach the deterministic split label.

    STAGED, not inlined: the hash bucket is computed once in its own
    projection and the threshold CASE references the column. The
    single-expression form (:func:`split_column`) textually repeats
    the polynomial hash in every CASE branch, and Spark's
    common-subexpression elimination does not fire across
    conditionally-evaluated branches (the r11 negative-result
    finding), so a 3-way split paid the 40-term hash twice per row.
    A bucket alias referenced more than once is non-cheap, so it
    survives CollapseProject and materializes once per row. Labels
    are a pure function of the bucket — output is bit-identical."""
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    _check_safe(salt, key_col)
    tmp = f"__bucket_{out}"
    if tmp in df.columns:
        raise ValueError(f"assign_split: column {tmp!r} is reserved")
    keyed_sql = f"concat('{salt}', CAST({key_col} AS STRING))"
    bucket = composite_hash_col(keyed_sql) % BUCKETS
    cases = _thresholds(fractions)
    label: Column = F.lit(cases[-1][0])
    for name, hi in reversed(cases[:-1]):
        label = F.when(F.col(tmp) < hi, F.lit(name)).otherwise(label)
    return (
        df.withColumn(tmp, bucket)
        .withColumn(out, label)
        .drop(tmp)
    )


def assign_fold(
    df: DataFrame,
    key_col: str,
    k: int = 5,
    salt: str = "cv-v1",
    out: str = "fold",
) -> DataFrame:
    """Deterministic k-fold assignment (cross-validation): fold =
    portable-hash bucket mod k. Same properties as
    :func:`assign_split` — append-stable, salted, zero shuffle —
    and the folds are the equal-probability partition of the bucket
    space."""
    _check_safe(salt, key_col)
    keyed_sql = f"concat('{salt}', CAST({key_col} AS STRING))"
    return df.withColumn(
        out, (composite_hash_col(keyed_sql) % BUCKETS % k).cast("int")
    )


def fold_oracle_sql(key_sql: str, k: int = 5, salt: str = "cv-v1") -> str:
    """DuckDB expression computing the identical fold id."""
    _check_safe(salt)
    keyed = f"('{salt}' || CAST({key_sql} AS VARCHAR))"
    return f"CAST((({composite_hash_sql(keyed)}) % {BUCKETS}) % {k} AS INT)"


def split_oracle_sql(
    key_sql: str, fractions: dict[str, float], salt: str = "split-v1"
) -> str:
    """DuckDB CASE expression computing the identical split label."""
    _check_safe(salt)
    keyed = f"('{salt}' || CAST({key_sql} AS VARCHAR))"
    bucket = f"(({composite_hash_sql(keyed)}) % {BUCKETS})"
    cases = _thresholds(fractions)
    whens = " ".join(
        f"WHEN {bucket} < {hi} THEN '{name}'" for name, hi in cases[:-1]
    )
    return f"CASE {whens} ELSE '{cases[-1][0]}' END"


_U_SCALE = float(2**56)  # exact power of two → exact double scaling


def weighted_reservoir(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    group_cols: list[str] | None = None,
    salt: str = "wrs-v1",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — exactly
    ``n`` rows (per group), inclusion probability ∝ weight.

    The A-ES / exponential-race scheme (Efraimidis & Spirakis 2006):
    every row draws u ~ U(0,1] and keeps key r = ln(u)/w; the n
    LARGEST r win. Here u is the salted portable hash of the key
    scaled by 2⁻⁵⁶ (an exact power-of-two scale, so u's bits are
    identical in any engine), which makes the "random" draw
    reproducible across engines, retries, and cluster sizes, and
    append-stable per salt — the same auditability contract as
    :func:`assign_split`.

    Rows with NULL or non-positive weight are excluded (they have
    zero inclusion probability by definition).

    Scale shape: grouped → ONE key shuffle + partitioned-window
    top-n; global → TakeOrderedAndProject (per-partition n-row heads,
    no global sort). The priority column is dropped from the output —
    downstream sees only sampled rows, so the cross-engine contract
    is pure membership (boundary ties are broken by key ASC, and the
    hash makes r collisions across distinct keys a measure-zero
    event).
    """
    _check_safe(salt, key_col)
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    keyed_sql = f"concat('{salt}', CAST({key_col} AS STRING))"
    u = (composite_hash_col(keyed_sql) + 1).cast("double") / F.lit(_U_SCALE)
    w = F.col(weight_col).cast("double")
    r = F.log(u) / w
    # fan_out: the salted-hash race key is the heavy map-side work
    # and runs in the scan's tasks — a one-row-group fixture file
    # scans as ONE task (guide §2.5). r is row-local, the window /
    # TakeOrdered pick is an exact comparison with a key tiebreak,
    # so placement cannot change the sample. No-op on wide scans.
    from top_produce_etl_spark.io.sources import fan_out

    kept = fan_out(df.filter(w.isNotNull() & (w > 0))).withColumn("__r", r)
    if group_cols:
        out = top_n_window(
            kept, group_cols, "__r", n, tiebreak=key_col, rank_col="__rn"
        ).drop("__rn")
    else:
        out = kept.orderBy(F.col("__r").desc(), F.col(key_col).asc()).limit(n)
    return out.drop("__r")


def weighted_reservoir_rank_sql(
    key_sql: str,
    weight_sql: str,
    partition_sql: str | None = None,
    salt: str = "wrs-v1",
) -> str:
    """DuckDB ``row_number() OVER (…)`` expression ranking rows by
    the identical exponential-race priority (rank ≤ n = sampled).
    Compose it in a QUALIFY/subquery with the same n."""
    _check_safe(salt)
    keyed = f"('{salt}' || CAST({key_sql} AS VARCHAR))"
    u = (
        f"(CAST(({composite_hash_sql(keyed)}) + 1 AS DOUBLE) / {_U_SCALE!r})"
    )
    r = f"(ln({u}) / CAST({weight_sql} AS DOUBLE))"
    part = f"PARTITION BY {partition_sql} " if partition_sql else ""
    return (
        f"row_number() OVER ({part}ORDER BY {r} DESC, {key_sql} ASC)"
    )


def stratified_exact_split(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    fractions: dict[str, float] | None = None,
    salt: str = "strat-v1",
    out: str = "split",
) -> DataFrame:
    """EXACT-count stratified split (r7): within every stratum, rank
    rows by their salted portable hash and cut at
    ``floor(f·n_stratum)`` boundaries — so each stratum lands the
    requested proportions EXACTLY (±1 from the floor), where
    :func:`assign_split`'s per-row hash threshold only hits them in
    expectation (a 50-row stratum can easily come out 10% off — fatal
    for small eval slices).

    Trade-off vs assign_split, stated honestly: exactness costs
    APPEND-STABILITY. New rows shift ranks, so splits move when data
    grows — use this for FROZEN snapshots (benchmark/eval set
    construction); use assign_split for growing corpora. The hash
    order (never ts/id order) still kills any correlation between
    arrival order and split.

    One |strata|-keyed window (rank + count over the same ordered
    exchange) — no joins, no driver state. Deterministic and
    SQL-expressible: ties are impossible (the hash input embeds the
    key; the rank orders by (hash, key)).

    Output: df columns + ``out`` label.
    """
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    _check_safe(salt, key_col)
    if abs(sum(fractions.values()) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1: {fractions}")
    from pyspark.sql import Window

    from top_produce_etl_spark.functions.portable_hash import (
        composite_hash_col,
    )

    keyed = f"concat('{salt}', CAST({key_col} AS STRING))"
    h = composite_hash_col(keyed)
    w = Window.partitionBy(*strata_cols).orderBy(
        h.asc(), F.col(key_col).asc()
    )
    wn = Window.partitionBy(*strata_cols)
    ranked = df.withColumn("__rk", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(wn)
    )
    # cut points: cumulative floor(f_i * n) boundaries, last split
    # takes the remainder — rank <= floor(cum_f * n) picks split i
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        cond = F.col("__rk") <= F.floor(F.lit(cum) * F.col("__n"))
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    label = (
        expr.otherwise(F.lit(names[-1]))
        if expr is not None
        else F.lit(names[-1])
    )
    return ranked.withColumn(out, label).drop("__rk", "__n")


def stratified_exact_split_oracle_sql(
    from_sql: str,
    strata_sql: list[str],
    key_sql: str,
    fractions: dict[str, float] | None = None,
    salt: str = "strat-v1",
) -> str:
    """DuckDB twin of :func:`stratified_exact_split` (bit-identical:
    same hash order, same floor cut points). Emits all source
    columns plus ``split``."""
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    _check_safe(salt, key_sql)
    from top_produce_etl_spark.functions.portable_hash import (
        composite_hash_sql,
    )

    g = ", ".join(strata_sql)
    h = composite_hash_sql(
        f"concat('{salt}', CAST({key_sql} AS VARCHAR))"
    )
    names = list(fractions)
    cum, cases = 0.0, []
    for name in names[:-1]:
        cum += fractions[name]
        cases.append(
            f"WHEN rk <= floor({cum!r} * n) THEN '{name}'"
        )
    case = "CASE " + " ".join(cases) + f" ELSE '{names[-1]}' END"
    return f"""
    WITH ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY {g}
                   ORDER BY ({h}), {key_sql}
               ) AS rk,
               COUNT(*) OVER (PARTITION BY {g}) AS n
        FROM {from_sql}
    )
    SELECT * EXCLUDE (rk, n), {case} AS split FROM ranked
    """
