"""Join operators beyond plain ``df.join``.

Spark picks broadcast-hash / shuffled-hash / sort-merge itself (AQE
can switch at runtime). A side that GROWS with the data
(customer/supplier/part…) is joined unhinted: the planner broadcasts
it while its size estimate is under
``spark.sql.autoBroadcastJoinThreshold`` and falls back to a shuffle
join above it, whereas a bare ``F.broadcast`` hint overrides the
threshold unconditionally — at 100 TB that OOMs the executors.
These helpers encode the cases where the author knows more than the
optimizer:

- ``broadcast_dim_join``: explicit broadcast hint for FIXED-
  cardinality dimension tables (region=5 rows, nation=25 — bounded
  regardless of data scale). At 100 TB the fact side never shuffles
  for a broadcast join — this is the difference between a map-side
  join and a full-table exchange.
- ``range_join``: equi-key + interval predicate. The equi key keeps
  it a hash/sort-merge join (NOT a cartesian product); the range
  predicate is evaluated post-match.
- ``asof_join``: merge_asof semantics (backward/forward/nearest
  direction, optional tolerance) — no native Spark primitive.
  Implemented as union + window fills, a single shuffle on the key
  (union-sort) for EVERY direction, NOT an O(n·m) range join. This
  is the scalable formulation: one exchange + one per-key ordered
  scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def broadcast_dim_join(
    fact: DataFrame, dim: DataFrame, on: str | list[str], how: str = "inner"
) -> DataFrame:
    """Join a fact table to a small dimension with a broadcast hint.

    Only for dims whose cardinality is bounded independent of data
    scale (region/nation, a k-row model, a one-row stats frame). Join
    SF-scaled inputs unhinted and let the planner's threshold decide.
    """
    return fact.join(F.broadcast(dim), on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """Existence filter — no right columns, no row duplication."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """Absence filter."""
    return left.join(right, on=on, how="left_anti")


def range_join(
    left: DataFrame,
    right: DataFrame,
    equi_on: list[str | tuple[str, str]],
    left_ts: str,
    right_lo: str,
    right_hi: str,
    how: str = "inner",
) -> DataFrame:
    """Equi + interval join: match when the equi keys agree and
    ``right_lo <= left_ts < right_hi``. The equi keys make this a
    hash/sort-merge join with a residual range filter — never a
    broadcast-nested-loop, so it scales. ``equi_on`` items are a
    shared column name or a ``(left_name, right_name)`` pair."""
    cond = None
    for k in equi_on:
        lk, rk = (k, k) if isinstance(k, str) else k
        c = left[lk] == right[rk]
        cond = c if cond is None else (cond & c)
    rng = (left[left_ts] >= right[right_lo]) & (left[left_ts] < right[right_hi])
    cond = rng if cond is None else (cond & rng)
    return left.join(right, on=cond, how=how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """As-of join with full merge_asof semantics: for each left row,
    attach the nearest right row with the same key —

    - ``direction="backward"`` (default): latest ``right_ts <=
      left_ts``;
    - ``direction="forward"``: earliest ``right_ts >= left_ts``;
    - ``direction="nearest"``: whichever of the two is closer in
      time, ties to backward (pandas ``merge_asof`` convention);

    and, with ``tolerance`` (max |lag| in SECONDS), only when the
    match is within tolerance — the nearest candidate beyond it
    yields NULLs (any other candidate is farther still, so nulling
    the nearest equals filtering; left rows are always kept).

    Strategy (single shuffle for every direction): tag both sides,
    union by name, sort per key by (ts, side-tag) with a window, and
    fill right values across the ordering — ``last(ignorenulls)``
    over the preceding frame for backward, ``first(ignorenulls)``
    over the following frame for forward, both frames over the SAME
    sort for nearest (one exchange + one per-key ordered scan;
    Catalyst computes both frames from a single sort). Side-tag
    placement makes equal timestamps match in every direction: the
    right row sorts into whichever frame the direction reads from —
    for nearest an equal-ts right lands in the backward frame with
    lag 0, which wins the tie exactly as the convention requires.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    keys = [on] if isinstance(on, str) else list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in keys and c != right_ts]

    # equal-ts right rows must sort INTO the frame the direction
    # reads: before the left row for backward/nearest (preceding
    # frame), after it for forward (following frame)
    l_side, r_side = (0, 1) if direction == "forward" else (1, 0)
    l_tag = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(l_side).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_cols],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__rts"),
    )
    r_tag = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(r_side).alias("__side"),
        F.lit(None).cast(l_tag.schema["__lrow"].dataType).alias("__lrow"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
        F.col(right_ts).alias("__rts"),
    )
    unioned = l_tag.unionByName(r_tag)
    base = Window.partitionBy(*keys).orderBy(
        F.col("__ts").asc(), F.col("__side").asc()
    )
    wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)

    def back(c):
        return F.last(F.col(c), ignorenulls=True).over(wb)

    def fwd(c):
        return F.first(F.col(c), ignorenulls=True).over(wf)

    fill_cols = [f"__r_{c}" for c in right_cols] + ["__rts"]
    if direction == "backward":
        filled = unioned.select(
            "__side", "__lrow", "__ts",
            *[back(c).alias(c) for c in fill_cols],
        )
    elif direction == "forward":
        filled = unioned.select(
            "__side", "__lrow", "__ts",
            *[fwd(c).alias(c) for c in fill_cols],
        )
    else:  # nearest: both fills off the one sort, then choose
        both = unioned.select(
            "__side", "__lrow", "__ts",
            *[back(c).alias(f"__b{c}") for c in fill_cols],
            *[fwd(c).alias(f"__f{c}") for c in fill_cols],
        )
        # lag comparison in seconds (timestamps cast to epoch double;
        # numeric ts columns pass through the same cast)
        ts_d = F.col("__ts").cast("double")
        use_back = F.col("__f__rts").isNull() | (
            F.col("__b__rts").isNotNull()
            & (
                ts_d - F.col("__b__rts").cast("double")
                <= F.col("__f__rts").cast("double") - ts_d
            )
        )
        filled = both.select(
            "__side", "__lrow", "__ts",
            *[
                F.when(use_back, F.col(f"__b{c}"))
                .otherwise(F.col(f"__f{c}"))
                .alias(c)
                for c in fill_cols
            ],
        )
    filled = filled.filter(F.col("__side") == l_side)
    if tolerance is not None:
        # null the match when |lag| > tolerance: the nearest
        # candidate is the only one that could be in range
        ok = (
            F.abs(
                F.col("__ts").cast("double") - F.col("__rts").cast("double")
            )
            <= F.lit(float(tolerance))
        )
        filled = filled.select(
            "__side", "__lrow", "__ts",
            *[
                F.when(ok, F.col(c)).alias(c)
                for c in fill_cols
            ],
        )
    out = filled.select(
        *[F.col(f"__lrow.{c}").alias(c) for c in left.columns],
        *[F.col(f"__r_{c}").alias(c + suffix if c in left.columns else c) for c in right_cols],
        F.col("__rts").alias(right_ts + suffix),
    )
    return out


def attach_scalar_row(
    df: DataFrame, one_row: DataFrame, df_key_col: str, one_key_col: str
) -> DataFrame:
    """Attach a ONE-ROW relation (totals, θ, model stats) to every
    row of ``df`` as a constant-key broadcast HASH join — the
    crossJoin-equivalent that keeps the physical plan a
    BroadcastHashJoin, so the repo-wide "no cartesian" plan audit
    (plans/audit.py) keeps its teeth for accidental data×data
    crosses (the _attach_cents / corpus-stats-attach pattern).

    ``df_key_col`` / ``one_key_col`` name an existing column on each
    side from which the always-0 key is derived; it must be a REAL
    column (non-foldable) or Catalyst constant-folds the equality
    away and re-plans the nested-loop join this exists to avoid.
    Numeric columns only (pmod); NULLs coalesce to the same 0 key —
    a nullable key column must not silently drop the row.
    """

    def key(c: str):
        return F.coalesce(
            F.pmod(F.col(c), F.lit(1)), F.lit(0)
        ).cast("int")

    left = df.withColumn("__sk", key(df_key_col))
    right = one_row.withColumn("__sk", key(one_key_col))
    return left.join(F.broadcast(right), "__sk").drop("__sk")
