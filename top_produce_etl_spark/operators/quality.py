"""Data-quality checks (production-ETL staple the reference's
pipeline would need before writing `output.path`).

Declarative expectations evaluated in ONE aggregation pass over the
frame — every check compiles to a conditional-count column inside a
single ``agg``, so a 40-check suite still costs one scan with
map-side partials (running checks as separate ``count()`` actions
would re-scan the table per check — a 40× tax at 100 TB).
Referential-integrity checks add one broadcast/shuffled anti-join
per referenced dimension, counted the same way.

Check spec (dicts, JSON/YAML-friendly like plans/builder.py):
  {"check": "not_null",  "col": "o_custkey"}
  {"check": "unique",    "cols": ["o_orderkey"]}
  {"check": "in_range",  "col": "l_discount", "lo": 0, "hi": 0.1}
  {"check": "in_set",    "col": "l_returnflag", "values": ["A","N","R"]}
  {"check": "matches",   "col": "c_name", "pattern": "^Customer#"}
  {"check": "ref",       "col": "o_custkey", "ref": <DataFrame>, "ref_col": "c_custkey"}
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F



def _violation(check: dict[str, Any]) -> Column:
    kind = check["check"]
    if kind == "not_null":
        return F.col(check["col"]).isNull()
    if kind == "in_range":
        c = F.col(check["col"])
        return ~c.between(F.lit(check["lo"]), F.lit(check["hi"])) | c.isNull()
    if kind == "in_set":
        c = F.col(check["col"])
        return ~c.isin(*check["values"]) | c.isNull()
    if kind == "matches":
        c = F.col(check["col"])
        return ~c.rlike(check["pattern"]) | c.isNull()
    raise ValueError(f"unknown row-level check: {kind}")


def _name(check: dict[str, Any]) -> str:
    """Report/alias name for a check. An explicit ``"name"`` key wins
    — required when two checks would otherwise collide (e.g. two
    ``ref`` checks on the same column against different dimensions,
    or two ``in_range`` bands on one column); duplicates are
    rejected in :func:`quality_report` rather than silently merged."""
    if "name" in check:
        return str(check["name"])
    kind = check["check"]
    if kind == "unique":
        return f"unique_{'_'.join(check['cols'])}"
    if kind == "ref":
        return f"ref_{check['col']}"
    return f"{kind}_{check['col']}"


def quality_report(df: DataFrame, checks: list[dict[str, Any]]) -> DataFrame:
    """(check, violations, total) — one row per check.

    Row-level checks fuse into one aggregation pass; each ``unique``
    adds one keyed aggregate; each ``ref`` adds one anti-join (hint
    the dimension side small → broadcast, the fact side never
    shuffles)."""
    if not checks:
        raise ValueError("quality_report needs at least one check")
    names = [_name(c) for c in checks]
    dupes_n = {n for n in names if names.count(n) > 1}
    if dupes_n:
        raise ValueError(
            f"duplicate check names {sorted(dupes_n)} — disambiguate with an "
            'explicit "name" key on the colliding specs'
        )
    row_checks = [c for c in checks if c["check"] not in ("unique", "ref")]
    agg_cols = [
        # coalesce: on an EMPTY input frame sum() is NULL; a quality
        # gate on a legitimately-empty incremental batch must read
        # 0 violations, not crash assert_quality on None > 0
        F.coalesce(F.sum(F.when(_violation(c), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias(_name(c))
        for c in row_checks
    ] + [F.count(F.lit(1)).alias("__total")]
    base = df.agg(*agg_cols)

    reports: list[DataFrame] = []
    total = F.col("__total")
    for c in row_checks:
        reports.append(
            base.select(
                F.lit(_name(c)).alias("check"),
                F.col(_name(c)).alias("violations"),
                total.alias("total"),
            )
        )
    # 1-row frames attach to the 1-row base via a NON-FOLDABLE
    # always-0 key (broadcast hash join) — a bare join would plan a
    # BroadcastNestedLoopJoin, which the repo-wide audit forbids
    # (clustering.py/_attach_cents has the same note).
    def k(col: Column) -> Column:
        return F.pmod(F.coalesce(col, F.lit(0)), F.lit(1)).cast("int")

    base_keyed = base.select(total.alias("total"), k(total).alias("__k"))
    for c in (c for c in checks if c["check"] == "unique"):
        dupes = (
            df.groupBy(*c["cols"])
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .agg(
                F.coalesce(F.sum(F.col("n") - 1), F.lit(0))
                .cast("long")
                .alias("violations"),
            )
        )
        reports.append(
            dupes.withColumn("__k", k(F.col("violations")))
            .join(F.broadcast(base_keyed), "__k")
            .select(F.lit(_name(c)).alias("check"), "violations", "total")
        )
    for c in (c for c in checks if c["check"] == "ref"):
        orphans = (
            df.select(F.col(c["col"]))
            .filter(F.col(c["col"]).isNotNull())
            .join(
                c["ref"].select(F.col(c["ref_col"]).alias(c["col"])),
                c["col"],
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("long").alias("violations"))
        )
        reports.append(
            orphans.withColumn("__k", k(F.col("violations")))
            .join(F.broadcast(base_keyed), "__k")
            .select(F.lit(_name(c)).alias("check"), "violations", "total")
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def assert_quality(df: DataFrame, checks: list[dict[str, Any]]) -> None:
    """Raise ``ValueError`` listing every failed check (gate a write
    on clean input). One collect of |checks| rows."""
    bad = [
        f"{r['check']}: {r['violations']}/{r['total']} rows"
        for r in quality_report(df, checks).collect()
        if r["violations"] > 0
    ]
    if bad:
        raise ValueError("quality checks failed: " + "; ".join(bad))


def k_anonymity_violations(
    df: DataFrame, quasi_cols: list[str], k: int
) -> DataFrame:
    """Quasi-identifier groups occurring fewer than ``k`` times —
    the release-gate check for k-anonymity (a combination of
    quasi-identifiers shared by < k rows re-identifies individuals;
    training-data compliance runs this before publishing a corpus
    alongside the PII redaction pass).

    Output: (quasi_cols..., group_size) for violating groups only.
    One hash-aggregate shuffle on the quasi-identifier key — the
    same cost profile as any distinct-count; no all-pairs anything.
    NULL quasi-values group together (SQL GROUP BY semantics), which
    is the conservative choice: an all-NULL combination is itself a
    quasi-identifier.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < k)
    )


def l_diversity_violations(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int,  # noqa: E741 - the literature's name for the parameter
) -> DataFrame:
    """Quasi-identifier groups whose SENSITIVE attribute takes fewer
    than ``l`` distinct values — the companion release gate to
    :func:`k_anonymity_violations` (Machanavajjhala et al. 2007:
    k-anonymity alone fails to the HOMOGENEITY attack — a group of
    k rows that all share the sensitive value still discloses it;
    distinct-l-diversity requires ≥ l well-represented values per
    group).

    Output: (quasi_cols..., group_size, distinct_sensitive) for
    violating groups only. One hash-aggregate shuffle on the
    quasi-identifier key; the distinct count is exact (countDistinct
    — a second partial within the same shuffle), never approximate:
    a privacy gate must not pass on an HLL overestimate. NULL
    sensitive values are NOT counted as a disclosure-safe value
    (countDistinct skips NULLs — conservative: an all-NULL sensitive
    column yields 0 distinct values and always violates).
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if l < 2:
        raise ValueError(f"l must be >= 2, got {l}")
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct(sensitive_col).alias("distinct_sensitive"),
        )
        .filter(F.col("distinct_sensitive") < l)
    )


def t_closeness_violations(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t_micro: int,
) -> DataFrame:
    """Quasi-identifier groups whose SENSITIVE-attribute distribution
    sits farther than ``t`` (in 1e6 fixed point) from the GLOBAL
    distribution — the third privacy release gate (Li, Li &
    Venkatasubramanian 2007), closing the SKEWNESS attack that
    k-anonymity (operators/quality.py::k_anonymity_violations) and
    l-diversity (::l_diversity_violations) both miss: a group can be
    large AND diverse yet still leak (e.g. 90% of its members share
    a rare sensitive value that is 1% globally).

    Distance = the ordered-attribute Earth Mover's Distance of the
    t-closeness paper: for the sorted sensitive domain v_1 < … < v_m
    with group probabilities p_i and global q_i,
    ``EMD = (1/(m−1)) · Σ_{i<m} |Σ_{j≤i} (p_j − q_j)|`` — a
    cumulative-sum window expression, fully SQL-expressible.

    Determinism contract: all arithmetic is INTEGER. The cumulative
    difference is computed over the common denominator n_g·n
    (``cnt_g·n − cnt·n_g`` — exact BIGINTs), and the final distance
    is one floor division into 1e6 fixed point (Spark ``div`` ==
    DuckDB ``//``), so the report is bit-identical cross-engine.
    Headroom: |Σ|cum|| ≤ (m−1)·n_g·n, so the pre-division product
    needs (m−1)·n_g·n·1e6 < 2^63 — fine to ~30M rows at m ≤ 10
    sensitive bands; band the attribute coarser (any real release
    gate does) before going bigger, or widen to DECIMAL(38,0).

    Plan shape: one (quasi) hash-agg, one (quasi, value) hash-agg,
    a broadcast of the |values|-row global distribution onto the
    |groups|×|values| grid (both release-gate-sized — the sensitive
    domain is BANDED by construction), one per-group cumulative
    window. Nothing data-sized crosses a join. NULL sensitive values
    are excluded from both distributions (they have no position in
    the ordered domain); run the PII/null gates beside this one.

    Output: (quasi_cols…, group_size, emd_micro) for groups with
    ``emd_micro > t_micro`` only.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if not 0 <= t_micro < 1_000_000:
        raise ValueError(f"t_micro must be in [0, 1e6), got {t_micro}")
    from pyspark.sql import Window

    from top_produce_etl_spark.operators.joins import attach_scalar_row

    rows = df.select(*quasi_cols, F.col(sensitive_col).alias("__v"))
    rows = rows.where(F.col("__v").isNotNull())
    glob = rows.groupBy("__v").agg(F.count(F.lit(1)).alias("__gc"))
    # n and m are scalars of the |values|-row relation — a 1-row agg
    # attached back via the constant-key broadcast hash join (an
    # unpartitioned window here would trip the repo-wide
    # global-window audit, and rightly so as a habit)
    nm = glob.agg(
        F.sum("__gc").alias("__n"), F.count(F.lit(1)).alias("__m")
    )
    glob = attach_scalar_row(glob, nm, "__gc", "__n")
    grp = rows.groupBy(*quasi_cols, "__v").agg(
        F.count(F.lit(1)).alias("__c")
    )
    sizes = rows.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("group_size")
    )
    # the full groups × values grid: absent values carry cnt 0 (the
    # cumulative difference must keep flowing through them). The
    # grid expansion is a constant-key broadcast HASH join (the
    # _attach_cents trick — a non-foldable always-0 key keeps the
    # plan BroadcastHashJoin so the repo-wide no-BNLJ audit holds).
    grid = (
        sizes.withColumn(
            "__k", F.pmod(F.col("group_size"), F.lit(1)).cast("int")
        )
        .join(
            F.broadcast(
                glob.withColumn(
                    "__k", F.pmod(F.col("__gc"), F.lit(1)).cast("int")
                )
            ),
            "__k",
        )
        .drop("__k")
        .join(grp, [*quasi_cols, "__v"], "left")
        .withColumn("__c", F.coalesce(F.col("__c"), F.lit(0)))
    )
    w = (
        Window.partitionBy(*quasi_cols)
        .orderBy(F.col("__v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.withColumn(
        "__cum",
        F.sum(
            F.col("__c") * F.col("__n")
            - F.col("__gc") * F.col("group_size")
        ).over(w),
    )
    return (
        cum.groupBy(*quasi_cols)
        .agg(
            F.max("group_size").alias("group_size"),
            F.sum(F.abs(F.col("__cum"))).alias("__sa"),
            F.max("__n").alias("__n"),
            F.max("__m").alias("__m"),
        )
        # m = 1 (single-value sensitive domain) is trivially t-close
        # — every group's distribution IS the global one — and the
        # EMD denominator is 0 there: Spark div would yield NULL
        # (silent pass) while DuckDB // raises, a cross-engine
        # divergence. Guard BEFORE dividing, on both engines
        # (round-8 advisor fix).
        .filter(F.col("__m") >= 2)
        .withColumn(
            "emd_micro",
            F.expr(
                "(__sa * 1000000L) div "
                "(group_size * __n * (__m - 1))"
            ),
        )
        .filter(F.col("emd_micro") > t_micro)
        .select(*quasi_cols, "group_size", "emd_micro")
    )


def t_closeness_oracle_sql(
    from_sql: str,
    quasi_sql: list[str],
    sensitive_sql: str,
    t_micro: int,
) -> str:
    """DuckDB twin of :func:`t_closeness_violations`
    (bit-identical: integer cumulative EMD, ``//`` floor division)."""
    q = ", ".join(quasi_sql)
    return f"""
    WITH rows_ AS (
        SELECT {q}, {sensitive_sql} AS v
        FROM {from_sql} WHERE {sensitive_sql} IS NOT NULL
    ),
    gdist AS (
        SELECT v, COUNT(*) AS gc FROM rows_ GROUP BY 1
    ),
    tot AS (
        SELECT SUM(gc) AS n, COUNT(*) AS m FROM gdist
    ),
    grp AS (
        SELECT {q}, v, COUNT(*) AS c FROM rows_ GROUP BY ALL
    ),
    sizes AS (
        SELECT {q}, COUNT(*) AS group_size FROM rows_ GROUP BY ALL
    ),
    grid AS (
        SELECT s.*, g.v, g.gc, t.n, t.m, COALESCE(p.c, 0) AS c
        FROM sizes s CROSS JOIN gdist g CROSS JOIN tot t
        LEFT JOIN grp p
          ON p.v = g.v AND {" AND ".join(f"p.{c} = s.{c}" for c in quasi_sql)}
    ),
    cum AS (
        SELECT {q}, group_size, n, m,
               SUM(c * n - gc * group_size) OVER (
                   PARTITION BY {q} ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cd
        FROM grid
    ),
    agg AS (
        SELECT {q}, MAX(group_size) AS group_size,
               SUM(ABS(cd)) AS sa, MAX(n) AS n, MAX(m) AS m
        FROM cum GROUP BY ALL
    )
    SELECT {q}, group_size, emd_micro FROM (
        SELECT {q}, group_size,
               (sa * 1000000) // (group_size * n * (m - 1)) AS emd_micro
        FROM agg
        WHERE m >= 2
    )
    WHERE emd_micro > {t_micro}
    """


def table_fingerprint(
    df: DataFrame,
    cols: list[str] | None = None,
    decimal_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Order-insensitive content fingerprint of a relation: one row
    (n_rows, fingerprint) where fingerprint is the sum (mod 2^59,
    kept positive in a BIGINT) of a 56-bit per-row digest — the
    anti-entropy primitive for "are these two copies of a 100 TB
    table identical?" across clusters, engines, or replication hops
    without moving any data: each side computes locally and compares
    16 bytes.

    Addition is commutative, so the digest is independent of row
    order and partitioning; it is also mergeable (fingerprint of a
    union = modular sum of fingerprints when the parts are disjoint),
    which makes per-partition fingerprints roll up for free. ONE
    scan, map-side partial aggregation, a 2-value result — no
    shuffle of data-sized state.

    Engine portability: the row digest is the first 14 hex digits of
    md5 over a canonical string rendering — every engine with md5 +
    string concat reproduces it. Canonicalization rules (the
    contract both sides must share): NULL → ``\\N``, timestamps →
    ``yyyy-MM-dd HH:mm:ss``, and any double/real column must be
    listed in ``decimal_cols`` with a decimal type (e.g.
    ``{"o_totalprice": "DECIMAL(18,2)"}``) — raw floating-point
    rendering is NOT portable across engines, so unlisted doubles
    raise rather than silently fingerprint unportably.
    """
    cols = cols or df.columns
    decimal_cols = decimal_cols or {}
    parts: list[Column] = []
    for c in cols:
        dt = df.schema[c].dataType.simpleString()
        col = F.col(c)
        if c in decimal_cols:
            col = col.cast(decimal_cols[c]).cast("string")
        elif dt in ("double", "float"):
            raise ValueError(
                f"column {c!r} is {dt}: floating-point rendering is not "
                "engine-portable — list it in decimal_cols with an "
                "explicit decimal type"
            )
        elif dt == "timestamp":
            col = F.date_format(col, "yyyy-MM-dd HH:mm:ss")
        elif dt == "date":
            col = F.date_format(col, "yyyy-MM-dd")
        else:
            col = col.cast("string")
        parts.append(F.coalesce(col, F.lit("\\N")))
    canon = F.concat_ws("\x1f", *parts)
    # 56-bit digest; summed as DECIMAL(38,0) — a BIGINT sum would
    # overflow past ~128 rows (2^56 each) and ANSI mode makes that a
    # runtime error, not a wrap. DuckDB's BIGINT sum widens to
    # HUGEINT natively, so the oracle sums plainly.
    digest = (
        F.conv(F.substring(F.md5(canon), 1, 14), 16, 10)
        .cast("decimal(38,0)")
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(digest) % F.lit(2**59).cast("decimal(38,0)"))
        .cast("long")
        .alias("fingerprint"),
    )


def table_fingerprint_oracle_sql(
    table: str,
    cols: list[str],
    types: dict[str, str],
    decimal_cols: dict[str, str] | None = None,
) -> str:
    """DuckDB twin of :func:`table_fingerprint` — same canonical
    string, same md5-prefix digest, same modular sum. ``types`` maps
    each column to its logical type ('timestamp', 'date', or
    anything else for plain string cast)."""
    decimal_cols = decimal_cols or {}
    rendered = []
    for c in cols:
        if c in decimal_cols:
            rendered.append(
                f"CAST(CAST({c} AS {decimal_cols[c]}) AS VARCHAR)"
            )
        elif types.get(c) == "timestamp":
            rendered.append(f"strftime({c}, '%Y-%m-%d %H:%M:%S')")
        elif types.get(c) == "date":
            rendered.append(f"strftime({c}, '%Y-%m-%d')")
        else:
            rendered.append(f"CAST({c} AS VARCHAR)")
    parts = ", ".join(f"COALESCE({r}, '\\N')" for r in rendered)
    return f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(
               ((SUM(CAST(('0x' || substring(
                     md5(concat_ws(chr(31), {parts})), 1, 14))
                 AS BIGINT)) % {2**59}) + {2**59}) % {2**59}
           AS BIGINT) AS fingerprint
    FROM {table}
    """
