"""Self-check harness replicating the driver's Spark-vs-DuckDB
comparison (row count + schema-insensitive column-name match +
order-insensitive value comparison), so oracle drift is caught
locally before the round gate runs.

Usage:  python tests/oracle_check.py [--all] [sf_dir] [query ...]

By default only the PRIMARY tier (what the driver sees) is checked;
``--all`` adds the extended tier so the merged-away originals stay
verified locally too.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from top_produce_etl_spark.operators._cache import unpersist_all
from top_produce_etl_spark.queries import (
    get_all_oracles,
    get_all_queries,
    get_oracles,
    get_queries,
)
from top_produce_etl_spark.session import create_spark_session
from top_produce_etl_spark.io.sources import TABLES


def normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    return str(v)


def compare(name: str, sf_dir: str, spark, con) -> tuple[bool, str]:
    sdf = get_all_queries()[name](spark, sf_dir)
    spark_cols = sorted(sdf.columns)
    spark_rows = [tuple(normalize(row[c]) for c in spark_cols) for row in sdf.collect()]

    res = con.execute(get_all_oracles()[name])
    duck_cols_orig = [d[0] for d in res.description]
    order = sorted(range(len(duck_cols_orig)), key=lambda i: duck_cols_orig[i])
    duck_cols = [duck_cols_orig[i] for i in order]
    duck_rows = [tuple(normalize(r[i]) for i in order) for r in res.fetchall()]

    if spark_cols != duck_cols:
        return False, f"cols: spark={spark_cols} duck={duck_cols}"
    if len(spark_rows) != len(duck_rows):
        return False, f"rowcount: spark={len(spark_rows)} duck={len(duck_rows)}"
    if sorted(spark_rows) != sorted(duck_rows):
        sset, dset = sorted(spark_rows), sorted(duck_rows)
        diff = next((i, a, b) for i, (a, b) in enumerate(zip(sset, dset)) if a != b)
        return False, f"values differ, first diff at sorted idx {diff[0]}:\n  spark={diff[1]}\n  duck ={diff[2]}"
    return True, f"OK ({len(spark_rows)} rows)"


def main():
    args = sys.argv[1:]
    include_ext = "--all" in args
    args = [a for a in args if a != "--all"]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    names = [a for a in args if not os.path.isdir(a)] or None

    # console progress bars write \r-frames that clobber result lines
    # when stdout is persisted to a file (r8 verdict nit #3: the
    # ROWS-ONLY line vanished from CORRECTNESS_ext_r08.txt under a
    # carriage return) — keep the battery's stdout line-clean
    spark = create_spark_session(
        "oracle-check",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracles = get_all_oracles() if include_ext else get_oracles()
    queries = get_all_queries() if include_ext else get_queries()
    if names:
        queries = get_all_queries()
        oracles = get_all_oracles()
    targets = names or sorted(queries)
    # Rows-only entries must carry a justification AND a pointer to
    # the hash-checked proof that covers them; anything else is a
    # battery bug (the r7 verdict drove this to exactly one entry).
    rows_only_covered = {
        "dsir_selection_fast": (
            "xxhash64 structurally inexpressible in DuckDB (wrapping "
            "mod-2^64 multiplies vs overflow-checked arithmetic); "
            "selection set invariant-proven by the hash-checked "
            "dsir_fast_selection_proof entry"
        ),
    }
    failures = 0
    for name in targets:
        if name not in oracles:
            n = queries[name](spark, sf_dir).count()
            unpersist_all()
            note = rows_only_covered.get(name)
            if note is None:
                print(f"{name:35s} FAIL unjustified rows-only ({n} rows)")
                failures += 1
            else:
                print(f"{name:35s} ROWS-ONLY ({n} rows) — {note}")
            continue
        try:
            ok, msg = compare(name, sf_dir, spark, con)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXC {type(e).__name__}: {e}"
        finally:
            # release per-query persisted frames (dedup/decontam
            # shingle tables) so the 120+-query battery doesn't
            # accumulate cached partitions
            unpersist_all()
        print(f"{name:35s} {'PASS' if ok else 'FAIL'} {msg}")
        failures += 0 if ok else 1
    print(f"\n{failures} failures / {len(targets)} queries")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
