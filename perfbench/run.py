"""Benchmark of the top-produce ETL engine.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload etl_top3 --seed 1 --seconds 25 --trace 0

Workloads (closed loop, one client, ``local[<cores>]``):

- ``etl_top3``: one op is one run of the shipped CLI job in a fresh
  process, as a scheduler launches it: read a multi-file sales fact,
  keep the top 3 products per region, write partitioned parquet.
- ``query_mix``: an analyst's warm session. One pass runs 8 of the
  headline registry queries over a generated star schema, then the
  shipped curation pipeline (``configs/pipeline_mix_curate_pack.yaml``)
  over a generated corpus and writes the packed layout. Each query
  and the pipeline run is one op, timed on its first run in a session
  that has already run one other query.

For etl_top3, another op starts while one as long as the last ends
within ``--seconds`` of the first; at least one runs. A query_mix run
measures one pass, which takes about ``--seconds``. Every op's output
is checked; a wrong or failed op counts in ``failed``. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``, the end-to-end metrics with ``--trace 0`` and the
per-layer metrics (trace_layers.py) with ``--trace 1``. See README.md
for the metric definitions.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = os.cpu_count() or 4
MASTER = f"local[{CORES}]"
# Cheap set-up steps are repeated and their median reported, so that
# setup_s is steady enough to catch work moved into set-up.
SETUP_REPEATS = 3

# Part of bench.py's headline set, enough to cover every layer that has
# a per-layer metric while a run stays short: minhash_lsh_pairs (the
# slowest query; ngram_jaccard_pairs covers pair detection),
# running_customer_spend, union_all_segments and json_pack_events are
# left out, and top_orders_global is the session's warm-up query.
HEADLINE = [
    "flagship_top3_region",
    "q1_pricing_summary",
    "left_join_order_counts",
    "asof_join_purchase_click",
    "session_windows_30m",
    "ngram_jaccard_pairs",
    "cosine_topk_bruteforce",
    "text_stats",
]
# Run once, untimed, before the timed pass.
WARMUP_QUERY = "top_orders_global"
CURATE_OP = "curate_pack"
PACK_BUDGET = 512

sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)


def _env() -> None:
    """Keep every file the program writes inside the checkout, and let
    Spark's Python workers import the package."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def result_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name,
    floats to 10 significant digits (the oracle battery's rule)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\x1e".join(cols[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return f"{len(lines)}:{h.hexdigest()}"


def _files(path: str) -> tuple[int, int]:
    """(data files, bytes) under an output directory."""
    n = size = 0
    for d, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def _fits(t_start: float, last: float, seconds: float) -> bool:
    """Whether one more op as long as the last one ends
    within ``seconds`` of ``t_start``."""
    return time.perf_counter() - t_start + last <= seconds


# ---------------------------------------------------------------------------
# etl_top3


def _fact_oracle(fact_dir: str) -> str:
    import duckdb

    rows = duckdb.sql(
        f"""SELECT region, product, sales, rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY region ORDER BY sales DESC, product) AS rank
              FROM read_parquet('{fact_dir}/*.parquet')) WHERE rank <= 3"""
    ).fetchall()
    return result_hash(["region", "product", "sales", "rank"], rows)


def _written_top3(out_dir: str) -> str:
    import duckdb

    rows = duckdb.sql(
        f"""SELECT region, product, sales, rank FROM read_parquet(
              '{out_dir}/*/*.parquet', hive_partitioning = true)"""
    ).fetchall()
    return result_hash(["region", "product", "sales", "rank"], rows)


def run_etl_top3(args, sampler, tracer) -> dict:
    from fixtures import write_fact

    t_begin = time.perf_counter()
    base = os.path.join(WORK, "etl_top3")
    fact, out = os.path.join(base, "fact"), os.path.join(base, "out")
    setup = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        n_rows = write_fact(fact, args.seed)
        expected = _fact_oracle(fact)
        setup.append(time.perf_counter() - t0)
    cfg_dir = os.path.join(base, "cfg")
    os.makedirs(cfg_dir, exist_ok=True)
    with open(os.path.join(cfg_dir, "config_bench.json"), "w") as f:
        json.dump({
            "env": "bench",
            "input": {"source_type": "file", "path": fact, "format": "parquet"},
            "output": {"source_type": "file", "path": out, "format": "parquet"},
            "processing": {
                "group_by_column": "region", "target_metric": "sales",
                "top_n": 3, "tiebreak_column": "product",
            },
        }, f)
    cli_args = ["--env", "bench", "--config-dir", cfg_dir, "--master", MASTER]

    ops = []
    # a traced run alternates plain and traced jobs, which gives the
    # tracing overhead from the same run
    min_ops = 2 if tracer else 1
    t_start = time.perf_counter()
    while len(ops) < min_ops or _fits(t_start, ops[-1]["wall"], args.seconds):
        traced = tracer is not None and len(ops) % 2 == 1
        shutil.rmtree(out, ignore_errors=True)
        cpu0, pyw0 = sampler.cpu_s(), sampler.python_worker_cpu_s()
        sampler.take_peak_rss_mb()
        t0 = time.perf_counter()
        if traced:
            job = tracer.run_cli(cli_args)
        else:
            job = subprocess.run(
                [sys.executable, "-m", "top_produce_etl_spark", *cli_args],
                cwd=ROOT, capture_output=True, text=True,
            )
        wall = time.perf_counter() - t0
        ok = (
            job.returncode == 0
            and "job done: 15 rows" in job.stderr
            and _written_top3(out) == expected
            and (not traced or tracer.rows_in == n_rows)
        )
        if job.returncode != 0:
            sys.stderr.write(job.stderr[-3000:])
        ops.append({
            "name": "etl_top3", "wall": wall, "ok": ok, "traced": traced,
            "cpu": sampler.cpu_s() - cpu0, "rss": sampler.take_peak_rss_mb(),
            "pyw": sampler.python_worker_cpu_s() - pyw0, "files": _files(out),
        })
        # the child's JVM exits on its own only after the child, so it
        # would overlap the next op
        sampler.stop_tree()
    return {"setup_s": t_start - t_begin - sum(setup) + statistics.median(setup),
            "ops": ops, "units": n_rows,
            "traced_units": sum(o["traced"] for o in ops)}


# ---------------------------------------------------------------------------
# query_mix


def _curate_spec(n_docs: int) -> dict:
    from top_produce_etl_spark.plans.builder import load_pipeline_spec

    spec = load_pipeline_spec(
        os.path.join(ROOT, "configs", "pipeline_mix_curate_pack.yaml")
    )
    # cap and budget are per-corpus quantities (bench.py funnel_probe):
    # 10 sources of ~n/10 docs, capped at 95%; ~54 tokens per doc,
    # keep about a fifth of the corpus
    for op in spec["ops"]:
        if op["op"] == "cap_per_category":
            op["cap"] = int(n_docs / 10 * 0.95)
        elif op["op"] == "budget_select":
            op["budget"] = n_docs * 11
    return spec


def _star_oracles(star: str) -> dict[str, str]:
    import duckdb

    from top_produce_etl_spark.queries import get_all_oracles

    oracles = get_all_oracles()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(star)):
            con.execute(
                f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM '{star}/{f}'"
            )
        out = {}
        for name in [*HEADLINE, WARMUP_QUERY]:
            res = con.execute(oracles[name])
            out[name] = result_hash(
                [d[0] for d in res.description], res.fetchall()
            )
        return out
    finally:
        con.close()


def _packed_check(packed: str, hot_ids: set[int]) -> tuple[str, bool]:
    """(survivor-set hash, layout ok): no bin over the token budget and
    no doc of the byte-identical hot cluster left (span stripping
    empties them, so curation must drop them)."""
    import duckdb

    tbl = f"read_parquet('{packed}/*.parquet')"
    over = duckdb.sql(
        f"SELECT count(*) FROM (SELECT shard, bin FROM {tbl} GROUP BY ALL "
        f"HAVING sum(n_tokens) > {PACK_BUDGET})"
    ).fetchone()[0]
    ids = [r[0] for r in duckdb.sql(f"SELECT doc_id FROM {tbl}").fetchall()]
    survivors = result_hash(["doc_id"], [(i,) for i in ids])
    return survivors, over == 0 and not hot_ids & set(ids) and bool(ids)


def run_query_mix(args, sampler, tracer) -> dict:
    from fixtures import CORPUS_DOCS, CORPUS_HOT, write_corpus, write_star

    if tracer:
        tracer.install()
    from top_produce_etl_spark.io.sinks import write_table
    from top_produce_etl_spark.io.sources import read_table
    from top_produce_etl_spark.operators._cache import unpersist_all
    from top_produce_etl_spark.plans.builder import build_pipeline, pipeline_session
    from top_produce_etl_spark.queries import get_all_queries
    from top_produce_etl_spark.session import create_spark_session

    base = os.path.join(WORK, "query_mix")
    star, corpus = os.path.join(base, "star"), os.path.join(base, "corpus")
    packed = os.path.join(base, "packed")

    t0 = t_begin = time.perf_counter()
    spark = create_spark_session(
        "perfbench-query-mix", master=MASTER,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            **(tracer.spark_conf() if tracer else {}),
        },
    )
    session_s = time.perf_counter() - t0
    try:
        fixture_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            write_star(star, args.seed)
            write_corpus(corpus, args.seed)
            expected = _star_oracles(star)
            fixture_s.append(time.perf_counter() - t0)
        hot_ids = set(range(CORPUS_DOCS - CORPUS_HOT, CORPUS_DOCS))
        queries = get_all_queries()
        spec = _curate_spec(CORPUS_DOCS)

        def curate() -> None:
            with pipeline_session():
                out = build_pipeline(
                    spark, spec, {"documents": read_table(spark, corpus)}
                )
                write_table(out, packed)

        survivors: list[str] = []
        span = tracer.span if tracer else (lambda _name: nullcontext())

        def one(name: str, traced: bool) -> dict:
            cpu0, pyw0 = sampler.cpu_s(), sampler.python_worker_cpu_s()
            t0 = time.perf_counter()
            try:
                with tracer.op(name, spark) if traced else nullcontext():
                    if name == CURATE_OP:
                        curate()
                    else:
                        with span("queries.build"):
                            df = queries[name](spark, star)
                        with span("queries.exec"):
                            rows = df.collect()
                wall = time.perf_counter() - t0
                if name == CURATE_OP:
                    got, ok = _packed_check(packed, hot_ids)
                    survivors.append(got)
                    ok = ok and got == survivors[0]
                else:
                    ok = result_hash(df.columns, rows) == expected[name]
            except Exception as e:  # an op that raises is a failed op
                wall, ok = time.perf_counter() - t0, False
                sys.stderr.write(f"{name}: {type(e).__name__}: {e}\n")
            finally:
                unpersist_all()
            if not ok:
                sys.stderr.write(f"{name}: wrong result\n")
            return {
                "name": name, "wall": wall, "ok": ok, "traced": traced,
                "cpu": sampler.cpu_s() - cpu0,
                "pyw": sampler.python_worker_cpu_s() - pyw0,
                "files": _files(packed) if name == CURATE_OP else (0, 0),
            }

        # the session's first query pays the engine's one-time costs
        t0 = time.perf_counter()
        warm = one(WARMUP_QUERY, False)
        warm_s = time.perf_counter() - t0
        # planted truth on the strip stage alone: every doc of the
        # byte-identical hot cluster that survives the cap is emptied
        with pipeline_session():
            hot = [
                r["text_clean"]
                for r in build_pipeline(
                    spark, {"source": "documents", "ops": spec["ops"][:2]},
                    {"documents": read_table(spark, corpus)},
                ).where(f"doc_id >= {CORPUS_DOCS - CORPUS_HOT}").collect()
            ]
        setup_ok = warm["ok"] and bool(hot) and not any(hot)

        ops: list[dict] = []
        sampler.take_peak_rss_mb()
        # A traced run makes two passes; each op runs traced in one and
        # plain in the other, traced first for every other op, so that
        # trace.overhead_frac compares as many first runs on each side.
        t_start = time.perf_counter()
        for n_pass in range(2 if tracer else 1):
            ops += [
                one(n, tracer is not None and (n_pass + i) % 2 == 0)
                for i, n in enumerate([*HEADLINE, CURATE_OP])
            ]
        rss = sampler.take_peak_rss_mb()
        for o in ops:
            o["rss"] = rss
    finally:
        spark.stop()
    return {
        "setup_s": t_start - t_begin - sum(fixture_s) + statistics.median(fixture_s),
        "ops": ops, "units": 1, "setup_ok": setup_ok, "session_s": session_s,
        "warmup_s": warm_s, "traced_units": 1 if tracer else 0,
    }


# ---------------------------------------------------------------------------


WORKLOADS = {"etl_top3": run_etl_top3, "query_mix": run_query_mix}


def end_to_end(run: dict, ops: list[dict]) -> dict:
    return {
        "setup_s": (run["setup_s"], "s"),
        "cpu_s_per_op": (sum(o["cpu"] for o in ops) / len(ops), "s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "top_produce_etl_spark", "__main__.py")):
        sys.stderr.write(
            f"perfbench: no top_produce_etl_spark package under {ROOT}; "
            "run from the root of a full checkout\n"
        )
        return 2
    _env()

    from procstat import TreeSampler

    tracer = None
    if args.trace:
        from trace_layers import Tracer

        tracer = Tracer(os.path.join(WORK, "trace"))
    # a term signal unwinds like an error, so the tree is still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    with TreeSampler() as sampler:
        try:
            run = WORKLOADS[args.workload](args, sampler, tracer)
        finally:
            # Spark's gateway JVM and its Python workers outlive
            # spark.stop(); no process of the run may outlive it
            sampler.stop_tree()
    ops = run["ops"]
    failed = sum(not o["ok"] for o in ops)
    correct = failed == 0 and run.get("setup_ok", True)
    plain = [o for o in ops if not o["traced"]]
    detail = {k: v for k, v in run.items() if k != "ops"}
    detail["peak_rss_mb"] = max(o["rss"] for o in ops)
    # op latency is reported here, not as a metric: on a shared host
    # it spread 0.21-0.28 over ten query_mix seeds (see README.md)
    detail["op_geomean_s"] = statistics.geometric_mean(o["wall"] for o in plain)
    detail["throughput_per_s"] = (
        run["units"] * len(plain) / sum(o["wall"] for o in plain)
    )
    detail["op_walls"] = {}
    for o in ops:
        detail["op_walls"].setdefault(o["name"], []).append(round(o["wall"], 3))
    print(json.dumps({"detail": detail}), flush=True)
    if tracer:
        metrics = tracer.per_layer(
            [o for o in ops if o["traced"]], run["traced_units"],
            statistics.geometric_mean(o["wall"] for o in plain), run.get("session_s"),
        )
    else:
        metrics = end_to_end(run, plain)
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
