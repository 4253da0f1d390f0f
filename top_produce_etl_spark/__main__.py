"""CLI job runner — the entry point the reference scaffolded but
never finished (``src/main/job_runner.py:3-6`` contains only a stray
copy of the config loader; the intended flow is reconstructed in
SURVEY.md §3, entry point 2).

Usage::

    python -m top_produce_etl_spark --env dev [--config-dir configs]
        [--master local[*]] [--show N]

Flow: load ``config_{env}.{yaml,json}`` → typed :class:`JobConfig` →
session factory (reference confs: AQE, Arrow, snappy, Kryo) →
top-N-per-group job, computed once by its partitioned write → row
count read back from the written output (or, with no output
configured, one count of the plan) → optional preview.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="top_produce_etl_spark",
        description="Config-driven top-N-per-group batch job",
    )
    ap.add_argument("--env", default="dev", help="config_{env}.yaml|json")
    ap.add_argument("--config-dir", default="configs")
    ap.add_argument("--master", default="local[*]")
    ap.add_argument(
        "--show", type=int, default=0, metavar="N",
        help="print the first N result rows after the run "
             "(re-executes the job's plan)",
    )
    args = ap.parse_args(argv)

    from top_produce_etl_spark.config import load_config
    from top_produce_etl_spark.logging_util import setup_logging
    from top_produce_etl_spark.plans.builder import run_topn_job
    from top_produce_etl_spark.session import create_spark_session

    log = setup_logging("top_produce_etl_spark")
    cfg = load_config(args.env, args.config_dir)
    log.info("loaded config env=%s input=%s", cfg.env, cfg.input.path)

    spark = create_spark_session(
        f"top-produce-{cfg.env}", master=args.master
    )
    try:
        try:
            out = run_topn_job(spark, cfg)
        except Exception as e:  # clean message for the common misstep
            if "PATH_NOT_FOUND" in str(e):
                log.error(
                    "input path %s does not exist — point config_%s at "
                    "real data, or seed a demo input first, e.g.:\n"
                    "  python -c \"import duckdb; duckdb.sql(\\\"COPY "
                    "(SELECT r_name AS region, CAST(p_partkey AS VARCHAR)"
                    " AS product, p_retailprice AS sales FROM "
                    "'/root/testdata/sf0.01/part.parquet' p, "
                    "'/root/testdata/sf0.01/region.parquet' r"
                    ") TO '%s' (FORMAT PARQUET)\\\")\"",
                    cfg.input.path, cfg.env, cfg.input.path,
                )
                return 2
            raise
        dest = cfg.output.path if cfg.output else None
        if dest:
            # count what the write left on disk (parquet: footers
            # only) instead of re-running the plan
            n = (
                spark.read.format(cfg.output.format)
                .options(**cfg.output.options)
                .load(dest)
                .count()
            )
        else:
            n = out.count()  # a write-less job's only action
        log.info("job done: %d rows%s", n, f" -> {dest}" if dest else "")
        if args.show:
            out.show(args.show, truncate=False)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
