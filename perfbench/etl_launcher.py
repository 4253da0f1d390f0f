"""Runs the CLI job, ``python -m top_produce_etl_spark <args>``, with
the benchmark's spans installed and Spark's event log on, then writes
the spans to a JSON file. Traced etl_top3 runs launch this in place
of the plain CLI.

Usage: python3 perfbench/etl_launcher.py <trace dir> <spans.json> <CLI args…>
"""

import os
import sys
import time

t_start = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from trace_layers import Tracer  # noqa: E402


def main() -> int:
    work, out, *argv = sys.argv[1:]
    tracer = Tracer(work, fresh=False)
    tracer.active = True
    with tracer.span("launcher.import") as s:
        s["t0"] = t_start
        tracer.install()
        from top_produce_etl_spark.__main__ import main as cli_main
    with tracer.span("__main__.main"):
        rc = cli_main(argv)
    tracer.dump(out)
    return rc


if __name__ == "__main__":
    sys.exit(main())
