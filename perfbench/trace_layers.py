"""Traced runs: per-layer metrics from spans and Spark's event log.

Spans are recorded from the benchmark's side only, by wrapping the
public functions of each layer (``LAYERS``) and the names that
consumer modules re-bind through ``from … import`` (``REBOUND``).
Entering a span sets the Spark job description to the span's id, so
every Spark job is attributed to the innermost span that launched it.
Work that a layer only plans and a later action runs is attributed by
the physical operator's own metrics in the event log (``OPERATOR``):
scan time to ``io.sources``, sort time to ``operators.topn``,
broadcast collect time to ``operators.joins``, Python worker traffic
to ``functions``.

The event log is written uncompressed and non-rolling, so that the
standard library can read it.

Span times are self times (duration minus direct child spans), summed
over the traced ops and divided by the number of traced units: CLI
jobs for etl_top3, passes for query_mix. ``queries.*`` and the
engine totals of an op kind are per op of that kind.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "top_produce_etl_spark"
LAYERS = {
    "session": ["create_spark_session"],
    "plans.builder": ["run_topn_job", "build_pipeline"],
    "io.sources": ["read_table"],
    "io.sinks": ["write_table"],
    "operators.topn": ["top_n_window", "top_n_agg"],
    "operators.mixture": ["cap_per_category", "budget_select"],
    "operators.dedup": ["strip_duplicate_spans"],
    "operators.textquality": ["curation_funnel"],
    "operators.packing": ["pack_sequences"],
}
REBOUND = {"plans.builder": ["read_table", "write_table", "top_n_window", "top_n_agg"]}

# layer metric -> span name whose self time it sums
SPAN = {
    "plans.builder.run_topn_job_s": "plans.builder.run_topn_job",
    "plans.builder.build_pipeline_s": "plans.builder.build_pipeline",
    "io.sources.read_table_s": "io.sources.read_table",
    "io.sinks.write_s": "io.sinks.write_table",
    "operators.mixture.cap_s": "operators.mixture.cap_per_category",
    "operators.mixture.budget_s": "operators.mixture.budget_select",
    "operators.dedup.strip_spans_s": "operators.dedup.strip_duplicate_spans",
    "operators.textquality.funnel_s": "operators.textquality.curation_funnel",
    "operators.packing.pack_s": "operators.packing.pack_sequences",
}
# (physical node name prefix, SQL metric name) -> layer metric
OPERATOR = {
    ("Scan", "scan time"): "io.sources.scan_s",
    ("Scan", "size of files read"): "io.sources.bytes_read",
    ("Sort", "sort time"): "operators.topn.sort_s",
    ("BroadcastExchange", "time to collect"): "operators.joins.broadcast_collect_s",
    ("", "data sent to Python workers"): "functions.python_bytes_sent",
    ("", "data returned from Python workers"): "functions.python_bytes_returned",
}
OP_KINDS = ("etl_top3", "queries", "curate_pack")
ENGINE = {"executor_cpu_s": "s", "gc_s": "s", "task_wait_s": "s",
          "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
          "spill_bytes": "bytes", "failed_tasks": "count"}
PAIR_QUERIES = ("ngram_jaccard_pairs", "minhash_lsh_pairs")
TOPK_QUERIES = ("cosine_topk_bruteforce",)

HERE = os.path.dirname(os.path.abspath(__file__))


def op_kind(name: str) -> str:
    return name if name in ("etl_top3", "curate_pack") else "queries"


class Tracer:
    """Records spans in memory and folds them with the event logs
    under ``work`` into per-layer metrics."""

    def __init__(self, work: str, fresh: bool = True):
        self.work = work
        self.events = os.path.join(work, "events")
        if fresh:
            shutil.rmtree(work, ignore_errors=True)
        os.makedirs(self.events, exist_ok=True)
        self.spans: list[dict] = []  # id, name, parent, t0, t1
        self.ops: list[dict] = []  # id, name, cache
        self.app_base: dict[str, int] = {}  # event log app id -> span id offset
        self.session_start: list[float] = []
        self.rows_in = None
        self.app_id = None
        self.active = False
        self._stack: list[dict] = []
        self._installed = False

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    # -- spans -------------------------------------------------------------

    @staticmethod
    def _describe(desc: str | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobDescription(desc)

    @contextmanager
    def span(self, name: str):
        """A span under the current one; a no-op outside a traced op."""
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name,
             "parent": parent["id"] if parent else None,
             "t0": time.perf_counter(), "t1": None}
        self.spans.append(s)
        self._stack.append(s)
        self._describe(f"pb:{s['id']}")
        try:
            yield s
        finally:
            s["t1"] = time.perf_counter()
            self._stack.pop()
            self._describe(f"pb:{parent['id']}" if parent else None)

    @contextmanager
    def op(self, name: str, spark):
        """One traced op of the in-process session."""
        self.active = True
        try:
            with self.span(name) as s:
                yield
                cache = _cache_state(spark)
        finally:
            self.active = False
        self.ops.append({"id": s["id"], "name": name, "cache": cache})

    def install(self) -> None:
        """Wrap each layer's public functions, once per process."""
        if self._installed:
            return
        self._installed = True
        wrapped = {}
        for layer, names in LAYERS.items():
            mod = importlib.import_module(f"{PKG}.{layer}")
            for n in names:
                wrapped[n] = self._wrap(f"{layer}.{n}", getattr(mod, n))
                setattr(mod, n, wrapped[n])
        for layer, names in REBOUND.items():
            mod = importlib.import_module(f"{PKG}.{layer}")
            for n in names:
                setattr(mod, n, wrapped[n])

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            if name == "session.create_spark_session":
                kw["extra_conf"] = {**(kw.get("extra_conf") or {}),
                                    **tracer.spark_conf()}
                t0 = time.perf_counter()
                with tracer.span(name):
                    spark = fn(*a, **kw)
                tracer.session_start.append(time.perf_counter() - t0)
                tracer.app_id = spark.sparkContext.applicationId
                return spark
            if name == "plans.builder.run_topn_job" and len(a) < 3 \
                    and "metrics_out" not in kw:
                # the job's own observe() counters, to check rows_in
                kw["metrics_out"] = metrics = {}
                with tracer.span(name):
                    out = fn(*a, **kw)
                tracer.rows_in = metrics.get("rows_in")
                return out
            with tracer.span(name):
                return fn(*a, **kw)

        return wrapper

    # -- the CLI job in a child process -----------------------------------

    def run_cli(self, cli_args: list[str]) -> subprocess.CompletedProcess:
        """Run the CLI through etl_launcher.py with spans and the event
        log on, and adopt the child's spans under one op span."""
        out = os.path.join(self.work, "launcher.json")
        t0 = time.perf_counter()
        job = subprocess.run(
            [sys.executable, os.path.join(HERE, "etl_launcher.py"),
             self.work, out, *cli_args],
            cwd=os.path.dirname(HERE), capture_output=True, text=True,
        )
        op = {"id": len(self.spans), "name": "etl_top3", "parent": None,
              "t0": t0, "t1": time.perf_counter()}
        self.spans.append(op)
        self.ops.append({"id": op["id"], "name": "etl_top3", "cache": (0, 0)})
        self.rows_in = None
        if os.path.exists(out):
            with open(out) as f:
                child = json.load(f)
            os.remove(out)
            base = len(self.spans)
            for s in child["spans"]:
                self.spans.append({
                    **s, "id": s["id"] + base,
                    "parent": op["id"] if s["parent"] is None else s["parent"] + base,
                })
            self.rows_in = child["rows_in"]
            self.session_start += child["session_start"]
            self.app_base[child["app_id"]] = base
        return job

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "rows_in": self.rows_in,
                       "session_start": self.session_start,
                       "app_id": self.app_id}, f)

    # -- folding -----------------------------------------------------------

    def per_layer(self, run_ops: list[dict], units: int, plain_op_s: float,
                  session_s: float | None = None) -> dict:
        """Per-layer metrics; ``run_ops`` are the run's traced ops in
        order (wall, python worker CPU, output files)."""
        spans = {s["id"]: s for s in self.spans}
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)

        def dur(s):
            return s["t1"] - s["t0"]

        def self_time(s):
            return dur(s) - sum(dur(c) for c in kids[s["id"]])

        def op_of(sid):
            while spans[sid]["parent"] is not None:
                sid = spans[sid]["parent"]
            return sid

        ops = {o["id"]: {**o, **r} for o, r in zip(self.ops, run_ops)}
        kind = {i: op_kind(o["name"]) for i, o in ops.items()}
        n_kind = defaultdict(int)
        for k in kind.values():
            n_kind[k] += 1
        m: dict[str, tuple[float, str]] = {}

        def put(name, value, unit):
            m[name] = (float(value), unit)

        for metric, name in SPAN.items():
            put(metric, sum(self_time(s) for s in self.spans
                            if s["name"] == name) / units, "s")
        after = []
        for s in self.spans:
            if s["name"] == "__main__.main":
                ends = [c["t1"] for c in self.spans
                        if c["name"] == "plans.builder.run_topn_job"
                        and op_of(c["id"]) == op_of(s["id"])]
                after += [s["t1"] - max(ends)] if ends else []
        put("main.after_write_s", sum(after) / units, "s")
        starts = self.session_start or [session_s or 0.0]
        put("session.start_s", statistics.mean(starts), "s")

        def query_time(span_name, pick):
            """Mean self time of ``span_name`` under the picked query ops."""
            sel = [i for i, o in ops.items() if pick(o["name"])]
            return sum(self_time(c) for i in sel for c in kids[i]
                       if c["name"] == span_name) / max(len(sel), 1)

        def is_query(n):
            return op_kind(n) == "queries"

        put("queries.build_s", query_time("queries.build", is_query), "s")
        put("queries.exec_s", query_time("queries.exec", is_query), "s")
        put("operators.dedup.pairs_exec_s",
            query_time("queries.exec", PAIR_QUERIES.__contains__), "s")
        put("operators.similarity.topk_exec_s",
            query_time("queries.exec", TOPK_QUERIES.__contains__), "s")

        walls = [o["wall"] for o in ops.values()]
        covered = sum(dur(c) for i in ops for c in kids[i])
        put("trace.coverage", covered / sum(walls), "ratio")
        put("trace.overhead_frac",
            statistics.geometric_mean(walls) / plain_op_s - 1.0, "ratio")
        put("operators._cache.frames_held",
            max(o["cache"][0] for o in ops.values()), "count")
        put("operators._cache.cached_bytes",
            max(o["cache"][1] for o in ops.values()), "bytes")
        put("io.sinks.files_written", sum(o["files"][0] for o in ops.values()) / units, "count")
        put("io.sinks.bytes_written", sum(o["files"][1] for o in ops.values()) / units, "bytes")
        put("functions.python_worker_cpu_s", sum(o["pyw"] for o in ops.values()) / units, "s")

        engine = defaultdict(float)
        per_query = defaultdict(float)
        operator = defaultdict(float)
        jobs = defaultdict(int)
        skews, firsts = [], []
        for app_id, app in _fold_event_logs(self.events).items():
            base = self.app_base.get(app_id, 0)
            if app["jobs"]:
                j = app["jobs"][min(app["jobs"])]
                firsts.append((j["end"] - j["start"]) / 1000.0)
            top_sort: dict[int, tuple[float, list]] = {}
            executions = set()
            for job_id, job in app["jobs"].items():
                desc = job["desc"] or ""
                sid = int(desc[3:]) + base if desc.startswith("pb:") else None
                if sid not in spans or op_of(sid) not in ops:
                    continue
                op_id = op_of(sid)
                k = kind[op_id]
                jobs[k] += 1
                executions.add(job["exec"])
                names = _chain(spans, sid)
                jobs["plans.builder"] += any(n.startswith("plans.builder.") for n in names)
                for stage_id in job["stages"]:
                    st = app["stages"].get(stage_id)
                    if not st or st["job"] != job_id or "engine" not in st:
                        continue
                    for e, v in st["engine"].items():
                        engine[(k, e)] += v
                        if ops[op_id]["name"] in PAIR_QUERIES:
                            per_query[e] += v
                    for key, v in st["ops"].items():
                        operator[key] += v
                    sort_ms = sum(v for (node, nm), v in st["ops"].items()
                                  if node.startswith("Sort") and nm == "sort time")
                    if sort_ms > top_sort.get(op_id, (0.0, []))[0]:
                        top_sort[op_id] = (sort_ms, st["durations"])
            for _, durs in top_sort.values():
                skews.append(max(durs) / max(statistics.median(durs), 1.0))
            for exec_id in executions:
                for key, v in app["exec_ops"].get(exec_id, {}).items():
                    operator[key] += v
        put("session.first_job_s", statistics.mean(firsts) if firsts else 0.0, "s")
        put("plans.builder.jobs", jobs["plans.builder"] / units, "count")
        nq = max(n_kind["queries"], 1)
        put("queries.jobs", jobs["queries"] / nq, "count")
        put("queries.tasks", engine[("queries", "tasks")] / nq, "count")
        for (node, name), metric in OPERATOR.items():
            v = sum(val for (n2, nm2), val in operator.items()
                    if n2.startswith(node) and nm2 == name)
            if metric.endswith("_s"):
                put(metric, v / 1000.0 / units, "s")
            else:
                put(metric, v / units, "bytes")
        put("operators.topn.task_skew", statistics.mean(skews) if skews else 0.0, "ratio")
        put("io.sources.scan_tasks",
            sum(engine[(k, "scan_tasks")] for k in OP_KINDS) / units, "count")
        put("operators.dedup.shuffle_write_bytes",
            per_query["shuffle_write_bytes"] / max(
                sum(o["name"] in PAIR_QUERIES for o in ops.values()), 1), "bytes")
        for k in OP_KINDS:
            for e, unit in ENGINE.items():
                put(f"{k}.{e}", engine[(k, e)] / max(n_kind[k], 1), unit)
        return m


def _cache_state(spark) -> tuple[int, int]:
    """(frames in the operator cache registry, bytes Spark holds cached)."""
    from top_produce_etl_spark.operators import _cache

    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(_cache._PERSISTED), sum(i.memSize() + i.diskSize() for i in infos)


def _chain(spans: dict, sid: int) -> list[str]:
    out = []
    while sid is not None:
        out.append(spans[sid]["name"])
        sid = spans[sid]["parent"]
    return out


def _plan_metrics(info: dict, out: dict) -> None:
    for mt in info.get("metrics", []):
        out[mt["accumulatorId"]] = (info["nodeName"], mt["name"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _fold_event_logs(events_dir: str) -> dict[str, dict]:
    """app id -> jobs (description, SQL execution, stages, start/end),
    stages (owning job, engine totals, task durations, operator
    metrics) and the operator metrics each SQL execution reports
    outside tasks."""
    apps = {}
    for path in sorted(glob.glob(os.path.join(events_dir, "*"))):
        jobs: dict[int, dict] = {}
        stages: dict[int, dict] = {}
        acc: dict[int, tuple[str, str]] = {}
        task_updates: list[tuple[dict, int, float]] = []
        exec_updates: list[tuple[int, int, float]] = []
        app_id = os.path.basename(path).split(".")[0]
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerApplicationStart":
                    app_id = ev.get("App ID", app_id)
                elif kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "desc": props.get("spark.job.description"),
                        "exec": props.get("spark.sql.execution.id"),
                        "stages": ev["Stage IDs"],
                        "start": ev["Submission Time"], "end": ev["Submission Time"],
                    }
                    for sid in ev["Stage IDs"]:
                        stages.setdefault(sid, {"job": jid})
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stages.setdefault(info["Stage ID"], {"job": None})[
                        "submitted"] = info.get("Submission Time")
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], {"job": None})
                    for a in _fold_task(st, ev):
                        task_updates.append((st, *a))
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _plan_metrics(ev["sparkPlanInfo"], acc)
                elif kind.endswith("AccumUpdates"):
                    exec_updates += [
                        (str(ev["executionId"]), a, float(v))
                        for a, v in ev["accumUpdates"]
                    ]
        exec_ops: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for exec_id, aid, v in exec_updates:
            if aid in acc:
                exec_ops[exec_id][acc[aid]] += v
        for st, aid, v in task_updates:
            if aid in acc:
                st["ops"][acc[aid]] += v
        apps[app_id] = {"jobs": jobs, "stages": stages, "exec_ops": exec_ops}
    return apps


_OPERATOR_NAMES = {name for _, name in OPERATOR}


def _fold_task(st: dict, ev: dict) -> list[tuple[int, float]]:
    """Add one task to its stage's totals; return its SQL metric
    updates as (accumulator id, value)."""
    eng = st.setdefault("engine", defaultdict(float))
    st.setdefault("ops", defaultdict(float))
    info = ev.get("Task Info") or {}
    tm = ev.get("Task Metrics") or {}
    st.setdefault("durations", []).append(
        info.get("Finish Time", 0) - info.get("Launch Time", 0))
    eng["tasks"] += 1
    eng["failed_tasks"] += bool(info.get("Failed"))
    if st.get("submitted"):
        eng["task_wait_s"] += max(info.get("Launch Time", 0) - st["submitted"], 0) / 1000.0
    eng["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    eng["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    sr = tm.get("Shuffle Read Metrics") or {}
    eng["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    eng["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    eng["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    eng["scan_tasks"] += (tm.get("Input Metrics") or {}).get("Records Read", 0) > 0
    out = []
    for a in info.get("Accumulables", []):
        if a.get("Name") in _OPERATOR_NAMES and "Update" in a:
            try:
                out.append((a["ID"], float(a["Update"])))
            except (TypeError, ValueError):
                continue
    return out
