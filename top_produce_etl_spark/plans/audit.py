"""Plan audit — programmatic physical-plan linting.

"Run ``.explain`` and iterate until it's the plan you'd want" is a
workflow; this module turns it into an API so pipelines can assert
scale properties in CI instead of eyeballing plan dumps:

    audit = plan_audit(df)
    assert audit["exchanges"] <= 1
    assert not audit["cartesian"]
    assert_scalable(df, max_exchanges=2, forbid=("cartesian",
                    "python_row_udf"))

Checks are string-level over the formatted physical plan (the same
surface ``df.explain("formatted")`` prints — stable enough for the
properties we assert, and requires no JVM internals).
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The plan string ``df.explain(mode)`` would print.

    Fast path goes through the JVM gateway (no stdout redirection);
    under Spark Connect or if the private hooks move, fall back to
    capturing ``df.explain`` output — same surface, works on any
    session type."""
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )
    except AttributeError:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode=mode)
        return buf.getvalue()


def plan_audit(df: DataFrame) -> dict[str, Any]:
    """Summarize scale-relevant properties of the physical plan.

    Keys:
      exchanges            shuffle exchange count (broadcast NOT counted)
      broadcast_exchanges  broadcast exchange count
      broadcast_joins / sortmerge_joins / shuffled_hash_joins
      cartesian            CartesianProduct or BroadcastNestedLoopJoin present
      window_nodes         window operator count (skew-sensitive)
      python_row_udf       row-at-a-time Python UDF present
                           (BatchEvalPython — NOT counting UDTF nodes,
                           reported separately)
      python_udtf          Python table function present
                           (BatchEvalPythonUDTF / ArrowEvalPythonUDTF) —
                           a Python-process path like a row UDF, but a
                           distinct, deliberate API surface; the
                           registry audit allows it only for the
                           explicitly-exempted UDTF-coverage queries
      arrow_udf            Arrow-batched pandas UDF present
      pushed_filters       list of PushedFilters entries (non-empty scans)
      read_schemas         list of ReadSchema structs per scan
      partial_agg          a map-side (partial) aggregate exists
      aqe                  plan is adaptive
      oversized_broadcast_hints  forced broadcast hints whose build
                           side exceeds the broadcast threshold (see
                           ``broadcast_hint_audit``) — the 100 TB
                           OOM pattern
    """
    p = explain_str(df, "formatted")
    return {
        "exchanges": len(re.findall(r"\(\d+\) Exchange\b", p)),
        "broadcast_exchanges": len(re.findall(r"\(\d+\) BroadcastExchange\b", p)),
        "broadcast_joins": p.count("BroadcastHashJoin"),
        "sortmerge_joins": p.count("SortMergeJoin"),
        "shuffled_hash_joins": p.count("ShuffledHashJoin"),
        "cartesian": "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p,
        "window_nodes": len(re.findall(r"\(\d+\) (?:Running)?Window", p)),
        # windowspecdefinition whose FIRST argument is already the
        # ordering (col ASC/DESC) or the frame itself = no PARTITION
        # BY: the whole input moves to ONE task — fine over a
        # cell/aggregate-sized frame, a scale-killer over data-sized
        # input (WindowExec "No Partition Defined" warning)
        "global_window": bool(
            re.search(
                r"windowspecdefinition\((?:[^,()\s]+ (?:ASC|DESC)"
                r"|specifiedwindowframe)",
                p,
            )
        ),
        "python_row_udf": bool(
            re.search(r"BatchEvalPython(?!UDTF)", p)
        ),
        "python_udtf": "BatchEvalPythonUDTF" in p
        or "ArrowEvalPythonUDTF" in p,
        "arrow_udf": "ArrowEvalPython" in p
        or "FlatMapGroupsInPandas" in p
        or "MapInPandas" in p,
        "pushed_filters": [
            m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", p) if m.strip()
        ],
        "read_schemas": re.findall(r"ReadSchema: struct<([^>]*)>", p),
        "partial_agg": "partial_" in p,
        "aqe": "AdaptiveSparkPlan" in p,
        "oversized_broadcast_hints": broadcast_hint_audit(df),
    }


def _parse_size_bytes(v: str | int) -> int:
    """Parse a Spark size conf value (``10485760``, ``"10MB"``,
    ``"512k"``, ``"-1"``) to bytes."""
    s = str(v).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if s.endswith(suffix):
            mult, s = m, s[:-1]
            break
    return int(float(s) * mult)


def broadcast_threshold_bytes(df: DataFrame) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in
    bytes (-1 → 0: broadcast joins disabled)."""
    try:
        raw = df.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10MB"
        )
        return max(0, _parse_size_bytes(raw))
    except Exception:
        return 10 << 20


def broadcast_hint_audit(
    df: DataFrame, max_bytes: int | None = None
) -> list[str]:
    """Find author-FORCED broadcast hints whose build side's estimated
    size exceeds the session broadcast threshold (or ``max_bytes``).

    A hint below the threshold is harmless (the planner would
    broadcast anyway); a hint ABOVE it is the one case where the hint
    changes behavior — it overrides the size check unconditionally, so
    on a 100 TB input the job OOMs instead of falling back to a
    shuffle join. This walks the optimized LOGICAL plan (where hints
    live on Join nodes after ``EliminateResolvedHint``) — planner- or
    AQE-chosen broadcasts are not hints and are never flagged.

    Returns one description per violation (empty list = clean). On
    session types without py4j plan access (Spark Connect) returns []
    — the rule is advisory there.
    """
    if max_bytes is None:
        max_bytes = broadcast_threshold_bytes(df)
    if max_bytes <= 0:
        max_bytes = 10 << 20
    problems: list[str] = []
    try:
        root = df._jdf.queryExecution().optimizedPlan()
    except Exception:
        return problems

    def check_side(node, opt_hint, side_fn, side_name):
        if not opt_hint.isDefined():
            return
        if "broadcast" not in opt_hint.get().toString().lower():
            return
        size = int(side_fn().stats().sizeInBytes())
        if size > max_bytes:
            problems.append(
                f"forced broadcast hint on {side_name} side of a join: "
                f"estimated {size} bytes > threshold {max_bytes} — "
                "hint only fixed-cardinality sides; join inputs that grow "
                "with the data unhinted (the planner's threshold decides)"
            )

    def walk(node):
        if node.nodeName() == "Join":
            h = node.hint()
            check_side(node, h.leftHint(), node.left, "left")
            check_side(node, h.rightHint(), node.right, "right")
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    try:
        walk(root)
    except Exception:
        return problems
    return problems


_FORBIDDABLE = (
    "cartesian", "python_row_udf", "sortmerge_joins", "window_nodes",
    "oversized_broadcast_hints",
)


def assert_scalable(
    df: DataFrame,
    max_exchanges: int | None = None,
    forbid: tuple[str, ...] = (
        "cartesian", "python_row_udf", "oversized_broadcast_hints"
    ),
) -> dict[str, Any]:
    """Raise ``AssertionError`` when the plan violates scale rules;
    return the audit otherwise. ``forbid`` entries come from
    ``_FORBIDDABLE`` (truthiness-checked audit keys)."""
    audit = plan_audit(df)
    problems = []
    if max_exchanges is not None and audit["exchanges"] > max_exchanges:
        problems.append(
            f"{audit['exchanges']} shuffle exchanges (max {max_exchanges})"
        )
    for key in forbid:
        if key not in _FORBIDDABLE:
            raise ValueError(f"unknown forbid key: {key}")
        if audit[key]:
            problems.append(f"forbidden plan feature: {key}={audit[key]}")
    if problems:
        raise AssertionError(
            "; ".join(problems) + "\n" + explain_str(df, "simple")
        )
    return audit
