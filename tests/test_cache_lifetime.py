"""Cache lifetime has one owner: ``operators/_cache.py``. Package code
persists only through ``persist_tracked``; releasing is the caller's
job (``pipeline_session``), so no other package module may call
Spark's persist/cache/unpersist or drain the registry itself."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "top_produce_etl_spark"
OWNER = PACKAGE / "operators" / "_cache.py"
FORBIDDEN_METHODS = {"cache", "persist", "unpersist"}


def _direct_cache_calls(source: str) -> list[tuple[int, str]]:
    found = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(
            fn, "id", None
        )
        if name == "unpersist_all" or (
            isinstance(fn, ast.Attribute) and name in FORBIDDEN_METHODS
        ):
            found.append((node.lineno, name))
    return found


def test_only_cache_module_persists_or_releases():
    offenders = [
        f"{path.relative_to(PACKAGE)}:{line} {name}()"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != OWNER
        for line, name in _direct_cache_calls(path.read_text())
    ]
    assert not offenders, offenders

