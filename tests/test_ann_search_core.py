"""The ANN tier has one search core. Every neighbour cut goes through
``operators.topn.top_n_window`` (no hand-written ``row_number``
window), and ``operators/pq.py`` keeps one copy of each piece its
in-memory and stored-index searches share: codebook I/O, the
query-side lookup table and the persisted encoded corpus. Source
checks only; no Spark job runs."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "top_produce_etl_spark"
ANN_MODULES = [
    PACKAGE / "operators" / "similarity.py",
    PACKAGE / "operators" / "pq.py",
    PACKAGE / "operators" / "clustering.py",
    PACKAGE / "functions" / "udfs.py",
]
PQ = PACKAGE / "operators" / "pq.py"


def _tree(path: Path) -> ast.AST:
    return ast.parse(path.read_text())


def _calls_named(tree: ast.AST, name: str) -> int:
    return sum(
        1
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == name
    )


def _chain_attrs(node: ast.AST) -> set[str]:
    """Attribute names along a method chain such as
    ``spark.read.parquet(...)`` → {"parquet", "read"}."""
    attrs = set()
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            attrs.add(node.attr)
            node = node.value
        else:
            return attrs


def _parquet_io(tree: ast.AST, suffix: str) -> dict[str, int]:
    """Count ``….read….parquet(f"…{suffix}")`` and
    ``….write….parquet(f"…{suffix}")`` calls."""
    counts = {"read": 0, "write": 0}
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and node.args
        ):
            continue
        if suffix not in ast.unparse(node.args[0]):
            continue
        chain = _chain_attrs(node.func.value)
        for side in counts:
            if side in chain:
                counts[side] += 1
    return counts


def test_ann_searches_cut_only_through_top_n_window():
    offenders = [
        f"{path.relative_to(PACKAGE)}:{node.lineno}"
        for path in ANN_MODULES
        for node in ast.walk(_tree(path))
        if (isinstance(node, ast.Attribute) and node.attr == "row_number")
        or (isinstance(node, ast.Name) and node.id == "row_number")
    ]
    assert not offenders, offenders


def test_pq_has_one_copy_of_each_search_piece():
    tree = _tree(PQ)
    assert _parquet_io(tree, "/codebooks") == {"read": 1, "write": 1}
    assert _calls_named(tree, "persist_tracked") == 1
    assert _calls_named(tree, "_lut_col") == 1
