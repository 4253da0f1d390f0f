"""The one owner of cache lifetime: persisted-DataFrame registry and
the caller's release scope.

Iterative operators (dedup signature tables, PageRank/LPA edge
relations, MMR candidate pools) reference the same base relation
from every round's plan; without an explicit persist, Spark's lazy
lineage re-executes that base PER ROUND and per downstream branch —
an O(rounds) recompute that bench exposed directly (MMR 13 s → ~2 s
once its pool stopped being rebuilt five times).

The contract has two sides:

- Package code (operators, queries, builder, streaming jobs) only
  PERSISTS, through :func:`persist_tracked`. It never releases a
  frame it returns a plan over: the returned DataFrame is lazy, and
  releasing before the caller's action makes Spark silently
  recompute every persisted relation. The one exception is
  :func:`release` of a frame no returned plan reads any more (the
  previous round of an iterative loop).
- The CALLER that materializes the result releases, by running the
  action inside :func:`pipeline_session` (or, for a harness that
  owns the whole process, with :func:`unpersist_all`).

Caches exist only to share work across the consumers of one plan,
never across queries — with one exception, the PQ train-once memo
(``operators/pq.py``, ``cache_key``). It holds a session's encoded
corpus and re-registers it here on every search that names the same
corpus, so while the caller's release scope lasts, repeated searches
reuse one cached encode (the faiss shape: encode offline, search
online). The memo is kept because it is measured: at sf0.1 on 4
cores (one warm-up plus five timed runs), calling ``fit()`` on every
search raised the warm medians of ``pq_topk_fast`` from 1.47 to
4.28 s, ``ivfpq_topk_embeddings`` from 2.14 to 5.17 s and
``pq_topk_embeddings`` from 2.87 to 4.80 s. Its entries are keyed by
Spark application id and evicted once their session is gone.
MEMORY_AND_DISK: these relations are
model/pool/edge-aggregate sized; if one ever outgrows memory it
spills instead of evicting mid-job.

This module imports only pyspark, so any package module can import
it at module level without a cycle.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist ``df`` (memory-and-disk) and track it for release."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(df)
    return df


def release(df: DataFrame) -> None:
    """Unpersist one tracked frame and drop it from the registry."""
    df.unpersist()
    _PERSISTED[:] = [held for held in _PERSISTED if held is not df]


def _release_from(mark: int) -> int:
    n = len(_PERSISTED) - mark
    while len(_PERSISTED) > mark:
        _PERSISTED.pop().unpersist()
    return n


def unpersist_all() -> int:
    """Release every tracked persist; returns the number released.
    For harnesses that own the whole process — library callers use
    :func:`pipeline_session`."""
    return _release_from(0)


@contextmanager
def pipeline_session() -> Iterator[None]:
    """Release scope for callers of the package's lazy plans: frames
    persisted during the ``with`` block are released on exit, so a
    library caller can't leak MEMORY_AND_DISK frames across calls.
    Frames registered before entry are left alone, so an inner scope
    never drops what an outer caller still needs. (Spark keys its
    cache by plan: an inner frame with the SAME plan as an outer one
    shares its cache entry, and releasing it drops that entry.)

    Usage::

        with pipeline_session():
            out = build_pipeline(spark, spec, tables)
            rows = out.collect()   # materialize INSIDE the scope

    Materialize inside the block — the persists exist precisely to
    share work across the plan's consumers; releasing them before the
    action would silently re-derive every boundary.
    """
    mark = len(_PERSISTED)
    try:
        yield
    finally:
        _release_from(mark)
