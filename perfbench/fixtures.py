"""Seeded benchmark inputs, written as parquet with numpy + pyarrow.

The program under test only ever sees these files. Every generator is
a pure function of its seed, so the same seed gives byte-identical
inputs. The shapes follow the repository's fixture schemas
(FIXTURES.md) so that the registry's queries and DuckDB oracles run
on them unchanged.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])
# The synthetic-document vocabulary of io.synth_source, so the
# curation thresholds in the shipped pipeline YAML behave as tuned.
VOCAB = np.array(
    (
        "the a data row key value table scan join merge sort hash filter "
        "window batch stream fast slow big small group query line part "
        "order customer agg spark"
    ).split()
)

# etl_top3: a denormalized sales fact split over many files.
FACT_ROWS = 1_000_000
FACT_FILES = 16
FACT_PRODUCTS = 200_000

# query_mix: the star schema at TPC-H-like scale factor 0.01.
STAR_ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500,
    "embeddings": 500,
}

# The curation corpus: synthdocs-shaped docs with planted duplicates.
CORPUS_DOCS = 400
CORPUS_TOKENS = 54
CORPUS_DUP_EVERY = 100
CORPUS_HOT = 50
CORPUS_SOURCES = 10


def _fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def write_fact(out_dir: str, seed: int) -> int:
    """Write the top-3 job's input and return its row count.

    The content is fixed; ``seed`` only permutes which rows land in
    which of the ``FACT_FILES`` files, so the correct answer is the
    same for every seed. Each region's two best sales figures are
    planted on two products each, so the answer depends on the
    tiebreak column.
    """
    rng = np.random.default_rng(0)
    n = FACT_ROWS
    region = rng.integers(0, len(REGIONS), n)
    product = rng.integers(0, FACT_PRODUCTS, n)
    sales = np.round(rng.uniform(1.0, 99_000.0, n), 2)
    for r in range(len(REGIONS)):
        rows = np.flatnonzero(region == r)[:4]
        sales[rows] = [99_999.0, 99_999.0, 99_500.5, 99_500.5]
    order = np.random.default_rng(seed).permutation(n)
    names = pa.array(np.char.add("P", np.arange(FACT_PRODUCTS).astype(str)))
    table = pa.table({
        "region": pa.DictionaryArray.from_arrays(
            pa.array(region[order], pa.int32()), pa.array(REGIONS)),
        "product": pa.DictionaryArray.from_arrays(
            pa.array(product[order], pa.int32()), names),
        "sales": pa.array(sales[order]),
    })
    _fresh_dir(out_dir)
    step = -(-n // FACT_FILES)
    for i in range(FACT_FILES):
        pq.write_table(
            table.slice(i * step, step), f"{out_dir}/part-{i:03d}.parquet"
        )
    return n


def _doc_texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    toks = VOCAB[rng.integers(0, len(VOCAB), (n, hi))]
    return [" ".join(row[:k]) for row, k in zip(toks, lens)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-token docs with planted near-duplicates (one token
    changed, every 20th doc) and exact duplicates (every 50th), so
    the pair-detection queries have true pairs to find."""
    texts = _doc_texts(rng, n, 12, 100)
    for i in range(1, n):
        if i % 50 == 2:
            texts[i] = texts[i - 1]
        elif i % 20 == 1:
            words = texts[i - 1].split()
            words[-1] = "spark" if words[-1] != "spark" else "agg"
            texts[i] = " ".join(words)
    langs = np.array(["en", "en", "en", "en", "de", "es", "fr", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), n)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    label = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vec = centers[label] + rng.normal(0.0, 0.8, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _unique_money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    """``n`` distinct two-decimal amounts in [lo, hi), in random order
    (distinct so that top-k and running-window queries have no ties)."""
    cents = np.unique(rng.integers(int(lo * 100), int(hi * 100), 2 * n))
    return rng.choice(cents, n, replace=False) / 100.0


def write_star(out_dir: str, seed: int) -> None:
    """Write the ten fixture tables the query registry reads."""
    rng = np.random.default_rng(seed)
    rows = STAR_ROWS
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_li, n_ev = rows["orders"], rows["lineitem"], rows["events"]
    colors = np.array(["red", "blue", "green", "small", "large", "shiny", "old", "new"])
    nouns = np.array(["widget", "anvil", "ring", "bolt", "gear", "valve", "pipe", "spring"])
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    ev_types = np.array(["signup", "view", "click", "purchase", "error"])
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_unique_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_unique_money(rng, n_supp, -999.99, 9999.99)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(np.char.add(
                np.char.add(colors[rng.integers(0, 8, n_part)], " "),
                nouns[rng.integers(0, 8, n_part)],
            )),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(np.array(
                ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
            )[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_unique_money(rng, n_ord, 1000.0, 500000.0)),
            "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": pa.array(priorities[rng.integers(0, 5, n_ord)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_unique_money(rng, n_li, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _days(rng, "1995-01-02", 2500, n_li),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                np.datetime64(datetime(2024, 1, 1), "us")
                + ev_ts.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": pa.array(ev_types[rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    _fresh_dir(out_dir)
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


def write_corpus(out_dir: str, seed: int) -> pa.Table:
    """Write the curation corpus and return it.

    Doc ``k*100+1`` repeats doc ``k*100`` and the last ``CORPUS_HOT``
    docs share one text, as in io.synth_source's ``dup_every`` and
    ``hot_cluster``. ``seed`` picks the texts and the ``source``
    label of every doc, which is what ``cap_per_category`` groups on.
    """
    rng = np.random.default_rng(seed)
    n = CORPUS_DOCS
    toks = VOCAB[rng.integers(0, len(VOCAB), (n, CORPUS_TOKENS))]
    texts = [" ".join(row) for row in toks]
    for i in range(n):
        if i % CORPUS_DUP_EVERY == 1:
            texts[i] = texts[i - 1]
        if i > n - CORPUS_HOT:
            texts[i] = texts[n - CORPUS_HOT]
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "source": pa.array(
            np.char.add("s", rng.integers(0, CORPUS_SOURCES, n).astype(str))
        ),
    })
    _fresh_dir(out_dir)
    pq.write_table(table, f"{out_dir}/part-000.parquet")
    return table
