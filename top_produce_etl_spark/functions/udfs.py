"""Vectorized Python UDF surface (SURVEY.md §2.10).

The reference scaffold explicitly enabled Arrow for pandas
interchange (reference ``spark_helper.py:24``) — this module is
where that pays off. Rules of engagement (enforced by convention
across the engine):

- Built-in column expressions FIRST — everything in functions/ and
  queries/ is JVM-side; nothing here is used where an expression
  could do the job.
- When Python is unavoidable: pandas UDFs (Arrow-batched, columnar,
  ~10-100× over row-at-a-time ``F.udf``); ``applyInPandas`` for
  per-group logic; ``mapInPandas`` for per-batch logic.
- Row-at-a-time ``F.udf`` never appears in a hot path.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from top_produce_etl_spark.operators.topn import top_n_window


@pandas_udf(DoubleType())
def embedding_norm_pd(emb: pd.Series) -> pd.Series:
    """Scalar pandas UDF: L2 norm of an array<float> column.
    Arrow delivers the arrays as numpy — one vectorized call per
    batch, no per-row Python."""
    return emb.map(lambda v: float(np.linalg.norm(np.asarray(v, dtype=np.float64))))


@pandas_udf(DoubleType())
def weighted_avg_pd(x: pd.Series, w: pd.Series) -> float:  # GROUPED_AGG usage
    """Grouped-agg pandas UDF: Σwx/Σw (used via groupBy().agg())."""
    denom = w.sum()
    return float((x * w).sum() / denom) if denom != 0 else float("nan")


ZSCORE_SCHEMA_SUFFIX = "zscore double"


def normalize_by_group(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group z-score via ``applyInPandas`` (grouped-map): the
    template for per-group model-ish transforms. Ships the group to
    a Python worker as one Arrow batch — at 100 TB this requires
    groups that fit in worker memory (same constraint as any
    grouped-map); for plain z-scores the window-expression variant
    (`zscore_window_expr`) is preferred and this exists as the
    custom-logic template + test oracle."""
    schema = StructType(
        list(df.schema.fields) + [StructField("zscore", DoubleType())]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf[value_col].std(ddof=1)
        mean = pdf[value_col].mean()
        pdf = pdf.copy()
        pdf["zscore"] = (pdf[value_col] - mean) / std if std and std > 0 else 0.0
        return pdf

    return df.groupBy(group_col).applyInPandas(fn, schema)


def zscore_window_expr(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """The JVM-side equivalent of :func:`normalize_by_group` —
    what production code should use for plain z-scores."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col)
    mean = F.avg(value_col).over(w)
    std = F.stddev_samp(value_col).over(w)
    return df.withColumn(
        "zscore",
        F.when(std > 0, (F.col(value_col) - mean) / std).otherwise(F.lit(0.0)),
    )


def cosine_topk_numpy(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
) -> DataFrame:
    """BLAS fast path for brute-force cosine top-k: collect the
    (small) query set to the driver, closure-capture it into a
    ``mapInPandas`` that computes a matrix product per Arrow batch,
    emit per-batch top-k, reduce to global top-k with a window.

    This is the throughput path at scale (vectorized float64 math);
    the decimal-exact operator (operators.similarity) remains the
    determinism/oracle path. Rankings agree except on ~1e-15-scale
    score ties.
    """
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array(list(pdf[vec_col]), dtype=np.float64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Qn @ Cn.T  # |Q| x |batch|
            take = min(k + 1, S.shape[1])  # +1 in case self is in batch
            idx = np.argpartition(-S, take - 1, axis=1)[:, :take]
            rows = []
            for qi in range(len(q_ids)):
                for ci in idx[qi]:
                    if ids[ci] != q_ids[qi]:
                        rows.append((int(q_ids[qi]), int(ids[ci]), float(S[qi, ci])))
            yield pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine"])

    partial = corpus.select(id_col, vec_col).mapInPandas(fn, out_schema)
    return top_n_window(
        partial, "query_id", "cosine", k, tiebreak="neighbor_id"
    ).select("query_id", "neighbor_id", "cosine", "rank")


def unit_normalize_arrow(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """L2-normalize an embedding column via ``mapInArrow`` — the
    Arrow-batch surface (SURVEY.md §2.10): RecordBatches flow
    JVM→Python without pandas conversion. When every row has the
    same dimensionality (the normal case for an embedding column),
    numpy reads the list array's FLAT value buffer and reshapes —
    one vectorized divide per batch, no per-row Python; ragged
    batches fall back to a per-row path. Null vectors are filtered
    out Spark-side (a null embedding has no norm); empty batches are
    passed over (an empty partition still delivers one empty batch).

    Output schema: (id_col, vec_col array<double>, norm double).
    """
    import numpy as np
    import pyarrow as pa

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(vec_col, ArrayType(DoubleType())),
            StructField("norm", DoubleType()),
        ]
    )

    def fn(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            vecs = batch.column(1)
            lengths = np.diff(vecs.offsets.to_numpy(zero_copy_only=False))
            if len(set(lengths)) == 1:
                # fixed dim → reshape the flat Arrow value buffer
                flat = vecs.values.to_numpy(zero_copy_only=False)
                arr = flat.reshape(batch.num_rows, int(lengths[0]))
            else:  # ragged rows: per-row fallback
                arr = np.asarray(vecs.to_pylist(), dtype=object)
                norms = np.array(
                    [float(np.linalg.norm(np.asarray(v, dtype=np.float64))) for v in arr]
                )
                normed = [
                    (np.asarray(v, dtype=np.float64) / n).tolist() if n > 0 else list(v)
                    for v, n in zip(arr, norms)
                ]
                yield pa.record_batch(
                    [ids, pa.array(normed, type=pa.list_(pa.float64())),
                     pa.array(norms, type=pa.float64())],
                    names=[id_col, vec_col, "norm"],
                )
                continue
            norms = np.sqrt((arr * arr).sum(axis=1))
            safe = np.where(norms == 0.0, 1.0, norms)
            normed = arr / safe[:, None]
            yield pa.record_batch(
                [
                    ids,
                    pa.array(list(normed), type=pa.list_(pa.float64())),
                    pa.array(norms, type=pa.float64()),
                ],
                names=[id_col, vec_col, "norm"],
            )

    return df.select(
        F.col(id_col).cast("long"),
        F.col(vec_col).cast("array<double>"),
    ).filter(F.col(vec_col).isNotNull()).mapInArrow(fn, out_schema)
