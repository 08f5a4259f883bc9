"""Distributed PCA over an ``array<float>`` embedding column.

The dimension-reduction / whitening stage a vector pipeline runs in front
of index build (FAISS's OPQ/PCAMatrix pre-transforms; reduces the
reference's 1536-dim regime to an index-friendly width). Spark-first
shape:

- **sufficient statistics, one distributed pass**: per-partition partial
  (n, Σx, ΣxxT) via mapInArrow (one BLAS ``x.T @ x`` per Arrow batch),
  then a single-task combine — the classic mergeable-moments pattern, so
  corpus size only affects the first (fully parallel) stage.
- **eigendecomposition on the driver**: the combined covariance is d×d —
  O(dim²) scalars, INDEPENDENT of corpus size (64-dim fixtures: 4 KB;
  the reference's 1536 dims: ~19 MB — still a driver-trivial eigh).
  ``max_dim`` guards against misuse on wider-than-covariance-fits data.
- **projection is a narrow Arrow UDF**: one (batch × d) @ (d × k) matmul
  per batch; components ride the UDF closure.

Determinism: eigh of a symmetric matrix with distinct eigenvalues is
deterministic up to per-component sign; signs are canonicalized (largest
|coordinate| made positive) so repeated fits are bit-stable. Sign
ambiguity is inherent to PCA ⇒ rows-only at the driver gate; invariants
(orthonormality, variance ordering, reconstruction) are pinned in
tests/test_pca.py.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquetaivectorsearch_spark.functions.vector import arrow_list, arrow_matrix


@dataclass
class PCAModel:
    mean: np.ndarray        # (d,)
    components: np.ndarray  # (k, d) — rows are principal axes
    explained_var: np.ndarray  # (k,) eigenvalues, descending
    n: int


def fit_pca(corpus: DataFrame, k: int = 8, vec_col: str = "embedding",
            max_dim: int = 4096) -> PCAModel:
    """One distributed stats pass + driver eigh. See module docstring."""
    stats_schema = "n LONG, s ARRAY<DOUBLE>, ss ARRAY<DOUBLE>"

    def stats_batch(n, s, ss):
        double_list = pa.list_(pa.float64())
        return pa.RecordBatch.from_arrays(
            [pa.array([n], pa.int64()), arrow_list(s[None, :], double_list),
             arrow_list(ss.reshape(1, -1), double_list)],
            names=["n", "s", "ss"])

    def partial(batches):
        n, s, ss = 0, None, None
        for batch in batches:
            if not batch.num_rows:
                continue
            x = arrow_matrix(batch.column(vec_col), np.float64)
            if x.shape[1] > max_dim:
                raise ValueError(
                    f"fit_pca: dim {x.shape[1]} > max_dim {max_dim} — the "
                    "d×d covariance would not be driver-safe")
            n += len(x)
            s = x.sum(0) if s is None else s + x.sum(0)
            g = x.T @ x
            ss = g if ss is None else ss + g
        if n:
            yield stats_batch(n, s, ss)

    parts = corpus.select(vec_col).mapInArrow(partial, stats_schema)

    def combine(batches):
        n, s, ss = 0, None, None
        for batch in batches:
            bs = arrow_matrix(batch.column("s"), np.float64)
            bss = arrow_matrix(batch.column("ss"), np.float64)
            for i, bn in enumerate(batch.column("n").to_pylist()):
                n += bn
                s = bs[i] if s is None else s + bs[i]
                ss = bss[i] if ss is None else ss + bss[i]
        if n:
            yield stats_batch(n, s, ss)

    one = parts.coalesce(1).mapInArrow(combine, stats_schema).toArrow()
    if not one.num_rows:
        raise ValueError("fit_pca: empty corpus")
    n = one.column("n")[0].as_py()
    s = arrow_matrix(one.column("s"), np.float64)[0]
    d = len(s)
    ss = arrow_matrix(one.column("ss"), np.float64)[0].reshape(d, d)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # (k, d)
    # canonical sign: the largest-|coordinate| entry of each axis positive
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return PCAModel(mean=mean, components=comps,
                    explained_var=np.maximum(vals[order], 0.0), n=n)


def pca_project(corpus: DataFrame, model: PCAModel,
                vec_col: str = "embedding",
                out_col: str = "pvec") -> DataFrame:
    """Append the k-dim projection (x − mean) @ componentsᵀ as
    ``array<float>`` — a shuffle-free narrow map."""
    mean = model.mean
    ct = model.components.T  # (d, k)

    @F.arrow_udf(T.ArrayType(T.FloatType()))
    def proj(vecs: pa.Array) -> pa.Array:
        x = arrow_matrix(vecs, np.float64)
        return arrow_list(((x - mean) @ ct).astype(np.float32),
                          pa.list_(pa.float32()))

    return corpus.withColumn(out_col, proj(F.col(vec_col)))
