"""Vector math over ``array<float>`` columns (SURVEY.md §2.7-2.8).

The reference delegates its distance kernel to a SIMD dot product
(``DotProductDistance.DotProductOptimized``, handed to HNSW at
Program.cs:256; System.Numerics.Tensors dep, csproj:15). Here the canonical
path is pure Catalyst higher-order functions — ``zip_with`` + ``aggregate``
stay inside whole-stage codegen on the JVM, so the "SIMD" is Tungsten — and
the bulk path (KNN join over many queries) is a numpy Arrow UDF where BLAS
does a matrix-matrix multiply per Arrow batch.

``arrow_matrix`` / ``arrow_list`` are the one conversion between an Arrow
list column and an ``(n, d)`` numpy matrix, used by every vector kernel
(mapInArrow / applyInArrow / arrow_udf bodies, driver ``toArrow()`` pulls).

All folds accumulate **sequentially in double** (left fold over array
elements) so results are bit-reproducible and match a DuckDB oracle doing
the same fold — see tests/test_oracle_parity.py.

Public type is ``array<float>`` end-to-end (parquet- and oracle-friendly);
no VectorUDT in the public surface (SURVEY.md §7 hard parts).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Dot product of two float arrays as a double, sequential left fold.

    Mirrors the reference's distance kernel semantics (Program.cs:256) with
    deterministic double accumulation.
    """
    prods = F.zip_with(_col(a), _col(b),
                       lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: ColumnOrName) -> Column:
    """Euclidean norm as a double."""
    return F.sqrt(F.aggregate(
        _col(a), F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))


def normalize(a: ColumnOrName) -> Column:
    """Unit-normalize a float array (returns array<double>); zero vector → nulls."""
    arr = _col(a)
    nrm = l2_norm(arr)
    return F.transform(arr, lambda x: F.when(nrm > 0, x.cast("double") / nrm))


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    """cos(a, b) as a double. The fixture vectors are not unit-norm, so this
    differs from raw dot (unlike the reference's unit-norm OpenAI embeddings
    where dot ≡ cosine, Program.cs:29-30)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def dot_product_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """The reference's search metric: smaller = closer (it re-sorts ascending
    by distance, Program.cs:219). Defined as ``1 - dot`` per the HNSW.Net
    dot-product distance convention for normalized vectors."""
    return F.lit(1.0) - dot(a, b)


def int8_quantize(df, vec_col: ColumnOrName = "embedding",
                  id_col: ColumnOrName = "vec_id"):
    """Symmetric per-vector int8 scalar quantization → (id, scale,
    qvec: array<tinyint>): the storage tier below PQ — genuinely 4× smaller
    than float32 (ByteType elements, not 32-bit ints), exact dequant by one
    multiply. qvec_i = floor(x_i/scale + 0.5), scale = max|x|/127; values
    are bounded to [-127, 127] by construction so tinyint never overflows.
    Round-half-up via floor keeps Spark and a DuckDB oracle bit-identical
    (their round() builtins disagree on half-way ties). Pure Catalyst HOFs
    — a shuffle-free narrow map."""
    vec, vid = _col(vec_col), _col(id_col)
    max_abs = F.array_max(F.transform(vec, lambda x: F.abs(x))).cast("double")
    s = df.select(vid.alias("vec_id"), vec.alias("embedding"),
                  max_abs.alias("max_abs"))
    scale = F.col("max_abs") / F.lit(127.0)
    qvec = F.when(
        F.col("max_abs") > 0,
        F.transform("embedding",
                    lambda x: F.floor(x.cast("double") / scale + F.lit(0.5))
                    .cast("tinyint")),
    ).otherwise(F.transform("embedding", lambda x: F.lit(0).cast("tinyint")))
    return s.select("vec_id", "embedding", scale.alias("scale"),
                    qvec.alias("qvec"))


def binary_quantize(df, vec_col: ColumnOrName = "embedding",
                    id_col: ColumnOrName = "vec_id"):
    """1-bit (sign) quantization → (vec_id, bcode: array<bigint>): bit j of
    word w is set iff x[64w+j] > 0 — one int64 per 64 dims, 32× smaller
    than float32. The crudest storage tier (below int8/PQ); its hamming
    distance is monotone in the angle for ~zero-mean vectors, so it serves
    as a shortlist scorer, never a final ranking. Pure Catalyst fold — a
    shuffle-free narrow map; shiftleft(1L, 63) wrapping to the sign bit is
    two's-complement-intended. The word count is clamped to ≥1: on an empty
    vector, sequence(0, ceil(0/64)-1) = sequence(0,-1) is DESCENDING in
    Spark ([0,-1] — two garbage words), so an empty embedding would hash to
    a 2-word code and NULL out hamming_distance via zip-pad; clamped, it
    yields one zero word, comparable with any same-dim code."""
    vec, vid = _col(vec_col), _col(id_col)
    word = (
        "aggregate(sequence(0, 63), 0L, (acc, j) -> acc + "
        "CASE WHEN try_element_at(__v, w * 64 + j + 1) > 0 "
        "THEN shiftleft(1L, j) ELSE 0L END)"
    )
    bcode = F.expr(
        "transform(sequence(0, greatest(int(ceil(size(__v) / 64.0)), 1) - 1), "
        f"w -> {word})"
    )
    return (df.select(vid.alias("vec_id"), vec.alias("__v"))
            .select("vec_id", bcode.alias("bcode")))


def hamming_distance(a: ColumnOrName, b: ColumnOrName):
    """Σ bit_count(a_w XOR b_w) over the packed code words — all codegen."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def arrow_matrix(arr: pa.Array | pa.ChunkedArray, dtype=None) -> np.ndarray:
    """Arrow ``list<float|double|int>`` (chunked or sliced) → ``(n, d)``
    ndarray via one ``flatten()`` and a reshape; ``dtype=None`` keeps the
    value type, else one exact conversion. Raises ``ValueError`` on a
    null or ragged row; empty input gives a ``(0, 0)`` matrix."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if arr.null_count:
        raise ValueError("arrow_matrix: null vector row")
    if n == 0:
        return np.empty((0, 0), dtype=dtype)
    lens = pc.min_max(pc.list_value_length(arr))
    d = lens["min"].as_py()
    if lens["max"].as_py() != d:
        raise ValueError("arrow_matrix: ragged vector rows")
    flat = arr.flatten().to_numpy(zero_copy_only=False).reshape(n, d)
    return flat if dtype is None else flat.astype(dtype, copy=False)


def arrow_list(mat: np.ndarray, type: pa.ListType) -> pa.ListArray:
    """``(n, d)`` ndarray → ``ListArray`` of list type ``type`` (one row
    per matrix row) from the flat values and ``d``-step offsets; values
    are cast once to the element type."""
    mat = np.asarray(mat)
    n, d = mat.shape
    values = pa.array(mat.reshape(-1).astype(type.value_type.to_pandas_dtype(),
                                             copy=False), type.value_type)
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * d, pa.int32())
    return pa.ListArray.from_arrays(offsets, values, type=type)


@arrow_udf(T.DoubleType())
def vec_dot_arrow(a: pa.Array, b: pa.Array) -> pa.Array:
    """Arrow-batched numpy dot product — the bulk fast path.

    Each batch arrives as two Arrow list arrays; ``arrow_matrix`` views
    each as one (batch, dim) matrix so BLAS does the whole batch in one
    einsum — the Spark analog of the reference's SIMD kernel, amortized
    per Arrow batch instead of per call (cf. hoisting comment
    Program.cs:39-40).

    Note: numpy einsum reduction order differs from the sequential Catalyst
    fold in ``dot`` by O(1e-13) relative — use ``dot`` when oracle hash
    equality matters, this when throughput matters.
    """
    return pa.array(np.einsum("ij,ij->i", arrow_matrix(a), arrow_matrix(b),
                              dtype=np.float64), pa.float64())


def maxsim_score(doc_col: ColumnOrName, query_col: ColumnOrName,
                 n_tok: int, tok_dim: int) -> Column:
    """ColBERT MaxSim (Khattab & Zaharia 2020) over fixed-geometry token
    views: both vectors are read as ``n_tok`` consecutive ``tok_dim``-dim
    sub-vectors; score = Σ over query tokens of the max dot against any doc
    token.

    Entirely row-local — an ``n_tok × n_tok`` grid of sequential-fold dots
    combined with ``greatest`` and a fixed left-to-right sum, so the whole
    expression stays inside one codegen projection and is deterministic
    (no aggregation-order ambiguity reaches a downstream ROUND)."""
    def tok(col: ColumnOrName, i: int) -> Column:
        return F.slice(col, 1 + i * tok_dim, tok_dim)

    per_qi = [
        F.greatest(*[dot(tok(doc_col, j), tok(query_col, i))
                     for j in range(n_tok)])
        if n_tok > 1 else dot(tok(doc_col, 0), tok(query_col, 0))
        for i in range(n_tok)
    ]
    score = per_qi[0]
    for c in per_qi[1:]:
        score = score + c
    return score
