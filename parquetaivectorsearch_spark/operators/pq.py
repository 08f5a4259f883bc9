"""Product Quantization (PQ): vector compression + asymmetric-distance
search — the third leg of the ANN triad next to IVF (operators/ann.py) and
the partitioned HNSW graph (operators/hnsw.py).

Algorithm per Jégou, Douze & Schmid, "Product Quantization for Nearest
Neighbor Search" (IEEE TPAMI 2011): split each d-dim vector into m
subvectors, k-means each subspace to k centroids, store each vector as m
small codes (m·log2(k) bits — 8 subspaces × 16 centroids = 4 bits/code =
4 bytes/vector here vs 256 bytes raw float32×64). Search computes one
(m × k) lookup table per query (inner products of query subvectors with
every centroid) and scores a compressed vector with m table lookups — the
asymmetric distance computation (ADC).

Spark shape (100 TB posture):
- codebook training is a capped driver-side sample (like the IVF coarse
  quantizer — the only driver-side math in the engine);
- encoding is one mapInArrow pass (numpy argmin per subspace per Arrow
  batch); codes persist as a parquet table ~64× smaller than the vectors,
  the working set that makes a billion-vector scan RAM-resident;
- ADC search scans only the codes table and keeps each query's
  tie-inclusive top-shortlist per Arrow batch (shuffles
  batches×|queries|×shortlist survivor rows);
- the shortlist is re-ranked exactly against the raw vectors (standard
  PQ + re-rank), so final top-k quality is set by the shortlist depth,
  not the quantization error.

The reference's HNSW holds every raw vector in RAM (Program.cs:26,106-107,
~6 GB at 1M×1536); PQ is how the same search fits when the corpus is
1000× that.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parquetaivectorsearch_spark.functions.vector import arrow_list, arrow_matrix
from parquetaivectorsearch_spark.operators.kmeans import (
    _merge_partial_sums, _partial_sums)
from parquetaivectorsearch_spark.operators.knn import per_query_topk, query_batch


def _kmeans_books(x: np.ndarray, m: int, k: int,
                  iters: int, seed: int,
                  init: np.ndarray | None = None) -> np.ndarray:
    """Per-subspace L2 k-means over a driver-resident sample matrix;
    returns float64[m, k, d/m]. Deterministic: seeded init, fixed
    iteration count. ``init`` warm-starts from existing codebooks
    (float64[m, k, d/m]) instead of re-seeding — the OPQ alternation
    needs this for its monotone-descent guarantee (ADVICE r10): Lloyd
    iterations from the PREVIOUS codebooks are non-increasing in
    distortion, whereas a fresh seeded init can jump anywhere."""
    n, d = x.shape
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, k, dsub))
    for j in range(m):
        xj = x[:, j * dsub:(j + 1) * dsub]
        cent = (init[j].copy() if init is not None
                else xj[rng.choice(n, size=k, replace=False)].copy())
        for _ in range(iters):
            d2 = ((xj[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cent[c] = xj[mask].mean(0)
        books[j] = cent
    return books


def _det_sample(df: DataFrame, cols: list[str], cap: int) -> pa.Table:
    """Deterministic capped training sample: bottom-``cap`` rows by
    xxhash64 of the selected columns (TakeOrderedAndProject — one scan,
    ``cap`` rows pulled, never a global sort). A bare ``limit(cap)``
    returns whichever partitions scan first, so the learned centers /
    rotations — and every rows-only query built on them — would drift
    across runs and file layouts (ADVICE r11). Hash-bottom-k is also a
    UNIFORM sample, unlike limit()'s file-layout bias. The hash column
    is the tiebreak-free sort key; distinct rows colliding on the 64-bit
    hash are broken by the columns themselves (arrays are orderable)."""
    h = F.xxhash64(*[F.col(c) for c in cols])
    return (df.select(*cols)
            .orderBy(h.asc(), *[F.col(c).asc() for c in cols])
            .limit(cap).toArrow())


def _sample_matrix(df: DataFrame, vec_col: str, cap: int) -> np.ndarray:
    """The deterministic capped training sample as a float64 matrix."""
    return arrow_matrix(_det_sample(df, [vec_col], cap).column(vec_col),
                        np.float64)


def _residual_sample(index, vec_col: str, cap: int) -> np.ndarray:
    """Deterministic capped sample of IVFADC residuals x − c(list(x)):
    ``index.centroids[:, :d]`` are the raw-space list means even under
    the 'ip' metric's norm-augmented assignment geometry (k-means means
    of the members' raw coordinates — operators/ann.py:_pre_corpus only
    APPENDS the augmentation column, never rescales the first d)."""
    t = _det_sample(index.lists, [vec_col, "list_id"], cap)
    x = arrow_matrix(t.column(vec_col), np.float64)
    rc = index.centroids.astype(np.float64)[:, :x.shape[1]]
    return x - rc[t.column("list_id").to_numpy()]


def train_pq(corpus: DataFrame, m: int = 8, k: int = 16,
             vec_col: str = "embedding", sample_cap: int = 50_000,
             iters: int = 10, seed: int = 42) -> np.ndarray:
    """Train per-subspace codebooks on a capped sample; returns
    float64[m, k, d/m]. Deterministic: seeded init, fixed iteration count,
    vectorized L2 k-means per subspace."""
    return _kmeans_books(_sample_matrix(corpus, vec_col, sample_cap),
                         m, k, iters, seed)


def train_pq_distributed(corpus: DataFrame, m: int = 8, k: int = 16,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id", rounds: int = 3,
                         residual_centroids: np.ndarray | None = None
                         ) -> np.ndarray:
    """The DISTRIBUTED codebook trainer (VERDICT r13 #1, the PQ half):
    per-subspace Lloyd over EVERY corpus row instead of ``train_pq``'s
    capped driver sample — at 100 TB a 50k sample under-represents tail
    structure and the quantizer's MSE silently degrades. Returns
    float64[m, k, d/m], drop-in for pq_encode/pq_adc_search.

    Spark shape — ALL m subspaces in ONE pass per round (m separate
    kmeans_lloyd runs would scan the corpus m×rounds times): each Arrow
    batch computes the per-subspace argmin with m small matmuls against
    the broadcast (m, k, d/m) codebook tensor and emits per-batch
    partial sums keyed (subspace, code) — ≤ m·k rows of d/m doubles per
    batch, the manual map-side combine — merged per key in
    applyInArrow; the divide + 9dp round runs Spark-side (the
    kmeans_lloyd arrow-tier shape, operators/kmeans.py). Driver pull
    per round: m·k·(d/m) = k·d doubles, corpus-size-independent.

    Determinism: seeding is the first k rows by id (each row's j-th
    subvector seeds codeword j — the kmeans_lloyd convention), rounds
    are fixed, and the 9dp rounding absorbs partial-sum order — two
    runs over any partitioning give byte-identical codebooks (pinned in
    tests/test_pq.py). Empty codewords KEEP their previous centroid
    (matching _kmeans_books' empty-cluster behavior of never NaN-ing a
    row; k stays constant because codes must stay in [0, k)).

    ``residual_centroids`` (raw-space (nlist, d)) trains on IVFADC
    residuals x − rc[list_id] (requires a ``list_id`` column, same
    contract as pq_encode) — the distributed twin of
    train_pq_residual."""
    from pyspark.sql import functions as F

    need = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if residual_centroids is not None:
        need.append(F.col("list_id"))
    raw = corpus.select(*need)
    first = raw.select("v").first()
    if first is None or first["v"] is None:
        raise ValueError(
            "train_pq_distributed: empty corpus (or NULL first vector)")
    d = len(first["v"])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    e = raw.localCheckpoint(eager=False)
    seed_rows = e.orderBy("id").limit(k).toArrow()
    if seed_rows.num_rows < k:
        raise ValueError(
            f"corpus of {seed_rows.num_rows} rows cannot seed {k} codewords")
    rc = (None if residual_centroids is None
          else residual_centroids.astype(np.float64))
    X0 = arrow_matrix(seed_rows.column("v"), np.float64)
    if rc is not None:
        X0 = X0 - rc[seed_rows.column("list_id").to_numpy()]
    books = np.stack([X0[:, j * dsub:(j + 1) * dsub].copy()
                      for j in range(m)])  # (m, k, dsub)

    sc = corpus.sparkSession.sparkContext
    code_ids = np.arange(k)
    for _ in range(rounds):
        bc = sc.broadcast(books)

        def part(it):
            B = bc.value
            for batch in it:
                if not batch.num_rows:
                    continue
                X = arrow_matrix(batch.column("v"), np.float64)
                if rc is not None:
                    X = X - rc[batch.column("list_id").to_numpy()]
                for j in range(m):
                    xj = X[:, j * dsub:(j + 1) * dsub]
                    d2 = ((xj * xj).sum(1)[:, None] - 2.0 * (xj @ B[j].T)
                          + (B[j] * B[j]).sum(1)[None, :])
                    a = d2.argmin(1)  # first-minimal-index = smallest code
                    sums = _partial_sums(xj, a, code_ids)
                    yield sums.add_column(0, "j", pa.array(
                        np.full(sums.num_rows, j, dtype=np.int32)))

        partials = e.mapInArrow(
            part, "j int, cid int, psum array<double>, cnt bigint")
        totals = partials.groupBy("j", "cid").applyInArrow(
            _merge_partial_sums, "j int, cid int, s array<double>, cnt bigint")
        rows = totals.select(
            "j", "cid",
            F.transform("s", lambda x: F.round(x / F.col("cnt"), 9))
            .alias("v")).collect()
        new_books = books.copy()  # empty codewords keep previous centers
        for r in rows:
            new_books[int(r["j"]), int(r["cid"])] = np.asarray(
                r["v"], dtype=np.float64)
        books = new_books
    return books


def _encode_mat(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Vectorized driver-side encode of a sample matrix; int32[n, m]."""
    m, k, dsub = books.shape
    codes = np.empty((len(x), m), dtype=np.int32)
    for j in range(m):
        xj = x[:, j * dsub:(j + 1) * dsub]
        codes[:, j] = (((xj[:, None, :] - books[j][None, :, :]) ** 2)
                       .sum(-1).argmin(1))
    return codes


def _decode_mat(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Reconstruction x̂ from codes; float64[n, d]."""
    m = books.shape[0]
    return np.concatenate([books[j][codes[:, j]] for j in range(m)], axis=1)


def train_opq(corpus: DataFrame, m: int = 8, k: int = 16,
              vec_col: str = "embedding", sample_cap: int = 50_000,
              iters: int = 10, opq_iters: int = 8,
              seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """Optimized Product Quantization (Ge, He, Ke & Sun, CVPR 2013,
    non-parametric solution): learn an orthogonal rotation R jointly with
    the codebooks by alternating (1) codebook k-means on the rotated
    sample and (2) the orthogonal-Procrustes update R = UVᵀ from
    SVD(XᵀX̂) — each step is non-increasing in ‖XR − X̂‖²_F, so the final
    quantization MSE is ≤ plain PQ's from the same init (test-pinned).
    Rotation redistributes variance across the m subspaces so no single
    subspace starves the code budget — the standard fix for PQ's
    axis-aligned blindness.

    Returns (R float64[d, d], books float64[m, k, d/m]); encode with
    ``pq_encode(…, rotation=R)`` and search with
    ``pq_adc_search(…, rotation=R)``. Inner products are preserved by
    orthogonality (<qR, xR> = <q, x>), so ADC scores in rotated space
    rank identically to raw-space scores at zero quantization error —
    the rerank stays in raw space, unchanged.

    All driver-side over the same capped sample train_pq uses; the SVD
    is d×d (64×64 here, 1536×1536 at the reference's width — trivial)."""
    return _opq(_sample_matrix(corpus, vec_col, sample_cap),
                m, k, iters, opq_iters, seed)


def _opq(x: np.ndarray, m: int, k: int, iters: int, opq_iters: int,
         seed: int) -> tuple[np.ndarray, np.ndarray]:
    """OPQ alternation over a sample matrix (see train_opq): (R, books)."""
    R = np.eye(x.shape[1])
    books = _kmeans_books(x, m, k, iters, seed)
    for _ in range(opq_iters):
        dec = _decode_mat(_encode_mat(x @ R, books), books)
        u, _s, vt = np.linalg.svd(x.T @ dec)
        R = u @ vt
        # warm-start from the previous codebooks (ADVICE r10): both
        # alternation steps are then genuinely non-increasing in
        # ||XR - X_hat||^2_F — Procrustes is optimal for fixed books,
        # Lloyd from the previous books never increases distortion —
        # so the docstring's monotone-descent claim actually holds
        # (it was only empirically true under per-iteration re-seeding)
        books = _kmeans_books(x @ R, m, k, iters, seed, init=books)
    return R, books


def train_opq_residual(index, m: int = 8, k: int = 16,
                       vec_col: str = "embedding", sample_cap: int = 50_000,
                       iters: int = 10, opq_iters: int = 8,
                       seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """OPQ over coarse residuals — the full FAISS billion-scale index
    string ("OPQ16,IVF…,PQ16"): the rotation is learned on the residual
    sample (the distribution the codes actually model), then codebooks
    on rotated residuals. Returns (R, books); encode with
    ``pq_encode(…, residual_centroids=rc, rotation=R)`` and search with
    ``ivf_pq_search(…, residual=True, rotation=R)`` — orthogonality
    preserves <q, r̂>, so the coarse offset term stays in raw space."""
    return _opq(_residual_sample(index, vec_col, sample_cap),
                m, k, iters, opq_iters, seed)


def train_pq_residual(index, m: int = 8, k: int = 16,
                      vec_col: str = "embedding", sample_cap: int = 50_000,
                      iters: int = 10, seed: int = 42) -> np.ndarray:
    """Train codebooks on COARSE RESIDUALS x − c(list(x)) — the IVFADC
    variant FAISS ships as its billion-scale default (Jégou 2011 §V.B
    'IVFADC'): after the coarse quantizer explains the list-level mean,
    the residual distribution is far tighter than the raw one, so the
    same m×k code budget spends its centroids on a smaller cell — lower
    quantization error, better shortlist quality at equal bytes (pinned
    in tests/test_pq.py::test_residual_encoding_cuts_quantization_error)."""
    return _kmeans_books(_residual_sample(index, vec_col, sample_cap),
                         m, k, iters, seed)


def pq_encode(corpus: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id", vec_col: str = "embedding",
              extra_cols: tuple[str, ...] = (),
              residual_centroids: np.ndarray | None = None,
              rotation: np.ndarray | None = None) -> DataFrame:
    """Encode every vector to its m subspace codes (one mapInArrow pass).

    Output: (vec_id, codes array<int>[, extra_cols…]) — the compressed
    corpus table; write it as parquet and search it instead of the raw
    vectors. ``extra_cols`` threads narrow columns (e.g. the IVF
    ``list_id``) through unchanged, so an IVFPQ codes table is one pass,
    not an encode-then-join.

    ``residual_centroids`` (raw-space (nlist, d), e.g.
    ``index.centroids[:, :d]``) switches to IVFADC residual encoding:
    each vector is encoded as x − rc[list_id] (requires ``list_id`` in
    ``extra_cols``); the codebooks must come from ``train_pq_residual``.

    ``rotation`` (orthogonal (d, d) from ``train_opq``) encodes x @ R —
    the OPQ path; applied AFTER residual subtraction if both are given."""
    m, k, dsub = codebooks.shape
    books = codebooks  # closure-captured; broadcast by task serialization
    if residual_centroids is not None and "list_id" not in extra_cols:
        raise ValueError("residual encoding needs list_id in extra_cols")
    rc = (None if residual_centroids is None
          else residual_centroids.astype(np.float64))
    rot = None if rotation is None else rotation.astype(np.float64)

    extras = [f for f in corpus.schema.fields if f.name in extra_cols]

    def encode(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            x = arrow_matrix(batch.column(vec_col), np.float64)
            if rc is not None:
                x = x - rc[batch.column("list_id").to_numpy()]
            if rot is not None:
                x = x @ rot
            codes = _encode_mat(x, books)
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col).cast(pa.int64()),
                 arrow_list(codes, pa.list_(pa.int32()))]
                + [batch.column(f.name) for f in extras],
                names=[id_col, "codes"] + [f.name for f in extras])

    extra_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}" for f in extras)
    return corpus.select(id_col, vec_col, *extra_cols).mapInArrow(
        encode, f"{id_col} BIGINT, codes ARRAY<INT>{extra_schema}")


def pq_adc_search(codes_df: DataFrame, codebooks: np.ndarray,
                  queries: DataFrame, shortlist: int = 200,
                  id_col: str = "vec_id",
                  rotation: np.ndarray | None = None) -> DataFrame:
    """ADC shortlist search over the compressed table.

    Per query: lut[j, c] = <q_subj, codebook[j, c]> (computed once on the
    driver for the bounded query batch); each compressed vector scores as
    Σ_j lut[j, codes_j] — m lookups, no raw vectors touched. Per-batch
    tie-inclusive top-`shortlist` cuts, then a global per-query rank — the
    knn_join_bulk merge shape over a 64×-smaller scan.

    Output: (query_id, vec_id, approx_score, rank) — approximate by
    construction (quantization error), feed to ``pq_rerank``.
    """
    q_ids, q_mat = query_batch(queries)  # bounded: the query batch
    return _adc_shortlist(codes_df, _luts(q_mat, codebooks, rotation), q_ids,
                          shortlist, id_col, "vec_id")


def _luts(q_mat: np.ndarray, codebooks: np.ndarray,
          rotation: np.ndarray | None) -> np.ndarray:
    """ADC lookup tables luts[q, j, c] = <query_q subspace j, centroid c>.
    OPQ rotates the queries into code space first; orthogonality
    preserves inner products, so the ADC ranking is the raw-space one."""
    m, _k, dsub = codebooks.shape
    if rotation is not None:
        q_mat = q_mat @ rotation.astype(np.float64)
    return np.einsum("qjd,jcd->qjc", q_mat.reshape(len(q_mat), m, dsub),
                     codebooks)


def _adc_shortlist(scan: DataFrame, luts: np.ndarray, q_ids: np.ndarray,
                   shortlist: int, id_col: str, out_id: str,
                   probe=None) -> DataFrame:
    """The ADC scan of both PQ serve paths: one LUT gather per Arrow
    batch, optional ``probe(scores, list_ids)`` offset/mask, per-batch
    tie-inclusive cut, then the global (approx_score desc, id) window.
    Output: (query_id, out_id, approx_score, rank)."""
    m = luts.shape[1]

    def partial(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            codes = arrow_matrix(batch.column("codes"))  # (batch, m)
            # scores[q, i] = Σ_j luts[q, j, codes[i, j]]
            scores = luts[:, np.arange(m)[None, :], codes].sum(-1)  # (q, batch)
            if probe is not None:
                scores = probe(scores, batch.column("list_id").to_numpy())
            yield per_query_topk(batch.column(id_col).to_numpy(), scores.T,
                                 q_ids, shortlist, id_col=out_id,
                                 score_col="approx_score", largest=True)

    survivors = scan.mapInArrow(
        partial, f"query_id BIGINT, {out_id} BIGINT, approx_score DOUBLE")
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_score"), out_id)
    return (survivors.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= shortlist))


def pq_rerank(shortlist_df: DataFrame, corpus: DataFrame, queries: DataFrame,
              k: int = 20, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Exact re-rank of the ADC shortlist: join back the raw vectors for the
    shortlisted ids only (a semi-join-sized read), score with the
    bit-deterministic Catalyst dot fold, keep top-k per query.

    Output: (query_id, vec_id, distance, rank) — same schema family as the
    exact knn_join, distances comparable to the canonical oracle.

    The shortlist side is explicitly broadcast: it is bounded at
    |query batch| × shortlist rows of (id, id) pairs, while the corpus side
    is the 100 TB table — without the hint Spark has no size stats for the
    UDF-produced shortlist and sort-merge-joins, shuffling the ENTIRE wide
    corpus to rerank a few thousand candidates (measured: the dominant cost
    of the dim-1536 bench tier)."""
    from parquetaivectorsearch_spark.functions import vector as V

    cand = F.broadcast(shortlist_df.select("query_id", id_col)).join(
        corpus.select(id_col, vec_col), id_col)
    scored = cand.join(F.broadcast(queries), "query_id").select(
        "query_id", id_col,
        (F.lit(1.0) - V.dot(vec_col, "query_vec")).alias("distance"),
    )
    w = Window.partitionBy("query_id").orderBy("distance", id_col)
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ivf_pq_search(index, codes_df: DataFrame, codebooks: np.ndarray,
                  queries: DataFrame, k: int = 20, nprobe: int = 4,
                  shortlist: int = 200, id_col: str = "vec_id",
                  residual: bool = False,
                  rotation: np.ndarray | None = None) -> DataFrame:
    """IVFPQ serve — the FAISS billion-scale recipe (Jégou 2011 §V +
    the IVFADC variant): coarse-quantizer probe restricts the ADC scan to
    nprobe inverted lists, PQ codes make the scanned bytes ~64× smaller,
    and the exact re-rank fixes the final top-k. The two independent
    levers compose: IVF cuts ROWS scanned (nprobe/nlist), PQ cuts BYTES
    per row — at 100 TB this is the only tier where the hot working set
    fits in cluster RAM.

    ``codes_df`` must carry ``list_id`` (encode with
    ``pq_encode(assigned, books, extra_cols=("list_id",))``); persist it
    partitioned by list_id and the probe becomes a partition-pruned scan.

    Probe semantics are bit-identical to ivf_search/ivf_search_bulk (the
    same driver-side centroid arithmetic), and the mask follows
    ivf_search_bulk: the probed-list UNION is scanned once, every batch
    scores all queries with one LUT gather, and (query, row) pairs the
    query did not probe are masked out after the gather — transfer =
    probed code bytes, full stop. The per-batch shortlist cut is
    tie-inclusive (operators/knn.per_query_topk): exact ADC ties at the
    boundary all reach the global (approx_score desc, id) window, which
    picks the id-winning row, so the ranking equals the flat ADC scan's.

    ``residual=True`` is the IVFADC scoring rule for residual-encoded
    codes (train_pq_residual + pq_encode(residual_centroids=…)):
    <q, x> ≈ <q, c_list> + Σ_j lut[j, code_j], where the LUT is the same
    raw-query einsum (residual codebooks live in the same linear space)
    and the per-row <q, c_list> offset is a (|queries| × |probed lists|)
    driver matmul gathered by each row's list_id — no extra shuffle, no
    per-row work beyond one add.

    Output: (query_id, vec_id, approx_score) — the ADC SHORTLIST, to be
    fed through ``pq_rerank`` for exact distances and ranks (the caller
    composes the two, e.g. queries_ann.q_ivf_pq_topk). At nprobe = nlist
    the shortlist ids equal the flat pq_adc_search pipeline bit-for-bit
    (pinned in tests/test_pq.py)."""
    from parquetaivectorsearch_spark.operators.ann import probe_mask

    q_ids, q_mat = query_batch(queries)  # bounded: the serving batch
    # rotation (OPQ) applies to the LUT query only; the coarse offset
    # term below stays in raw space — orthogonality preserves <q, r̂>
    luts = _luts(q_mat, codebooks, rotation)

    union, mask_mat = probe_mask(index, q_mat, nprobe)
    # residual offsets: off[q, u] = <query_q, raw-space centroid of
    # union list u> — the coarse term of the IVFADC decomposition
    off = (q_mat @ index.centroids.astype(np.float64)[union, :q_mat.shape[1]].T
           if residual else None)

    def probe(scores, lids):
        upos = np.searchsorted(union, lids)
        if off is not None:
            scores = scores + off[:, upos]
        scores[~mask_mat[upos].T] = -np.inf  # (q, batch) probe mask
        return scores

    scan = codes_df.filter(
        F.col("list_id").isin([int(x) for x in union])) \
        .select("list_id", id_col, "codes")
    return _adc_shortlist(scan, luts, q_ids, shortlist, id_col, id_col,
                          probe).drop("rank")


def train_itq(corpus: DataFrame, bits: int | None = None,
              vec_col: str = "embedding", sample_cap: int = 50_000,
              iters: int = 20, seed: int = 42
              ) -> tuple[np.ndarray, np.ndarray, list[float]]:
    """Iterative Quantization (Gong & Lazebnik, CVPR 2011): learn the
    orthogonal rotation that minimizes the binarization loss
    ‖B − VR‖²_F, B = sgn(VR), over the mean-centered PCA projection V —
    the learned upgrade to raw sign quantization (functions/vector.
    binary_quantize), same 1-bit-per-dim byte budget, codes that actually
    respect the data's principal axes. Alternation: B-step is the
    elementwise sign (optimal for fixed R), R-step is orthogonal
    Procrustes R = S·Ŝᵀ from SVD(VᵀB) (optimal for fixed B) — both
    optimal, so the loss is monotone non-increasing (returned per
    iteration and test-pinned, same posture as train_opq's descent).

    Deterministic end-to-end: capped-sample limit() pull, eigh PCA with
    a largest-|component|-positive sign convention per eigenvector, and
    a seeded-Gaussian QR init for R (identity init is a sign-quantizer
    fixed point — Gong & Lazebnik §3.3 require a random rotation start).

    Returns (center d, proj d×b — PCA basis times R, losses). Encode a
    vector as sgn((x − center) @ proj) packed to int64 words; driver-side
    work is one d×d eigh + iters b×b SVDs (trivial at any corpus width,
    same posture as train_opq)."""
    x = _sample_matrix(corpus, vec_col, sample_cap)
    d = x.shape[1]
    b = bits or d
    center = x.mean(axis=0)
    xc = x - center
    cov = xc.T @ xc / max(len(xc) - 1, 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:b]
    w = evecs[:, order]
    # sign convention: largest-|component| entry of each eigenvector > 0
    flips = np.sign(w[np.abs(w).argmax(axis=0), np.arange(b)])
    w = w * flips
    v = xc @ w
    rng = np.random.RandomState(seed)
    r, _ = np.linalg.qr(rng.randn(b, b))
    losses: list[float] = []
    for _ in range(iters):
        vr = v @ r
        bmat = np.where(vr >= 0, 1.0, -1.0)
        losses.append(float(((bmat - vr) ** 2).sum()))
        u, _s, st = np.linalg.svd(v.T @ bmat)
        r = u @ st
    return center, w @ r, losses


def itq_encode(corpus: DataFrame, center: np.ndarray, proj: np.ndarray,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """(vec_id, bcode array<bigint>) with bit j of word w set iff
    ((x − center) @ proj)[64w + j] ≥ 0 — same packed layout as
    binary_quantize, so functions/vector.hamming_distance serves both.
    One Arrow pass; center/proj ride the closure (d×b floats)."""
    c64 = center.astype(np.float64)
    p64 = proj.astype(np.float64)
    n_words = max((p64.shape[1] + 63) // 64, 1)
    weights = (1 << np.arange(64, dtype=np.uint64))

    def encode(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            x = arrow_matrix(batch.column(vec_col), np.float64)
            bits = ((x - c64) @ p64) >= 0
            pad = n_words * 64 - bits.shape[1]
            if pad:
                bits = np.pad(bits, ((0, 0), (0, pad)))
            words = (bits.reshape(len(x), n_words, 64).astype(np.uint64)
                     * weights).sum(axis=2).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col).cast(pa.int64()),
                 arrow_list(words, pa.list_(pa.int64()))],
                names=["vec_id", "bcode"])

    return corpus.select(id_col, vec_col).mapInArrow(
        encode, "vec_id BIGINT, bcode ARRAY<BIGINT>")
