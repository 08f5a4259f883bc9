"""Exact K-nearest-neighbor search — the canonical result definition.

The reference answers one question: top-20 neighbors of a query vector by
dot-product distance over 1M×1536 embeddings (Program.cs:207-227), via an
in-memory HNSW graph. The Spark-first canonical form is the *exact* scan:

    broadcast(query) ⋈ corpus → distance column → orderBy(distance).limit(k)

which Catalyst plans as BroadcastNestedLoopJoin (1-row build side) +
TakeOrderedAndProject — per-partition top-k heaps merged at the driver, k
rows shuffled per partition, no global sort. That is the distributed
generalization of ``results.OrderBy(a => a.Distance).Take(20)``
(Program.cs:219) and it scales linearly in corpus size with zero index
state. The ANN path (operators/ann.py) must match this oracle at
recall@k ≥ 0.9 (SURVEY.md §5).

No ``collect()`` anywhere: the query vector is a 1-row DataFrame (from a
``vec_id`` lookup or a literal array), broadcast by hint.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parquetaivectorsearch_spark.functions.vector import (
    arrow_matrix, dot, dot_product_distance, vec_dot_arrow)


def _tie_safe_cut(keys, take: int):
    """Indices of the ``take`` smallest ``keys`` PLUS every row tied with
    the boundary value — an UNORDERED, tie-inclusive superset computed in
    O(n) via argpartition (ADVICE r10: the r10 tie-safety fix lexsorted
    every corpus batch per query, an O(n log n) cut on the headline bench
    path). Tie-safety argument: the original bug was the cut EXCLUDING a
    boundary-tied row with a smaller id before the tie-aware consumer saw
    it; including all boundary ties restores exactness, and the final
    deterministic (value, id) ordering is owned by the consumer — the
    global window/TakeOrdered on (distance, id) — which every caller
    already has. Worst case (an all-tied batch) degrades to the full
    batch, the same rows a lexsort cut would feed the consumer anyway."""
    n = len(keys)
    if take <= 0:
        return np.arange(0)  # argpartition(kth=-1) would select from the END
    if take >= n:
        return np.arange(n)
    part = np.argpartition(keys, take - 1)
    boundary = keys[part[take - 1]]
    return np.nonzero(keys <= boundary)[0]


def per_query_topk(ids: np.ndarray, scores: np.ndarray, q_ids: np.ndarray,
                   k: int, id_col: str = "vec_id",
                   score_col: str = "distance",
                   largest: bool = False) -> pa.RecordBatch:
    """The per-query cut-and-emit step of every bulk top-k kernel: for
    ``scores[rows, nq]`` of one Arrow batch, each query keeps its
    tie-inclusive ``k`` smallest (``largest``: largest) finite scores —
    masked ±inf entries are skipped — as one RecordBatch (query_id,
    id_col, score_col). The caller's global (score, id) window owns the
    final order, which makes the boundary-tied superset exact."""
    keys = -scores if largest else scores
    rows, cols = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for j in range(len(q_ids)):
        kj = keys[:, j]
        finite = np.flatnonzero(np.isfinite(kj))
        cand = finite[_tie_safe_cut(kj[finite], min(k, len(finite)))]
        rows.append(cand)
        cols.append(np.full(len(cand), j))
    r, c = np.concatenate(rows), np.concatenate(cols)
    return pa.RecordBatch.from_arrays(
        [pa.array(np.asarray(q_ids)[c].astype(np.int64), pa.int64()),
         pa.array(np.asarray(ids)[r].astype(np.int64), pa.int64()),
         pa.array(scores[r, c].astype(np.float64), pa.float64())],
        names=["query_id", id_col, score_col])


def query_batch(queries: DataFrame, dtype=np.float64
                ) -> tuple[np.ndarray, np.ndarray]:
    """Driver pull of a bounded (query_id, query_vec) serving batch:
    (ids int64[nq], vectors[nq, d]) through ``toArrow`` + ``arrow_matrix``."""
    t = queries.select("query_id", "query_vec").toArrow()
    return (t.column("query_id").to_numpy().astype(np.int64),
            arrow_matrix(t.column("query_vec"), dtype))


def query_vector_df(corpus: DataFrame, vec_id: int,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """The reference's query source: a row of the corpus itself
    (``sampleVectors[0]``, Program.cs:209) — as a 1-row DataFrame, not a
    driver-side array. Parquet min/max stats prune this lookup to one
    row group."""
    return corpus.filter(F.col(id_col) == vec_id).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )


def knn_topk(corpus: DataFrame, query: DataFrame, k: int = 20,
             id_col: str = "vec_id", vec_col: str = "embedding",
             round_to: int | None = None) -> DataFrame:
    """Exact top-k by ascending dot-product distance (ties → smaller id).

    ``query`` is a 1-row DataFrame (query_id, query_vec). Output:
    (query_id, vec_id, distance).
    """
    dist = dot_product_distance(vec_col, "query_vec")
    if round_to is not None:
        dist = F.round(dist, round_to)
    return (
        corpus.join(F.broadcast(query))
        .select("query_id", F.col(id_col), dist.alias("distance"))
        .orderBy("distance", id_col)
        .limit(k)
    )


def knn_join(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             metric: str = "dot", round_to: int | None = None) -> DataFrame:
    """Brute-force KNN join: top-k corpus rows per query row (SURVEY §2.7 X).

    Plan shape: broadcast(queries) nested-loop join against the corpus →
    per-(query, row) score → ``row_number() over (partition by query order
    by distance)`` ≤ k. The window partitions by query_id, so the shuffle
    moves |corpus|×|queries| scored pairs — fine when queries is small
    (broadcast side should be ≤ thousands). For huge query sets, use the
    IVF path in operators/ann.py instead.

    Output: (query_id, vec_id, distance, rank).
    """
    if metric == "dot":
        dist = F.lit(1.0) - dot(vec_col, "query_vec")
    elif metric == "cosine":
        from parquetaivectorsearch_spark.functions.vector import cosine_similarity

        dist = F.lit(1.0) - cosine_similarity(vec_col, "query_vec")
    else:
        raise ValueError(f"unknown metric {metric!r}")
    if round_to is not None:
        dist = F.round(dist, round_to)
    scored = (
        corpus.join(F.broadcast(queries))
        .select("query_id", F.col(id_col), dist.alias("distance"))
    )
    w = Window.partitionBy("query_id").orderBy("distance", id_col)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_checksum(topk: DataFrame) -> DataFrame:
    """The reference's correctness proxy: sum of top-k distances
    (Program.cs:224-227), per query."""
    return topk.groupBy("query_id").agg(
        F.round(F.sum("distance"), 6).alias("distance_sum"),
        F.count("*").alias("k"),
    )


def knn_join_bulk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Bulk KNN join: per-Arrow-batch tie-inclusive top-k via mapInArrow,
    then a global top-k over the survivors.

    Scale shape vs ``knn_join``: the window form shuffles |corpus|×|queries|
    scored rows; this shuffles only ~batches×|queries|×k survivors — the
    narrow stage does one numpy matmul per Arrow batch (the reference's
    SIMD kernel, Program.cs:256/csproj:15, amortized per batch) and emits
    each query's k best rows of the batch. Distances are float64 matmul,
    which differs from the sequential Catalyst fold by ~1e-13 relative →
    rows-only vs the oracle; id-set equality vs exact knn_join is tested.

    Output: (query_id, vec_id, distance, rank).
    """
    q_ids, q_mat = query_batch(queries)  # bounded: the query batch

    def partial_topk(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            mat = arrow_matrix(batch.column(vec_col), np.float64)
            dist = 1.0 - mat @ q_mat.T  # (batch, n_queries)
            yield per_query_topk(batch.column(id_col).to_numpy(), dist,
                                 q_ids, k)

    survivors = corpus.select(id_col, vec_col).mapInArrow(
        partial_topk, "query_id BIGINT, vec_id BIGINT, distance DOUBLE")
    w = Window.partitionBy("query_id").orderBy("distance", "vec_id")
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_topk_sql(spark: SparkSession, corpus: DataFrame, query: DataFrame,
                 k: int = 20) -> DataFrame:
    """SQL-surface twin of knn_topk — same logical plan via spark.sql."""
    corpus.createOrReplaceTempView("knn_corpus")
    query.createOrReplaceTempView("knn_query")
    return spark.sql(f"""
        SELECT q.query_id, c.vec_id,
               1.0D - aggregate(zip_with(c.embedding, q.query_vec,
                                         (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                                0.0D, (acc, v) -> acc + v) AS distance
        FROM knn_corpus c, knn_query q
        ORDER BY distance, c.vec_id
        LIMIT {int(k)}
    """)


def mmr_rerank(candidates: DataFrame, corpus: DataFrame, queries: DataFrame,
               k: int = 10, lam: float = 0.7,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR
    1998): greedily pick k of each query's candidates maximizing
    ``λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s)`` — relevance balanced against
    redundancy, the diversification step after a KNN/hybrid retrieval.

    Scale shape: candidates are a per-query top-N (bounded, ~50 rows per
    query), so the greedy O(k·N) loop runs per group inside applyInArrow
    with the group's own vectors only — the corpus is touched once to
    attach candidate vectors (semi-join-sized read), never iterated.
    Deterministic: float64 numpy, fixed iteration order, argmax ties break
    to the lowest candidate index (stable argmax), candidates pre-sorted by
    (distance, id).

    Input ``candidates``: (query_id, vec_id, distance[, ...]).
    Output: (query_id, vec_id, mmr_rank, relevance).
    """
    q_ids, q_mat = query_batch(queries)
    q_vecs = dict(zip(q_ids.tolist(), q_mat))

    with_vec = candidates.select("query_id", id_col, "distance").join(
        corpus.select(id_col, vec_col), id_col)

    def per_query(tbl: pa.Table) -> pa.Table:
        tbl = tbl.sort_by([("distance", "ascending"), (id_col, "ascending")])
        qid = tbl.column("query_id")[0].as_py()
        q = q_vecs[qid]
        x = arrow_matrix(tbl.column(vec_col), np.float64)
        ids = tbl.column(id_col).to_numpy()
        rel = x @ q                      # relevance: dot with the query
        sim = x @ x.T                    # pairwise candidate similarity
        n = len(ids)
        chosen: list[int] = []
        free = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            if chosen:
                red = sim[:, chosen].max(axis=1)
            else:
                red = np.zeros(n)
            score = np.where(free, lam * rel - (1.0 - lam) * red, -np.inf)
            pick = int(score.argmax())   # stable: first max wins
            chosen.append(pick)
            free[pick] = False
        return pa.table({
            "query_id": pa.array(np.full(len(chosen), qid), pa.int64()),
            id_col: pa.array(ids[chosen], pa.int64()),
            "mmr_rank": pa.array(np.arange(1, len(chosen) + 1), pa.int32()),
            "relevance": pa.array(rel[chosen], pa.float64()),
        })

    out_schema = f"query_id BIGINT, {id_col} BIGINT, mmr_rank INT, relevance DOUBLE"
    return with_vec.groupBy("query_id").applyInArrow(per_query, out_schema)


def knn_topk_arrow(corpus: DataFrame, query: DataFrame, k: int = 20,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k via mapInArrow: per-batch numpy matmul scoring + local
    top-k, then a global TakeOrdered merge of the tiny partials.

    The Arrow-native twin of knn_topk for the regime where the JVM
    expression fold stops paying: very wide vectors (the reference's 1536
    dims) score ~dim× faster through one BLAS matmul per RecordBatch than
    through a per-element codegen fold, and each batch emits only its k
    best rows, so the merge input is k × n_batches instead of the corpus.
    Scoring is a float32 matmul (pairwise summation; the scores alone are
    upcast to float64) — relative dot error at dim 1536 is ~1e-6..1e-5,
    so ids at a near-tied top-k boundary can diverge from the exact
    sequential-fold double. That is why this variant is rows-only by
    contract; tests assert id-parity with the exact fold on the fixtures,
    where neighbor gaps dwarf that error.

    ``query`` is a 1-ROW DataFrame: each Arrow batch reads the query
    vector from its first row (multi-query batching = ``knn_join_bulk``).
    """
    def distance(emb, qv):
        # float32 matvec (halves memory traffic — the batch cost is
        # bandwidth, not flops), then one float64 upcast of the scores:
        # ~1e-6..1e-5 rel dot error at dim 1536, acceptable because
        # the variant is rows-only by contract and fixtures' neighbor
        # gaps dwarf it.
        return 1.0 - (emb @ qv.astype(emb.dtype)).astype(np.float64)

    return _one_query_topk(corpus, query, k, id_col, vec_col, distance)


def _one_query_topk(corpus: DataFrame, query: DataFrame, k: int,
                    id_col: str, vec_col: str, score, score_col: str = "distance",
                    largest: bool = False) -> DataFrame:
    """corpus ⋈ broadcast(1-row query) → per-batch ``score(emb,
    query float64[d])`` + tie-inclusive top-k → global TakeOrdered."""
    def score_batches(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            qv = arrow_matrix(batch.column("query_vec").slice(0, 1),
                              np.float64)[0]
            s = score(arrow_matrix(batch.column(vec_col)), qv)
            yield per_query_topk(batch.column(id_col).to_numpy(), s[:, None],
                                 batch.column("query_id").to_numpy()[:1], k,
                                 id_col=id_col, score_col=score_col,
                                 largest=largest)

    partials = corpus.join(F.broadcast(query)).mapInArrow(
        score_batches, f"query_id long, {id_col} long, {score_col} double")
    order = F.desc(score_col) if largest else F.col(score_col)
    return partials.orderBy(order, id_col).limit(k)


def int8_knn_join_bulk(quantized: DataFrame, corpus: DataFrame,
                       queries: DataFrame, k: int = 20, shortlist: int = 200,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Scalar-quantized (int8) bulk serve, Arrow-native: phase 1 scans the
    4×-smaller quantized table — `quantized` = (vec_id, scale,
    qvec array<tinyint>) from functions/vector.int8_quantize — scoring
    approx distance 1 − scale·(q·qvec) with one numpy matmul per Arrow
    batch and keeping each query's top-`shortlist` rows; phase 2
    exact-reranks the broadcast shortlist against the full-precision
    vectors. At the reference's width (1536 dims) BOTH the scan bytes AND
    the Python-worker Arrow transfer shrink 4× vs the float corpus — the
    transfer is the measured bottleneck of the wide serve paths
    (BENCH_NOTES r7), which is what makes this tier pay there.

    Output: (query_id, vec_id, distance, rank) — exact distances after
    rerank, same schema family as knn_join_bulk. Same tie-breaks.

    The shortlist is each query's global top-``shortlist`` by (approx
    distance, id): per-batch tie-inclusive cuts, then one window."""
    q_ids, q_mat = query_batch(queries, np.float32)  # bounded: the query batch

    def partial(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            scale = batch.column("scale").to_numpy().astype(np.float32)
            qv = arrow_matrix(batch.column("qvec"), np.float32)
            # (batch, nq): 1 - scale_i * (qvec_i · q_j); duplicate vectors
            # quantize identically, so the cut must be tie-inclusive
            dist = 1.0 - scale[:, None] * (qv @ q_mat.T)
            yield per_query_topk(batch.column(id_col).to_numpy(), dist,
                                 q_ids, shortlist, id_col=id_col)

    approx = quantized.select(id_col, "scale", "qvec").mapInArrow(
        partial, f"query_id BIGINT, {id_col} BIGINT, distance DOUBLE")
    w = Window.partitionBy("query_id").orderBy("distance", id_col)
    short = (approx.withColumn("rank", F.row_number().over(w))
             .filter(F.col("rank") <= shortlist).select("query_id", id_col))
    # phase 2: exact rerank — shortlist broadcast, corpus never shuffles
    exact = (
        F.broadcast(short).join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries.withColumnRenamed("query_id", "qid")),
              F.col("query_id") == F.col("qid"))
        .select("query_id", id_col,
                (F.lit(1.0) - vec_dot_arrow(F.col(vec_col), F.col("query_vec"))
                 ).alias("distance"))
    )
    return (exact.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def prefix_rerank_topk(prefix_corpus: DataFrame, corpus: DataFrame,
                       query: DataFrame, k: int = 20, shortlist: int = 200,
                       prefix_dim: int | None = None, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Matryoshka serve against a PERSISTED prefix artifact (Kusupati et
    al. 2022): coarse top-`shortlist` over `prefix_corpus` — a narrow
    (vec_id, first-d-dims) table, so the corpus-wide pass reads and
    Arrow-transfers prefix_dim/dim of the vector bytes — then an exact
    full-width rerank of the broadcast shortlist.

    The artifact is the along-dims analog of the int8/PQ tiers' quantized
    tables (same maintenance posture: rewrite with the corpus). Phase 2
    streams the full corpus past the broadcast id list once, scoring only
    the `shortlist` joined rows JVM-side — no Python transfer at full
    width. `prefix_dim` defaults to the artifact's own width; pass it when
    `query` vectors are full-width and must be sliced to match.

    Output: (query_id, vec_id, distance) — distance is the exact
    sequential-fold double over all dims. Id-parity with the two-stage
    definition is tested in tests/test_knn.py.

    Measured crossover (BENCH_NOTES, 50k x 1536): 0.77s vs 0.65s for the
    full-width Arrow scan — the rerank's corpus re-scan dominates at a
    size where the full matvec is already cheap. The tier pays off when
    the coarse pass is the bottleneck (transfer-bound corpora much larger
    than memory) or when the full-vector fetch can prune (id-clustered
    layout + runtime filter); measured, not asserted, per the repo's
    wide-tier posture.
    """
    qpre = query
    if prefix_dim is not None:
        qpre = query.select(
            "query_id", F.slice("query_vec", 1, prefix_dim).alias("query_vec"))
    short = knn_topk_arrow(prefix_corpus, qpre, k=shortlist,
                           id_col=id_col, vec_col=vec_col)
    dist = dot_product_distance(vec_col, "query_vec")
    return (
        corpus.join(F.broadcast(short.select(id_col)), id_col)
        .join(F.broadcast(query))
        .select("query_id", F.col(id_col), dist.alias("distance"))
        .orderBy("distance", id_col)
        .limit(k)
    )


def maxsim_topk_arrow(corpus: DataFrame, query: DataFrame, k: int = 20,
                      n_tok: int = 4, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """ColBERT MaxSim top-k via mapInArrow — the wide-regime twin of
    functions/vector.maxsim_score (which is the right form at fixture
    width: one codegen projection). At the reference's 1536 dims the
    expression form pays n_tok² sequential folds per row; here each Arrow
    batch is one einsum over the (rows, n_tok, tok_dim) token view plus a
    max/sum reduction, and each batch emits only its k best rows.

    ``query`` is a 1-ROW DataFrame (query_id, query_vec), same contract
    as ``knn_topk_arrow``: each Arrow batch reads the single query vector
    from its first row, so a multi-row query would mis-attribute scores.
    Batch the multi-query case like ``knn_join_bulk`` instead.

    float64 accumulation differs from the sequential fold in the last ulp
    → rows-only by contract; id-parity with the expression form is tested
    in tests/test_knn.py. Output: (query_id, vec_id, maxsim) descending.
    """
    def maxsim(emb, qv):
        n, dim = emb.shape
        if dim % n_tok:
            raise ValueError(
                f"embedding dim {dim} not divisible into {n_tok} tokens")
        d = emb.astype(np.float64).reshape(n, n_tok, dim // n_tok)
        # (rows, q_tok, d_tok) interaction grid → max over doc tokens,
        # sum over query tokens
        grid = np.einsum("ntd,md->nmt", d, qv.reshape(n_tok, dim // n_tok))
        return grid.max(axis=2).sum(axis=1)

    return _one_query_topk(corpus, query, k, id_col, vec_col, maxsim,
                           "maxsim", largest=True)
