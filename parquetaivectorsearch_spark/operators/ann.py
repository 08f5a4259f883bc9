"""Approximate nearest-neighbor search: IVF (inverted-file) index, Spark-first.

The reference's ANN is an in-memory HNSW graph (build Program.cs:125-204,
persist/load Program.cs:231-263, search Program.cs:207-227) — a pointer-
chasing structure that does not distribute. The Spark-native equivalent of
"build an index so search doesn't scan everything" is IVF:

- **train**: k-means centroids over a bounded sample (numpy, deterministic
  seed). Sampling for quantizer training is the standard practice (FAISS
  trains on ≤ 256·nlist points); the sample cap keeps the driver step O(1)
  in corpus size — the only non-distributed step, and it is bounded.
- **assign**: every vector gets a `list_id` = nearest centroid, via an
  Arrow UDF doing one matmul per batch (the Spark analog of
  the reference's SIMD kernel, cf. Program.cs:256 / csproj:15).
- **persist** (the analog of SerializeGraph, Program.cs:231-244): the
  assigned table written `partitionBy("list_id")` — the inverted lists ARE
  parquet partition directories, so probing nprobe lists is a partition-
  pruned scan. At 100 TB with nlist=4096 / nprobe=64, a search reads ~1.6%
  of the files; no driver state, no single-machine index.
- **search**: nearest-nprobe centroids per query (tiny, driver/broadcast) →
  scan pruned lists → exact dot-product distance → per-query top-k via the
  same TakeOrderedAndProject / window machinery as the exact path.

**Metric handling.** The reference's metric is dot-product distance over
vectors that are unit-norm in its dataset (Program.cs:29-30) but not in
ours. K-means cells are L2-geometric, so maximum-inner-product search over
raw vectors probes the wrong cells (a large-norm vector wins the dot
product from an L2-far cell — recall@20 was 0.72 on the fixtures). The
standard fix is the MIPS→L2 reduction (Bachrach et al., "Speeding up the
Xbox recommender system using a euclidean transformation for inner-product
spaces", RecSys 2014): augment x → [x, √(M²−‖x‖²)] with M = max corpus
norm, q → [q, 0]; all augmented vectors have norm M, so max-dot ≡ min-L2
and the k-means geometry is consistent. metric="ip" (default) applies it;
"cosine" row-normalizes instead; "l2" uses raw vectors.

Positional identity (SURVEY §7 hard parts): vec_id is an explicit column
end-to-end; nothing depends on row order — unlike the reference, which
re-binds vectors to the graph by list position at load (Program.cs:256).

Recall is asserted against the exact-KNN oracle in tests/test_ann.py
(recall@k ≥ 0.9, the published HNSW evaluation methodology,
arXiv:1603.09320 §5).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from parquetaivectorsearch_spark.functions.vector import (
    arrow_list, arrow_matrix, vec_dot_arrow)
from parquetaivectorsearch_spark.operators.knn import per_query_topk, query_batch

METRICS = ("ip", "cosine", "l2")


def _pre_corpus(x: np.ndarray, metric: str, max_norm: float) -> np.ndarray:
    """Map corpus vectors into the space whose L2-nearest-centroid geometry
    matches the search metric."""
    if metric == "l2":
        return x
    if metric == "cosine":
        n = np.linalg.norm(x, axis=1, keepdims=True)
        return x / np.maximum(n, 1e-30)
    aug = np.sqrt(np.maximum(max_norm ** 2 - (x ** 2).sum(axis=1), 0.0))
    return np.hstack([x, aug[:, None]]).astype(np.float32)


def _pre_query(q: np.ndarray, metric: str) -> np.ndarray:
    if metric == "l2":
        return q
    if metric == "cosine":
        n = np.linalg.norm(q, axis=1, keepdims=True)
        return q / np.maximum(n, 1e-30)
    return np.hstack([q, np.zeros((len(q), 1), dtype=np.float32)]).astype(np.float32)


def _nearest(x: np.ndarray, centroids: np.ndarray, n: int = 1) -> np.ndarray:
    """n smallest-L2 centroids per row: argmin ‖x−c‖² = argmax (c·x − ‖c‖²/2),
    one matmul per batch."""
    scores = x @ centroids.T - 0.5 * (centroids ** 2).sum(axis=1)
    if n == 1:
        return np.argmax(scores, axis=1)
    return np.argsort(-scores, axis=1)[:, :n]


# ---------------------------------------------------------------------------
# train
# ---------------------------------------------------------------------------

def train_centroids(corpus: DataFrame, nlist: int, vec_col: str = "embedding",
                    metric: str = "ip", max_norm: float | None = None,
                    sample_cap: int = 65536, seed: int = 42,
                    n_iters: int = 20) -> tuple[np.ndarray, float]:
    """K-means centroids (nlist, dim') float32 from a bounded corpus sample,
    in the metric-preprocessed space. Returns (centroids, max_norm).

    The collect is capped at `sample_cap` rows — a quantizer-training sample,
    not a data path (FAISS practice: ~256 vectors per centroid suffices).
    Deterministic: seeded sampling, k-means++ init, fixed iteration count.
    """
    if metric not in METRICS:
        raise ValueError(f"metric must be one of {METRICS}")
    # One job for both scalars (count drives the sample fraction; max ‖x‖
    # drives the MIPS→L2 augmentation) instead of two.
    from parquetaivectorsearch_spark.functions.vector import l2_norm

    stats = corpus.agg(
        F.count("*").alias("n"), F.max(l2_norm(vec_col)).alias("mn")
    ).first()
    n = int(stats["n"])
    if max_norm is None:
        max_norm = float(stats["mn"]) if metric == "ip" else 0.0
    frac = min(1.0, (sample_cap * 1.05) / max(n, 1))
    sample = (
        corpus.sample(fraction=frac, seed=seed).limit(sample_cap)
        .select(vec_col).toArrow().column(vec_col)
    )
    x = _pre_corpus(arrow_matrix(sample, np.float32), metric, max_norm)
    if len(x) < nlist:
        raise ValueError(f"sample of {len(x)} rows cannot train {nlist} centroids")
    rng = np.random.RandomState(seed)

    # k-means++ init
    centroids = np.empty((nlist, x.shape[1]), dtype=np.float32)
    centroids[0] = x[rng.randint(len(x))]
    d2 = ((x - centroids[0]) ** 2).sum(axis=1)
    for i in range(1, nlist):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(len(x), 1.0 / len(x))
        centroids[i] = x[rng.choice(len(x), p=probs)]
        d2 = np.minimum(d2, ((x - centroids[i]) ** 2).sum(axis=1))

    # Lloyd iterations
    for _ in range(n_iters):
        assign = _nearest(x, centroids)
        for i in range(nlist):
            members = x[assign == i]
            if len(members):
                centroids[i] = members.mean(axis=0)
            else:  # empty list: re-seed from the farthest point
                far = ((x - centroids[_nearest(x, centroids)]) ** 2).sum(axis=1)
                centroids[i] = x[int(np.argmax(far))]
    return centroids, max_norm


def train_centroids_distributed(corpus: DataFrame, nlist: int,
                                vec_col: str = "embedding",
                                id_col: str = "vec_id",
                                metric: str = "ip",
                                max_norm: float | None = None,
                                seed_rounds: int = 3,
                                lloyd_rounds: int = 3
                                ) -> tuple[np.ndarray, float]:
    """The DISTRIBUTED coarse-quantizer trainer (VERDICT r13 #1): k-means
    over EVERY corpus row — kmeans‖ seeding → distributed Lloyd on the
    broadcast-matmul Arrow tier (operators/kmeans.py) — instead of
    ``train_centroids``' capped driver sample. At 100 TB a 65,536-row
    sample under-represents tail clusters and quantizer quality silently
    degrades; this path's per-round cost is one narrow corpus pass and
    its driver pulls stay bounded (≤ 4l rows/seed-round + nlist×d
    doubles/Lloyd-round — never corpus-sized), so it scales to the full
    table. Same signature contract as train_centroids: returns
    (centroids float32[≤nlist, dim'], max_norm) in the metric-
    preprocessed space, directly usable by assign_lists/probe_lists.
    The reference's own index-build phase (Program.cs:125-204) done the
    Spark way at scale.

    Metric preprocessing mirrors _pre_corpus (same float32 arithmetic)
    but runs DISTRIBUTED as one Arrow pass — numpy does the per-row
    math; the Catalyst O(d) lambda-fold alternative measured ~18×
    slower at 1536 dims (the wide-tier lesson), and the float32 output
    halves the Arrow bytes of every downstream pass. "ip" appends the
    MIPS→L2 augmentation sqrt(M²−‖x‖²) (Bachrach 2014), "cosine"
    row-normalizes, "l2" passes through. Fewer than nlist
    centroids can come back (Lloyd drops emptied clusters; the surviving
    ones are re-indexed contiguously) — the same k-shrink semantics the
    batch tier documents, and harmless to IVF: nlist is a tuning knob,
    not a contract.

    Determinism: the seeding is hash-uniform + fixed-RNG (partitioning-
    invariant, pinned), Lloyd rounds round centroids to 9dp each round —
    two runs over the same corpus give byte-identical centroids.

    The preprocessed projection is localCheckpointed once here; the
    seeding and Lloyd phases each checkpoint their (narrow) projection
    of it, so the prep math runs exactly once and each phase's rounds
    re-read a materialized copy."""
    from parquetaivectorsearch_spark.operators.kmeans import (
        kmeans_lloyd, kmeans_parallel_seed)

    if metric not in METRICS:
        raise ValueError(f"metric must be one of {METRICS}")
    raw = corpus.select(F.col(id_col).alias("id"),
                        F.col(vec_col).alias("v"))
    if metric == "ip" and max_norm is None:
        # one fast numpy scan for max ‖x‖ (the Catalyst O(d) fold costs
        # ~dim× at the reference's width — the wide-tier lesson)
        def maxn(it):
            m = 0.0
            for batch in it:
                if batch.num_rows:
                    X = arrow_matrix(batch.column("v"), np.float64)
                    m = max(m, float(np.sqrt((X * X).sum(axis=1).max())))
            yield pa.RecordBatch.from_pydict({"m": pa.array([m], pa.float64())})

        max_norm = float(raw.mapInArrow(maxn, "m double")
                         .agg(F.max("m")).first()[0])
    mn = float(max_norm or 0.0)

    # Metric preprocessing as ONE Arrow pass (numpy does the per-row
    # math; a 1536-element Catalyst lambda fold measured ~18× slower at
    # this width) emitting float32 — half the Arrow bytes per downstream
    # pass, and every downstream kernel widens float32→float64 exactly.
    met = metric

    def prep_part(it):
        for batch in it:
            if not batch.num_rows:
                continue
            X = arrow_matrix(batch.column("v"), np.float32)
            if met == "ip":
                sq = (X.astype(np.float64) ** 2).sum(axis=1)
                aug = np.sqrt(np.maximum(mn * mn - sq, 0.0))
                X = np.hstack([X, aug[:, None].astype(np.float32)])
            elif met == "cosine":
                n = np.linalg.norm(X, axis=1, keepdims=True)
                X = X / np.maximum(n, 1e-30)
            yield pa.RecordBatch.from_arrays(
                [batch.column("id").cast(pa.int64()),
                 arrow_list(X, pa.list_(pa.float32()))],
                names=["id", "v"])

    prep = raw.mapInArrow(prep_part, "id bigint, v array<float>") \
        .localCheckpoint(eager=False)

    seeds = kmeans_parallel_seed(prep, k=nlist, seed_rounds=seed_rounds,
                                 vec_col="v", id_col="id")
    stats: dict = {}
    kmeans_lloyd(prep, k=nlist, rounds=lloyd_rounds, vec_col="v",
                 id_col="id", stats=stats, assign_tier="arrow", init=seeds)
    cents = np.stack([stats["centroids"][cid]
                      for cid in sorted(stats["centroids"])])
    return cents.astype(np.float32), mn


# ---------------------------------------------------------------------------
# assign + persist
# ---------------------------------------------------------------------------

def assign_lists(corpus: DataFrame, centroids: np.ndarray, metric: str = "ip",
                 max_norm: float = 0.0, vec_col: str = "embedding") -> DataFrame:
    """Add `list_id` = nearest-centroid id in the preprocessed space. The
    centroid matrix rides the UDF closure (small: nlist×dim floats) — one
    matmul per Arrow batch."""
    c = centroids.astype(np.float32)

    @F.arrow_udf(T.IntegerType())
    def nearest(vecs: pa.Array) -> pa.Array:
        x = _pre_corpus(arrow_matrix(vecs, np.float32), metric, max_norm)
        return pa.array(_nearest(x, c).astype(np.int32), pa.int32())

    return corpus.withColumn("list_id", nearest(F.col(vec_col)))


def write_ivf(assigned: DataFrame, path: str) -> None:
    """Persist the inverted lists: parquet partitioned by list_id (the
    SerializeGraph analog, Program.cs:231-244). Searching nprobe lists is a
    partition-pruned scan of only those directories.

    The repartition co-locates each list before the write — without it,
    every shuffle task writes a sliver into every list directory
    (tasks × nlist small files, a metadata bomb at nlist=4096)."""
    assigned.repartition("list_id").write.mode("overwrite") \
        .partitionBy("list_id").parquet(path)


@dataclass
class IVFIndex:
    """Handle for a built IVF index: inverted lists (DataFrame, possibly
    backed by a partitioned parquet artifact) + the centroid matrix and
    metric metadata."""
    lists: DataFrame
    centroids: np.ndarray
    metric: str = "ip"
    max_norm: float = 0.0

    @classmethod
    def build(cls, corpus: DataFrame, nlist: int, vec_col: str = "embedding",
              metric: str = "ip", seed: int = 42,
              sample_cap: int = 65536, trainer: str = "sample",
              id_col: str = "vec_id") -> "IVFIndex":
        """``trainer="sample"`` (default) trains the coarse quantizer on a
        bounded driver sample (FAISS practice — O(1) in corpus size);
        ``trainer="distributed"`` trains over EVERY row via
        train_centroids_distributed (kmeans‖ → Arrow-tier Lloyd), the
        path that keeps quantizer quality at corpus sizes where any
        driver sample under-represents tail clusters (VERDICT r13 #1).
        Recall parity between the two trainers on the planted-cluster
        fixture is pinned in tests/test_ann.py."""
        if trainer == "distributed":
            cents, mn = train_centroids_distributed(
                corpus, nlist, vec_col, id_col=id_col, metric=metric)
        elif trainer == "sample":
            cents, mn = train_centroids(corpus, nlist, vec_col,
                                        metric=metric, seed=seed,
                                        sample_cap=sample_cap)
        else:
            raise ValueError(f"unknown trainer {trainer!r}")
        # Deliberately NOT cached: materializing array<float> columns into
        # the block store costs ~10× more than re-running the one-matmul
        # assignment UDF, so multi-action consumers are better off
        # recomputing (persisted indexes read from parquet — see load()).
        lists = assign_lists(corpus, cents, metric, mn, vec_col)
        return cls(lists=lists, centroids=cents, metric=metric, max_norm=mn)

    def save(self, spark: SparkSession, path: str) -> None:
        write_ivf(self.lists, f"{path}/lists")
        write_centroids(spark, path, self.centroids, self.metric,
                        self.max_norm)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFIndex":
        """DeserializeGraph analog (Program.cs:246-263) — but the lists stay
        on DFS; only the centroid matrix (nlist×dim) is materialized."""
        t = spark.read.parquet(f"{path}/centroids").orderBy("list_id").toArrow()
        return cls(
            lists=spark.read.parquet(f"{path}/lists"),
            centroids=arrow_matrix(t.column("centroid"), np.float32),
            metric=t.column("metric")[0].as_py(),
            max_norm=float(t.column("max_norm")[0].as_py()),
        )


def write_centroids(spark: SparkSession, path: str, centroids: np.ndarray,
                    metric: str, max_norm: float) -> None:
    """The (tiny) centroid artifact at ``path/centroids``, written from an
    Arrow table (a Python-list createDataFrame takes the ~10× slower
    pickled-RDD path)."""
    n = len(centroids)
    t = pa.table({
        "list_id": pa.array(np.arange(n, dtype=np.int32), pa.int32()),
        "centroid": arrow_list(centroids, pa.list_(pa.float32())),
        "metric": pa.array([metric] * n, pa.string()),
        "max_norm": pa.array([float(max_norm)] * n, pa.float64()),
    })
    spark.createDataFrame(
        t, "list_id INT, centroid ARRAY<FLOAT>, metric STRING, max_norm DOUBLE"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------

def probe_lists(queries: DataFrame, index: IVFIndex, nprobe: int,
                vec_col: str = "query_vec") -> DataFrame:
    """(query row) → nprobe rows (…, list_id): the lists to scan per query."""
    c = index.centroids.astype(np.float32)
    metric = index.metric
    npb = min(nprobe, len(c))

    @F.arrow_udf(T.ArrayType(T.IntegerType()))
    def probes(vecs: pa.Array) -> pa.Array:
        q = _pre_query(arrow_matrix(vecs, np.float32), metric)
        top = _nearest(q, c, n=npb).reshape(len(q), npb)
        return arrow_list(top.astype(np.int32), pa.list_(pa.int32()))

    return queries.withColumn("list_id", F.explode(probes(F.col(vec_col))))


def probe_mask(index: IVFIndex, q_mat: np.ndarray, nprobe: int
               ) -> tuple[np.ndarray, np.ndarray]:
    """probe_lists' arithmetic on a driver-side query batch: (sorted
    probed-list union int64[u], mask[u, nq] = query j probes union[i])."""
    cents = index.centroids.astype(np.float32)
    npb = min(nprobe, len(cents))
    probes = _nearest(_pre_query(q_mat.astype(np.float32), index.metric),
                      cents, n=npb).reshape(len(q_mat), npb)
    union = np.unique(probes).astype(np.int64)
    return union, (union[:, None, None] == probes[None, :, :]).any(axis=2)


def ivf_search(index: IVFIndex, queries: DataFrame, k: int = 20,
               nprobe: int = 4, id_col: str = "vec_id",
               vec_col: str = "embedding", where=None) -> DataFrame:
    """ANN top-k per query by dot-product distance (the reference's metric).
    `queries` is (query_id, query_vec), small enough to broadcast (the
    serving fan-out shape).

    Plan: broadcast(queries × their probe lists) ⋈ lists on list_id —
    Catalyst pushes the list_id filter into the partitioned scan when
    `index.lists` comes from a partitioned artifact — → numpy batch scoring
    → per-query top-k. Output: (query_id, vec_id, distance, rank).

    ``where``: optional metadata predicate (a Column) applied to the lists
    BEFORE scoring — pre-filtered vector search. The inverted lists keep
    every corpus column, so the predicate composes with partition pruning:
    the scan reads nprobe list directories and pushes the predicate into
    them, rather than post-filtering an oversampled top-k' result.
    """
    scored = _probed_distances(index, queries, nprobe, id_col, vec_col, where)
    w = Window.partitionBy("query_id").orderBy("distance", id_col)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _probed_distances(index: IVFIndex, queries: DataFrame, nprobe: int,
                      id_col: str, vec_col: str, where) -> DataFrame:
    """(query_id, id, distance) for every (query, row of a probed list):
    the broadcast probe join scored by the Arrow dot UDF."""
    lists = index.lists if where is None else index.lists.filter(where)
    return (lists.join(F.broadcast(probe_lists(queries, index, nprobe)),
                       "list_id")
            .select("query_id", F.col(id_col),
                    (F.lit(1.0) - vec_dot_arrow(F.col(vec_col),
                                                F.col("query_vec"))
                     ).alias("distance")))


def ivf_search_bulk(index: IVFIndex, queries: DataFrame, k: int = 20,
                    nprobe: int = 4, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Arrow-bulk IVF serve: identical probe semantics to ivf_search, but
    the probed-list union is scanned ONCE and each Arrow batch scores all
    queries with a single numpy matmul.

    Why it exists: ivf_search's broadcast probe join duplicates every
    matched corpus row per probing query AND ships the query vector on
    every row through the Arrow-UDF scorer — at the reference's width
    (1536 dims, 8 queries, nprobe/nlist = 1/4) that is ~8× the Arrow
    bytes of the probed data (measured 3.1s vs the brute-force bulk
    path's 0.84s at 50k×1536, BENCH_NOTES r8). Here transfer = probed
    bytes, full stop: per-query probe sets are computed driver-side
    against the (tiny) centroid matrix — exactly probe_lists' arithmetic,
    so recall is bit-identical — the scan prunes to the probed-list
    UNION (partition-pruned on a persisted artifact), and rows a query
    did not probe are masked to +inf after the batch matmul (wasted
    flops, saved bandwidth — the wide regime is bandwidth-bound). Each
    batch emits ≤ k rows per query; the global merge is one tiny window
    over k × n_batches × n_queries rows.

    ``queries`` is a bounded serving batch (same contract as
    knn_join_bulk: driver-materialized). Output matches ivf_search:
    (query_id, vec_id, distance, rank); ties break on (distance, id)."""
    q_ids, q_mat = query_batch(queries, np.float32)  # bounded: the serving batch
    union, mask_mat = probe_mask(index, q_mat, nprobe)

    def score(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            lids = batch.column("list_id").to_numpy()
            emb = arrow_matrix(batch.column(vec_col), np.float32)
            dist = 1.0 - (emb @ q_mat.T).astype(np.float64)  # (rows, nq)
            allowed = mask_mat[np.searchsorted(union, lids)]  # (rows, nq)
            dist[~allowed] = np.inf
            yield per_query_topk(batch.column(id_col).to_numpy(), dist,
                                 q_ids, k, id_col=id_col)

    scan = index.lists.filter(
        F.col("list_id").isin([int(x) for x in union])) \
        .select("list_id", id_col, vec_col)
    partials = scan.mapInArrow(
        score, f"query_id BIGINT, {id_col} BIGINT, distance DOUBLE")
    w = Window.partitionBy("query_id").orderBy("distance", id_col)
    return (partials.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ivf_range_search(index: IVFIndex, queries: DataFrame, radius: float,
                     nprobe: int = 4, id_col: str = "vec_id",
                     vec_col: str = "embedding", where=None) -> DataFrame:
    """ANN radius query (Milvus-style range search): every vector in the
    probed lists with dot-product distance < ``radius``.

    Strictly cheaper than ``ivf_search``: same broadcast probe join, but the
    radius predicate is row-local, so there is NO per-query window and NO
    shuffle after the scan — the missing-neighbor risk is only list pruning
    (vectors in un-probed lists), identical to top-k's. Output:
    (query_id, vec_id, distance)."""
    return (_probed_distances(index, queries, nprobe, id_col, vec_col, where)
            .filter(F.col("distance") < F.lit(radius)))


def compact_hot_lists(spark: SparkSession, index_path: str,
                      hot_ratio: float = 4.0, seed: int = 42,
                      sample_cap: int = 65536) -> dict:
    """Partition-scoped IVF maintenance: binary-split oversized inverted
    lists in a PERSISTED index (the follow-up to streaming ingestion —
    streaming/vectors.py appends are additive, so under skewed arrivals a
    few lists grow hot, which both skews probe tasks and breaks the
    "probe cost ≈ nprobe × avg list" serving contract).

    For every list larger than hot_ratio × mean size:
      1. train 2 sub-centroids by seeded 2-means on a bounded sample of
         that list's members (driver work is O(sample), never O(list)),
      2. re-assign the list's members between them (one Arrow matmul over
         a partition-pruned scan of JUST that list),
      3. rewrite ONLY the affected parquet partitions via dynamic
         partition overwrite — sub-list 0 keeps the old list_id (centroid
         row replaced), sub-list 1 gets a fresh id appended at the end, so
         list ids stay contiguous = row index into the centroid matrix,
      4. rewrite the (tiny) centroid artifact.

    100 TB posture: touched bytes = hot lists only; every other partition
    dir is untouched, so concurrent partition-pruned readers stay
    consistent. Exhaustive search (nprobe = nlist) returns IDENTICAL
    results before and after — compaction moves members between cells, it
    never adds/drops/mutates them (pinned in tests/test_ann.py). Repeated
    passes halve the max list each time → convergence in log rounds.

    Degenerate-split guard: if the seeded 2-means collapses (every member
    re-assigned to one side — possible when Lloyd leaves a cluster empty
    on the sample, e.g. an all-identical list), the split is SKIPPED
    before any write. Dynamic partition overwrite only rewrites
    partitions present in the written data, so writing a one-sided
    assignment would leave the absent partition's old files alive and
    duplicate the list; the guard materializes the assignment first and
    checks both halves are non-empty (skipped ids returned in the
    summary under "skipped").

    Returns a summary dict (hot list ids, skipped list ids, nlist
    before/after, max list size before/after).
    """
    idx = IVFIndex.load(spark, index_path)
    sizes = idx.lists.groupBy("list_id").count().toArrow()  # nlist rows
    lids = sizes.column("list_id").to_numpy()
    counts = sizes.column("count").to_numpy()
    hot = sorted(int(i) for i in lids[counts > hot_ratio * counts.mean()])
    summary = {
        "hot": hot,
        "skipped": [],
        "nlist_before": len(idx.centroids),
        "max_size_before": int(counts.max()),
    }
    if not hot:
        summary.update(nlist_after=len(idx.centroids),
                       max_size_after=int(counts.max()))
        return summary

    cents = [c for c in idx.centroids]
    metric, max_norm = idx.metric, idx.max_norm
    rng = np.random.RandomState(seed)
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    old_mode = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        for h in hot:
            # fresh read (earlier splits rewrote sibling partitions), pruned
            # to this list's directory, then EAGERLY checkpointed: the
            # rewrite below overwrites the very partition being read, so
            # the read must be materialized (bounded: one hot list, spilled
            # to executor disk if large) before the write job starts.
            members = (spark.read.parquet(f"{index_path}/lists")
                       .filter(F.col("list_id") == h)
                       .localCheckpoint(eager=True))
            n_members = int(counts[lids == h][0])
            frac = min(1.0, (sample_cap * 1.05) / max(n_members, 1))
            sample = (members.sample(fraction=frac, seed=seed)
                      .limit(sample_cap).select("embedding").toArrow())
            x = _pre_corpus(arrow_matrix(sample.column("embedding"),
                                         np.float32), metric, max_norm)
            # seeded 2-means (same Lloyd loop shape as train_centroids)
            sub = x[rng.choice(len(x), size=2, replace=False)].copy()
            for _ in range(10):
                assign = _nearest(x, sub)
                for i in range(2):
                    m = x[assign == i]
                    if len(m):
                        sub[i] = m.mean(axis=0)
            new_id = len(cents)
            pair = np.stack(sub).astype(np.float32)

            @F.arrow_udf(T.IntegerType())
            def which(vecs: pa.Array) -> pa.Array:
                v = _pre_corpus(arrow_matrix(vecs, np.float32),
                                metric, max_norm)
                half = _nearest(v, pair)
                return pa.array(np.where(half == 0, h, new_id).astype(np.int32),
                                pa.int32())

            # Materialize the re-assignment BEFORE writing: dynamic
            # partition overwrite only rewrites partitions PRESENT in the
            # written data, so a degenerate split (Lloyd on the sample left
            # one cluster empty → every member lands on one side) would
            # leave the other partition's old files alive and duplicate the
            # list. Detect that case up front and skip the split entirely —
            # the list stays hot but the exhaustive-search invariant holds.
            assigned = (members.drop("list_id")
                        .withColumn("list_id", which(F.col("embedding")))
                        .localCheckpoint(eager=True))
            halves = {int(r["list_id"]) for r in
                      assigned.select("list_id").distinct().collect()}
            if halves != {h, new_id}:
                summary["skipped"].append(h)
                continue  # degenerate 2-means: don't mutate cents or files
            cents[h] = sub[0]
            cents.append(sub[1])
            (assigned
             .repartition("list_id")
             .write.mode("overwrite").partitionBy("list_id")
             .parquet(f"{index_path}/lists"))
    finally:
        spark.conf.set(mode_key, old_mode)

    new_cents = np.stack(cents).astype(np.float32)
    write_centroids(spark, index_path, new_cents, metric, max_norm)

    after = (spark.read.parquet(f"{index_path}/lists")
             .groupBy("list_id").agg(F.count("*").alias("n"))
             .agg(F.max("n")).first()[0])
    summary.update(nlist_after=len(new_cents), max_size_after=int(after))
    return summary


def knn_graph(corpus: DataFrame, k: int = 3, nlist: int | None = None,
              nprobe: int = 2,
              id_col: str = "vec_id", vec_col: str = "embedding",
              metric: str = "ip", seed: int = 42,
              index: IVFIndex | None = None) -> DataFrame:
    """Approximate k-NN graph over the WHOLE corpus → (src, dst, distance,
    rank): every vector is simultaneously a query and a candidate.

    The serve path (ivf_search) broadcasts its query batch — correct for a
    bounded batch, impossible when the query side IS the corpus. Here both
    sides meet in ONE shuffle each on list_id (a cogroup): the query side
    fans out to its nprobe nearest lists, the candidate side sits in its
    one assigned list, so candidate work is bounded to within-list pairs
    (Σ_i |list_i| × probes into i) — never all-pairs. Each list block is
    scored with chunked float64 BLAS matmuls and emits only its per-query
    top-k (a list cannot contribute more than k global neighbors), so the
    final window merges n × nprobe × k candidate rows instead of the full
    pair stream — the same partial-top-k discipline as knn_topk_arrow,
    applied blockwise. This is the scale path for graph-signal curation
    (pagerank over the similarity graph): at 100 TB the graph build is
    nlist-bounded blocks with AQE handling hot-list skew, not an O(N²)
    θ-join. nprobe = nlist degenerates to the exact graph (every query
    scans every list) — used by the recall tests.

    Each candidate lives in exactly one list, so a (src, dst) pair is
    scored at most once — no dedup pass needed before the top-k window.
    Memory honesty: CHUNK bounds only the matmul INTERMEDIATE
    (|list| × 4096 doubles). applyInArrow cogroup materializes each
    list's ENTIRE member set and ENTIRE prober set as Arrow tables
    before chunking — a hot list's resident cost is
    O((|members| + |probers|) × dim), unlike the old streamed pair join.
    The bound on that materialization is structural, not in this
    function: adaptive_nlist keeps |members| ~AVG_DEDUP_LIST_SIZE and
    compact_hot_lists splits outlier lists; run compaction before graph
    builds on skewed corpora.
    """
    if index is None:
        if nlist is None:
            # same corpus-adaptive sizing as embedding_dedup: lists must
            # grow with N or the within-list work turns quadratic at scale
            from parquetaivectorsearch_spark.sources import approx_num_rows

            n = approx_num_rows(corpus)
            nlist = adaptive_nlist(n if n is not None else corpus.count())
        index = IVFIndex.build(corpus, nlist=nlist, vec_col=vec_col,
                               metric=metric, seed=seed)
    q = corpus.select(F.col(id_col).alias("query_id"),
                      F.col(vec_col).alias("query_vec"))
    probed = probe_lists(q, index, nprobe)

    # Cogrouped per-list BLAS scoring (r8): both sides shuffle ONCE on
    # list_id (the same exchange the old co-partitioned join paid), but
    # each list block is scored with chunked float64 matmuls instead of a
    # per-(member, query) pandas dot that ships BOTH vectors per pair —
    # and each list emits only its per-query top-k, so the global window
    # sees n_queries × nprobe × k rows, not the full Σ |list| × probes
    # pair stream. Memory is bounded by |list| × CHUNK doubles (lists are
    # ~AVG_DEDUP_LIST_SIZE under adaptive nlist; CHUNK caps the query
    # side), never by the whole pair matrix.
    CHUNK = 4096

    out_schema = pa.schema([("query_id", pa.int64()), ("cand", pa.int64()),
                            ("distance", pa.float64())])

    def score_list(members: pa.Table, queries: pa.Table) -> pa.Table:
        if not members.num_rows or not queries.num_rows:
            return out_schema.empty_table()
        m_ids = members.column(id_col).to_numpy()
        m = arrow_matrix(members.column(vec_col), np.float64)
        parts = []
        for s in range(0, queries.num_rows, CHUNK):
            qc = queries.slice(s, CHUNK)
            q_ids = qc.column("query_id").to_numpy()
            qm = arrow_matrix(qc.column("query_vec"), np.float64)
            dist = 1.0 - (m @ qm.T)  # (members, chunk)
            # self-edges masked out; exact-duplicate embeddings (the dedup
            # use case) tie, and the (distance, cand) window owns the
            # tie-break
            dist[m_ids[:, None] == q_ids[None, :]] = np.inf
            parts.append(per_query_topk(m_ids, dist, q_ids, k, "cand"))
        return pa.Table.from_batches(parts, out_schema)

    partial = (
        index.lists.select("list_id", F.col(id_col), F.col(vec_col))
        .groupBy("list_id")
        .cogroup(probed.groupBy("list_id"))
        .applyInArrow(score_list,
                       "query_id BIGINT, cand BIGINT, distance DOUBLE")
    )
    w = Window.partitionBy("query_id").orderBy("distance", "cand")
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("query_id").alias("src"), F.col("cand").alias("dst"),
                "distance", "rank")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (north-star dedup variant)
# ---------------------------------------------------------------------------

AVG_DEDUP_LIST_SIZE = 512  # target vectors per blocking cluster


def adaptive_nlist(n: int) -> int:
    """Blocking-cluster count for an n-vector corpus: n / AVG_DEDUP_LIST_SIZE,
    clamped to [2, 4096] (≥2 so blocking always blocks; ≤4096 so the 65536-row
    k-means sample keeps ≥16 vectors per centroid)."""
    return int(min(max(2, n // AVG_DEDUP_LIST_SIZE), 4096))


AUTO_INDEX_CROSSOVER = 100_000  # vectors — measured, see auto_index


def auto_index(corpus: DataFrame, n: int | None = None,
               id_col: str = "vec_id", vec_col: str = "embedding",
               metric: str = "ip", seed: int = 42,
               crossover: int = AUTO_INDEX_CROSSOVER):
    """Pick the index tier by corpus size against the MEASURED build-cost
    crossover, and build it. Returns ("hnsw", graph DataFrame) or
    ("ivf", IVFIndex).

    The numbers (SCALING.md "HNSW build ceiling", tools/hnsw_ceiling.py):
    the pure-Python HNSW build runs ~90-120 vec/s/partition regardless of
    width — ~9 ms of Python/heap overhead per vector — while IVF's cost
    is a FIXED sample-capped k-means (~8 s at dim 1536) plus an Arrow
    matmul row per vector (microseconds). Below ~100k vectors the k-means
    floor dominates and HNSW's graph buys serve latency for an affordable
    build; above it HNSW's per-vector Python bill grows without bound
    (~24k core-hours at 10^10 vectors) and IVF is the only defensible
    default. This helper encodes that as the operator default instead of
    leaving it a study (VERDICT r8 #7).

    ``n`` short-circuits counting; otherwise parquet footer metadata
    (zero jobs) is tried before one count() job — same sizing discipline
    as embedding_dedup. IVF gets adaptive_nlist(n); HNSW gets one build
    partition per ~5k vectors, capped at 32."""
    if n is None:
        from parquetaivectorsearch_spark.sources import approx_num_rows

        n = approx_num_rows(corpus)
        if n is None:
            n = corpus.count()
    if n >= crossover:
        return "ivf", IVFIndex.build(corpus, nlist=adaptive_nlist(n),
                                     vec_col=vec_col, metric=metric,
                                     seed=seed)
    from parquetaivectorsearch_spark.operators import hnsw as _hnsw

    parts = int(min(32, max(1, n // 5_000)))
    return "hnsw", _hnsw.build_hnsw(corpus, n_partitions=parts,
                                    id_col=id_col, vec_col=vec_col)


def embedding_dedup(corpus: DataFrame, threshold: float = 0.95,
                    nlist: int | None = None, n: int | None = None,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    seed: int = 42) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: IVF-cluster blocking (cosine
    metric → row-normalized k-means) → within-list self-join → exact cosine
    verify ≥ threshold.

    Blocking bounds the candidate quadratic to within-cluster pairs —
    O(Σ n_i²) instead of O(N²); near-dups (cosine ≈ 1) land in the same
    list by construction. Output: (vec_a, vec_b, cosine), a < b.

    ``nlist`` defaults to N / AVG_DEDUP_LIST_SIZE (VERDICT r4 #5: a fixed
    nlist makes within-list pairs quadratic in corpus size — at 100 TB the
    cluster count must grow with N so the per-list pair work stays
    ~AVG_DEDUP_LIST_SIZE² regardless of scale). N comes from a
    caller-supplied ``n``, else the corpus's parquet footers (zero jobs;
    a sizing heuristic tolerates the filtered-frame overestimate), else —
    only when neither is available — one count() job (VERDICT r5 #6).

    Scoring (r8): ONE shuffle grouping members by list, then a chunked
    float64 gram matrix per list block — the self-join it replaces
    materialized every within-list pair row carrying BOTH embeddings
    (m× duplication of each member through the exchange); here each
    member crosses the shuffle once and only the ≥ threshold pairs are
    emitted. Chunk rows bound memory at CHUNK × |list| doubles even on a
    pre-compaction hot list.
    """
    if nlist is None:
        if n is None:
            from parquetaivectorsearch_spark.sources import approx_num_rows

            n = approx_num_rows(corpus)
        nlist = adaptive_nlist(n if n is not None else corpus.count())
    assigned = IVFIndex.build(corpus, nlist, vec_col, metric="cosine", seed=seed).lists
    CHUNK = 2048

    def per_list(tbl: pa.Table) -> pa.Table:
        ids = tbl.column(id_col).to_numpy()
        x = arrow_matrix(tbl.column(vec_col), np.float64)
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0] = 1.0
        xn = x / norms[:, None]
        out_a, out_b, out_c = [], [], []
        for s in range(0, len(ids), CHUNK):
            sim = xn[s:s + CHUNK] @ xn.T  # (chunk, m)
            ii, jj = np.nonzero(sim >= threshold)
            gi = ii + s  # chunk-local → global row index
            keep = jj > gi  # upper triangle: each unordered pair once
            gi, jj = gi[keep], jj[keep]
            aa, bb = ids[gi], ids[jj]
            lo = np.minimum(aa, bb)
            out_a.extend(lo.tolist())
            out_b.extend(np.maximum(aa, bb).tolist())
            out_c.extend(sim[gi - s, jj].tolist())
        return pa.table({"vec_a": pa.array(out_a, pa.int64()),
                         "vec_b": pa.array(out_b, pa.int64()),
                         "cosine": pa.array(out_c, pa.float64())})

    return (
        assigned.select("list_id", F.col(id_col), F.col(vec_col))
        .groupBy("list_id")
        .applyInArrow(per_list, "vec_a BIGINT, vec_b BIGINT, cosine DOUBLE")
    )


def semantic_dedup_prune(corpus: DataFrame, eps: float = 0.05,
                         nlist: int | None = None, n: int | None = None,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         seed: int = 42) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic-duplicate
    PRUNING — beyond reporting pairs (embedding_dedup), decide which copy
    of each semantic-duplicate group survives. Per the paper: k-means the
    embeddings, find within-cluster groups with pairwise cosine ≥ 1−eps,
    and keep ONE member per group — the one with the LOWEST cosine to the
    cluster centroid (prototypical examples are the redundant ones;
    boundary examples carry the information).

    Same scale shape as embedding_dedup: clustering doubles as blocking
    (adaptive nlist keeps within-cluster work ~constant per list), one
    shuffle on list_id, chunked gram matrices per list. Groups are
    connected components of the ≥ 1−eps graph, computed with a per-list
    union-find — the loop runs over threshold-crossing PAIRS only (the
    dup population, not the list quadratic), the same deliberate-loop
    budget as the jaccard verify. Ties on centroid cosine break to the
    smaller id. Output: one row per vector — (vec_id, cluster_id, keep,
    centroid_sim); pruning = filter keep."""
    if nlist is None:
        if n is None:
            from parquetaivectorsearch_spark.sources import approx_num_rows

            n = approx_num_rows(corpus)
        nlist = adaptive_nlist(n if n is not None else corpus.count())
    index = IVFIndex.build(corpus, nlist, vec_col, metric="cosine", seed=seed)
    cents = index.centroids.astype(np.float64)
    cnorm = np.linalg.norm(cents, axis=1)
    cnorm[cnorm == 0] = 1.0
    cents = cents / cnorm[:, None]
    CHUNK = 2048

    def per_list(tbl: pa.Table) -> pa.Table:
        ids = tbl.column(id_col).to_numpy()
        m = len(ids)
        x = arrow_matrix(tbl.column(vec_col), np.float64)
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0] = 1.0
        xn = x / norms[:, None]
        list_id = tbl.column("list_id")[0].as_py()
        sim_c = xn @ cents[list_id]

        parent = np.arange(m)

        def find(a: int) -> int:
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = int(parent[a])
            return a

        thr = 1.0 - eps
        for s in range(0, m, CHUNK):
            sim = xn[s:s + CHUNK] @ xn.T
            ii, jj = np.nonzero(sim >= thr)
            gi = ii + s
            sel = jj > gi
            for a, b in zip(gi[sel].tolist(), jj[sel].tolist()):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        roots = np.array([find(i) for i in range(m)])
        # keep the (lowest centroid-sim, then lowest id) member per group
        order = np.lexsort((ids, sim_c))  # best survivor first
        keep = np.zeros(m, dtype=bool)
        seen: set[int] = set()
        for i in order.tolist():
            r = int(roots[i])
            if r not in seen:
                seen.add(r)
                keep[i] = True
        return pa.table({
            id_col: pa.array(ids, pa.int64()),
            "cluster_id": pa.array(np.full(m, list_id, dtype=np.int32)),
            "keep": pa.array(keep),
            "centroid_sim": pa.array(np.round(sim_c, 6), pa.float64()),
        })

    return (
        index.lists.select("list_id", F.col(id_col), F.col(vec_col))
        .groupBy("list_id")
        .applyInArrow(per_list, f"{id_col} BIGINT, cluster_id INT, "
                                 "keep BOOLEAN, centroid_sim DOUBLE")
    )
