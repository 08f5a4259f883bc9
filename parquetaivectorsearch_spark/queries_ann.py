"""ANN (IVF) driver queries — the scale path for the reference's core search.

All rows-only: ANN results are approximate by construction, so there is no
hash-matching oracle; recall vs the exact-KNN oracle is asserted in
tests/test_ann.py (≥ 0.9 @ k=20), per SURVEY.md §5.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquetaivectorsearch_spark.operators import ann as ANN
from parquetaivectorsearch_spark.operators import knn
from parquetaivectorsearch_spark.queries import register, _t


def _with_recall(result: DataFrame, emb: DataFrame, queries: DataFrame,
                 k: int) -> DataFrame:
    """Append per-query recall@k vs the exact-KNN twin as a column (VERDICT
    r4 #7): the driver's rows-only check then pins row count AND carries a
    visible accuracy signal, so a recall regression shows up in the recorded
    rows instead of only in tests. All distributed — the exact twin is the
    same broadcast-queries scan the approximate path replaced, run once per
    registered-query invocation (bounded: fixture-scale corpus, ≤8 queries)."""
    exact = knn.knn_join(emb, queries, k=k).select("query_id", "vec_id")
    rec = (
        # broadcast: exact is k×|queries| rows; without the hint the semi
        # join SMJ-shuffles both sides of two bounded frames
        result.join(F.broadcast(exact), ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.round(F.count("*") / F.lit(k), 4).alias("recall"))
    )
    return result.join(F.broadcast(rec), "query_id", "left")


@register("ann_topk")  # rows-only: approximate results
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full Main flow, IVF-shaped: build the index over the
    corpus (Program.cs:125-204), persist it (Program.cs:231-244), load it
    back (Program.cs:246-263), search top-20 for corpus row 0
    (Program.cs:207-227)."""
    emb = _t(spark, sf_dir, "embeddings")
    index = ANN.IVFIndex.build(emb, nlist=10)
    path = tempfile.mkdtemp(prefix="ivf_") + "/index"
    index.save(spark, path)
    loaded = ANN.IVFIndex.load(spark, path)
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # nprobe=8/10: the ~uniform-random fixtures cap recall at ≈nprobe/nlist
    # (VERDICT r4 #3) — probe deep here; clustered data needs far less.
    out = ANN.ivf_search(loaded, queries, k=20, nprobe=8)
    return _with_recall(out, emb, queries, k=20)


@register("ann_knn_join")  # rows-only: approximate results
def q_ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-of-queries ANN join: one scan of the 8 queries' probed-list
    union, each row scored only for the queries that probed its list —
    the IVF counterpart of the exact `knn_join`."""
    emb = _t(spark, sf_dir, "embeddings")
    index = ANN.IVFIndex.build(emb, nlist=10)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ANN.ivf_search(index, queries, k=5, nprobe=3)


@register("ann_ivf_bulk")  # rows-only: approximate results
def q_ann_ivf_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF serve of an 8-query batch at top-20 (operators/ann.ivf_search):
    the probed-list UNION is scanned once and every Arrow batch scores all
    8 queries in one matmul, masked to each query's probed lists. Pinned
    against a probe-restricted brute force and the exact KNN in
    tests/test_ann.py. Carries the standard recall column."""
    emb = _t(spark, sf_dir, "embeddings")
    index = ANN.IVFIndex.build(emb, nlist=10)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    out = ANN.ivf_search(index, queries, k=20, nprobe=8)
    return _with_recall(out, emb, queries, k=20)


@register("ann_ivf_distributed")  # rows-only: approximate results; the
# trainer's kmeans|| reduction is driver-RNG (not SQL-expressible) and
# the serve is ANN — recall column carries the quality evidence, and
# trainer parity/determinism are pinned in tests/test_ann.py
def q_ann_ivf_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF built with the DISTRIBUTED coarse-quantizer trainer
    (VERDICT r13 #1 — operators/ann.train_centroids_distributed:
    kmeans‖ seeding → Arrow-tier Lloyd over EVERY row, replacing the
    65k-row driver sample whose tail-cluster starvation silently
    degrades quantizer quality at 100 TB; driver pulls stay ≤ 4l
    rows/seed-round + nlist×d doubles/Lloyd-round). Same serve path as
    ann_ivf_bulk (the probed-union scan), same recall column —
    the end-to-end evidence that the full-corpus trainer slots into the
    reference's build→search flow (Program.cs:125-227) unchanged."""
    emb = _t(spark, sf_dir, "embeddings")
    index = ANN.IVFIndex.build(emb, nlist=10, trainer="distributed")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    out = ANN.ivf_search(index, queries, k=20, nprobe=8)
    return _with_recall(out, emb, queries, k=20)


@register("knn_join_int8_bulk")  # rows-only: int8 shortlist + einsum rerank
def q_knn_join_int8_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk int8 serve, Arrow-native (operators/knn.int8_knn_join_bulk):
    phase-1 shortlist via one numpy matmul per Arrow batch over the
    PERSISTED 4×-smaller quantized artifact (both scan bytes and the
    Python-worker transfer shrink 4× — the measured bottleneck of wide
    serve, BENCH_NOTES r7), phase-2 exact rerank of the broadcast
    shortlist. The Arrow twin of knn_topk_int8's Catalyst-fold form;
    id-parity with the exact join is tested in tests/test_knn.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    quant = int8_artifact(spark, sf_dir)
    return knn.int8_knn_join_bulk(quant, emb, queries, k=20,
                                  shortlist=_INT8_SHORTLIST)


@register("pca_project_embeddings")  # rows-only: eigenvector sign is engine-specific
def q_pca_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (operators/pca.py): one mergeable-moments pass over
    the corpus, driver-side eigh of the d×d covariance (corpus-size-
    independent), Arrow-matmul projection to 4 dims — the dim-reduction
    stage in front of index build for the reference's 1536-dim regime.
    Eigenvector sign/rotation is engine-specific → rows-only; invariants
    (numpy parity, orthonormality, structure recovery, partitioning
    determinism) are pinned in tests/test_pca.py."""
    from parquetaivectorsearch_spark.operators.pca import fit_pca, pca_project

    emb = _t(spark, sf_dir, "embeddings")
    model = fit_pca(emb, k=4)
    out = pca_project(emb, model)
    return out.select(
        "vec_id",
        *[F.round(F.element_at("pvec", i + 1).cast("double"), 6).alias(f"p{i + 1}")
          for i in range(4)],
    )


@register("ivf_compact_maintenance")  # rows-only: maintenance summary row
def q_ivf_compact_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-maintenance flow end-to-end (the operational story the
    reference's rebuild-from-scratch lacks): build an IVF index over a
    skew-planted corpus (1,500 jittered copies of vector 0 — the shape a
    streaming ingest with a hot key leaves behind), persist it, run
    operators/ann.compact_hot_lists, and return the one-row maintenance
    summary. Invariants (membership untouched, exhaustive-search equality,
    id contiguity) are pinned in tests/test_ann.py; this query gives the
    flow itself driver evidence."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    one = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("base"))
    clump = (
        spark.range(1500).join(F.broadcast(one))
        .select(
            (F.col("id") + 10_000_000).alias("vec_id"),
            F.transform(
                "base",
                lambda x: x * (F.lit(1.0) + (F.col("id") % 97) / F.lit(10000.0)),
            ).cast("array<float>").alias("embedding"),
        )
    )
    corpus = emb.union(clump)
    path = tempfile.mkdtemp(prefix="ivf_maint_") + "/index"
    ANN.IVFIndex.build(corpus, nlist=4).save(spark, path)
    s = ANN.compact_hot_lists(spark, path, hot_ratio=2.0)
    return spark.createDataFrame(
        [(len(s["hot"]), s["nlist_before"], s["nlist_after"],
          s["max_size_before"], s["max_size_after"])],
        "n_hot INT, nlist_before INT, nlist_after INT, "
        "max_size_before INT, max_size_after INT",
    )


@register("similarity_join_lsh")  # rows-only: LSH bucketing is approximate
def q_similarity_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection LSH similarity self-join via stock spark.ml
    (BucketedRandomProjectionLSH.approxSimilarityJoin) — the built-in
    alternative to the custom IVF/MinHash paths. VectorUDT stays inside
    this operator; the public type is array<float> (SURVEY §7 hard parts).
    Output: (vec_a, vec_b, eucl_dist) pairs with distance < 6.0, a < b."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 400)
        .select("vec_id", array_to_vector(F.col("embedding").cast("array<double>"))
                .alias("v"))
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="v", outputCol="hashes", bucketLength=2.0,
        numHashTables=3, seed=42,
    ).fit(e)
    pairs = lsh.approxSimilarityJoin(e, e, threshold=6.0, distCol="eucl_dist")
    return (
        pairs.select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.col("eucl_dist"),
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
    )


@register("dedup_embedding")  # rows-only: IVF blocking is approximate
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: IVF-cluster blocking bounds the
    pairwise join to within-cluster candidates; exact cosine verifies.
    Threshold 0.35: the fixture vectors are ~random (pairwise cosine ≲ 0.5),
    so a production-style 0.9+ threshold would return zero rows here."""
    return ANN.embedding_dedup(_t(spark, sf_dir, "embeddings"), threshold=0.35, nlist=8)


@register("semdedup_prune")  # rows-only: k-means clustering is engine-specific
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pruning (Abbas et al. 2023): one row per vector with the
    keep/prune decision — one survivor (the least-prototypical member,
    lowest centroid cosine) per within-cluster semantic-duplicate group.
    eps 0.65 because the fixture vectors are ~random (see dedup_embedding's
    threshold note); production runs eps ≈ 0.03-0.1. Survivor-per-group
    and planted-clone semantics are pinned in tests/test_ann.py."""
    return (ANN.semantic_dedup_prune(_t(spark, sf_dir, "embeddings"),
                                     eps=0.65, nlist=8)
            .orderBy("vec_id"))


@register("ann_hnsw_topk")  # rows-only: approximate results
def q_ann_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual index algorithm end-to-end: partitioned HNSW
    build (Program.cs:140-174) → persist (Program.cs:231-244) → load →
    fan-out beam search, global top-20 (Program.cs:207-227). Unlike the
    reference's topology-only persist + vector re-bind (Program.cs:256),
    vectors ride with the graph rows, so the search plan has NO corpus
    join — at 100 TB a per-search re-bind is a full-corpus shuffle.
    Recall vs the exact oracle is asserted in tests/test_hnsw.py; IVF
    stays the scale-path default."""
    from parquetaivectorsearch_spark.operators import hnsw as H

    emb = _t(spark, sf_dir, "embeddings")
    graph = H.build_hnsw(emb, n_partitions=4)
    path = tempfile.mkdtemp(prefix="hnsw_") + "/graph"
    H.write_hnsw(graph, path)
    loaded = H.read_hnsw(spark, path)
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return _with_recall(H.hnsw_search(loaded, queries, k=20), emb, queries, k=20)


@register("pq_topk")  # rows-only: quantization is approximate by construction
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed search (operators/pq.py, Jégou et al. TPAMI 2011):
    train 16×16 codebooks on a capped sample, encode the corpus to 8-byte
    codes (32× smaller than the raw float32 vectors), ADC-scan the codes
    for a 500-deep shortlist, then exact re-rank to top-20 — the pipeline
    that keeps the reference's search (Program.cs:207-227) RAM-resident
    when the corpus is 1000× its 1M rows."""
    from parquetaivectorsearch_spark.operators import pq as PQ

    emb = _t(spark, sf_dir, "embeddings")
    # m=16 → 4-dim subspaces on the 64-dim fixtures; the old m=8/s=200
    # config ADC-missed neighbors before rerank (recall 0.68 → ≥0.96).
    books = PQ.train_pq(emb, m=16, k=16)
    codes = PQ.pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    short = PQ.pq_adc_search(codes, books, queries, shortlist=500)
    return _with_recall(PQ.pq_rerank(short, emb, queries, k=20),
                        emb, queries, k=20)


@register("ivf_pq_topk")  # rows-only: doubly-approximate (coarse probe + PQ)
def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ serve (operators/pq.ivf_pq_search — the FAISS IVFADC recipe):
    coarse probe restricts the scan to nprobe inverted lists, ADC over
    4-bit codes cuts the scanned bytes ~64×, exact re-rank restores
    top-20 quality. The two approximations compose multiplicatively:
    rows × bytes, the only tier whose hot set stays RAM-resident at the
    reference's corpus × 1000 (Program.cs:26 holds raw floats). 8-query
    serving batch; probe step and mask shared with ivf_search
    (ann.probe_mask); carries the standard recall column."""
    from parquetaivectorsearch_spark.operators import pq as PQ

    emb = _t(spark, sf_dir, "embeddings")
    index = ANN.IVFIndex.build(emb, nlist=10)
    books = PQ.train_pq(emb, m=16, k=16)
    codes = PQ.pq_encode(index.lists, books, extra_cols=("list_id",))
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    short = PQ.ivf_pq_search(index, codes, books, queries,
                             nprobe=8, shortlist=500)
    return _with_recall(PQ.pq_rerank(short, emb, queries, k=20),
                        emb, queries, k=20)


@register("mmr_rerank")  # rows-only: greedy iterative selection, not SQL-expressible
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval: exact top-50 candidates per query (4 queries),
    then Maximal Marginal Relevance greedy re-rank to 10 (λ=0.7) inside
    applyInPandas — the de-duplicating final stage of a RAG retrieval
    stack (pairs with hybrid_search)."""
    from parquetaivectorsearch_spark.operators import knn as KNN

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cand = KNN.knn_join(emb, queries, k=50)
    return KNN.mmr_rerank(cand, emb, queries, k=10, lam=0.7)


@register("knn_topk_arrow")  # rows-only: matmul accumulation differs in last ulp
def q_knn_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native exact KNN (mapInArrow + numpy matmul per RecordBatch,
    per-batch top-k): same ids as knn_topk, asserted in tests/test_knn.py.
    The scale path for very wide embeddings (reference: 1536 dims)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = knn.query_vector_df(emb, 0)
    return knn.knn_topk_arrow(emb, q, k=20)


_INT8_SHORTLIST = 500  # phase-1 candidate depth (25% of the sf0.1 corpus;
                       # recall@20 = 1.0 asserted in tests/test_knn.py)


def int8_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted int8 storage tier: (vec_id, scale, qvec array<tinyint>)
    parquet, built once per fixture (keyed by the source file's identity +
    mtime, mirroring IVFIndex.save) and re-read on every serve call. The
    serve scan therefore reads the 4×-smaller artifact, NOT the float32
    corpus (VERDICT r5 #4) — at 100 TB this is the difference between
    scanning 25 TB and 100 TB in phase 1."""
    import hashlib
    import os
    import tempfile

    from parquetaivectorsearch_spark.functions.vector import int8_quantize

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        tag = hashlib.md5(
            f"{src}:{os.path.getmtime(src)}:{os.path.getsize(src)}".encode()
        ).hexdigest()[:12]
    except OSError:  # non-local sf_dir: fall back to a per-call build
        tag = None
    path = (os.path.join(tempfile.gettempdir(), f"pavs_int8_{tag}")
            if tag else tempfile.mkdtemp(prefix="pavs_int8_") + "/artifact")
    if tag is None or not os.path.exists(os.path.join(path, "_SUCCESS")):
        int8_quantize(_t(spark, sf_dir, "embeddings")) \
            .select("vec_id", "scale", "qvec") \
            .write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@register("knn_topk_int8")  # rows-only: int8-quantized shortlist is approximate
def q_knn_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-time use of the int8 storage tier: phase 1 scores the PERSISTED
    quantized artifact (int8_artifact — the scan reads array<tinyint> +
    one double, 4× fewer bytes than float32) — distance ≈ 1 − scale·(q ·
    qvec) — takes a `_INT8_SHORTLIST`-candidate shortlist, then phase 2
    exact-reranks the shortlist against the full-precision vectors. The
    two-phase shape is the standard SQ serving pattern: cheap scan tier
    bounds the candidates, exact tier restores ranking fidelity; recall@20
    vs the exact twin is emitted as a column (VERDICT r4 #7)."""
    from pyspark.sql.window import Window

    from parquetaivectorsearch_spark.functions.vector import dot_product_distance

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    quant = int8_artifact(spark, sf_dir)
    # phase 1: approximate distance over the int8 tier
    approx_dist = (
        F.lit(1.0) - F.col("scale") * F.aggregate(
            F.zip_with("qvec", "query_vec",
                       lambda qi, x: qi.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    w = Window.partitionBy("query_id").orderBy("approx_distance", "vec_id")
    shortlist = (
        quant.join(F.broadcast(queries))
        .select("query_id", "vec_id", approx_dist.alias("approx_distance"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _INT8_SHORTLIST)
        .select("query_id", "vec_id")
    )
    # phase 2: exact rerank of the shortlist on full-precision vectors
    exact = (
        # broadcast: the shortlist is a bounded (query x depth) id list; the
        # corpus side must stream past it, not shuffle (cf. pq_rerank)
        F.broadcast(shortlist).join(emb, "vec_id")
        .join(F.broadcast(queries.withColumnRenamed("query_id", "qid")),
              F.col("query_id") == F.col("qid"))
        .select("query_id", "vec_id",
                dot_product_distance("embedding", "query_vec").alias("distance"))
    )
    w2 = Window.partitionBy("query_id").orderBy("distance", "vec_id")
    out = (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 20)
    )
    return _with_recall(out, emb, queries, k=20)


_BINARY_SHORTLIST = 1000  # 2× the int8 depth: the 32× storage tier pays
                          # with a cruder scorer, so its rerank digs deeper
                          # (recall sweep in tests/test_knn.py: 0.92 @ 30%,
                          # 0.96 @ 40% of the corpus on the random fixtures)


def binary_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted 1-bit storage tier: (vec_id, bcode array<bigint>)
    parquet — one int64 per 64 dims, 32× smaller than float32 — built once
    per fixture and re-read on every serve call (same keying as
    int8_artifact)."""
    import hashlib
    import os

    from parquetaivectorsearch_spark.functions.vector import binary_quantize

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        tag = hashlib.md5(
            f"{src}:{os.path.getmtime(src)}:{os.path.getsize(src)}".encode()
        ).hexdigest()[:12]
    except OSError:
        tag = None
    path = (os.path.join(tempfile.gettempdir(), f"pavs_bin_{tag}")
            if tag else tempfile.mkdtemp(prefix="pavs_bin_") + "/artifact")
    if tag is None or not os.path.exists(os.path.join(path, "_SUCCESS")):
        binary_quantize(_t(spark, sf_dir, "embeddings")) \
            .write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@register("knn_topk_binary")  # rows-only: 1-bit shortlist is approximate
def q_knn_topk_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-time use of the 1-bit tier: phase 1 ranks the persisted sign-bit
    codes by hamming distance (bit_count(XOR) over packed int64 words — all
    codegen, reading 32× fewer bytes than float32), takes a
    `_BINARY_SHORTLIST`-deep shortlist, phase 2 exact-reranks on the full
    vectors. The bottom rung of the quantization ladder (binary → int8 →
    PQ → float): cheapest scan, deepest rerank; recall@20 vs the exact twin
    rides along as a column."""
    from pyspark.sql.window import Window

    from parquetaivectorsearch_spark.functions.vector import (
        binary_quantize,
        dot_product_distance,
        hamming_distance,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    codes = binary_artifact(spark, sf_dir)
    qcodes = (
        binary_quantize(queries, vec_col="query_vec", id_col="query_id")
        .withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("bcode", "qcode")
    )
    w = Window.partitionBy("query_id").orderBy("hd", "vec_id")
    shortlist = (
        codes.join(F.broadcast(qcodes))
        .select("query_id", "vec_id",
                hamming_distance("bcode", "qcode").alias("hd"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _BINARY_SHORTLIST)
        .select("query_id", "vec_id")
    )
    exact = (
        # broadcast: the shortlist is a bounded (query x depth) id list; the
        # corpus side must stream past it, not shuffle (cf. pq_rerank)
        F.broadcast(shortlist).join(emb, "vec_id")
        .join(F.broadcast(queries.withColumnRenamed("query_id", "qid")),
              F.col("query_id") == F.col("qid"))
        .select("query_id", "vec_id",
                dot_product_distance("embedding", "query_vec").alias("distance"))
    )
    w2 = Window.partitionBy("query_id").orderBy("distance", "vec_id")
    out = (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 20)
    )
    return _with_recall(out, emb, queries, k=20)


@register("ann_range_search")  # rows-only: approximate (list pruning)
def q_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF radius query (the scale path of the exact `knn_range_search`):
    probe 8/10 lists, keep every probed vector with distance < 0.9. The
    appended `recall` column is |returned ∩ exact radius set| / |exact
    radius set| per query — the same visible-accuracy convention as
    `_with_recall`, with a set-sized denominator instead of k (range
    results are data-dependent, not k-bounded)."""
    emb = _t(spark, sf_dir, "embeddings")
    index = ANN.IVFIndex.build(emb, nlist=10)
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ANN.ivf_range_search(index, queries, radius=0.9, nprobe=8)

    from parquetaivectorsearch_spark.functions.vector import dot_product_distance

    exact = (
        emb.join(F.broadcast(queries))
        .select("query_id", "vec_id",
                dot_product_distance("embedding", "query_vec").alias("d"))
        .filter(F.col("d") < 0.9)
        .select("query_id", "vec_id")
    )
    hits = (
        exact.join(out.select("query_id", "vec_id"), ["query_id", "vec_id"],
                   "left_semi")
        .groupBy("query_id").agg(F.count("*").alias("_hits"))
    )
    denom = exact.groupBy("query_id").agg(F.count("*").alias("_n"))
    rec = (
        denom.join(hits, "query_id", "left")
        .select("query_id",
                F.round(F.coalesce(F.col("_hits"), F.lit(0)) / F.col("_n"), 4)
                .alias("recall"))
    )
    return out.join(F.broadcast(rec), "query_id", "left")


@register("ann_filtered_topk")  # rows-only: approximate (list pruning)
def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-filtered IVF search (the ANN twin of the exact `knn_filtered`):
    top-10 under `label = 3`, with the predicate applied to the inverted
    lists BEFORE scoring — it composes with list pruning in the pruned
    scan, instead of post-filtering an oversampled unfiltered top-k'. The
    appended recall column compares against the exact filtered top-10."""
    emb = _t(spark, sf_dir, "embeddings")
    index = ANN.IVFIndex.build(emb, nlist=10)
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ANN.ivf_search(index, queries, k=10, nprobe=8,
                         where=F.col("label") == 3)
    # recall vs the exact FILTERED twin: _with_recall's corpus argument is
    # the same filtered frame the ANN path searched
    return _with_recall(out, emb.filter(F.col("label") == 3), queries, k=10)


@register("ann_index_stats")  # rows-only: UDF-assigned lists
def q_ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index introspection (FAISS's imbalance_factor analog): per-list
    sizes plus corpus-level balance metrics — the operational signal that
    drives `compact_hot_lists` (a hot list = a partition whose scan
    dominates probe latency). One groupBy over the assigned lists; the
    summary joins back as columns so the driver's rows-only check pins
    both the per-list rows and the invariant total."""
    emb = _t(spark, sf_dir, "embeddings")
    index = ANN.IVFIndex.build(emb, nlist=10)
    sizes = index.lists.groupBy("list_id").agg(F.count("*").alias("n_vectors"))
    summary = sizes.agg(
        F.sum("n_vectors").alias("total_vectors"),
        F.count("*").alias("n_lists"),
        # imbalance factor: nlist * sum(n_i^2) / total^2 — 1.0 = perfectly
        # balanced, grows as lists skew (FAISS's definition)
        F.round(F.count("*") * F.sum(F.col("n_vectors") * F.col("n_vectors"))
                / (F.sum("n_vectors") * F.sum("n_vectors")), 4)
        .alias("imbalance"),
    )
    return (
        sizes.join(F.broadcast(summary))
        .select("list_id", "n_vectors", "total_vectors", "n_lists", "imbalance")
        .orderBy("list_id")
    )


@register("bq_hamming_rank", """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 4),
    h AS (
      SELECT q.query_id, e.vec_id,
             CAST(list_sum(list_transform(range(0, len(e.embedding)),
                  j -> CASE WHEN (e.embedding[j + 1] > 0) <> (q.qv[j + 1] > 0)
                            THEN 1 ELSE 0 END)) AS INTEGER) AS hd
      FROM embeddings e, q
    ),
    r AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY hd, vec_id) AS INTEGER) AS rank
      FROM h
    )
    SELECT query_id, vec_id, hd, rank FROM r WHERE rank <= 10
""")
def q_bq_hamming_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-10 per query in 1-bit Hamming space — the deterministic
    half of the binary tier, split out so the driver HASH-verifies the
    sign-bit packing and bit_count(XOR) kernel (knn_topk_binary stays
    rows-only because its shortlist→rerank output is approximate; this
    query's DEFINITION is the Hamming ranking, so it has an exact
    oracle). Spark ranks the real packed int64 codes; the oracle counts
    sign mismatches dimension-wise — value-identical by construction,
    dodging DuckDB's checked 1<<63 overflow. Scale shape: broadcast 4
    query codes × narrow scan of 8-byte-per-64-dims codes (32× fewer
    bytes than float32), window top-10 — the cheapest possible
    first-pass ranking at 100 TB."""
    from pyspark.sql.window import Window

    from parquetaivectorsearch_spark.functions.vector import (
        binary_quantize,
        hamming_distance,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    codes = binary_quantize(emb)
    qcodes = (binary_quantize(queries, vec_col="query_vec", id_col="query_id")
              .select(F.col("vec_id").alias("query_id"),
                      F.col("bcode").alias("qcode")))
    w = Window.partitionBy("query_id").orderBy("hd", "vec_id")
    return (
        codes.join(F.broadcast(qcodes))
        .select("query_id", "vec_id",
                hamming_distance("bcode", "qcode").cast("int").alias("hd"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
    )


@register("itq_topk")  # rows-only: 1-bit codes are approximate by construction
def q_itq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITQ binary retrieval (Gong & Lazebnik CVPR 2011 — operators/pq.
    train_itq): the LEARNED 1-bit tier. Same 64-bit-per-vector budget and
    packed-int64 Hamming kernel as the raw sign tier (bq_hamming_rank /
    knn_topk_binary), but the bits come from sgn((x − μ)·W·R) with W the
    PCA basis and R the Procrustes-learned rotation minimizing
    binarization loss — centering alone matters (raw sign wastes bits on
    any non-zero-mean dimension), and the rotation balances variance per
    bit. Serve shape: one Arrow encode pass (32× byte shrink), broadcast
    8 query codes, Hamming shortlist 100 via bit_count(XOR), exact rerank
    top-20 — byte-identical scan costs to the raw tier, better bits.
    Measured at the fixture, same shortlist 100: ITQ recall@20 0.84 vs
    raw sign 0.77 (knn_topk_binary's 1.0 rides a 1000-deep shortlist —
    the whole 500-row fixture). Monotone training loss + loss ≤
    centered-sign baseline + shifted-data shortlist superiority are
    pinned in tests/test_pq.py."""
    from parquetaivectorsearch_spark.functions.vector import hamming_distance
    from parquetaivectorsearch_spark.operators import pq as PQ
    from pyspark.sql.window import Window

    emb = _t(spark, sf_dir, "embeddings")
    center, proj, _losses = PQ.train_itq(emb)
    codes = PQ.itq_encode(emb, center, proj)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    qcodes = (PQ.itq_encode(queries, center, proj,
                            vec_col="query_vec", id_col="query_id")
              .select(F.col("vec_id").alias("query_id"),
                      F.col("bcode").alias("qcode")))
    w = Window.partitionBy("query_id").orderBy("hd", "vec_id")
    short = (codes.join(F.broadcast(qcodes))
             .select("query_id", "vec_id",
                     hamming_distance("bcode", "qcode").alias("hd"))
             .withColumn("rank", F.row_number().over(w))
             .filter(F.col("rank") <= 100)
             .select("query_id", "vec_id"))
    return _with_recall(PQ.pq_rerank(short, emb, queries, k=20),
                        emb, queries, k=20)


@register("ivf_pq_residual")  # rows-only: doubly-approximate (coarse probe + residual PQ)
def q_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVFPQ serve — the exact IVFADC construction of Jégou 2011
    §V.B (FAISS's billion-scale default): codes quantize the COARSE
    RESIDUAL x − c(list(x)) instead of x, so the same m×k budget models a
    tighter distribution (strictly lower reconstruction MSE, pinned in
    tests/test_pq.py), and the ADC score adds the per-list <q, c_list>
    offset back — one driver matmul over the probed lists, gathered per
    row by list_id inside the same masked scan as ivf_pq_topk. Exact
    rerank restores top-20; carries the standard recall column."""
    from parquetaivectorsearch_spark.operators import pq as PQ

    emb = _t(spark, sf_dir, "embeddings")
    index = ANN.IVFIndex.build(emb, nlist=10)
    d = len(emb.first()["embedding"])
    rc = index.centroids.astype("float64")[:, :d]
    books = PQ.train_pq_residual(index, m=16, k=16)
    codes = PQ.pq_encode(index.lists, books, extra_cols=("list_id",),
                         residual_centroids=rc)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    short = PQ.ivf_pq_search(index, codes, books, queries,
                             nprobe=8, shortlist=500, residual=True)
    return _with_recall(PQ.pq_rerank(short, emb, queries, k=20),
                        emb, queries, k=20)


@register("opq_topk")  # rows-only: quantization is approximate by construction
def q_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-compressed search (operators/pq.train_opq — Ge et al. CVPR
    2013, non-parametric alternation): a learned orthogonal rotation
    redistributes variance across the m subspaces before quantization,
    so the same 16×16 code budget reconstructs with ≤ plain-PQ MSE
    (test-pinned); the ADC scan runs in rotated space (rotated query
    LUT — orthogonality preserves inner products) and the exact rerank
    stays in raw space. Same serve shape and byte budget as pq_topk;
    tighter shortlist quality is the whole difference."""
    from parquetaivectorsearch_spark.operators import pq as PQ

    emb = _t(spark, sf_dir, "embeddings")
    R, books = PQ.train_opq(emb, m=16, k=16)
    codes = PQ.pq_encode(emb, books, rotation=R)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    short = PQ.pq_adc_search(codes, books, queries, shortlist=500,
                             rotation=R)
    return _with_recall(PQ.pq_rerank(short, emb, queries, k=20),
                        emb, queries, k=20)


@register("dbscan_embeddings", """
    WITH RECURSIVE e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    p AS (
      SELECT a.vec_id AS va, b.vec_id AS vb FROM e a, e b
      WHERE a.vec_id < b.vec_id
        AND list_inner_product(a.v, b.v)
            / (sqrt(list_inner_product(a.v, a.v))
               * sqrt(list_inner_product(b.v, b.v))) >= 0.35
    ),
    sym AS (SELECT va, vb FROM p UNION ALL SELECT vb AS va, va AS vb FROM p),
    deg AS (SELECT va AS v, COUNT(*) AS d FROM sym GROUP BY va),
    core AS (SELECT v FROM deg WHERE d >= 2),
    ce AS (SELECT s.va, s.vb FROM sym s
           JOIN core c1 ON s.va = c1.v JOIN core c2 ON s.vb = c2.v),
    reach AS (
      SELECT v AS node, v AS lab FROM core
      UNION
      SELECT ce.va AS node, r.lab FROM ce JOIN reach r ON ce.vb = r.node
    ),
    clab AS (SELECT node, MIN(lab) AS cluster FROM reach GROUP BY node),
    bord AS (
      SELECT s.va AS v, MIN(cl.cluster) AS cluster
      FROM sym s JOIN clab cl ON s.vb = cl.node
      WHERE s.va NOT IN (SELECT v FROM core)
      GROUP BY s.va
    )
    SELECT emb.vec_id,
           CASE WHEN c.v IS NOT NULL THEN 'core'
                WHEN b.v IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(cl.cluster, b.cluster) AS BIGINT) AS cluster
    FROM e emb
    LEFT JOIN core c ON emb.vec_id = c.v
    LEFT JOIN clab cl ON emb.vec_id = cl.node
    LEFT JOIN bord b ON emb.vec_id = b.v
""")
def q_dbscan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the embedding corpus (Ester et al., KDD 1996) — the
    density-clustering family, composed from the engine's exact pieces
    so it is ORACLE-GATED (rare for clustering): ε-neighborhood pairs
    from the tiled exact cosine θ-join (cosine ≥ 0.35 ≡ ε), core points
    = ≥ minPts(3, counting self) neighbors, clusters = hash-to-min
    connected components over core-core edges (+ singleton cores),
    border points attach to the min adjacent core cluster, rest is
    noise. Every stage is integer/bit-deterministic arithmetic; the
    oracle recomputes the closure with a recursive CTE. At 100 TB the
    θ-join swaps for the IVF-blocked candidate generator
    (dedup_embedding's shape) — the only approximate stage, exactly as
    published distributed DBSCANs block with grids."""
    from parquetaivectorsearch_spark.operators.simjoin import (
        all_pairs_similarity_join)

    emb = _t(spark, sf_dir, "embeddings")
    pairs = all_pairs_similarity_join(emb, threshold=0.35, n_blocks=8) \
        .select("vec_a", "vec_b")
    return _dbscan_from_pairs(emb, pairs, min_deg=2)


def _dbscan_from_pairs(emb: DataFrame, pairs: DataFrame,
                       min_deg: int = 2) -> DataFrame:
    """DBSCAN label assignment given the ε-neighborhood PAIR table —
    shared by the exact (θ-join) and blocked (IVF candidate) variants:
    cores at degree ≥ min_deg, hash-to-min CC over core-core edges (+
    singleton cores), borders to the min adjacent core cluster, rest
    noise. Output (vec_id, role, cluster).

    The CC stage is hash-to-min path doubling
    (operators/components.connected_components): the sf0.1 ε-graph has a
    ~16-deep component, which hash-to-min closes in O(log n) rounds at
    one exchange per round."""
    from parquetaivectorsearch_spark.operators.components import (
        connected_components)

    # lazy: the ε-pair generator materializes inside the FIRST consuming
    # job (the CC loop's round-1 agg) instead of as its own blocking job;
    # every later consumer still reads the one materialized copy (r14)
    pairs = pairs.localCheckpoint(eager=False)
    sym = pairs.union(pairs.select(F.col("vec_b").alias("vec_a"),
                                   F.col("vec_a").alias("vec_b")))
    core = (sym.groupBy(F.col("vec_a").alias("v")).count()
            .filter(F.col("count") >= min_deg).select("v"))
    ce = (pairs
          .join(core.withColumnRenamed("v", "vec_a"), "vec_a")
          .join(core.withColumnRenamed("v", "vec_b"), "vec_b"))
    cc = connected_components(ce, a_col="vec_a", b_col="vec_b")
    clab = (core.join(cc.withColumnRenamed("doc_id", "v"), "v", "left")
            .select("v", F.coalesce("cluster_id", "v").alias("cluster")))
    bord = (sym.join(clab.withColumnRenamed("v", "vec_b")
                     .withColumnRenamed("cluster", "c2"), "vec_b")
            .join(core.withColumnRenamed("v", "vec_a"), "vec_a",
                  "left_anti")
            .groupBy(F.col("vec_a").alias("v"))
            .agg(F.min("c2").alias("cluster")))
    return (emb.select("vec_id")
            .join(clab.select(F.col("v").alias("vec_id"),
                              F.col("cluster").alias("c_core")),
                  "vec_id", "left")
            .join(bord.select(F.col("v").alias("vec_id"),
                              F.col("cluster").alias("c_bord")),
                  "vec_id", "left")
            .select(
                "vec_id",
                F.when(F.col("c_core").isNotNull(), F.lit("core"))
                 .when(F.col("c_bord").isNotNull(), F.lit("border"))
                 .otherwise(F.lit("noise")).alias("role"),
                F.coalesce("c_core", "c_bord").cast("bigint")
                 .alias("cluster")))


@register("dbscan_blocked")  # rows-only: IVF blocking is approximate by design
def q_dbscan_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB DBSCAN: identical label machinery
    (_dbscan_from_pairs) fed by the IVF-BLOCKED ε-pair generator
    (operators/ann.embedding_dedup — within-cluster candidates only,
    O(Σ nᵢ²) with nlist growing with N, exact-cosine-verified) instead
    of the exact O(N²) θ-join. Blocked pairs ⊆ exact pairs (every
    emitted pair is exact-verified; blocking only MISSES cross-list
    pairs), so blocked clusters can only under-merge — and for the
    regime density clustering targets (near-dup families, cosine ≈ 1,
    co-listed by construction) the planted-clone test pins exact
    agreement. This is the same exact-tier/blocked-tier split as
    similarity_join vs dedup_embedding."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = ANN.embedding_dedup(emb, threshold=0.35, nlist=8) \
        .select("vec_a", "vec_b")
    return _dbscan_from_pairs(emb, pairs, min_deg=2)


@register("ivf_opq_topk")  # rows-only: triply-approximate (probe + rotation + PQ)
def q_ivf_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FAISS billion-scale index string — OPQ,IVF,PQ — composed
    end-to-end: coarse probe cuts ROWS, the Procrustes rotation learned
    on the residual sample re-balances variance across subspaces
    (MSE ≤ un-rotated residual codes, test-pinned), 4-bit codes cut
    BYTES, the raw-space <q, c_list> offset restores the coarse term,
    and the exact rerank restores top-20. Same masked-scan serve shape
    as ivf_pq_topk/ivf_pq_residual; the rotation is a free LUT-side
    matmul at serve time."""
    from parquetaivectorsearch_spark.operators import pq as PQ

    emb = _t(spark, sf_dir, "embeddings")
    index = ANN.IVFIndex.build(emb, nlist=10)
    d = len(emb.first()["embedding"])
    rc = index.centroids.astype("float64")[:, :d]
    R, books = PQ.train_opq_residual(index, m=16, k=16)
    codes = PQ.pq_encode(index.lists, books, extra_cols=("list_id",),
                         residual_centroids=rc, rotation=R)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    short = PQ.ivf_pq_search(index, codes, books, queries, nprobe=8,
                             shortlist=500, residual=True, rotation=R)
    return _with_recall(PQ.pq_rerank(short, emb, queries, k=20),
                        emb, queries, k=20)


@register("ann_hnsw_filtered")  # rows-only: graph search is approximate
def q_ann_hnsw_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered HNSW serve (operators/hnsw.hnsw_search_filtered
    — the FAISS IDSelector use case): traversal stays unfiltered so the
    beam keeps the graph's navigability, admission is filtered, and the
    selectivity-aware over-search (k' = ceil(k/sel)·2) keeps enough
    allowed survivors in the beam. Filter here: label = 3 over the
    embedding corpus (≈10% selectivity). Carries the standard recall
    column vs the exact FILTERED oracle."""
    from parquetaivectorsearch_spark.operators import hnsw as H

    emb = _t(spark, sf_dir, "embeddings")
    graph = H.build_hnsw(emb, n_partitions=4)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    allowed = emb.filter(F.col("label") == 3).select("vec_id")
    res = H.hnsw_search_filtered(graph, queries, allowed, k=10)
    return _with_recall(res, emb.join(allowed, "vec_id"), queries, k=10)


@register("bq_asymmetric_rank", """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 4),
    s AS (
      SELECT q.query_id, e.vec_id,
             list_sum(list_transform(range(0, len(e.embedding)),
                  j -> CASE WHEN e.embedding[j + 1] > 0
                            THEN CAST(q.qv[j + 1] AS DOUBLE)
                            ELSE -CAST(q.qv[j + 1] AS DOUBLE) END)) AS score
      FROM embeddings e, q
    ),
    r AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, vec_id)
                     AS INTEGER) AS rank
      FROM s
    )
    SELECT query_id, vec_id, score, rank FROM r WHERE rank <= 10
""")
def q_bq_asymmetric_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC binary-quantization ranking — the standard recall
    upgrade over symmetric Hamming (bq_hamming_rank): keep the QUERY at
    full float precision and only quantize the corpus side, scoring
    Σⱼ qⱼ·sign(xⱼ) — a strictly finer-grained ordering than bit
    mismatch counts at the same 1-bit/dim corpus storage (the RaBitQ /
    FAISS-asymmetric observation). Exact top-10 per query with an exact
    oracle: the score is a sequential left fold of ±qⱼ terms (Catalyst
    aggregate HOF ≡ DuckDB list_sum fold — the same bit-determinism
    contract every dot-product oracle here relies on). Scale shape
    unchanged from the symmetric tier: broadcast queries × narrow
    sign-bit scan, window top-10."""
    from pyspark.sql.window import Window as W

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    signed = F.zip_with(
        "embedding", "query_vec",
        lambda x, q: F.when(x > 0, q.cast("double"))
                      .otherwise(-q.cast("double")))
    scored = emb.join(F.broadcast(queries)).select(
        "query_id", "vec_id",
        F.aggregate(signed, F.lit(0.0), lambda acc, v: acc + v)
        .alias("score"))
    w = W.partitionBy("query_id").orderBy(F.desc("score"), "vec_id")
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 10))


@register("ann_filtered_auto")  # rows-only: strategy-routed approximate serve
def q_ann_filtered_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strategy-routed filtered vector search: filtered_ann_strategy
    (operators/hnsw.py — the r11 MEASURED crossover: exact when
    k' ≥ n or the allowed set is ≤ 32k rows, IVF pre-filter below
    sel 0.15, HNSW over-search above) picks the serving path from
    (n_total, n_allowed, k), then this query RUNS that path — the
    auto_index-style composition a user calls when they don't want to
    reason about selectivity themselves. On the fixtures the label=3
    filter lands in the exact_filtered regime (a few hundred allowed
    rows — any index is overhead; recall 1.0 by definition), which the
    emitted ``strategy`` column makes visible to the driver check; the
    ivf/hnsw branches carry their own driver rows (ann_filtered_topk,
    ann_hnsw_filtered) and the crossover itself is pinned in
    tests/test_hnsw.py."""
    from parquetaivectorsearch_spark.operators import knn as KNN
    from parquetaivectorsearch_spark.operators.hnsw import (
        filtered_ann_strategy)

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    allowed = emb.filter(F.col("label") == 3).select("vec_id")
    n_total, n_allowed = emb.count(), allowed.count()
    strategy = filtered_ann_strategy(n_total, n_allowed, k=10)
    if strategy == "exact_filtered":
        res = KNN.knn_join(emb.join(allowed, "vec_id"), queries, k=10) \
            .select("query_id", "vec_id", "distance")
    elif strategy == "ivf_prefilter":
        index = ANN.IVFIndex.build(emb, nlist=10)
        res = ANN.ivf_search(index, queries, k=10, nprobe=8,
                             where=F.col("label") == 3) \
            .select("query_id", "vec_id", "distance")
    else:  # hnsw_oversearch
        from parquetaivectorsearch_spark.operators import hnsw as H

        graph = H.build_hnsw(emb, n_partitions=4)
        res = H.hnsw_search_filtered(graph, queries, allowed, k=10)
    return res.withColumn("strategy", F.lit(strategy))
