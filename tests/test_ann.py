"""ANN semantic checks: IVF recall vs the exact-KNN oracle, persist/load
round-trip equality, embedding-dedup clone recovery (SURVEY.md §5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquetaivectorsearch_spark.operators import ann as ANN
from parquetaivectorsearch_spark.operators import knn
from parquetaivectorsearch_spark.sources import load_table
from tests.conftest import SF_SMOKE, executed_plans_and_jobs


def _queries(emb, n=8):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_ivf_recall_vs_exact_planted(spark):
    """recall@20 ≥ 0.9 against the exact-KNN oracle (arXiv:1603.09320 §5
    methodology), on a corpus with planted near-neighbors.

    The raw fixture embeddings are ~random unit vectors (within-label mean
    cosine 0.009 vs between-label -0.004), so top-20 neighbors are spread
    uniformly over cells and *any* partitioned ANN caps at recall ≈
    nprobe/nlist — that measures the data, not the index. Planting 20
    jittered copies of each query restores the structure ANN exists for
    (real corpora have it); truth stays the exact oracle, not the plant
    list."""
    import numpy as np

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.toPandas()
    x = np.stack(base["embedding"].to_numpy()).astype(np.float32)
    rng = np.random.RandomState(7)
    rows = []
    next_id = int(base["vec_id"].max()) + 1
    for q in range(8):
        for _ in range(20):
            v = x[q] + 0.05 * rng.randn(x.shape[1]).astype(np.float32)
            v /= np.linalg.norm(v)
            rows.append((next_id, [float(f) for f in v], -1))
            next_id += 1
    planted = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
    corpus = emb.union(planted)

    queries = _queries(emb)
    exact = {(r.query_id, r.vec_id)
             for r in knn.knn_join(corpus, queries, k=20).collect()}
    index = ANN.IVFIndex.build(corpus, nlist=10)
    approx = {(r.query_id, r.vec_id)
              for r in ANN.ivf_search(index, queries, k=20, nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall@20 = {recall:.3f}"


def test_distributed_trainer_recall_parity_and_determinism(spark):
    """VERDICT r13 #1: the distributed coarse-quantizer trainer
    (train_centroids_distributed — kmeans‖ → Arrow-tier Lloyd over every
    row) must serve the same planted-cluster fixture at recall parity
    with the sampled trainer (≥ 0.9 absolute AND within 0.05 of the
    sample path), and must be deterministic and partitioning-invariant
    (hash-uniform seeding + fixed driver RNG + 9dp round — byte-equal
    centroids across runs and repartitionings)."""
    import numpy as np

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.toPandas()
    x = np.stack(base["embedding"].to_numpy()).astype(np.float32)
    rng = np.random.RandomState(7)
    rows = []
    next_id = int(base["vec_id"].max()) + 1
    for q in range(8):
        for _ in range(20):
            v = x[q] + 0.05 * rng.randn(x.shape[1]).astype(np.float32)
            v /= np.linalg.norm(v)
            rows.append((next_id, [float(f) for f in v], -1))
            next_id += 1
    planted = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
    corpus = emb.union(planted)
    queries = _queries(emb)

    exact = {(r.query_id, r.vec_id)
             for r in knn.knn_join(corpus, queries, k=20).collect()}

    def recall_of(index):
        approx = {(r.query_id, r.vec_id) for r in
                  ANN.ivf_search(index, queries, k=20, nprobe=4).collect()}
        return len(exact & approx) / len(exact)

    r_sample = recall_of(ANN.IVFIndex.build(corpus, nlist=10))
    idx_dist = ANN.IVFIndex.build(corpus, nlist=10, trainer="distributed")
    r_dist = recall_of(idx_dist)
    assert r_dist >= 0.9, f"distributed recall@20 = {r_dist:.3f}"
    assert r_dist >= r_sample - 0.05, (r_dist, r_sample)

    # determinism + partitioning invariance of the trainer itself
    c1, mn1 = ANN.train_centroids_distributed(corpus, nlist=10)
    c2, mn2 = ANN.train_centroids_distributed(corpus.repartition(7),
                                              nlist=10)
    assert mn1 == mn2
    assert c1.shape == c2.shape and np.array_equal(c1, c2)
    # the index build used the same deterministic path
    assert np.array_equal(idx_dist.centroids, c1)
    # metric preprocessing happened: "ip" augments one extra dim
    assert c1.shape[1] == x.shape[1] + 1


def test_ivf_persist_load_roundtrip(spark, tmp_path):
    """Persist → load must return the identical result set (the reference's
    own checksum-after-deserialize check, Program.cs:223-227)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = _queries(emb, n=1)
    index = ANN.IVFIndex.build(emb, nlist=10)
    mem = {(r.query_id, r.vec_id, round(r.distance, 6))
           for r in ANN.ivf_search(index, queries, k=20, nprobe=4).collect()}
    path = str(tmp_path / "index")
    index.save(spark, path)
    loaded = ANN.IVFIndex.load(spark, path)
    disk = {(r.query_id, r.vec_id, round(r.distance, 6))
            for r in ANN.ivf_search(loaded, queries, k=20, nprobe=4).collect()}
    assert mem == disk
    # plan guard: a loaded-index search is one probed-union scan scored
    # by mapInArrow, with no probe join
    plans, _ = executed_plans_and_jobs(
        spark, lambda: ANN.ivf_search(loaded, queries, k=20, nprobe=4))
    assert any("MapInArrow" in plan for plan in plans), plans
    assert not any("Join" in plan for plan in plans), plans


def test_ivf_partition_pruning(spark, tmp_path):
    """The persisted lists must be probed via partition pruning: the scan of
    a 2-probe search reads only the probed list_id directories."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = ANN.IVFIndex.build(emb, nlist=10)
    path = str(tmp_path / "index")
    index.save(spark, path)
    loaded = ANN.IVFIndex.load(spark, path)
    pruned = loaded.lists.filter(F.col("list_id").isin([0, 1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "list_id" in plan
    # row counts: pruned scan returns exactly the two lists' members
    expect = loaded.lists.filter(F.col("list_id").isin([0, 1])).count()
    got = pruned.count()
    assert got == expect and got < loaded.lists.count()


def test_embedding_dedup_finds_clones(spark):
    """Exact-duplicate vectors (cosine 1) must be recovered as pairs."""
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(100)
    clones = emb.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
    pairs = ANN.embedding_dedup(emb.union(clones), threshold=0.999, nlist=4)
    got = {(r.vec_a, r.vec_b) for r in pairs.collect()}
    expected = {(r.vec_id, r.vec_id + 1_000_000) for r in emb.collect()}
    assert expected <= got


def test_adaptive_nlist_scales_with_corpus():
    """Blocking-cluster count must grow with N (VERDICT r4 #5): a fixed
    nlist makes within-list pair work quadratic in corpus size."""
    from parquetaivectorsearch_spark.operators.ann import (
        AVG_DEDUP_LIST_SIZE, adaptive_nlist)

    assert adaptive_nlist(100) == 2                       # floor
    assert adaptive_nlist(10 * AVG_DEDUP_LIST_SIZE) == 10  # linear middle
    assert adaptive_nlist(10**9) == 4096                  # trainability cap
    # expected list size stays ~constant through the linear regime
    for n in (10**4, 10**5, 10**6):
        assert abs(n / adaptive_nlist(n) - AVG_DEDUP_LIST_SIZE) \
            <= AVG_DEDUP_LIST_SIZE


def test_embedding_dedup_adaptive_default(spark):
    """Default (adaptive) nlist still recovers planted exact duplicates."""
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(60)
    clones = emb.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
    pairs = ANN.embedding_dedup(emb.union(clones), threshold=0.999)
    got = {(r.vec_a, r.vec_b) for r in pairs.collect()}
    expected = {(r.vec_id, r.vec_id + 1_000_000) for r in emb.collect()}
    assert expected <= got


def test_ann_queries_carry_recall_column(spark):
    """The rows-only ANN driver queries must emit a per-query recall column
    ≥ 0.9 (VERDICT r4 #3/#7) so accuracy is visible in recorded rows."""
    from parquetaivectorsearch_spark.queries_ann import q_ann_topk, q_pq_topk

    for q in (q_ann_topk, q_pq_topk):
        rows = q(spark, SF_SMOKE).collect()
        assert len(rows) == 20
        assert all(r.recall >= 0.9 for r in rows), q.__name__


def test_knn_topk_int8_exact_after_rerank(spark):
    """The int8-shortlist + exact-rerank serve path must return the exact
    top-20 (recall 1.0): the quantization error bound (scale/2 per element)
    cannot evict a true neighbor from a `_INT8_SHORTLIST`-deep shortlist
    at fixture scale."""
    from parquetaivectorsearch_spark.queries_ann import q_knn_topk_int8
    from tests.conftest import SF_CORRECT

    rows = q_knn_topk_int8(spark, SF_CORRECT).collect()
    assert len(rows) == 160  # 8 queries x k=20
    assert all(r.recall == 1.0 for r in rows)


def test_knn_topk_int8_serves_from_artifact(spark):
    """Phase 1 of the int8 serve path must scan the PERSISTED quantized
    artifact (array<tinyint> + scale), not the float32 corpus — the 4×-
    fewer-bytes claim lives in the plan (VERDICT r5 #4). The artifact is
    (re)built once per fixture; its schema must carry ByteType elements."""
    from pyspark.sql import types as T

    from parquetaivectorsearch_spark.queries_ann import (int8_artifact,
                                                         q_knn_topk_int8)
    from tests.conftest import SF_CORRECT

    art = int8_artifact(spark, SF_CORRECT)
    qvec_type = dict(zip(art.schema.names, [f.dataType for f in art.schema]))
    assert qvec_type["qvec"] == T.ArrayType(T.ByteType(), True)

    plan = q_knn_topk_int8(spark, SF_CORRECT) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "pavs_int8_" in plan, "phase 1 must read the persisted artifact"


def test_knn_graph_exact_when_probing_all_lists(spark):
    """nprobe = nlist degenerates knn_graph to the exact 3-NN graph: every
    query scans every list, so the edge set must EQUAL a driver-side numpy
    top-3 (same dot metric, same dst tie-break)."""
    import numpy as np

    emb = load_table(spark, SF_SMOKE, "embeddings").filter(F.col("vec_id") < 200)
    got = {
        (r.src, r.dst)
        for r in ANN.knn_graph(emb, k=3, nlist=4, nprobe=4).collect()
    }

    pdf = emb.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    x = np.stack(pdf["embedding"].to_numpy()).astype(np.float32).astype(np.float64)
    dots = x @ x.T
    want = set()
    for i in range(len(ids)):
        order = sorted(
            (j for j in range(len(ids)) if j != i),
            key=lambda j: (1.0 - dots[i, j], ids[j]),
        )[:3]
        want.update((int(ids[i]), int(ids[j])) for j in order)
    assert got == want


def test_knn_graph_pruned_recall(spark):
    """Probing half the lists on the ~uniform fixtures must still recover a
    healthy fraction of true edges (structure-free data lower-bounds ANN
    recall at ~nprobe/nlist; clustered real corpora do far better), and
    every node keeps its k out-edges so the symmetrized pagerank graph
    stays well-formed."""
    emb = load_table(spark, SF_SMOKE, "embeddings").filter(F.col("vec_id") < 200)
    exact = {
        (r.src, r.dst)
        for r in ANN.knn_graph(emb, k=3, nlist=4, nprobe=4).collect()
    }
    pruned = ANN.knn_graph(emb, k=3, nlist=4, nprobe=2).collect()
    got = {(r.src, r.dst) for r in pruned}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, recall
    from collections import Counter

    per_src = Counter(r.src for r in pruned)
    assert all(v == 3 for v in per_src.values())
    assert len(per_src) == 200


def test_compact_hot_lists_splits_skew_and_preserves_results(spark, tmp_path):
    """IVF maintenance: plant a heavily skewed corpus (one cell holds half
    the vectors), persist, compact. The hot list must split (max size
    drops, nlist grows), ids stay contiguous with the centroid matrix, the
    member multiset is untouched, and exhaustive search (nprobe = nlist)
    returns IDENTICAL ids before and after — compaction moves members
    between cells, never changes them."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    # tight clump of 300 near one direction + 300 spread vectors
    base = rng.randn(64).astype(np.float32)
    base /= np.linalg.norm(base)
    for i in range(300):
        v = base + 0.01 * rng.randn(64).astype(np.float32)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    for i in range(300, 600):
        v = rng.randn(64).astype(np.float32)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    corpus = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")

    index = ANN.IVFIndex.build(corpus, nlist=4)
    path = str(tmp_path / "index")
    index.save(spark, path)

    queries = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    before_idx = ANN.IVFIndex.load(spark, path)
    before = {(r.query_id, r.vec_id)
              for r in ANN.ivf_search(before_idx, queries, k=10,
                                      nprobe=len(before_idx.centroids)).collect()}
    before_ids = sorted(r.vec_id for r in before_idx.lists.select("vec_id").collect())

    summary = ANN.compact_hot_lists(spark, path, hot_ratio=1.5)
    assert summary["hot"], summary  # the clump cell must be flagged
    assert summary["skipped"] == []  # healthy clumps must actually split
    assert summary["nlist_after"] == summary["nlist_before"] + len(summary["hot"])
    assert summary["max_size_after"] < summary["max_size_before"], summary

    after_idx = ANN.IVFIndex.load(spark, path)
    assert len(after_idx.centroids) == summary["nlist_after"]
    after_ids = sorted(r.vec_id for r in after_idx.lists.select("vec_id").collect())
    assert after_ids == before_ids  # membership untouched
    lids = {r.list_id for r in after_idx.lists.select("list_id").distinct().collect()}
    assert lids <= set(range(len(after_idx.centroids)))  # contiguous id space
    after = {(r.query_id, r.vec_id)
             for r in ANN.ivf_search(after_idx, queries, k=10,
                                     nprobe=len(after_idx.centroids)).collect()}
    assert after == before


def test_compact_hot_lists_skips_degenerate_split(spark, tmp_path):
    """An all-identical hot list collapses the seeded 2-means (every member
    re-assigns to one side). Dynamic partition overwrite would then leave
    the absent partition's old files alive and duplicate the list — the
    guard must skip the split instead: nlist unchanged, membership
    untouched, exhaustive search identical before and after."""
    import numpy as np

    rng = np.random.RandomState(11)
    v0 = rng.randn(64).astype(np.float32)
    v0 /= np.linalg.norm(v0)
    rows = [(i, [float(x) for x in v0]) for i in range(300)]
    for i in range(300, 360):
        v = rng.randn(64).astype(np.float32)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    corpus = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    index = ANN.IVFIndex.build(corpus, nlist=4)
    path = str(tmp_path / "index")
    index.save(spark, path)

    before_idx = ANN.IVFIndex.load(spark, path)
    queries = corpus.filter(F.col("vec_id").isin(0, 301)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    # the clump makes huge distance ties → compare distance multisets, not
    # tie-broken id sets
    before = sorted((r.query_id, round(r.distance, 5))
                    for r in ANN.ivf_search(before_idx, queries, k=5,
                                            nprobe=len(before_idx.centroids)).collect())
    before_ids = sorted(r.vec_id for r in before_idx.lists.select("vec_id").collect())

    summary = ANN.compact_hot_lists(spark, path, hot_ratio=1.5)
    assert summary["hot"], summary  # the clump cell is hot
    assert summary["skipped"] == summary["hot"], summary  # and degenerate
    assert summary["nlist_after"] == summary["nlist_before"]

    after_idx = ANN.IVFIndex.load(spark, path)
    after_ids = sorted(r.vec_id for r in after_idx.lists.select("vec_id").collect())
    assert after_ids == before_ids  # no duplication from stale partitions
    after = sorted((r.query_id, round(r.distance, 5))
                   for r in ANN.ivf_search(after_idx, queries, k=5,
                                           nprobe=len(after_idx.centroids)).collect())
    assert after == before


def test_compact_hot_lists_noop_on_balanced_index(spark, tmp_path):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = ANN.IVFIndex.build(emb, nlist=8)
    path = str(tmp_path / "index")
    index.save(spark, path)
    summary = ANN.compact_hot_lists(spark, path, hot_ratio=6.0)
    assert summary["hot"] == []
    assert summary["nlist_after"] == summary["nlist_before"]


def test_ivf_range_search_full_probe_is_exact(spark):
    """Probing every list makes range search exact: the returned id set
    equals the brute-force radius set (the 0.9 boundary sits in a sparse
    region of the fixture's distance distribution, so float32 batch
    scoring cannot flip membership). Partial probing returns a subset."""
    from parquetaivectorsearch_spark.functions.vector import dot_product_distance

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = _queries(emb, n=1)
    exact = set(
        r.vec_id
        for r in emb.join(F.broadcast(queries))
        .select("vec_id",
                dot_product_distance("embedding", "query_vec").alias("d"))
        .filter(F.col("d") < 0.9)
        .collect()
    )
    index = ANN.IVFIndex.build(emb, nlist=10)
    full = ANN.ivf_range_search(index, queries, radius=0.9, nprobe=10)
    assert set(r.vec_id for r in full.collect()) == exact
    part = ANN.ivf_range_search(index, queries, radius=0.9, nprobe=3)
    got = set(r.vec_id for r in part.collect())
    assert got <= exact and len(got) > 0


def test_ivf_filtered_search_full_probe_equals_exact_filtered(spark):
    """With every list probed, pre-filtered IVF top-k returns exactly the
    ids of the exact filtered KNN (the predicate only removes candidates,
    never reorders survivors)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = _queries(emb, n=1)
    index = ANN.IVFIndex.build(emb, nlist=10)
    got = ANN.ivf_search(index, queries, k=10, nprobe=10,
                         where=F.col("label") == 3)
    exact = knn.knn_join(emb.filter(F.col("label") == 3), queries, k=10)
    assert (set(r.vec_id for r in got.collect())
            == set(r.vec_id for r in exact.collect()))
    # every returned row satisfies the predicate
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert all(labels[r.vec_id] == 3 for r in got.collect())


def test_ivf_index_stats_invariants(spark):
    """Index stats: list sizes sum to the corpus size, every list is
    non-empty (build re-seeds empty cells), and the imbalance factor is
    ≥ 1 (=1 iff perfectly balanced)."""
    from parquetaivectorsearch_spark.queries_ann import q_ann_index_stats
    from tests.conftest import SF_SMOKE

    rows = q_ann_index_stats(spark, SF_SMOKE).collect()
    emb_n = load_table(spark, SF_SMOKE, "embeddings").count()
    assert sum(r.n_vectors for r in rows) == emb_n
    assert all(r.total_vectors == emb_n for r in rows)
    assert rows[0].n_lists == len(rows)
    assert all(r.n_vectors > 0 for r in rows)
    assert rows[0].imbalance >= 1.0


def test_ivf_kernel_matches_probe_restricted_brute_force(spark):
    """The one IVF scoring kernel against numpy: for nprobe 3 and 8, with
    and without ``where=``, top-k and radius return exactly the
    (query_id, vec_id) set of a float64 brute force over each query's
    own lists as probe_lists (the distributed probe) picks them — so the
    driver-side probe_mask and probe_lists agree. Full probe equals the
    exact knn_join. Fixture neighbor gaps and the sparse 0.9 radius
    boundary dwarf the float32 batch-scoring error."""
    from functools import reduce

    import numpy as np
    from pyspark.sql import DataFrame

    from parquetaivectorsearch_spark.functions.vector import arrow_matrix

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = ANN.IVFIndex.build(emb, nlist=8)
    index.lists = index.lists.localCheckpoint()  # assign once, search 8×
    queries = _queries(emb, n=4)
    t = index.lists.select("vec_id", "list_id", "label", "embedding").toArrow()
    ids, lids = t.column("vec_id").to_numpy(), t.column("list_id").to_numpy()
    label3 = t.column("label").to_numpy() == 3
    x = arrow_matrix(t.column("embedding"), np.float64)
    q_ids = np.arange(4)
    dist = 1.0 - x @ x[[int(np.flatnonzero(ids == q)[0]) for q in q_ids]].T
    k, radius = 10, 0.9

    def brute(probes, keep):
        topk, within = set(), set()
        for j, q in enumerate(q_ids):
            rows = np.flatnonzero(np.isin(lids, probes[q]) & keep)
            best = rows[np.lexsort((ids[rows], dist[rows, j]))[:k]]
            topk |= {(int(q), int(i)) for i in ids[best]}
            within |= {(int(q), int(i))
                       for i in ids[rows[dist[rows, j] < radius]]}
        return topk, within

    probed3 = {}
    for r in ANN.probe_lists(queries, index, 3).collect():
        probed3.setdefault(r.query_id, []).append(r.list_id)
    cases = [(nprobe, probes, where, keep)
             for nprobe, probes in ((3, probed3),
                                    (8, {q: range(8) for q in q_ids}))
             for where, keep in ((None, np.ones(len(ids), bool)),
                                 (F.col("label") == 3, label3))]
    # every run in ONE collect, tagged: 2i = top-k, 2i+1 = radius, -1 = exact
    frames = [knn.knn_join(emb, queries, k=k)
              .select(F.lit(-1).alias("run"), "query_id", "vec_id")]
    for i, (nprobe, _, where, _) in enumerate(cases):
        frames += [
            ANN.ivf_search(index, queries, k=k, nprobe=nprobe, where=where)
            .select(F.lit(2 * i).alias("run"), "query_id", "vec_id"),
            ANN.ivf_range_search(index, queries, radius=radius,
                                 nprobe=nprobe, where=where)
            .select(F.lit(2 * i + 1).alias("run"), "query_id", "vec_id")]
    got = {}
    for r in reduce(DataFrame.union, frames).collect():
        got.setdefault(r.run, set()).add((r.query_id, r.vec_id))
    for i, (nprobe, probes, where, keep) in enumerate(cases):
        want_topk, want_within = brute(probes, keep)
        assert got.get(2 * i) == want_topk, (nprobe, where)
        assert got.get(2 * i + 1) == want_within, (nprobe, where)
    assert got[4] == got[-1]  # full probe (case 2: nprobe 8, no where) == exact


def test_semantic_dedup_prune_keeps_one_per_clone_group(spark):
    """SemDeDup invariants on planted clones: every vector gets exactly one
    row; each clone group keeps EXACTLY ONE member and it is the
    (lowest centroid-sim, lowest id) survivor; singletons are all kept;
    pruning is confined to the clone groups."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                   StructField, StructType)

    rng = np.random.RandomState(3)
    dim = 16
    base = rng.randn(40, dim).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(int(i), base[i].tolist()) for i in range(40)]
    # two clone groups: 4 copies of vec 0 (ids 100-103), 3 jittered
    # near-copies of vec 1 (ids 200-202, cosine > 0.999)
    for j in range(4):
        rows.append((100 + j, base[0].tolist()))
    for j in range(3):
        v = base[1] + 0.001 * rng.randn(dim).astype(np.float32)
        rows.append((200 + j, (v / np.linalg.norm(v)).tolist()))
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding", ArrayType(FloatType()))])
    emb = spark.createDataFrame(pd.DataFrame(rows,
                                             columns=["vec_id", "embedding"]),
                                schema)
    out = {r.vec_id: r for r in
           ANN.semantic_dedup_prune(emb, eps=0.01, nlist=4).collect()}
    assert len(out) == len(rows)  # one decision per vector
    g0 = [i for i in (0, 100, 101, 102, 103) if out[i].keep]
    g1 = [i for i in (1, 200, 201, 202) if out[i].keep]  # vec 1 joins its
    assert len(g0) == 1 and len(g1) == 1, (g0, g1)       # jittered copies
    # exact clones tie on centroid_sim -> survivor is the LOWEST id
    assert g0 == [0], g0
    # everything outside the clone groups survives
    pruned = {i for i, r in out.items() if not r.keep}
    assert pruned <= {0, 1, 100, 101, 102, 103, 200, 201, 202}, pruned
    assert len(pruned) == 7  # 4 + 3 redundant copies dropped


def test_auto_index_picks_tier_by_measured_crossover(spark):
    """auto_index encodes the SCALING.md build-cost study as the operator
    default (VERDICT r8 #7): below the ~100k-vector crossover the
    serve-latency HNSW tier, at/above it IVF with adaptive nlist. The
    fixture corpus (500 vectors) must build a searchable HNSW graph; the
    same corpus with a claimed large n must return an IVFIndex sized by
    adaptive_nlist WITHOUT counting (n short-circuits)."""
    from parquetaivectorsearch_spark.operators import hnsw as H

    emb = load_table(spark, SF_SMOKE, "embeddings")
    kind, graph = ANN.auto_index(emb)
    assert kind == "hnsw"
    q = _queries(emb, n=2)
    hits = H.hnsw_search(graph, q, k=5).collect()
    assert {r.query_id for r in hits} == {0, 1}

    # exactly at the crossover: IVF (the unbounded-growth side), nlist
    # sized by the CLAIMED n, not the fixture row count
    kind, index = ANN.auto_index(emb, n=ANN.AUTO_INDEX_CROSSOVER)
    assert kind == "ivf"
    assert isinstance(index, ANN.IVFIndex)
    assert len(index.centroids) == ANN.adaptive_nlist(ANN.AUTO_INDEX_CROSSOVER)


def test_bulk_topk_tie_break_on_id_with_duplicates(spark):
    """ADVICE r8: exact-duplicate vectors tie at the batch-k boundary, and
    the per-batch partial top-k in ivf_search / knn_graph must keep
    the id-winning rows (lexsort, not argpartition) or the global
    (distance, id) window ranks whichever ids happened to survive the
    cut. Corpus: 12 exact copies of one vector — top-5 MUST be the 5
    LOWEST duplicate ids in both paths."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                   StructField, StructType)

    dim = 8
    v = (np.arange(dim) / dim + 0.1).astype(np.float32)
    v /= np.linalg.norm(v)
    rng = np.random.RandomState(5)
    rows = [(int(i), (v if i < 12 else
                      rng.randn(dim).astype(np.float32) * 0.01).tolist())
            for i in range(60)]
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding", ArrayType(FloatType()))])
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]), schema)
    # single list => one mapInPandas batch sees all 12 duplicates at once
    index = ANN.IVFIndex.build(emb, nlist=1)
    q = spark.createDataFrame(
        pd.DataFrame([(0, v.tolist())], columns=["query_id", "query_vec"]),
        StructType([StructField("query_id", LongType()),
                    StructField("query_vec", ArrayType(FloatType()))]))
    got = sorted(r.vec_id
                 for r in ANN.ivf_search(index, q, k=5, nprobe=1)
                 .collect())
    assert got == [0, 1, 2, 3, 4], got
    # knn_graph: every duplicate's neighbors are the LOWEST other dup ids
    dup = emb.filter(F.col("vec_id") < 12)
    edges = {}
    for r in ANN.knn_graph(dup, k=3, nlist=1, nprobe=1).collect():
        edges.setdefault(r.src, []).append(r.dst)
    for src, dsts in edges.items():
        want = [i for i in range(4) if i != src][:3]
        assert sorted(dsts) == want, (src, sorted(dsts), want)


def test_dbscan_invariants(spark):
    """DBSCAN output invariants at smoke scale: roles partition the
    corpus; cluster label present iff not noise; every cluster label is
    the min vec_id of its members that are cores (min-label canon);
    cores exist whenever any pair exists (density 'ge' minPts must be
    attainable or everything is noise - vacuity guard at sf0.001 only
    if pairs exist)."""
    from parquetaivectorsearch_spark.queries_ann import q_dbscan_embeddings
    from tests.conftest import SF_CORRECT

    rows = q_dbscan_embeddings(spark, SF_CORRECT).collect()
    assert len(rows) == 500
    by_role = {}
    for r in rows:
        by_role.setdefault(r.role, []).append(r)
        assert (r.cluster is None) == (r.role == "noise"), r
    assert set(by_role) == {"core", "border", "noise"}
    cores = {r.vec_id: r.cluster for r in by_role["core"]}
    # min-label canon: each cluster's label equals min core vec_id in it
    from collections import defaultdict
    members = defaultdict(list)
    for v, c in cores.items():
        members[c].append(v)
    for c, vs in members.items():
        assert c == min(vs), (c, vs)
    # borders attach to an existing core cluster
    core_clusters = set(cores.values())
    assert all(r.cluster in core_clusters for r in by_role["border"])


def test_dbscan_blocked_agrees_on_planted_clones(spark):
    """The blocked (IVF-candidate) DBSCAN must agree with the exact
    (θ-join) variant on the regime blocking targets: planted clone
    families (cosine ≈ 1, co-listed by construction) form the same
    clusters with the same roles; and blocked pairs can only UNDER-merge
    (blocked noise set ⊇ exact noise set)."""
    import numpy as np
    import pyspark.sql.functions as F

    from parquetaivectorsearch_spark.operators import ann as ANN
    from parquetaivectorsearch_spark.operators.simjoin import (
        all_pairs_similarity_join)
    from parquetaivectorsearch_spark.queries_ann import _dbscan_from_pairs
    from parquetaivectorsearch_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.toPandas()
    x = np.stack(base["embedding"].to_numpy()).astype(np.float32)
    rng = np.random.RandomState(61)
    rows, next_id = [], int(base["vec_id"].max()) + 1
    family_ids = []
    for fam in range(3):
        ids = []
        for _ in range(4):
            v = x[fam] + 0.01 * rng.randn(x.shape[1]).astype(np.float32)
            v /= np.linalg.norm(v)
            rows.append((next_id, [float(f) for f in v], -1))
            ids.append(next_id)
            next_id += 1
        family_ids.append(ids)
    planted = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
    corpus = emb.union(planted)

    exact_pairs = all_pairs_similarity_join(
        corpus, threshold=0.9, n_blocks=8).select("vec_a", "vec_b")
    blocked_pairs = ANN.embedding_dedup(
        corpus, threshold=0.9, nlist=8).select("vec_a", "vec_b")
    exact = {r.vec_id: (r.role, r.cluster) for r in
             _dbscan_from_pairs(corpus, exact_pairs).collect()}
    blocked = {r.vec_id: (r.role, r.cluster) for r in
               _dbscan_from_pairs(corpus, blocked_pairs).collect()}
    for fam in family_ids:
        assert all(exact[v] == blocked[v] for v in fam), fam
        assert len({blocked[v][1] for v in fam}) == 1  # one cluster
        assert all(blocked[v][0] == "core" for v in fam)
    exact_noise = {v for v, (r, _c) in exact.items() if r == "noise"}
    blocked_noise = {v for v, (r, _c) in blocked.items() if r == "noise"}
    assert exact_noise <= blocked_noise  # blocking only under-merges


def test_maxsim_pruned_certificate_on_clustered_tokens(spark):
    """The admissible-bound MaxSim pruner on data with real cluster
    structure (the regime multi-vector embeddings live in): 300 docs
    whose 4 tokens each sit near one of 8 tight cluster centers. Pins
    both halves of the design claim:
    (a) EXACTNESS — the certified candidate set contains every doc of
        the brute-force top-10 (the superset guarantee the threshold
        certificate promises), so the reranked answer equals exact;
    (b) PRUNING — the candidate fraction is < 60% of the corpus, i.e.
        the bound actually bites when radii are small (on the uniform
        fixture it admits everything — documented in the query)."""
    import numpy as np

    from parquetaivectorsearch_spark.queries_vector import (
        maxsim_prune_candidates,
    )

    rng = np.random.RandomState(17)
    n_doc, n_tok, dim, n_clu = 300, 4, 16, 8
    centers = rng.randn(n_clu, dim) * 3.0
    toks = (centers[rng.randint(0, n_clu, (n_doc, n_tok))]
            + rng.randn(n_doc, n_tok, dim) * 0.05)
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in toks[i].reshape(-1)])
         for i in range(n_doc)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    qtoks = toks[0]

    # brute-force exact top-10
    scores = {}
    for i in range(n_doc):
        grid = qtoks @ toks[i].reshape(n_tok, dim).T
        scores[i] = float(grid.max(axis=1).sum())
    exact10 = [v for v, _ in sorted(scores.items(),
                                    key=lambda kv: (-kv[1], kv[0]))[:10]]

    cand = {r.vec_id for r in maxsim_prune_candidates(
        emb, qtoks, nlist=8, seed_c=16, k=10).collect()}
    assert set(exact10) <= cand, "certificate lost a true top-10 doc"
    frac = len(cand) / n_doc
    assert frac < 0.6, f"no real pruning on clustered data: {frac:.2f}"
