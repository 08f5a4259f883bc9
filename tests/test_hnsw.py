"""HNSW semantic checks: recall vs the exact oracle, persist/load
round-trip equality (the reference's own checksum-after-deserialize
invariant, Program.cs:223-227), global-merge correctness, heuristic
neighbor selection (paper Alg. 4) recall on clustered data, and the
join-free serve-path plan."""

from __future__ import annotations

from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from parquetaivectorsearch_spark.operators import hnsw as H
from parquetaivectorsearch_spark.operators import knn
from parquetaivectorsearch_spark.sources import load_table
from tests.conftest import SF_SMOKE


def _queries(emb, n=8):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_hnsw_recall_vs_exact(spark):
    """recall@20 ≥ 0.9 against the exact-KNN oracle (arXiv:1603.09320 §5
    methodology). Unlike pruned-probe IVF, HNSW searches every partition
    graph, so no neighbor structure needs planting even on the ~random
    fixture vectors."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = _queries(emb)
    exact = {(r.query_id, r.vec_id)
             for r in knn.knn_join(emb, queries, k=20).collect()}
    graph = H.build_hnsw(emb, n_partitions=4)
    approx = {(r.query_id, r.vec_id)
              for r in H.hnsw_search(graph, queries, k=20).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall@20 = {recall:.3f}"


def test_hnsw_persist_load_roundtrip(spark, tmp_path):
    """Persist → load must return the identical result set (vectors ride
    with the graph — no corpus needed after load)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = _queries(emb, n=1)
    graph = H.build_hnsw(emb, n_partitions=4)
    mem = {(r.query_id, r.vec_id, round(r.distance, 6))
           for r in H.hnsw_search(graph, queries, k=20).collect()}
    path = str(tmp_path / "graph")
    H.write_hnsw(graph, path)
    loaded = H.read_hnsw(spark, path)
    assert "embedding" in loaded.columns
    disk = {(r.query_id, r.vec_id, round(r.distance, 6))
            for r in H.hnsw_search(loaded, queries, k=20).collect()}
    assert mem == disk
    assert len(mem) == 20


def test_hnsw_topology_only_rebind(spark, tmp_path):
    """Reference-parity persistence (topology only, Program.cs:231-244)
    still works: vectors re-bound from the corpus at search
    (Program.cs:256), identical results to the vector-carrying layout."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = _queries(emb, n=1)
    graph = H.build_hnsw(emb, n_partitions=4)
    full = {(r.query_id, r.vec_id, round(r.distance, 6))
            for r in H.hnsw_search(graph, queries, k=20).collect()}
    path = str(tmp_path / "graph")
    H.write_hnsw(graph, path, topology_only=True)
    loaded = H.read_hnsw(spark, path)
    assert "embedding" not in loaded.columns
    rebound = {(r.query_id, r.vec_id, round(r.distance, 6))
               for r in H.hnsw_search(loaded, queries, k=20,
                                      corpus=emb).collect()}
    assert full == rebound


def _executed_plans_and_jobs(spark, fn):
    """Run ``fn`` under a job group → (its physical plans, its job count),
    read back from Spark's status stores."""
    sc = spark.sparkContext
    jvm = sc._jvm
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()
        return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            store.executionsList()))

    seen = {e.executionId() for e in executions()}
    sc.setJobGroup("hnsw_serve_guard", "hnsw serve-path guard")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    plans = [e.physicalPlanDescription() for e in executions()
             if e.executionId() not in seen]
    jobs = sc.statusTracker().getJobIdsForGroup("hnsw_serve_guard")
    return plans, len(jobs)


def test_hnsw_search_plan_has_no_corpus_join(spark, tmp_path):
    """The serve path of a persisted graph is join-free and shuffle-free
    (VERDICT r1 item 3): every plan a search executes has no Join and no
    Exchange — parts are read whole by their own task, never regrouped on
    part_id — and the search runs at most 4 jobs. A topology-only graph
    with no corpus errors out instead of silently joining."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = _queries(emb, n=1)
    graph = H.build_hnsw(emb, n_partitions=2)
    path = str(tmp_path / "graph")
    H.write_hnsw(graph, path)
    plans, jobs = _executed_plans_and_jobs(
        spark, lambda: H.hnsw_search(H.read_hnsw(spark, path), queries,
                                     k=5).collect())
    assert plans
    for plan in plans:
        assert "Join" not in plan, plan
        assert "Exchange" not in plan, plan
    assert jobs <= 4, jobs
    # topology-only without corpus → explicit error, not a hidden join
    topo = H.read_hnsw(spark, path).drop("embedding")
    try:
        H.hnsw_search(topo, queries, k=5)
        assert False, "expected ValueError for topology-only graph"
    except ValueError:
        pass


def _rows(df):
    return [(r.query_id, r.vec_id, r.distance) for r in df.collect()]


def test_hnsw_part_loader_ignores_row_order(spark):
    """The loader's adjacency matrices equal a per-node loop over the
    neighbor lists, and one part fed in shuffled row orders loads to the
    same search form and answers identically: nodes are placed by vec_id
    and the entry point is the build's (the smallest vec_id on the top
    layer), not whichever top-layer row arrives first."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    tbl = (H.build_hnsw(emb, n_partitions=1, params=H.HNSWParams(M=4))
           .toArrow().select(["vec_id", "embedding", "neighbors"]))
    q_ids, q_mat = knn.query_batch(_queries(emb, n=6), np.float32)
    ref = H._load_part(tbl)
    # the per-node loop the vectorized loader replaces, as the reference
    rows = dict(zip(tbl.column("vec_id").to_pylist(),
                    tbl.column("neighbors").to_pylist()))
    pos = {v: i for i, v in enumerate(ref.vids.tolist())}
    for lvl, (nbr, cnt) in enumerate(ref.layers):
        for i, v in enumerate(ref.vids.tolist()):
            want = [pos[u] for u in rows[v][lvl]] if lvl < len(rows[v]) else []
            assert nbr[i, :cnt[i]].tolist() == want, (lvl, v)
    n_lvl = np.array([len(r) for r in tbl.column("neighbors").to_pylist()])
    top = tbl.column("vec_id").to_numpy()[n_lvl == n_lvl.max()]
    assert len(top) > 1  # the entry choice is not forced
    assert ref.vids[ref.entry] == top.min()
    want = H._search_part(ref, q_ids, q_mat, 10, 32)
    rng = np.random.RandomState(5)
    for perm in (np.arange(tbl.num_rows)[::-1], rng.permutation(tbl.num_rows)):
        part = H._load_part(tbl.take(pa.array(perm)))
        assert part.entry == ref.entry
        assert H._search_part(part, q_ids, q_mat, 10, 32).equals(want)


def test_hnsw_resident_serve_after_overwrite(spark, tmp_path):
    """Search graph A (warming the worker caches), overwrite the same
    path with graph B: the next read_hnsw serves B's answers only."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = _queries(emb, n=4)
    path = str(tmp_path / "graph")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    H.write_hnsw(H.build_hnsw(a, n_partitions=2), path)
    for _ in range(2):
        got_a = _rows(H.hnsw_search(H.read_hnsw(spark, path), queries, k=10))
    assert got_a and all(v % 2 == 0 for _, v, _ in got_a)
    graph_b = H.build_hnsw(b, n_partitions=2)
    H.write_hnsw(graph_b, path)
    got_b = _rows(H.hnsw_search(H.read_hnsw(spark, path), queries, k=10))
    assert got_b == _rows(H.hnsw_search(graph_b, queries, k=10))
    assert all(v % 2 == 1 for _, v, _ in got_b)


def test_hnsw_resident_serve_after_append(spark, tmp_path):
    """Warm the caches, append a segment: the next read_hnsw serves the
    appended ids, and the resident path answers exactly like the grouped
    path over the same files."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") % 2 == 1).limit(4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    path = str(tmp_path / "graph")
    H.write_hnsw(H.build_hnsw(emb.filter(F.col("vec_id") % 2 == 0),
                              n_partitions=2), path)
    for _ in range(2):
        H.hnsw_search(H.read_hnsw(spark, path), queries, k=10).collect()
    H.hnsw_append(spark, path, emb.filter(F.col("vec_id") % 2 == 1))
    resident = _rows(H.hnsw_search(H.read_hnsw(spark, path), queries, k=10))
    assert any(v % 2 == 1 for _, v, _ in resident)
    grouped = _rows(H.hnsw_search(H.read_hnsw(spark, path).select("*"),
                                  queries, k=10))
    assert resident == grouped


def test_hnsw_search_honours_filter_on_read_graph(spark, tmp_path):
    """A frame derived from read_hnsw takes the grouped path, so its
    filter holds: a part_id filter serves only that part, and a vec_id
    filter serves only the rows it keeps (edges into removed rows are
    dropped at load)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = _queries(emb, n=4)
    path = str(tmp_path / "graph")
    H.write_hnsw(H.build_hnsw(emb, n_partitions=4), path)
    g = H.read_hnsw(spark, path)
    part0 = {r.vec_id for r in g.filter("part_id = 0").select("vec_id").collect()}
    got = _rows(H.hnsw_search(g.filter("part_id = 0"), queries, k=5))
    assert len(got) == 20 and {v for _, v, _ in got} <= part0
    got = _rows(H.hnsw_search(g.filter(F.col("vec_id") % 3 == 0), queries, k=5))
    assert len(got) == 20 and all(v % 3 == 0 for _, v, _ in got)


def test_hnsw_resident_cache_bound_and_key(spark, tmp_path, monkeypatch):
    """The worker cache holds parts up to _RESIDENT_BYTES, least recently
    used out first, and keys them by file (path, size, mtime): a part
    rewritten under the same file name is reloaded, not served stale."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "graph")
    H.write_hnsw(H.build_hnsw(emb, n_partitions=2), path)
    files = H._part_files(H.read_hnsw(spark, path))
    assert [len(f) for f in files] == [1, 1]
    monkeypatch.setattr(H, "_resident", OrderedDict())
    p0 = H._resident_part(files[0])
    assert H._resident_part(files[0]) is p0  # a hit
    p1 = H._resident_part(files[1])
    assert list(H._resident.values()) == [p0, p1]
    monkeypatch.setattr(H, "_resident", OrderedDict())
    monkeypatch.setattr(H, "_RESIDENT_BYTES", max(p0.nbytes, p1.nbytes))
    H._resident_part(files[0])
    p1 = H._resident_part(files[1])  # over the bound: part 0 goes
    assert list(H._resident.values()) == [p1]
    assert H._resident_part(files[1]) is p1
    monkeypatch.setattr(H, "_RESIDENT_BYTES", 0)
    assert H._resident_part(files[0]).vids.tolist() == p0.vids.tolist()
    assert not H._resident  # served, then dropped
    # same file name, new content → reloaded
    monkeypatch.setattr(H, "_RESIDENT_BYTES", 1 << 30)
    H._resident_part(files[0])
    local = files[0][0].removeprefix("file://")
    tbl = pq.read_table(local)
    pq.write_table(tbl.slice(0, tbl.num_rows // 2), local)
    assert len(H._resident_part(files[0]).vids) == tbl.num_rows // 2


def _clustered_fixture(spark, n_clusters=30, per_cluster=40, dim=16, seed=7):
    """Tightly clustered vectors — the regime where Alg. 4's heuristic
    (keep only candidates closer to q than to already-kept neighbors)
    preserves inter-cluster bridges that plain nearest-M prunes away."""
    rng = np.random.RandomState(seed)
    centers = rng.normal(size=(n_clusters, dim)) * 5.0
    rows = []
    vid = 0
    for c in range(n_clusters):
        pts = centers[c] + rng.normal(size=(per_cluster, dim)) * 0.05
        for pt in pts:
            v = pt / np.linalg.norm(pt)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")


def test_hnsw_heuristic_recall_on_clustered_data(spark):
    """Paper Alg. 4 (the reference's SelectHeuristic + ExpandBestSelection,
    Program.cs:135-137) must not lose to Alg. 3 at equal ef on clustered
    data, and must clear the recall bar that plain nearest-M struggles
    with there (paper §4: heuristic preserves cluster-bridging links)."""
    emb = _clustered_fixture(spark)
    queries = _queries(emb, n=12)
    exact = {}
    for r in knn.knn_join(emb, queries, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(params):
        graph = H.build_hnsw(emb, n_partitions=1, params=params)
        got = {}
        for r in H.hnsw_search(graph, queries, k=10, params=params).collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    ef = 24  # tight beam: the regime where selection strategy matters
    r_simple = recall(H.HNSWParams(ef_construction=40, ef_search=ef,
                                   heuristic=False))
    r_heur = recall(H.HNSWParams(ef_construction=40, ef_search=ef,
                                 heuristic=True))
    assert r_heur >= r_simple - 1e-9, (r_heur, r_simple)
    assert r_heur >= 0.9, f"heuristic recall@10 = {r_heur:.3f}"


def test_hnsw_results_are_global_topk_shape(spark):
    """Exactly k rows per query, ascending distance, no duplicate ids."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = _queries(emb, n=4)
    graph = H.build_hnsw(emb, n_partitions=4)
    rows = H.hnsw_search(graph, queries, k=10).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3}
    for q, rs in by_q.items():
        assert len(rs) == 10
        assert len({r.vec_id for r in rs}) == 10
        ds = [r.distance for r in rs]
        assert ds == sorted(ds)


def test_hnsw_append_serves_new_vectors_without_rebuild(spark, tmp_path):
    """Segment-based append: new vectors land as fresh part_id graphs and
    are immediately servable through the same fan-out search; recall over
    the COMBINED corpus stays at the exact-oracle gate."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "graph")
    H.write_hnsw(H.build_hnsw(first, n_partitions=2), path)
    H.hnsw_append(spark, path, second, n_partitions=2)

    loaded = H.read_hnsw(spark, path)
    got_ids = sorted(r.vec_id for r in loaded.select("vec_id").collect())
    want_ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    assert got_ids == want_ids
    old_max = (H.read_hnsw(spark, path).filter(F.col("vec_id") % 2 == 0)
               .agg(F.max("part_id")).first()[0])
    new_parts = {r.part_id for r in loaded.filter(F.col("vec_id") % 2 == 1)
                 .select("part_id").distinct().collect()}
    assert all(p > old_max for p in new_parts)  # appended = fresh segments

    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    exact = {}
    for r in knn.knn_join(emb, queries, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    got = {}
    for r in H.hnsw_search(loaded, queries, k=10).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.9, recall
    # odd (appended) ids must actually appear in results — both halves serve
    assert any(i % 2 == 1 for s in got.values() for i in s)


def test_hnsw_filtered_search_recall_planted(spark):
    """Filtered serve: plant 20 near-neighbors per query, give HALF of
    them the target label, filter to that label — filtered recall@10
    vs the exact filtered KNN must hold ≥ 0.9 (admission-filtered,
    traversal unfiltered, selectivity-aware over-search). Also: empty
    filter returns an empty frame with the right schema."""
    import numpy as np
    from pyspark.sql import functions as F

    from parquetaivectorsearch_spark.operators import knn
    from parquetaivectorsearch_spark.operators.hnsw import (
        build_hnsw, hnsw_search_filtered)
    from parquetaivectorsearch_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.toPandas()
    x = np.stack(base["embedding"].to_numpy()).astype(np.float32)
    rng = np.random.RandomState(53)
    rows, next_id = [], int(base["vec_id"].max()) + 1
    for q in range(4):
        for j in range(20):
            v = x[q] + 0.05 * rng.randn(x.shape[1]).astype(np.float32)
            v /= np.linalg.norm(v)
            rows.append((next_id, [float(f) for f in v], 99 if j % 2 else -1))
            next_id += 1
    planted = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
    corpus = emb.union(planted)
    graph = build_hnsw(corpus, n_partitions=4)

    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    allowed = corpus.filter(F.col("label") == 99).select("vec_id")

    exact = {}
    for r in knn.knn_join(corpus.join(allowed, "vec_id"), queries,
                          k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    got = {}
    for r in hnsw_search_filtered(graph, queries, allowed, k=10).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.9, recall

    empty = hnsw_search_filtered(
        graph, queries, corpus.filter("label = 12345").select("vec_id"),
        k=10)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "vec_id", "distance"]


def test_filtered_ann_strategy_crossover():
    """Both sides of the measured crossover pinned (VERDICT r10 #8,
    tools/filtered_ann_sweep.py): mild filters serve via the HNSW
    over-search, filters below sel=0.15 via the IVF pre-filter, and
    degenerate filters (k' reaching the whole graph, or an allowed set
    small enough to scan exactly) via exact filtered KNN."""
    from parquetaivectorsearch_spark.operators.hnsw import (
        filtered_ann_strategy)

    n = 1_000_000
    assert filtered_ann_strategy(n, 900_000, 10) == "hnsw_oversearch"
    assert filtered_ann_strategy(n, 500_000, 10) == "hnsw_oversearch"
    assert filtered_ann_strategy(n, 50_000, 10) == "ivf_prefilter"
    assert filtered_ann_strategy(n, 5_000, 10) == "ivf_prefilter"
    # allowed ≤ 32k rows: scan them exactly — any index is overhead
    assert filtered_ann_strategy(n, 320, 10) == "exact_filtered"
    # k' = ceil(k/sel)*2 >= n: the beam would re-rank the whole graph
    assert filtered_ann_strategy(2000, 40, 10) == "exact_filtered"
    assert filtered_ann_strategy(0, 0, 10) == "exact_filtered"
