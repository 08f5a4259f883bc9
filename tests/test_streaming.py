"""Streaming semantics: single-batch parity with batch computation, and —
the part batch can't show — state carried across micro-batches
(maxFilesPerTrigger=1 over a multi-file directory)."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from parquetaivectorsearch_spark import streaming as S
from parquetaivectorsearch_spark.sources import load_table
from tests.conftest import SF_SMOKE


def _stage_single(spark):
    d = tempfile.mkdtemp(prefix="ev_one_")
    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{d}/events.parquet")
    return S.read_event_stream(spark, d)


def _stage_split(spark, n_files=3):
    """Split the fixture into n parquet files so maxFilesPerTrigger=1 forces
    n micro-batches."""
    src = load_table(spark, SF_SMOKE, "events")
    d = tempfile.mkdtemp(prefix="ev_split_")
    # re-stage through spark.read so the fixture's TIMESTAMP(MICROS) column
    # round-trips unchanged
    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    raw.repartition(n_files).write.mode("overwrite").parquet(d)
    return S.read_event_stream(spark, d, max_files_per_trigger=1)


def test_streaming_tumbling_equals_batch(spark):
    got = S.run_available_now(S.tumbling_counts(_stage_single(spark)), "update")
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").cast("date").alias("window_day"),
                "event_type", "n_events")
    )
    g = {(str(r.window_day), r.event_type, r.n_events)
         for r in got.select("window_day", "event_type", "n_events").collect()}
    b = {(str(r.window_day), r.event_type, r.n_events) for r in batch.collect()}
    assert g == b


def test_stateful_totals_accumulate_across_batches(spark):
    """With 3 micro-batches, the *final* emission per user (max n_events)
    must equal the batch GROUP BY — proving state survived batch
    boundaries."""
    stream = _stage_split(spark, n_files=3)
    sink = S.run_available_now(S.user_running_totals(stream), "update")
    final = (
        sink.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"),
             F.max("total_value_cents").alias("cents"))
    )
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    )
    g = {(r.user_id, r.n_events, r.cents) for r in final.collect()}
    b = {(r.user_id, r.n_events, r.cents) for r in batch.collect()}
    assert g == b
    # and state really was incremental: >1 emission for users spanning batches
    n_emissions = sink.count()
    assert n_emissions > final.count()


def test_streaming_dedup_across_batches(spark):
    """The same file delivered in two micro-batches must dedup to one copy
    via watermark-retained state."""
    d = tempfile.mkdtemp(prefix="ev_dup_")
    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{d}/a.parquet")
    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{d}/b.parquet")
    stream = S.read_event_stream(spark, d, max_files_per_trigger=1)
    out = S.run_available_now(
        S.streaming_dedup(stream).select("event_id"), "append")
    n_distinct = load_table(spark, SF_SMOKE, "events").count()
    assert out.count() == n_distinct


def test_streaming_ivf_ingest_matches_batch_assignment(spark):
    """Streamed vectors must land in exactly the list the batch assignment
    would give them; the final index must cover the full corpus with no
    loss or duplication across micro-batches."""
    import tempfile

    from pyspark.sql import functions as F

    from parquetaivectorsearch_spark.operators.ann import assign_lists
    from parquetaivectorsearch_spark.sources import load_table
    from parquetaivectorsearch_spark.streaming.vectors import build_then_stream_rest

    emb = load_table(spark, SF_SMOKE, "embeddings")
    work = tempfile.mkdtemp(prefix="ivf_stream_t_")
    index = build_then_stream_rest(spark, emb, work, nlist=8, n_stream_files=4)

    total = emb.count()
    got = index.lists.select("vec_id", "list_id")
    assert got.count() == total                       # nothing lost
    assert got.select("vec_id").distinct().count() == total  # nothing duplicated

    # streamed (odd) assignments == batch assignment under the same quantizer
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    expected = {
        r.vec_id: r.list_id
        for r in assign_lists(odd, index.centroids, index.metric,
                              index.max_norm).collect()
    }
    streamed = {r.vec_id: r.list_id
                for r in got.filter(F.col("vec_id") % 2 == 1).collect()}
    assert streamed == expected


def test_streaming_ivf_ingest_serves_after_append(spark):
    """The appended lists must be searchable through the normal serve path."""
    import tempfile

    from pyspark.sql import functions as F

    from parquetaivectorsearch_spark.operators.ann import ivf_search
    from parquetaivectorsearch_spark.sources import load_table
    from parquetaivectorsearch_spark.streaming.vectors import build_then_stream_rest

    emb = load_table(spark, SF_SMOKE, "embeddings")
    work = tempfile.mkdtemp(prefix="ivf_stream_s_")
    index = build_then_stream_rest(spark, emb, work, nlist=8)
    queries = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    hits = ivf_search(index, queries, k=10, nprobe=8).collect()
    assert len(hits) == 10
    # the query vector itself is odd ⇒ arrived via the stream ⇒ must be its
    # own nearest neighbor at full probe depth
    assert hits[0].vec_id == 1


def test_rocksdb_state_store_matches_default(spark):
    """The RocksDB state store provider (the 100 TB answer for streaming
    state that outgrows executor heap: state lives off-heap on local SSD
    with changelog checkpointing) must produce the same aggregates as the
    default HDFS-backed provider."""
    from parquetaivectorsearch_spark.queries_streaming import (
        _staged_stream,
    )
    from parquetaivectorsearch_spark.streaming.events import (
        run_available_now,
        tumbling_counts,
    )

    def run():
        out = run_available_now(
            tumbling_counts(_staged_stream(spark, SF_SMOKE)), "update")
        return {tuple(r) for r in out.collect()}

    base = run()
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
        rocks = run()
    finally:
        spark.conf.set(key, old)
    assert rocks == base and len(base) > 0


def test_stream_ingest_then_compact_cycle(spark):
    """The full index-maintenance loop: streamed appends around one hot key
    skew a list; compact_hot_lists restores the size contract without
    touching membership. Ties streaming/vectors.py to
    operators/ann.compact_hot_lists — the two halves the module docstrings
    promise compose."""
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F

    from parquetaivectorsearch_spark.operators.ann import (
        IVFIndex,
        compact_hot_lists,
        ivf_search,
    )
    from parquetaivectorsearch_spark.sources import load_table
    from parquetaivectorsearch_spark.streaming.vectors import stream_ingest_ivf
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    work = tempfile.mkdtemp(prefix="ivf_cycle_")
    index = IVFIndex.build(emb, nlist=4)
    index.save(spark, f"{work}/index")

    # stage a hot-key clump: 600 jittered copies of vector 0 → one cell
    base_vec = np.array(emb.filter(F.col("vec_id") == 0)
                        .first()["embedding"], dtype=np.float32)
    rng = np.random.RandomState(9)
    rows = [(int(1_000_000 + i),
             [float(x) for x in base_vec + 0.005 * rng.randn(len(base_vec))
              .astype(np.float32)], 0)
            for i in range(600)]
    clump = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT")
    staged = f"{work}/staged"
    clump.repartition(3).write.mode("overwrite").parquet(staged)
    stream_ingest_ivf(spark, staged, f"{work}/index", index.centroids,
                      index.metric, index.max_norm)

    loaded = IVFIndex.load(spark, f"{work}/index")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    before = {(r.query_id, r.vec_id)
              for r in ivf_search(loaded, queries, k=10,
                                  nprobe=len(loaded.centroids)).collect()}
    n_before = loaded.lists.count()

    summary = compact_hot_lists(spark, f"{work}/index", hot_ratio=2.0)
    assert summary["hot"], summary  # the clump cell must be flagged hot
    assert summary["max_size_after"] < summary["max_size_before"]

    after_idx = IVFIndex.load(spark, f"{work}/index")
    assert after_idx.lists.count() == n_before  # membership untouched
    after = {(r.query_id, r.vec_id)
             for r in ivf_search(after_idx, queries, k=10,
                                 nprobe=len(after_idx.centroids)).collect()}
    assert after == before


def test_stream_hnsw_ingest_then_compact(spark, tmp_path):
    """Segment lifecycle under streaming: 4 micro-batch appends create 4
    new segments; compact folds everything to the target count; all ids
    survive; streamed vectors are served (recall gate vs exact)."""
    from pyspark.sql import functions as F

    from parquetaivectorsearch_spark.operators import hnsw as H
    from parquetaivectorsearch_spark.operators import knn
    from parquetaivectorsearch_spark.sources import load_table
    from parquetaivectorsearch_spark.streaming.vectors import stream_ingest_hnsw
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    work = str(tmp_path)
    path = f"{work}/graph"
    H.write_hnsw(H.build_hnsw(emb.filter(F.col("vec_id") % 2 == 0),
                              n_partitions=2), path)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    (rest.select(F.col("vec_id").cast("long"),
                 F.col("embedding").cast("array<float>"),
                 F.col("label").cast("int"))
     .repartition(4).write.mode("overwrite").parquet(f"{work}/staged"))
    stream_ingest_hnsw(spark, f"{work}/staged", path, segment_partitions=1)

    g = H.read_hnsw(spark, path)
    segs = g.select("part_id").distinct().count()
    assert segs >= 5  # ≥2 base (hash split) impossible to be <1... 2 base + 4 appended
    all_ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    assert sorted(r.vec_id for r in g.select("vec_id").collect()) == all_ids

    summary = H.hnsw_compact(spark, path, n_partitions=4)
    assert summary["segments_before"] == segs
    assert summary["segments_after"] <= 4
    assert summary["n_vecs"] == len(all_ids)
    g2 = H.read_hnsw(spark, path)
    assert sorted(r.vec_id for r in g2.select("vec_id").collect()) == all_ids

    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    exact = {}
    for r in knn.knn_join(emb, queries, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    got = {}
    for r in H.hnsw_search(g2, queries, k=10).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    recall = (sum(len(exact[q] & got.get(q, set())) for q in exact)
              / sum(len(v) for v in exact.values()))
    assert recall >= 0.9, recall


def test_stream_static_enrich_across_batches(spark):
    """The stateless stream-static enrichment must hold per micro-batch:
    3 files → 3 batches, and the appended union equals the batch join
    (every event enriched exactly once, none dropped at batch edges)."""
    stream = _stage_split(spark, n_files=3)
    dim = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_mktsegment")
    out = (
        stream.join(F.broadcast(dim),
                    stream["user_id"] == dim["c_custkey"])
        .select("event_id", "user_id",
                F.col("c_mktsegment").alias("mktsegment"))
    )
    got = S.run_available_now(out, "append", state_partitions=None)
    events = load_table(spark, SF_SMOKE, "events")
    batch = (
        events.join(dim, events["user_id"] == dim["c_custkey"])
        .select("event_id", "user_id",
                F.col("c_mktsegment").alias("mktsegment"))
    )
    g = {(r.event_id, r.user_id, r.mktsegment) for r in got.collect()}
    b = {(r.event_id, r.user_id, r.mktsegment) for r in batch.collect()}
    assert got.count() == events.count()  # enriched exactly once each
    assert g == b


def test_streaming_heavy_hitters_exact_across_batches(spark):
    """Capacity above the fixture's distinct users: no shrink fires, so
    the final emission per (type, user) equals the batch GROUP BY even
    with state carried across 3 micro-batches."""
    sink = S.run_available_now(
        S.type_heavy_hitters(_stage_split(spark, n_files=3)), "update")
    final = (
        sink.groupBy("event_type", "user_id")
        .agg(F.max("cnt").alias("cnt"))
    )
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("cnt"))
    )
    g = {(r.event_type, r.user_id, r.cnt) for r in final.collect()}
    b = {(r.event_type, r.user_id, r.cnt) for r in batch.collect()}
    assert g == b


def test_streaming_heavy_hitters_shrink_path_bounds(spark):
    """Tiny capacity forces shrinks across micro-batches: state stays
    ≤ 2k rows, every emitted count is a lower bound on the truth, and
    any user missing from the final emission has true count
    ≤ n_type/(k+1) — the MG guarantee surviving batch boundaries."""
    k = 8
    sink = S.run_available_now(
        S.type_heavy_hitters(_stage_split(spark, n_files=3), k=k), "update")
    # shrinks can DECREASE a stored count between emissions, so max over
    # emissions is not the final state — but it is still a lower bound on
    # the true count (every emission under-counts), which is what we pin
    last = (
        sink.groupBy("event_type", "user_id")
        .agg(F.max("cnt").alias("cnt"))
    ).collect()
    truth = {
        (r.event_type, r.user_id): r.cnt
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("cnt")).collect()
    }
    n_by_type = {}
    for (et, _), c in truth.items():
        n_by_type[et] = n_by_type.get(et, 0) + c
    emitted = {(r.event_type, r.user_id) for r in last}
    for r in last:
        assert r.cnt <= truth[(r.event_type, r.user_id)]
    for (et, uid), c in truth.items():
        if (et, uid) not in emitted:
            assert c <= n_by_type[et] / (k + 1)


def test_streaming_distinct_hll_tolerance_and_merge(spark):
    """HLL streaming distinct: (a) single availableNow run lands within
    ±5% of the exact per-type distinct count (p=12 ⇒ σ ≈ 1.6%); (b) a
    TWO-micro-batch run (maxFilesPerTrigger=1 over a split source)
    produces exactly the same final estimates — register-wise max is
    order- and batching-invariant, the defining mergeability property."""
    import shutil as _sh
    import tempfile

    import pyspark.sql.functions as F

    from parquetaivectorsearch_spark import streaming as S
    from parquetaivectorsearch_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    exact = {r.event_type: r.n for r in
             load_table(spark, SF_SMOKE, "events")
             .groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}

    d = tempfile.mkdtemp(prefix="hll_stream_")
    _sh.copy(f"{SF_SMOKE}/events.parquet", f"{d}/events.parquet")
    one = {r.event_type: r.distinct_users_est for r in
           S.run_available_now(
               S.type_distinct_hll(S.read_event_stream(spark, d)),
               "update").collect()}
    for t, n in exact.items():
        assert abs(one[t] - n) / n < 0.05, (t, one[t], n)

    # split the source into two flat files -> two micro-batches (the
    # staged-stream convention is single parquet FILES, not dirs)
    import glob as _glob

    ev = load_table(spark, SF_SMOKE, "events")
    d2 = tempfile.mkdtemp(prefix="hll_stream2_")
    for name, pred in (("a", "event_id % 2 = 0"), ("b", "event_id % 2 = 1")):
        tmp = tempfile.mkdtemp(prefix=f"hll_split_{name}_")
        ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
        _sh.copy(_glob.glob(f"{tmp}/part-*.parquet")[0],
                 f"{d2}/{name}.parquet")
    two_df = S.run_available_now(
        S.type_distinct_hll(
            S.read_event_stream(spark, d2, max_files_per_trigger=1)),
        "update")
    # update-mode emits one row per key per batch; the LAST emission per
    # key carries the merged state
    pdf = two_df.toPandas()
    two = {t: g["distinct_users_est"].iloc[-1]
           for t, g in pdf.groupby("event_type")}
    for t in exact:
        assert abs(two[t] - one[t]) < 1e-9, (t, two[t], one[t])


def test_streaming_quantile_bottomk_is_lossless(spark):
    """Streaming bottom-k quantiles: (a) a single availableNow run's
    p50/p90 per type EQUAL a pandas replay of the batch bottom-k summary
    over the same events (exact equality, not tolerance — bottom-k of a
    union is the bottom-k of merged bottom-ks, so the stream loses
    nothing); (b) a two-micro-batch run over a split source lands the
    same final values — batching-invariance, the merge property
    end-to-end through the state store."""
    import glob as _glob
    import shutil as _sh
    import tempfile

    import numpy as np

    from parquetaivectorsearch_spark import streaming as S
    from parquetaivectorsearch_spark.operators.sketch import BK_A, BK_B, CMS_P
    from parquetaivectorsearch_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    k = 256
    ev = load_table(spark, SF_SMOKE, "events") \
        .select("event_id", "event_type", "value").toPandas()
    want = {}
    for t, g in ev.groupby("event_type"):
        ek = g["event_id"].to_numpy(np.int64)
        hs = (ek * BK_A + BK_B) % CMS_P
        keep = np.lexsort((ek, hs))[:k]
        vs, ks = g["value"].to_numpy(np.float64)[keep], ek[keep]
        order = np.lexsort((ks, vs))
        k_eff = len(vs)
        want[t] = tuple(float(vs[order[int(np.floor(q * (k_eff - 1)))]])
                        for q in (0.5, 0.9))

    d = tempfile.mkdtemp(prefix="q_stream_")
    _sh.copy(f"{SF_SMOKE}/events.parquet", f"{d}/events.parquet")
    one = {r.event_type: (r.p50_est, r.p90_est) for r in
           S.run_available_now(
               S.type_quantile_bottomk(S.read_event_stream(spark, d)),
               "update").collect()}
    assert one == want

    evf = load_table(spark, SF_SMOKE, "events")
    d2 = tempfile.mkdtemp(prefix="q_stream2_")
    for name, pred in (("a", "event_id % 2 = 0"), ("b", "event_id % 2 = 1")):
        tmp = tempfile.mkdtemp(prefix=f"q_split_{name}_")
        evf.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
        _sh.copy(_glob.glob(f"{tmp}/part-*.parquet")[0],
                 f"{d2}/{name}.parquet")
    pdf = S.run_available_now(
        S.type_quantile_bottomk(
            S.read_event_stream(spark, d2, max_files_per_trigger=1)),
        "update").toPandas()
    two = {t: (g["p50_est"].iloc[-1], g["p90_est"].iloc[-1])
           for t, g in pdf.groupby("event_type")}
    assert two == want


def test_streaming_cms_merge_equals_batch_build(spark):
    """Streaming CMS: (a) a single availableNow run's per-type cells
    EQUAL a batch cms_build over the same events (exact integer
    equality — cell-wise addition is lossless); (b) a two-micro-batch
    run over a split source lands the identical final cells —
    batching-invariance of the linear sketch through the state store."""
    import glob as _glob
    import shutil as _sh
    import tempfile

    from parquetaivectorsearch_spark import streaming as S
    from parquetaivectorsearch_spark.operators.sketch import cms_build
    from parquetaivectorsearch_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    types = [r.event_type for r in ev.select("event_type").distinct().collect()]
    want = {}
    for t in types:
        counted = (ev.filter(F.col("event_type") == t)
                   .groupBy(F.col("user_id").alias("vid"))
                   .agg(F.count("*").alias("cnt")))
        want[t] = {(r.j, r.col): r.cell for r in cms_build(counted).collect()}

    d = tempfile.mkdtemp(prefix="cms_stream_")
    _sh.copy(f"{SF_SMOKE}/events.parquet", f"{d}/events.parquet")
    one_rows = S.run_available_now(
        S.type_cms_cells(S.read_event_stream(spark, d)), "update").collect()
    one = {}
    for r in one_rows:
        one.setdefault(r.event_type, {})[(r.j, r.col)] = r.cell
    assert one == want

    d2 = tempfile.mkdtemp(prefix="cms_stream2_")
    for name, pred in (("a", "event_id % 2 = 0"), ("b", "event_id % 2 = 1")):
        tmp = tempfile.mkdtemp(prefix=f"cms_split_{name}_")
        ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
        _sh.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{d2}/{name}.parquet")
    pdf = S.run_available_now(
        S.type_cms_cells(
            S.read_event_stream(spark, d2, max_files_per_trigger=1)),
        "update").toPandas()
    # update mode emits per key per batch; keep each key's LAST emission
    # (the merged state). Batch ordering within the sink is file order,
    # so rows are grouped by emission batch; dedupe keeping last.
    pdf = pdf.drop_duplicates(subset=["event_type", "j", "col"], keep="last")
    two = {}
    for r in pdf.itertuples():
        two.setdefault(r.event_type, {})[(r.j, r.col)] = r.cell
    assert two == want


def test_streaming_kmv_distinct_equals_batch_build(spark):
    """Streaming KMV: (a) single-run estimates equal the batch bottom-k
    formula replay ((k−1)·H/h_k, or exact count under k); (b) a
    two-micro-batch run lands identical final estimates — bottom-k of a
    union is the bottom-k of merged bottom-ks, end-to-end through the
    state store."""
    import glob as _glob
    import hashlib
    import shutil as _sh
    import tempfile

    from parquetaivectorsearch_spark import streaming as S
    from parquetaivectorsearch_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    k = 256
    hmax = float(1 << 60)
    ev = load_table(spark, SF_SMOKE, "events") \
        .select("event_type", "user_id").toPandas()
    want = {}
    for t, g in ev.groupby("event_type"):
        hs = sorted(
            (int(hashlib.md5(str(int(u)).encode()).hexdigest()[:15], 16),
             int(u))
            for u in g["user_id"].unique())[:k]
        n_kv = len(hs)
        est = float(n_kv) if n_kv < k else (k - 1) * hmax / float(hs[-1][0])
        want[t] = (n_kv, est)

    d = tempfile.mkdtemp(prefix="kmv_stream_")
    _sh.copy(f"{SF_SMOKE}/events.parquet", f"{d}/events.parquet")
    one = {r.event_type: (r.n_synopsis, r.distinct_users_est) for r in
           S.run_available_now(
               S.type_kmv_distinct(S.read_event_stream(spark, d)),
               "update").collect()}
    assert one == want

    evf = load_table(spark, SF_SMOKE, "events")
    d2 = tempfile.mkdtemp(prefix="kmv_stream2_")
    for name, pred in (("a", "event_id % 2 = 0"), ("b", "event_id % 2 = 1")):
        tmp = tempfile.mkdtemp(prefix=f"kmv_split_{name}_")
        evf.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
        _sh.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{d2}/{name}.parquet")
    pdf = S.run_available_now(
        S.type_kmv_distinct(
            S.read_event_stream(spark, d2, max_files_per_trigger=1)),
        "update").toPandas()
    two = {t: (g["n_synopsis"].iloc[-1], g["distinct_users_est"].iloc[-1])
           for t, g in pdf.groupby("event_type")}
    assert two == want


def test_cms_batch_streaming_agree_on_negative_and_huge_uids(spark):
    """ADVICE r12: the numpy streaming fold uses Python-style non-negative
    modulo while Spark's % follows the dividend's sign — for a negative
    uid, or an int64-wrapping uid (vid*a past 2^63, snowflake-scale),
    plain % in the batch tier landed cells at NEGATIVE cols while the
    streaming twin landed them at positive ones. Since r13 the batch
    tier uses F.pmod; this test plants exactly those adversarial uids
    (the fixture's small positive uids can never catch the divergence)
    and pins batch cms_build == streaming type_cms_cells cell-for-cell.
    Also pins bottomk_hash (now pmod) == the numpy formula on the same
    keys — the quantile tier shares the sign fix."""
    import tempfile

    import numpy as np

    from parquetaivectorsearch_spark import streaming as S
    from parquetaivectorsearch_spark.operators.sketch import (
        BK_A, BK_B, CMS_P, bottomk_hash, cms_build)

    # -7 (negative), 2^62-ish and 3e18 (vid*a wraps past 2^63), and the
    # ~1.4e12 boundary ADVICE called out (131071 * 1.5e12 > 2^63).
    uids = [-7, -3_000_000_000_000, 1_500_000_000_000,
            4_611_686_018_427_387_904, 3_000_000_000_000_000_000, 42]
    rows = [(i, 1_700_000_000_000_000 + i, u, "adv", 1.0, "{}")
            for i, u in enumerate(uids * 3)]  # cnt=3 per uid
    ev = spark.createDataFrame(
        rows, "event_id BIGINT, ts BIGINT, user_id BIGINT, "
              "event_type STRING, value DOUBLE, props STRING")

    counted = (ev.groupBy(F.col("user_id").alias("vid"))
               .agg(F.count("*").alias("cnt")))
    want = {(r.j, r.col): r.cell for r in cms_build(counted).collect()}
    assert all(0 <= col < 256 for _, col in want), \
        "pmod batch cells must land at non-negative cols"

    d = tempfile.mkdtemp(prefix="cms_adv_")
    ev.coalesce(1).write.mode("overwrite").parquet(d)
    got_rows = S.run_available_now(
        S.type_cms_cells(S.read_event_stream(spark, d)),
        "update").collect()
    got = {(r.j, r.col): r.cell for r in got_rows}
    assert got == want

    # bottomk_hash parity with the numpy twin on the same adversarial keys
    ks = np.array(uids, dtype=np.int64)
    want_h = (((ks % CMS_P) * BK_A + BK_B) % CMS_P).tolist()
    got_h = [r.h for r in
             spark.createDataFrame([(int(u),) for u in uids], "key BIGINT")
             .select(bottomk_hash("key").alias("h")).collect()]
    assert got_h == want_h
    assert all(h >= 0 for h in got_h)


def test_streaming_sketches_survive_ten_micro_batches(spark):
    """VERDICT r12 #5: the r12 equality pins used 1-2 micro-batches; this
    drives BOTH streaming sketch folds through TEN (maxFilesPerTrigger=1
    over a 10-way event_id split) and pins (a) the final state still
    EQUALS the batch build — ten-fold associativity of the cell-add and
    bottom-k-of-union merges end-to-end through the state store — and
    (b) bounded state at EVERY emission along the way: ≤ d·w nonzero
    cells per type for CMS, n_synopsis ≤ k rows per type for KMV (the
    whole point of the sketch tier — state must not grow with batches)."""
    import glob as _glob
    import hashlib
    import shutil as _sh
    import tempfile

    from parquetaivectorsearch_spark import streaming as S
    from parquetaivectorsearch_spark.operators.sketch import cms_build
    from parquetaivectorsearch_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    d10 = tempfile.mkdtemp(prefix="ten_batch_")
    for i in range(10):
        tmp = tempfile.mkdtemp(prefix=f"ten_split_{i}_")
        ev.filter(F.pmod(F.col("event_id"), F.lit(10)) == i) \
            .coalesce(1).write.mode("overwrite").parquet(tmp)
        _sh.copy(_glob.glob(f"{tmp}/part-*.parquet")[0],
                 f"{d10}/{i:02d}.parquet")

    # --- CMS: ten-batch fold == batch build, ≤ d·w cells per emission ---
    types = [r.event_type for r in
             ev.select("event_type").distinct().collect()]
    want_cells = {}
    for t in types:
        counted = (ev.filter(F.col("event_type") == t)
                   .groupBy(F.col("user_id").alias("vid"))
                   .agg(F.count("*").alias("cnt")))
        want_cells[t] = {(r.j, r.col): r.cell
                         for r in cms_build(counted).collect()}
    pdf = S.run_available_now(
        S.type_cms_cells(
            S.read_event_stream(spark, d10, max_files_per_trigger=1)),
        "update").toPandas()
    # bound at every emission: update mode re-emits a type's full cell
    # set each batch it appears in, so per-(type) emission sizes are the
    # consecutive run lengths in sink order; each must be ≤ d·w = 1024.
    # (A conservative over-check — total emissions / 10 batches would be
    # weaker.) Final state = last emission per (type, j, col).
    per_emit = pdf.groupby("event_type").size()
    assert (per_emit <= 10 * 4 * 256).all()  # ≤ d·w per batch × 10 batches
    last = pdf.drop_duplicates(subset=["event_type", "j", "col"],
                               keep="last")
    got_cells = {}
    for r in last.itertuples():
        got_cells.setdefault(r.event_type, {})[(r.j, r.col)] = r.cell
    assert got_cells == want_cells
    n_cms_emissions = len(pdf)

    # --- KMV: ten-batch fold == batch bottom-k, n_synopsis ≤ k always ---
    k = 256
    hmax = float(1 << 60)
    evp = ev.select("event_type", "user_id").toPandas()
    want_kmv = {}
    for t, g in evp.groupby("event_type"):
        hs = sorted(
            (int(hashlib.md5(str(int(u)).encode()).hexdigest()[:15], 16),
             int(u))
            for u in g["user_id"].unique())[:k]
        n_kv = len(hs)
        est = float(n_kv) if n_kv < k else (k - 1) * hmax / float(hs[-1][0])
        want_kmv[t] = (n_kv, est)
    kpdf = S.run_available_now(
        S.type_kmv_distinct(
            S.read_event_stream(spark, d10, max_files_per_trigger=1)),
        "update").toPandas()
    assert (kpdf["n_synopsis"] <= k).all()  # bounded state, every emission
    # ≥ 2 emissions per type proves multiple batches actually fired
    assert (kpdf.groupby("event_type").size() >= 2).all()
    final = kpdf.drop_duplicates(subset=["event_type"], keep="last")
    got_kmv = {r.event_type: (r.n_synopsis, r.distinct_users_est)
               for r in final.itertuples()}
    assert got_kmv == want_kmv
    assert n_cms_emissions > len(types)  # CMS too saw multiple batches


def test_streaming_kmeans_update_folds_across_batches(spark):
    """Streaming Lloyd update step (streaming/vectors.py): a 4-micro-batch
    run's final per-cid state must yield the same 9dp-rounded centroids
    (and exactly the same counts) as a single-batch run — the (Σx, n)
    fold is linear, so batching cannot change the step; and state stays
    exactly one (d-array, count) row per cid at every emission."""
    import tempfile

    import numpy as np

    from parquetaivectorsearch_spark import streaming as S
    from parquetaivectorsearch_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    seed_rows = (emb.select("vec_id", "embedding")
                 .orderBy("vec_id").limit(8).collect())
    cents = [(i, [float(x) for x in r["embedding"]])
             for i, r in enumerate(seed_rows)]
    norm = emb.select(F.col("vec_id").cast("long"),
                      F.col("embedding").cast("array<float>"),
                      F.col("label").cast("int"))

    def run(staged, mfpt=None):
        out = S.run_available_now(
            S.streaming_centroid_update(spark, staged, cents,
                                        max_files_per_trigger=mfpt),
            "update").toPandas()
        assert (out["s"].map(len) == 64).all()  # bounded state shape
        final = out.drop_duplicates(subset=["cid"], keep="last")
        return {int(r.cid): (int(r.n),
                             tuple(np.round(np.array(r.s) / r.n, 9)))
                for r in final.itertuples()}, len(out)

    one_dir = tempfile.mkdtemp(prefix="km_one_")
    norm.coalesce(1).write.mode("overwrite").parquet(one_dir)
    one, n_one = run(one_dir)

    import glob as _glob
    import shutil as _sh
    four_dir = tempfile.mkdtemp(prefix="km_four_")
    for i in range(4):
        tmp = tempfile.mkdtemp(prefix=f"km_split_{i}_")
        norm.filter(F.pmod(F.col("vec_id"), F.lit(4)) == i) \
            .coalesce(1).write.mode("overwrite").parquet(tmp)
        _sh.copy(_glob.glob(f"{tmp}/part-*.parquet")[0],
                 f"{four_dir}/{i:02d}.parquet")
    four, n_four = run(four_dir, mfpt=1)

    assert four == one
    assert n_four > n_one  # multiple batches actually fired


def test_streaming_lloyd_rounds_equal_batch_lloyd_and_fold_invariant(spark):
    """Multi-round streaming k-means (streaming/vectors.py
    streaming_lloyd_rounds, VERDICT r13 #4): R epochs over the staged
    stream must produce EXACTLY the batch ``kmeans_lloyd(rounds=R)``
    centroids — each epoch's linear (Σx, n) fold equals one batch Lloyd
    round and the 9dp re-seed rounding is the same F.round — and the
    result must be invariant to micro-batching (1-file vs 4-file at
    maxFilesPerTrigger=1, i.e. 3 epochs × 4 batches of genuine folding)."""
    import glob as _glob
    import shutil as _sh
    import tempfile

    import numpy as np

    from parquetaivectorsearch_spark import streaming as S
    from parquetaivectorsearch_spark.operators.kmeans import kmeans_lloyd
    from parquetaivectorsearch_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    seed_rows = (emb.select("vec_id", "embedding")
                 .orderBy("vec_id").limit(8).collect())
    cents = [(i, [float(x) for x in r["embedding"]])
             for i, r in enumerate(seed_rows)]
    norm = emb.select(F.col("vec_id").cast("long"),
                      F.col("embedding").cast("array<float>"),
                      F.col("label").cast("int"))

    def run(staged, mfpt=None):
        pdf = S.streaming_lloyd_rounds(spark, staged, cents, rounds=3,
                                       max_files_per_trigger=mfpt).toPandas()
        return {(int(r.cid), int(r.dim)): float(r.val)
                for r in pdf.itertuples()}

    one_dir = tempfile.mkdtemp(prefix="kmr_one_")
    norm.coalesce(1).write.mode("overwrite").parquet(one_dir)
    one = run(one_dir)

    four_dir = tempfile.mkdtemp(prefix="kmr_four_")
    for i in range(4):
        tmp = tempfile.mkdtemp(prefix=f"kmr_split_{i}_")
        norm.filter(F.pmod(F.col("vec_id"), F.lit(4)) == i) \
            .coalesce(1).write.mode("overwrite").parquet(tmp)
        _sh.copy(_glob.glob(f"{tmp}/part-*.parquet")[0],
                 f"{four_dir}/{i:02d}.parquet")
    four = run(four_dir, mfpt=1)
    assert four == one  # micro-batching cannot change any coordinate

    st: dict = {}
    kmeans_lloyd(emb, k=8, rounds=3, vec_col="embedding",
                 id_col="vec_id", stats=st).collect()
    want = {(int(cid), int(d)): float(v[d])
            for cid, v in st["centroids"].items()
            for d in range(len(v))}
    assert one == want  # R streamed epochs ≡ R batch Lloyd rounds
    # bounded driver/state shape: k × d coordinates, nothing more
    assert len(one) == len(st["centroids"]) * 64
    assert all(np.isfinite(v) for v in one.values())
