"""The bounded serve kernels at their job floor: a query batch built with
``createDataFrame`` comes to the driver without a Spark job, each kernel
scores in one scan job and merges its survivors on the driver (no
Exchange, no Window), the PQ re-rank fetches its vectors in one job, and
a persisted HNSW graph is read without a schema-inference job."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from parquetaivectorsearch_spark.functions.vector import arrow_matrix
from parquetaivectorsearch_spark.operators import ann as ANN
from parquetaivectorsearch_spark.operators import hnsw as H
from parquetaivectorsearch_spark.operators import knn
from parquetaivectorsearch_spark.operators import pq as PQ
from parquetaivectorsearch_spark.sources import load_table
from tests.conftest import SF_SMOKE, executed_plans_and_jobs


def _local_batch(spark, emb, n):
    """An n-query (query_id, query_vec) batch the way a serving caller
    builds it: ``createDataFrame`` over driver-side arrays."""
    t = emb.filter(F.col("vec_id") < n).select("vec_id", "embedding").toArrow()
    return spark.createDataFrame(
        pd.DataFrame({"query_id": t.column("vec_id").to_numpy(),
                      "query_vec": list(arrow_matrix(t.column("embedding"),
                                                     np.float32))}),
        "query_id bigint, query_vec array<float>")


def test_local_query_pull_runs_no_job(spark):
    """select/limit/drop over a createDataFrame batch stay a LocalRelation,
    and their pull returns toArrow's values without a job."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    qdf = _local_batch(spark, emb, 8)
    for frame in (qdf.limit(knn.MAX_QUERY_BATCH + 1),
                  qdf.select("query_id", "query_vec"),
                  qdf.withColumn("rank", F.lit(1)).drop("rank")):
        plan = frame._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", plan
        pulled = []
        _, jobs = executed_plans_and_jobs(
            spark, lambda f=frame: pulled.append(knn.driver_pull(f)))
        assert jobs == 0
        assert pulled[0].equals(frame.toArrow())
    q_ids, q_mat = knn.query_batch(qdf)
    assert q_mat.shape == (8, 64) and sorted(q_ids) == list(range(8))


def test_query_batch_cap_raises(spark, monkeypatch):
    """Every kernel that pulls a query batch raises on one row over
    MAX_QUERY_BATCH."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = ANN.IVFIndex.build(emb, nlist=4)
    monkeypatch.setattr(knn, "MAX_QUERY_BATCH", 3)
    four = _local_batch(spark, emb, 4)
    with pytest.raises(ValueError, match="MAX_QUERY_BATCH"):
        knn.knn_join_bulk(emb, four, k=5)
    with pytest.raises(ValueError, match="MAX_QUERY_BATCH"):
        ANN.ivf_search(index, four, k=5, nprobe=2)
    assert knn.knn_join_bulk(emb, _local_batch(spark, emb, 3), k=5).count() == 15


def test_id_in_matches_isin_and_empty_selects_nothing(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    ids = [3, 17, 17, 250, 499]
    got = {r.vec_id for r in emb.filter(knn.id_in("vec_id", ids)).collect()}
    want = {r.vec_id for r in emb.filter(F.col("vec_id").isin(ids)).collect()}
    assert got == want == {3, 17, 250, 499}
    assert emb.filter(knn.id_in("vec_id", [])).count() == 0


@pytest.fixture(scope="module")
def serve_indexes(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("serve")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    ANN.IVFIndex.build(emb, nlist=4).save(spark, f"{d}/ivf")
    index = ANN.IVFIndex.load(spark, f"{d}/ivf")
    books = PQ.train_pq(emb, m=8, k=16)
    PQ.pq_encode(index.lists, books, extra_cols=("list_id",)) \
        .write.partitionBy("list_id").parquet(f"{d}/codes")
    H.write_hnsw(H.build_hnsw(emb, n_partitions=2), f"{d}/hnsw")
    return {"emb": emb, "index": index, "books": books,
            "codes": spark.read.parquet(f"{d}/codes"), "hnsw": f"{d}/hnsw"}


@pytest.mark.parametrize("kind,max_jobs", [
    ("exact", 2), ("ivf", 2), ("ivfpq", 3), ("hnsw", 2)])
def test_serve_request_job_floor(spark, serve_indexes, kind, max_jobs):
    """One 8-query request, the caller's toPandas included, runs at most
    2/2/3/2 jobs (exact/IVF/IVFPQ + re-rank/HNSW) and plans no Exchange
    and no Window."""
    s = serve_indexes
    emb = s["emb"]
    qdf = _local_batch(spark, emb, 8)

    def request():
        if kind == "exact":
            out = knn.knn_join_bulk(emb, qdf, k=20)
        elif kind == "ivf":
            out = ANN.ivf_search(s["index"], qdf, k=20, nprobe=2)
        elif kind == "ivfpq":
            short = PQ.ivf_pq_search(s["index"], s["codes"], s["books"], qdf,
                                     k=20, nprobe=2, shortlist=50)
            out = PQ.pq_rerank(short, emb, qdf, k=20)
        else:
            out = H.hnsw_search(H.read_hnsw(spark, s["hnsw"]), qdf, k=20)
        got.append(out.select("query_id", "vec_id", "distance").toPandas())

    got: list = []
    request()  # warm: the first request also pays one-off set-up
    got.clear()
    plans, jobs = executed_plans_and_jobs(spark, request)
    assert len(got[0]) == 8 * 20
    assert jobs <= max_jobs, (jobs, plans)
    for plan in plans:
        assert "Exchange" not in plan and "Window" not in plan, plan


def test_read_hnsw_gives_the_inferred_schema_without_a_job(spark,
                                                           serve_indexes,
                                                           tmp_path):
    """read_hnsw names the schema Spark would infer, for the
    vector-carrying and the topology-only layout, and runs no job."""
    path = serve_indexes["hnsw"]
    topo = str(tmp_path / "topo")
    H.write_hnsw(spark.read.parquet(path), topo, topology_only=True)
    for p in (path, topo):
        got = []
        _, jobs = executed_plans_and_jobs(
            spark, lambda p=p: got.append(H.read_hnsw(spark, p)))
        assert jobs == 0
        assert got[0].schema == spark.read.parquet(p).schema
