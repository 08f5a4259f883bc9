"""Filtered-ANN selectivity sweep (VERDICT r10 #8).

Two ways to serve "top-k under a metadata predicate":

- hnsw_oversearch (operators/hnsw.hnsw_search_filtered): traverse the
  graph UNfiltered at k' = ceil(k/sel)·FILTERED_ANN_OVERSAMPLE, admission-filter the
  beam — the FAISS IDSelector shape. Cost grows as k' ~ k/sel: cheap at
  mild filters, pathological as sel → 0 (the beam re-ranks the whole
  graph to surface 10 allowed rows).
- ivf_prefilter (operators/ann.ivf_search(where=...)): push the
  predicate INTO the pruned list scan before scoring. Cost ~ the probed
  fraction of the (filtered) corpus: flat in sel, so it wins exactly
  where over-search degenerates — but at high sel it pays the full
  probe cost where the graph beam would have been cheaper per query at
  scale (fixture wall times at 2k vectors are dominated by fixed job
  cost; the k' blowup is the measurable signal).

This script measures both paths at sel ≈ 0.9 / 0.5 / 0.05 / 0.005 over
a 20,000×64 replica corpus (the sf10x hash-noise recipe over the sf0.1
embeddings — 2k fixture vectors leave both paths inside fixed job
cost) with a 64-query batch, allowed sets keyed by the Knuth
multiplicative hash of vec_id (deterministic, label-independent), and
reports wall (min of REPS), k', and recall@10 vs the exact filtered
KNN. The crossover lands in operators/hnsw.filtered_ann_strategy —
both sides test-pinned.

Usage: python tools/filtered_ann_sweep.py
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

REPS = 3
K = 10
NQ = 64
REPLICAS = 10
SELS = (0.9, 0.5, 0.05, 0.005)


def main():
    import numpy as np  # noqa: F401
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from parquetaivectorsearch_spark.operators import ann as ANN
    from parquetaivectorsearch_spark.operators import hnsw as H
    from parquetaivectorsearch_spark.operators import knn
    from parquetaivectorsearch_spark.sources import load_table

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", "48g")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    base = load_table(spark, "/root/testdata/sf0.1", "embeddings").toPandas()
    x = np.stack(base["embedding"].to_numpy()).astype(np.float32)
    rows = []
    vid = 0
    for r in range(REPLICAS):
        rng = np.random.RandomState(1000 + r)
        noise = 1.0 + 0.05 * (rng.rand(*x.shape) - 0.5)
        xr = x * noise if r else x
        xr = xr / np.linalg.norm(xr, axis=1, keepdims=True)
        for i in range(len(xr)):
            rows.append((vid, [float(v) for v in xr[i]]))
            vid += 1
    emb = (spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
           .repartition(32).localCheckpoint(eager=True))
    n = emb.count()
    graph = H.build_hnsw(emb, n_partitions=8).localCheckpoint(eager=True)
    index = ANN.IVFIndex.build(emb, nlist=32)
    index.lists.localCheckpoint(eager=True)
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec")).localCheckpoint(eager=True)

    print("| sel | n_allowed | k' | hnsw s | hnsw recall | ivf s | "
          "ivf recall |")
    print("|---|---|---|---|---|---|---|")
    for sel in SELS:
        thresh = int(sel * 100_000)
        pred = (F.col("vec_id") * 2654435761 % 100_000) < thresh
        allowed = emb.filter(pred).select("vec_id") \
            .localCheckpoint(eager=True)
        n_allowed = allowed.count()
        kk = min(math.ceil(K / max(n_allowed / n, 1e-6))
                 * H.FILTERED_ANN_OVERSAMPLE, n)

        exact = {}
        for r in knn.knn_join(emb.join(allowed, "vec_id"), queries,
                              k=K).collect():
            exact.setdefault(r.query_id, set()).add(r.vec_id)

        def recall(rows):
            got = {}
            for r in rows:
                got.setdefault(r.query_id, set()).add(r.vec_id)
            hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
            return hits / max(sum(len(v) for v in exact.values()), 1)

        t_h, rec_h = math.inf, 0.0
        for _ in range(REPS):
            t0 = time.monotonic()
            rows = H.hnsw_search_filtered(graph, queries, allowed,
                                          k=K).collect()
            t_h = min(t_h, time.monotonic() - t0)
        rec_h = recall(rows)

        t_i, rec_i = math.inf, 0.0
        for _ in range(REPS):
            t0 = time.monotonic()
            rows = ANN.ivf_search(index, queries, k=K, nprobe=24,
                                  where=pred).collect()
            t_i = min(t_i, time.monotonic() - t0)
        rec_i = recall(rows)

        print(f"| {sel} | {n_allowed} | {kk} | {t_h:.2f} | {rec_h:.3f} "
              f"| {t_i:.2f} | {rec_i:.3f} |", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
