"""Streaming vector ingestion into a persisted IVF index (SURVEY §2.10 ×
§2.7 — the index-maintenance story the reference's batch-only build lacks:
its graph must be rebuilt from scratch to add vectors, Program.cs:125-204).

IVF's quantizer/lists split is what makes it streamable: the k-means
centroids are a tiny immutable artifact, so new vectors can be assigned to
their inverted list with one matmul and APPENDED to that list's parquet
partition — no index rebuild, no read-modify-write of existing lists. Each
micro-batch lands as new files inside the affected ``list_id=…``
directories, and the serve path (partition-pruned scan) picks them up on
the next query. The HNSW analog would need graph surgery per insert —
exactly why IVF is this engine's scale tier (operators/ann.py docstring).

At 100 TB: the stream appends small files per list; periodic compaction
(sources/compact.py) folds them into right-sized files. Centroid drift
under distribution shift is handled by periodic re-train + re-assign — a
batch job, deliberately out of streaming scope.
"""

from __future__ import annotations

import shutil

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from parquetaivectorsearch_spark.operators.ann import IVFIndex, assign_lists
from parquetaivectorsearch_spark.streaming.events import _ephemeral_checkpoint_dir

VEC_STREAM_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("label", T.IntegerType()),
])


def stream_ingest_ivf(spark: SparkSession, staged_dir: str, index_path: str,
                      centroids: np.ndarray, metric: str = "ip",
                      max_norm: float = 0.0,
                      max_files_per_trigger: int = 1) -> None:
    """Drive a file-source vector stream into the index's inverted lists.

    foreachBatch assigns each micro-batch to its nearest centroid (one
    matmul — the closure carries only the nlist×dim centroid matrix) and
    appends, repartitioned by list, into ``{index_path}/lists``. Append
    mode + partitionBy keeps the write additive: existing list files are
    never touched, so a concurrent reader sees a consistent (if slightly
    stale) index at every instant."""
    stream = (
        spark.readStream.schema(VEC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(staged_dir)
    )

    def ingest(batch_df: DataFrame, _batch_id: int) -> None:
        assigned = assign_lists(batch_df, centroids, metric, max_norm)
        (assigned.repartition("list_id").write.mode("append")
         .partitionBy("list_id").parquet(f"{index_path}/lists"))

    ckpt = _ephemeral_checkpoint_dir()
    try:
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def build_then_stream_rest(spark: SparkSession, emb: DataFrame,
                           work_dir: str, nlist: int = 8,
                           n_stream_files: int = 4) -> IVFIndex:
    """Demo/test harness: build the index on the even-vec_id half, stage
    the odd half as ``n_stream_files`` parquet files (one micro-batch each
    under maxFilesPerTrigger=1), stream-ingest them, and return the
    re-loaded index now covering the full corpus.

    The streamed half is re-written from the catalog-normalized DataFrame
    (not copied from the fixture file) so the staged files carry exactly
    VEC_STREAM_SCHEMA — readStream's declared schema must match the files
    byte-for-byte (parquet readers do not cast)."""
    from pyspark.sql import functions as F

    base = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    index = IVFIndex.build(base, nlist=nlist)
    index.save(spark, f"{work_dir}/index")
    staged = f"{work_dir}/staged"
    (rest.select(F.col("vec_id").cast("long"),
                 F.col("embedding").cast("array<float>"),
                 F.col("label").cast("int"))
     .repartition(n_stream_files)
     .write.mode("overwrite").parquet(staged))
    stream_ingest_ivf(spark, staged, f"{work_dir}/index", index.centroids,
                      index.metric, index.max_norm)
    return IVFIndex.load(spark, f"{work_dir}/index")


def stream_ingest_hnsw(spark: SparkSession, staged_dir: str, graph_path: str,
                       segment_partitions: int = 1,
                       max_files_per_trigger: int = 1) -> None:
    """Drive a file-source vector stream into a persisted HNSW graph via
    segment appends (operators/hnsw.hnsw_append): each micro-batch builds
    its own per-partition graph(s) under fresh part_id directories — the
    Lucene-segment maintenance posture, vs the reference's full rebuild
    (Program.cs:125-204). The fan-out search serves every segment, so
    streamed vectors are queryable from the moment their batch commits;
    periodic hnsw_compact folds accumulated segments back down."""
    from parquetaivectorsearch_spark.operators.hnsw import hnsw_append

    stream = (
        spark.readStream.schema(VEC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(staged_dir)
    )

    def ingest(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hnsw_append(spark, graph_path, batch_df.drop("label"),
                    n_partitions=segment_partitions)

    ckpt = _ephemeral_checkpoint_dir()
    try:
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def streaming_centroid_update(spark: SparkSession, staged_dir: str,
                              cents: list[tuple[int, list[float]]],
                              max_files_per_trigger: int | None = None
                              ) -> DataFrame:
    """Streaming Lloyd UPDATE STEP: one k-means centroid update computed
    incrementally over micro-batches — the streaming twin of a single
    kmeans_lloyd round (operators/kmeans.py), completing the clustering
    family's streaming tier next to the IVF/HNSW ingest above.

    Assignment is FROZEN to the given seed centroids (the closure ships
    the tiny k×d matrix; per Arrow batch one matmul argmin — the arrow
    tier's kernel), so the per-cid state is just (Σx, n), and the fold
    is LINEAR exactly like the CMS/KMV family: micro-batches add partial
    sums, so the final state EQUALS the batch one-step update over the
    whole stream (up to float addition order, absorbed by the contract's
    9-decimal centroid rounding downstream — the same argument the batch
    tiers make across engines). State per cid: d doubles + a count,
    FOREVER — batches never grow it. Iterating further rounds = re-seed
    with the emitted centroids and re-stream (an epoch loop; each epoch
    is this same bounded-state pass).

    Emits (cid, n, s) per update — the RAW running sums; callers compute
    round(s[i]/n, 9) Spark-side so the rounding implementation (HALF_UP)
    is shared with the batch tiers and the SQL oracle."""
    import pandas as pd

    from parquetaivectorsearch_spark.functions.vector import arrow_matrix
    from parquetaivectorsearch_spark.operators.kmeans import (
        _argmin_batch, _cent_arrays, _partial_sums)

    cids_np, C, cn = _cent_arrays(cents)

    reader = spark.readStream.schema(VEC_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(staged_dir)

    def part(it):
        for batch in it:
            if not batch.num_rows:
                continue
            X = arrow_matrix(batch.column("embedding"), np.float64)
            yield _partial_sums(X, _argmin_batch(X, C, cn), cids_np)

    partials = stream.mapInArrow(
        part, "cid int, psum array<double>, cnt bigint")

    def update(key, pdfs, state):
        if state.exists:
            s = np.array(state.get[0], dtype=np.float64)
            n = int(state.get[1])
        else:
            s, n = None, 0
        for pdf in pdfs:
            ps = np.array([np.asarray(p, dtype=np.float64)
                           for p in pdf["psum"]]).sum(axis=0)
            s = ps if s is None else s + ps
            n += int(pdf["cnt"].sum())
        state.update(([float(x) for x in s], n))
        yield pd.DataFrame({"cid": [int(key[0])], "n": [n],
                            "s": [[float(x) for x in s]]})

    out_schema = T.StructType([
        T.StructField("cid", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("s", T.ArrayType(T.DoubleType())),
    ])
    state_schema = T.StructType([
        T.StructField("s", T.ArrayType(T.DoubleType())),
        T.StructField("n", T.LongType()),
    ])
    return (partials.groupBy("cid")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", "NoTimeout"))


def streaming_lloyd_rounds(spark: SparkSession, staged_dir: str,
                           cents0: list[tuple[int, list[float]]],
                           rounds: int,
                           max_files_per_trigger: int | None = None,
                           state_partitions: int | None = 4):
    """Multi-round streaming k-means — the epoch loop the one-step
    operator's docstring promises, made concrete (VERDICT r13 #4,
    mini-batch k-means lineage per Sculley, WWW 2010 — with the epoch
    boundary, not the per-batch SGD step, as the update grain so the
    result is EXACTLY batch Lloyd): each epoch re-streams the staged
    corpus through ``streaming_centroid_update`` with assignment frozen
    to the previous epoch's centroids, folds the linear (Σx, n) state
    across micro-batches, and re-seeds the next epoch with the
    9dp-rounded means. One epoch ≡ one batch Lloyd round (the fold is
    linear, pinned through ten micro-batches), so R epochs ≡
    ``kmeans_lloyd(..., rounds=R)`` and the whole loop replays as the
    unrolled-CTE oracle ``kmeans_rounds_oracle_sql`` — the streaming
    clustering tier's first MULTI-round oracle-gated member.

    Per-epoch state: k × (d doubles + count), FOREVER — epochs never
    grow it; the driver pull between epochs is k×d doubles (the audited
    bounded-pull posture). Empty clusters drop exactly like the batch
    tiers (a cid with no assigned points never emits, so it leaves the
    seed list — the GROUP BY semantics the oracle mirrors for free).

    Returns the final-epoch centroids as (cid, dim, val) — dim 0-based,
    val the 9dp-rounded coordinate computed Spark-side (HALF_UP shared
    with the batch tiers and the SQL oracle); rounding uses the SAME
    F.round the batch tiers use, so an epoch's re-seed is bit-identical
    to the batch round's centroid list."""
    from pyspark.sql import functions as F

    from parquetaivectorsearch_spark.streaming.events import (
        run_available_now)

    cents = sorted((int(c), [float(x) for x in v]) for c, v in cents0)
    tot = None
    for _ in range(rounds):
        out = run_available_now(
            streaming_centroid_update(spark, staged_dir, cents,
                                      max_files_per_trigger), "update",
            state_partitions=state_partitions)
        # The update-mode memory sink holds one row per (cid, batch) —
        # the LAST emission per cid carries the fully-folded (Σx, n);
        # n is monotone per cid, so max_by(n) selects it without
        # depending on sink row order.
        tot = out.groupBy("cid").agg(
            F.max("n").alias("n"), F.max_by("s", "n").alias("s"))
        rows = tot.select(
            "cid",
            F.transform("s", lambda x: F.round(x / F.col("n"), 9))
            .alias("v")).collect()
        cents = sorted((int(r["cid"]), [float(x) for x in r["v"]])
                       for r in rows)
    return (tot.select("cid", "n", F.posexplode("s").alias("dim", "ssum"))
            .select("cid", "dim",
                    (F.round(F.col("ssum") / F.col("n"), 9)
                     + F.lit(0.0)).alias("val")))
