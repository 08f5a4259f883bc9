"""Streaming driver queries: the Structured Streaming operator graph driven
with trigger(availableNow) into a memory sink, returned as a DataFrame.

Oracle-checkable because the fixture is one parquet file → exactly one
micro-batch → `update` mode emits each aggregate exactly once, equal to the
batch computation (multi-batch incrementality is covered in
tests/test_streaming.py). The events source stages the fixture file into a
temp dir — readStream owns its directory, and fixture dirs are read-only.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from parquetaivectorsearch_spark import streaming as S
from parquetaivectorsearch_spark.queries import register


def _staged_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tempfile.mkdtemp(prefix="events_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{d}/events.parquet")
    return S.read_event_stream(spark, d)


# 2030-01-01 in epoch micros: far past every fixture event (2024-01) + gap +
# watermark, so the flush event pushes the final watermark beyond all real
# sessions. Written as raw epoch micros, the fixture file's unit.
_FLUSH_TS_US = 1_893_456_000 * 10**6


def _write_flush_file(spark: SparkSession, d: str) -> None:
    """Append one far-future flush event (user_id = -1) as its own parquet
    file in the staged stream directory, raw ``ts`` in epoch micros like
    the fixture file so the stream's single rebuild expression fits both."""
    import pandas as pd

    # pandas → Arrow createDataFrame: the list-of-tuples form would take the
    # pickled-RDD path (~5s of overhead for one row).
    flush = spark.createDataFrame(
        pd.DataFrame({
            "event_id": pd.array([10**9], dtype="int64"),
            "ts": pd.array([_FLUSH_TS_US], dtype="int64"),
            "user_id": pd.array([-1], dtype="int64"),
            "event_type": ["flush"], "value": [0.0], "props": ["{}"],
        }),
        S.EVENTS_RAW_SCHEMA,
    )
    flush.coalesce(1).write.mode("append").parquet(d)


def _staged_stream_with_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage the events file plus one far-future flush event (user_id = -1).

    Append-mode aggregations only emit a window once the watermark passes
    its end; without the flush, every session in the last <watermark> of
    data would be withheld forever in an availableNow run. The flush event
    advances the watermark past all real sessions (the engine's final
    no-data micro-batch then emits them); the flush's own session stays
    withheld and its user_id is filtered out by the caller."""
    d = tempfile.mkdtemp(prefix="events_flush_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{d}/events.parquet")
    _write_flush_file(spark, d)
    return S.read_event_stream(spark, d)


@register("streaming_tumbling_agg", """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS window_day, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
""")
def q_streaming_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → watermark → tumbling window agg → memory sink; the
    single-batch availableNow run must equal the batch oracle exactly."""
    return S.run_available_now(
        S.tumbling_counts(_staged_stream(spark, sf_dir)), "update")


@register("streaming_session_agg", """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM flagged
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sess
    GROUP BY user_id, sess_no
""")
def q_streaming_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap), append mode (the only mode
    session aggregations support): sessions emit when the watermark passes
    their end, driven by the flush event — real watermark semantics, and
    the emitted set equals the batch gaps-and-islands oracle."""
    out = S.session_counts(_staged_stream_with_flush(spark, sf_dir))
    return S.run_available_now(out, "append").filter("user_id >= 0")


@register("streaming_sliding_agg", """
    WITH exploded AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS window_start, value FROM events
      UNION ALL
      SELECT CAST(date_trunc('day', ts) AS DATE) - 1 AS window_start, value FROM events
    )
    SELECT window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM exploded
    GROUP BY window_start
""")
def q_streaming_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-day/1-day-slide windows through Structured Streaming:
    every event contributes to two overlapping windows' state. Single
    availableNow batch in update mode ≡ the batch two-window explode
    oracle (the streaming twin of sliding_window_agg)."""
    return S.run_available_now(
        S.sliding_counts(_staged_stream(spark, sf_dir)), "update")


@register("streaming_dedup", """
    SELECT event_id, user_id, event_type FROM events
""")
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dedup: the stream is unioned with itself (every event
    delivered twice), dropDuplicates(event_id) keeps exactly one copy —
    output must equal the original table."""
    s = _staged_stream(spark, sf_dir)
    doubled = s.unionByName(s)
    out = S.streaming_dedup(doubled).select("event_id", "user_id", "event_type")
    return S.run_available_now(out, "append")


@register("streaming_join", """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS c_ts_us
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
""")
def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (purchases ⋈ clicks within 1 hour, per
    user): watermarks on both sides + a bounded time-range condition let
    the state store evict — the unbounded-join requirement. Single-batch
    availableNow run equals the batch join oracle."""
    s = _staged_stream(spark, sf_dir)
    out = S.stream_stream_join(
        s.filter("event_type = 'purchase'"),
        s.filter("event_type = 'click'"),
    )
    return S.run_available_now(out, "append")


@register("stateful_user_totals", """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents
    FROM events
    GROUP BY user_id
""")
def q_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    totals in integer cents. One micro-batch → one emission per user ==
    the batch GROUP BY."""
    return S.run_available_now(
        S.user_running_totals(_staged_stream(spark, sf_dir)), "update")


@register("streaming_heavy_hitters", """
    SELECT event_type, user_id, COUNT(*) AS cnt
    FROM events
    GROUP BY event_type, user_id
""")
def q_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming frequent items (applyInPandasWithState):
    per-event-type Misra-Gries user summaries whose state stays ≤ 2k rows
    per type no matter how long the stream runs. The fixture's distinct
    users sit under the capacity, so the single availableNow batch emits
    exact counts == the batch GROUP BY oracle; the capacity-overflow
    shrink path is pinned in tests/test_sketch.py."""
    return S.run_available_now(
        S.type_heavy_hitters(_staged_stream(spark, sf_dir)), "update")


@register("streaming_latest_state", """
    SELECT user_id,
           event_type AS last_event_type,
           value AS last_value,
           epoch_us(ts) AS last_ts_us
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t WHERE rn = 1
""")
def q_streaming_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert: maxFilesPerTrigger=1 over a 2-file source (the
    events fixture + the flush file) forces two micro-batches, so the
    foreachBatch merge genuinely carries state across batches; the final
    versioned-parquet state must equal the batch latest_by_key oracle.
    The flush user (-1) is excluded from the result."""
    import tempfile

    d = tempfile.mkdtemp(prefix="events_upsert_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{d}/events.parquet")
    _write_flush_file(spark, d)
    stream = S.read_event_stream(spark, d, max_files_per_trigger=1)
    state = S.run_latest_state_upsert(
        stream, tempfile.mkdtemp(prefix="latest_state_"))
    return state.filter("user_id >= 0").select(
        "user_id", "last_event_type", "last_value", "last_ts_us"
    )


@register("streaming_ivf_ingest")  # rows-only: k-means quantizer is engine-specific
def q_streaming_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector ingestion into a persisted IVF index
    (streaming/vectors.py): quantizer trained once on the even-vec_id half,
    odd half streamed in 4 micro-batches, each assigned to its nearest
    inverted list and APPENDED to that list's parquet partition — index
    maintenance with no rebuild (vs the reference's build-from-scratch
    graph, Program.cs:125-204). Output: per-list totals + how many of each
    list's vectors arrived via the stream; tests/test_streaming.py asserts
    streamed assignments equal the batch assignment and no vector is lost
    or duplicated."""
    from pyspark.sql import functions as F

    from parquetaivectorsearch_spark.sources import load_table
    from parquetaivectorsearch_spark.streaming.vectors import build_then_stream_rest

    emb = load_table(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="ivf_stream_")
    index = build_then_stream_rest(spark, emb, work, nlist=8)
    return (
        index.lists.groupBy("list_id")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
             .cast("bigint").alias("n_streamed"),
        )
        .orderBy("list_id")
    )


@register("streaming_hnsw_ingest")  # rows-only: graph build is engine-specific
def q_streaming_hnsw_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector ingestion into a persisted HNSW graph
    (streaming/vectors.stream_ingest_hnsw): graph built on the even-vec_id
    half, odd half streamed in 4 micro-batches, each appended as a fresh
    SEGMENT (operators/hnsw.hnsw_append — the Lucene posture; the
    reference's single graph can only rebuild, Program.cs:125-204), then
    one hnsw_compact folds the segments back down. Output: per-segment
    node counts + streamed share after compaction; recall and
    segment-count invariants are in tests/test_hnsw.py and
    tests/test_streaming.py."""
    from pyspark.sql import functions as F

    from parquetaivectorsearch_spark.operators.hnsw import (
        build_hnsw,
        hnsw_compact,
        read_hnsw,
        write_hnsw,
    )
    from parquetaivectorsearch_spark.sources import load_table
    from parquetaivectorsearch_spark.streaming.vectors import stream_ingest_hnsw

    emb = load_table(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="hnsw_stream_")
    path = f"{work}/graph"
    write_hnsw(build_hnsw(emb.filter(F.col("vec_id") % 2 == 0),
                          n_partitions=2), path)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    (rest.select(F.col("vec_id").cast("long"),
                 F.col("embedding").cast("array<float>"),
                 F.col("label").cast("int"))
     .repartition(4).write.mode("overwrite").parquet(f"{work}/staged"))
    stream_ingest_hnsw(spark, f"{work}/staged", path, segment_partitions=1)
    hnsw_compact(spark, path, n_partitions=4)
    g = read_hnsw(spark, path)
    return (
        g.groupBy("part_id")
        .agg(F.count("*").alias("n_nodes"),
             F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
              .cast("bigint").alias("n_streamed"))
        .orderBy("part_id")
    )


@register("streaming_enrich_join", """
    SELECT e.event_id, e.user_id, e.event_type,
           c.c_mktsegment AS mktsegment, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
""")
def q_streaming_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static enrichment join (the dimension-lookup shape every
    event pipeline runs): the event stream joins a broadcast static
    customer dimension per micro-batch. STATELESS — no watermark, no state
    store; append mode emits each enriched event exactly once, so the
    single-batch availableNow run equals the batch join oracle exactly.
    At scale the static side re-broadcasts per batch (or is a cached
    snapshot); nothing accumulates."""
    from pyspark.sql import functions as F

    from parquetaivectorsearch_spark.queries import _t

    s = _staged_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    out = (
        s.join(F.broadcast(dim), s["user_id"] == dim["c_custkey"])
        .select("event_id", "user_id", "event_type",
                F.col("c_mktsegment").alias("mktsegment"), "value")
    )
    return S.run_available_now(out, "append", state_partitions=None)


@register("streaming_quantile_bottomk")  # rows-only: streaming state output
def q_streaming_quantile_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming quantiles per event type
    (streaming/events.type_quantile_bottomk): the state per key is the
    bottom-k-by-hash summary — ≤ 256 (hash, id, value) triples FOREVER.
    Because bottom-k of a union IS the bottom-k of merged bottom-ks, the
    micro-batch fold is lossless: the final p50/p90 EQUAL a batch
    bottom-k build over the same events, pinned as exact equality in
    tests/test_streaming.py (the streaming sketch family's quantile
    tier, next to HLL distinct and Misra-Gries heavy hitters)."""
    return S.run_available_now(
        S.type_quantile_bottomk(_staged_stream(spark, sf_dir)), "update")


@register("streaming_distinct_hll")  # rows-only: sketch estimate, tolerance-tested
def q_streaming_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming distinct users per event type
    (streaming/events.type_distinct_hll): a 4 KiB HLL register array
    per type in applyInPandasWithState — constant state at any stream
    length, micro-batches merge by register-wise max. Estimates are
    tolerance-pinned (±5%) against the exact batch countDistinct in
    tests/test_streaming.py; the batch twin hll_distinct exercises
    Spark's built-in Datasketches path."""
    return S.run_available_now(
        S.type_distinct_hll(_staged_stream(spark, sf_dir)), "update")


@register("streaming_cms_merge")  # rows-only: streaming state output
def q_streaming_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming Count-Min frequency sketch per event type
    (streaming/events.type_cms_cells): the state per key is the d×w
    int64 cell matrix — 8 KiB per type FOREVER. Micro-batches fold by
    cell-wise addition (CMS linearity, the merge rule the batch
    cms_frequency tier pins), so the final cells EQUAL a batch
    cms_build over the same events — exact integer equality pinned in
    tests/test_streaming.py. Completes the streaming sketch family's
    frequency tier next to HLL distinct, Misra-Gries heavy hitters, and
    bottom-k quantiles (VERDICT r11 #7)."""
    return S.run_available_now(
        S.type_cms_cells(_staged_stream(spark, sf_dir)), "update")


@register("streaming_kmv_distinct")  # rows-only: streaming state output
def q_streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming KMV distinct-user synopsis per event type
    (streaming/events.type_kmv_distinct): the state per key is the k
    smallest (md5-60-bit-hash, user_id) pairs — ≤ 256 rows FOREVER.
    Micro-batches fold by bottom-k-of-union (the lossless merge rule
    the batch kmv_set_ops and quantile sketches pin), so the final
    synopsis and its (k−1)·H/h₍k₎ estimate EQUAL a batch bottom-k build
    over the same events — exact equality pinned in
    tests/test_streaming.py. The sketch-algebra twin of the HLL tier:
    KMV synopses additionally support the set-operation estimates
    kmv_set_ops computes (VERDICT r11 #7)."""
    return S.run_available_now(
        S.type_kmv_distinct(_staged_stream(spark, sf_dir)), "update")


def _kmeans_update_oracle() -> str:
    from parquetaivectorsearch_spark.operators.kmeans import (
        kmeans_update_oracle_sql)

    return kmeans_update_oracle_sql(
        8, 64, "SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings")


@register("streaming_kmeans_update", _kmeans_update_oracle())
def q_streaming_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Lloyd update step (streaming/vectors.py
    streaming_centroid_update): the clustering family's streaming tier —
    assignment frozen to the first-8-by-id seeds, per-cid state = (Σx, n)
    folded LINEARLY across micro-batches (the CMS/KMV merge-rule family),
    final centroids = round(Σx/n, 9) computed Spark-side (HALF_UP shared
    with the batch tiers). One staged file → one emission per cid ==
    the batch one-step update, HASH-CHECKED against the same unrolled-CTE
    machinery as kmeans_clusters (the a1/c1 CTEs); multi-batch fold
    invariance and bounded state are pinned in tests/test_streaming.py.
    Output: (cid, dim, val) — d×k rows, dim 0-based."""
    from pyspark.sql import functions as F

    from parquetaivectorsearch_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    seed_rows = (emb.select("vec_id", "embedding")
                 .orderBy("vec_id").limit(8).collect())
    cents = [(i, [float(x) for x in r["embedding"]])
             for i, r in enumerate(seed_rows)]
    staged = tempfile.mkdtemp(prefix="kmeans_stream_")
    (emb.select(F.col("vec_id").cast("long"),
                F.col("embedding").cast("array<float>"),
                F.col("label").cast("int"))
     .coalesce(1).write.mode("overwrite").parquet(staged))
    out = S.run_available_now(
        S.streaming_centroid_update(spark, staged, cents), "update")
    return (out.select("cid", "n", F.posexplode("s").alias("dim", "ssum"))
            .select("cid", "dim",
                    (F.round(F.col("ssum") / F.col("n"), 9)
                     + F.lit(0.0)).alias("val")))


def _kmeans_rounds_oracle() -> str:
    from parquetaivectorsearch_spark.operators.kmeans import (
        kmeans_rounds_oracle_sql)

    return kmeans_rounds_oracle_sql(
        8, 2, 64, "SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings")


@register("streaming_kmeans_rounds", _kmeans_rounds_oracle())
def q_streaming_kmeans_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-round streaming k-means (streaming/vectors.py
    streaming_lloyd_rounds — VERDICT r13 #4): two epochs over a
    two-file staged stream at maxFilesPerTrigger=1, so EVERY epoch
    genuinely folds (Σx, n) state across two micro-batches before
    re-seeding the next epoch with the 9dp-rounded means. One epoch ≡
    one batch Lloyd round (linear fold), so the final centroids are
    HASH-CHECKED against the two-round unrolled-CTE oracle
    (kmeans_rounds_oracle_sql — the same c1/c2 chain the kmeans_clusters
    assignment oracle uses); R-batch fold invariance and batch-equality
    are additionally pinned in tests/test_streaming.py. Output:
    (cid, dim, val) — d×k rows, dim 0-based."""
    from pyspark.sql import functions as F

    from parquetaivectorsearch_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    seed_rows = (emb.select("vec_id", "embedding")
                 .orderBy("vec_id").limit(8).collect())
    cents = [(i, [float(x) for x in r["embedding"]])
             for i, r in enumerate(seed_rows)]
    staged = tempfile.mkdtemp(prefix="kmeans_rounds_stream_")
    # two files split by vec_id parity → two micro-batches per epoch
    # under maxFilesPerTrigger=1 (repartition by expression would hash-
    # shuffle; two explicit writes keep each file's content deterministic)
    norm = emb.select(F.col("vec_id").cast("long"),
                      F.col("embedding").cast("array<float>"),
                      F.col("label").cast("int"))
    norm.filter(F.col("vec_id") % 2 == 0).coalesce(1) \
        .write.mode("overwrite").parquet(f"{staged}/even")
    norm.filter(F.col("vec_id") % 2 == 1).coalesce(1) \
        .write.mode("overwrite").parquet(f"{staged}/odd")
    import glob as _glob
    import shutil as _shutil
    merged = f"{staged}/merged"
    import os as _os
    _os.makedirs(merged, exist_ok=True)
    for i, part in enumerate(sorted(
            _glob.glob(f"{staged}/even/part-*.parquet")
            + _glob.glob(f"{staged}/odd/part-*.parquet"))):
        _shutil.copy(part, f"{merged}/{i:02d}.parquet")
    return S.streaming_lloyd_rounds(spark, merged, cents, rounds=2,
                                    max_files_per_trigger=1)
