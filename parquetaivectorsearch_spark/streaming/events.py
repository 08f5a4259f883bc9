"""Structured Streaming over the events table (SURVEY.md §2.10, north-star).

The reference is strictly batch (SURVEY §1.4); this module provides the
streaming operator set a training-data pipeline needs: watermarked
tumbling/sliding/session window aggregations, cross-batch stateful dedup,
and a custom stateful operator via applyInPandasWithState.

Execution model: file-source readStream (the 100 TB pattern — new parquet
files land in a directory, each micro-batch processes a bounded file set)
driven with trigger(availableNow=True) into a memory sink for the driver's
correctness harness. With the fixture's single events file that is exactly
one micro-batch, so `update` mode emits each aggregate once and the result
equals the batch computation — which is what the DuckDB oracles check.
Multi-batch incremental behavior (state carried across micro-batches) is
exercised in tests/test_streaming.py with maxFilesPerTrigger=1.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# readStream needs a declared schema; forcing ts to LongType reads the raw
# int64 ticks of the fixtures' TIMESTAMP(MICROS) column as epoch micros.
EVENTS_RAW_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])

# Watermarks require TIMESTAMP (instant), not TIMESTAMP_NTZ — rebuild the
# raw ticks as an epoch instant (timestamp_micros takes no timezone), and
# keep every *output* session-TZ-independent: date_from_unix_date for window
# days, unix_micros for session starts. The fixture's wall-clock times are
# UTC instants under this reading, matching DuckDB's view of the file.
_DAY_OF = "date_from_unix_date(CAST(unix_micros({c}) DIV 86400000000 AS INT))"


def read_event_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of events. `path` is a directory (or an sf dir —
    pathGlobFilter picks the events file); each new file is a micro-batch
    input, the streaming analog of the reference's directory scan
    (Program.cs:31). The raw ``ts`` long is epoch micros (the fixtures'
    TIMESTAMP(MICROS)) and becomes an instant via ``timestamp_micros``.
    """
    reader = spark.readStream.schema(EVENTS_RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.option("pathGlobFilter", "*.parquet").parquet(path)
    return stream.withColumn("ts", F.expr("timestamp_micros(ts)"))


def _ephemeral_checkpoint_dir() -> str:
    """Checkpoint dir for throwaway availableNow runs (memory sink, result
    discarded after the harness reads it). Durability buys nothing here, so
    prefer tmpfs when the host has it — the HDFS-backed state store fsyncs
    a delta file per partition per batch plus offset/commit logs per batch,
    and on a real disk that (not compute) dominates small-state runs. A
    production query with a real sink points checkpointLocation at a DFS."""
    import os
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK) else None
    return tempfile.mkdtemp(prefix="ckpt_avail_", dir=base)


def run_available_now(stream_df: DataFrame, output_mode: str,
                      state_partitions: int | None = 8) -> DataFrame:
    """Drive the stream through all available data into a memory sink and
    return the sink table. availableNow terminates after the backlog —
    batch-job semantics over the streaming operator graph.

    ``state_partitions`` pins the stateful-operator partition count for
    this query (it is frozen into the checkpoint at first start). Stateful
    tasks pay a per-partition state-store open/commit cost every batch, so
    the right count tracks STATE size, not cluster width: the fixture's
    ≤10k keys want single digits, a 100 TB stream wants cores × k. None
    keeps the session default.

    NB: the pin temporarily mutates the session-global
    ``spark.sql.shuffle.partitions`` (Spark offers no per-query override
    for the value a streaming checkpoint freezes), so concurrent batch
    queries on the same session may plan with the pinned count. The
    engine's harnesses (driver, bench, tests) execute queries
    sequentially; a concurrently-shared session should pass
    ``state_partitions=None``. The ephemeral checkpoint (tmpfs when
    available) is deleted after termination — the memory sink already
    holds the result, and leaking /dev/shm dirs burns RAM (ADVICE r5 #2).
    """
    import shutil

    spark = stream_df.sparkSession
    name = f"sink_{uuid.uuid4().hex[:12]}"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_ndb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    ckpt = _ephemeral_checkpoint_dir()
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # r15 (guide §1.2, VERDICT #7 — the one state-machinery lever that
    # survived the oracle): non-append modes skip the trailing NO-DATA
    # micro-batch. That batch exists to advance the watermark so APPEND
    # mode can emit withheld windows and evict state; in update/complete
    # mode every row the sink will ever see is emitted by the DATA
    # batches, and eviction timing cannot change results (a row past the
    # watermark filter implies its window was never evictable) — while
    # the batch still pays a full state-store open/commit + offset/commit
    # log cycle per query. Measured: −0.7 to −1.5 s per update-mode
    # streaming query at sf0.1, memory-sink contents identical.
    # Invariant this relies on: every applyInPandasWithState in the
    # package runs with "NoTimeout" — a processing- or event-time timeout
    # fires only in a batch, and the skipped no-data batch would withhold
    # those timeout outputs. Pinned by tests/test_source_guards.py.
    if output_mode != "append":
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                       "false")
    try:
        q = (
            stream_df.writeStream.format("memory").queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode(output_mode).trigger(availableNow=True).start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                       old_ndb)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


# ---------------------------------------------------------------------------
# windowed aggregations (streaming twins of the batch §2.10 queries)
# ---------------------------------------------------------------------------

def tumbling_counts(events: DataFrame, width: str = "1 day",
                    watermark: str = "1 hour") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)"))
              .cast("double").alias("total_value"))
        .select(F.expr(_DAY_OF.format(c="w.start")).alias("window_day"),
                "event_type", "n_events", "total_value")
    )


def sliding_counts(events: DataFrame, width: str = "2 days", slide: str = "1 day",
                   watermark: str = "1 hour") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)"))
              .cast("double").alias("total_value"))
        .select(F.expr(_DAY_OF.format(c="w.start")).alias("window_start"),
                "n_events", "total_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "1 hour") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)"))
              .cast("double").alias("total_value"))
        .select(
            "user_id",
            F.expr("unix_micros(w.start)").alias("session_start_us"),
            "n_events", "total_value",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "30 days") -> DataFrame:
    """Stateful exact dedup on event_id: state (seen ids) is retained until
    the watermark passes, so re-deliveries across micro-batches are dropped
    — the streaming twin of dedup_exact."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def stream_stream_join(purchases: DataFrame, clicks: DataFrame,
                       within: str = "INTERVAL 1 HOUR",
                       watermark: str = "1 hour") -> DataFrame:
    """Stream-stream inner join: purchases ⋈ clicks on user_id with the
    click in [purchase - within, purchase]. Both sides carry watermarks and
    the join condition bounds event time on both, so the state store can
    evict rows once the watermark passes — the requirement for unbounded
    stream-stream joins. Output: one row per qualifying (purchase, click).
    """
    p = (purchases.withWatermark("ts", watermark)
         .select(F.col("event_id").alias("purchase_id"), "user_id",
                 F.col("ts").alias("p_ts"), F.col("value").alias("p_value")))
    c = (clicks.withWatermark("ts", watermark)
         .select(F.col("event_id").alias("click_id"),
                 F.col("user_id").alias("c_user_id"),
                 F.col("ts").alias("c_ts")))
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.expr(f"p_ts - {within}")),
        "inner",
    ).select("purchase_id", "click_id", "user_id",
             F.expr("unix_micros(p_ts)").alias("p_ts_us"),
             F.expr("unix_micros(c_ts)").alias("c_ts_us"))


# ---------------------------------------------------------------------------
# custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

_TOTALS_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value_cents", T.LongType()),
])
_TOTALS_STATE = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("cents", T.LongType()),
])


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, value-sum) across micro-batches — a custom
    stateful operator the DataFrame API has no primitive for, via
    applyInPandasWithState (SURVEY §2.11). Money is accumulated in integer
    cents so the result is order-independent and oracle-exact."""
    import pandas as pd

    def update(key, pdfs, state):
        import numpy as np

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(np.rint(pdf["value"].to_numpy() * 100).sum())
        state.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_value_cents": [cents]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update, _TOTALS_OUT, _TOTALS_STATE, "update",
            "NoTimeout",
        )
    )


_HH_OUT = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("cnt", T.LongType()),
])
_HH_STATE = T.StructType([
    T.StructField("users", T.ArrayType(T.LongType())),
    T.StructField("cnts", T.ArrayType(T.LongType())),
])


def type_heavy_hitters(events: DataFrame, k: int = 4096) -> DataFrame:
    """Bounded-state streaming frequent users per event type: the state per
    key is a capacity-``k`` Misra-Gries summary (the operators/sketch.py
    shrink rule), never the full distinct-user set — the streaming twin of
    the batch two-pass heavy-hitters operator, and the reason this survives
    an unbounded stream (a plain groupBy-count's state grows with the key
    universe; this state is ≤ 2k rows per type forever). While the per-type
    distinct-user count stays under capacity no shrink fires and the
    emitted counts are EXACT (the fixture regime, which the batch oracle
    checks); past capacity the emission degrades gracefully to the MG
    lower-bound summary with error ≤ n_type/(k+1) (the shrink path is
    pinned off-stream in tests/test_sketch.py)."""
    import pandas as pd

    from parquetaivectorsearch_spark.operators.sketch import mg_shrink

    def update(key, pdfs, state):
        if state.exists:
            users, cnts = state.get
            acc = pd.Series(list(cnts), index=list(users), dtype="int64")
        else:
            acc = pd.Series(dtype="int64")
        for pdf in pdfs:
            acc = acc.add(pdf["user_id"].value_counts(), fill_value=0)
            if len(acc) > 2 * k:
                acc = mg_shrink(acc, k)
        acc = mg_shrink(acc, k)
        state.update((
            [int(u) for u in acc.index],
            [int(c) for c in acc.to_numpy()],
        ))
        yield pd.DataFrame({
            "event_type": key[0],
            "user_id": acc.index.to_numpy("int64"),
            "cnt": acc.to_numpy("int64"),
        })

    return (
        events.groupBy("event_type")
        .applyInPandasWithState(update, _HH_OUT, _HH_STATE, "update",
                                "NoTimeout")
    )


# ---------------------------------------------------------------------------
# foreachBatch upsert: streaming CDC "latest state" maintenance
# ---------------------------------------------------------------------------

def run_latest_state_upsert(events: DataFrame, state_root: str) -> DataFrame:
    """Maintain a latest-record-per-key snapshot across micro-batches via
    foreachBatch — the streaming upsert/merge pattern (no built-in sink is
    transactional-upsert, so foreachBatch owning a versioned parquet state
    is the stock recipe).

    Per batch: collapse the batch to its per-user latest (max_by over a
    (ts, event_id) struct — one hash agg, no window sort), union with the
    previous state version, keep the overall latest per user, write state
    version N. Versioned directories make each batch write atomic-by-rename
    semantics on a DFS and keep the merge idempotent under batch replay —
    exactly how a 100 TB CDC snapshot stays consistent without a table
    format. Returns the final state (all batches drained, availableNow).
    """
    versions: list[str] = []
    spark = events.sparkSession

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        tie = F.struct("ts", "event_id")
        batch_latest = batch_df.groupBy("user_id").agg(
            F.max_by("event_type", tie).alias("last_event_type"),
            F.max_by("value", tie).alias("last_value"),
            F.unix_micros(F.max("ts")).alias("last_ts_us"),
            F.max_by("event_id", tie).alias("last_event_id"),
        )
        if versions:
            prev = spark.read.parquet(versions[-1])
            merged = prev.unionByName(batch_latest)
        else:
            merged = batch_latest
        from pyspark.sql.window import Window

        w = Window.partitionBy("user_id").orderBy(
            F.desc("last_ts_us"), F.desc("last_event_id"))
        out = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn")
        )
        path = f"{state_root}/v{batch_id}"
        out.write.mode("overwrite").parquet(path)
        versions.append(path)

    q = (
        events.writeStream.foreachBatch(merge)
        .option("checkpointLocation", _ephemeral_checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(versions[-1])


def type_distinct_hll(events: DataFrame, p: int = 12) -> DataFrame:
    """Bounded-state streaming DISTINCT-USER estimation per event type:
    the state per key is a 2^p-register HyperLogLog (Flajolet et al.
    2007) — 4 KiB per type FOREVER, where a streaming
    countDistinct's state grows with the user universe. The streaming
    twin of the batch hll_distinct query (which uses Spark's built-in
    Datasketches aggs; here the registers live in
    applyInPandasWithState so micro-batches MERGE by register-wise max
    — the defining HLL property). Hashing is md5-based (stdlib,
    engine-portable, deterministic), rho = leading-zero count of the
    suffix; the standard bias-corrected estimate with the small-range
    linear-counting correction. Relative error ~1.04/sqrt(2^p) ≈ 1.6%
    at p=12 (tolerance-pinned against the exact batch count in
    tests/test_streaming.py)."""
    import hashlib
    import math

    import numpy as np
    import pandas as pd

    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)

    def update(key, pdfs, state):
        regs = (np.array(state.get[0], dtype=np.int64) if state.exists
                else np.zeros(m, dtype=np.int64))
        for pdf in pdfs:
            for uid in pdf["user_id"].unique():
                h = int.from_bytes(
                    hashlib.md5(str(int(uid)).encode()).digest()[:8], "big")
                j = h >> (64 - p)
                rest = h & ((1 << (64 - p)) - 1)
                rho = (64 - p) - rest.bit_length() + 1
                if rho > regs[j]:
                    regs[j] = rho
        state.update(([int(r) for r in regs],))
        raw = alpha * m * m / float(np.power(2.0, -regs).sum())
        zeros = int((regs == 0).sum())
        if raw <= 2.5 * m and zeros > 0:
            est = m * math.log(m / zeros)  # linear counting
        else:
            est = raw
        yield pd.DataFrame(
            {"event_type": [key[0]], "distinct_users_est": [float(est)]})

    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StringType, StructField, StructType)

    out_schema = StructType([
        StructField("event_type", StringType()),
        StructField("distinct_users_est", DoubleType()),
    ])
    state_schema = StructType([
        StructField("regs", ArrayType(LongType())),
    ])
    return (events
            .groupBy("event_type")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", "NoTimeout"))


def type_quantile_bottomk(events: DataFrame, k: int = 256) -> DataFrame:
    """Bounded-state streaming QUANTILES per event type: the state per key
    is the bottom-k-by-hash summary (operators/sketch.bottomk_summary's
    layout — the k smallest (a·event_id+b) mod P hashes with their
    values), ≤ k rows FOREVER where a streaming exact percentile's state
    grows with the stream. Completes the streaming sketch family
    (HLL distinct above, Misra-Gries heavy hitters) with the quantile
    tier. Because bottom-k of a union is exactly the bottom-k of merged
    bottom-ks, the micro-batch fold is LOSSLESS: once a type has seen
    ≥ k events, the emitted quantiles EQUAL a batch bottom-k build over
    the whole stream — pinned as exact equality (not a tolerance) in
    tests/test_streaming.py. Estimates use the batch helper's rank rule:
    value at row floor(q·(k_eff−1))+1 ordered by (value, key)."""
    import numpy as np
    import pandas as pd

    from parquetaivectorsearch_spark.operators.sketch import (
        BK_A, BK_B, CMS_P)

    qs = (0.5, 0.9)

    def update(key, pdfs, state):
        if state.exists:
            hs, ks, vs = (np.array(c) for c in state.get)
        else:
            hs = np.array([], dtype=np.int64)
            ks = np.array([], dtype=np.int64)
            vs = np.array([], dtype=np.float64)
        for pdf in pdfs:
            ek = pdf["event_id"].to_numpy(np.int64)
            # reduce mod P before the multiply — same value, no int64
            # wrap for huge/negative ids (matches bottomk_hash's pmod)
            hs = np.concatenate([hs, ((ek % CMS_P) * BK_A + BK_B) % CMS_P])
            ks = np.concatenate([ks, ek])
            vs = np.concatenate([vs, pdf["value"].to_numpy(np.float64)])
            keep = np.lexsort((ks, hs))[:k]
            hs, ks, vs = hs[keep], ks[keep], vs[keep]
        state.update(([int(x) for x in hs], [int(x) for x in ks],
                      [float(x) for x in vs]))
        order = np.lexsort((ks, vs))
        k_eff = len(vs)
        ests = [float(vs[order[int(np.floor(q * (k_eff - 1)))]])
                for q in qs]
        yield pd.DataFrame({"event_type": [key[0]],
                            "n_summary": [k_eff],
                            "p50_est": [ests[0]],
                            "p90_est": [ests[1]]})

    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   LongType, StringType, StructField,
                                   StructType)

    out_schema = StructType([
        StructField("event_type", StringType()),
        StructField("n_summary", IntegerType()),
        StructField("p50_est", DoubleType()),
        StructField("p90_est", DoubleType()),
    ])
    state_schema = StructType([
        StructField("hs", ArrayType(LongType())),
        StructField("ks", ArrayType(LongType())),
        StructField("vs", ArrayType(DoubleType())),
    ])
    return (events
            .groupBy("event_type")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", "NoTimeout"))


def type_cms_cells(events: DataFrame, d: int = 4, w: int = 256) -> DataFrame:
    """Bounded-state streaming Count-Min frequency sketch per event type:
    the state per key is the d×w int64 cell matrix (d=4, w=256 ⇒ 8 KiB
    per type FOREVER), the streaming twin of the batch cms_build
    (operators/sketch.py — Cormode & Muthukrishnan 2005). Micro-batches
    fold by CELL-WISE ADDITION — the linearity that makes CMS the
    shard-parallel/streaming frequency tier, already pinned as the batch
    merge rule in tests/test_sketch.py — so the final cells EQUAL a
    batch cms_build over the whole stream, exact integer equality
    (pinned in tests/test_streaming.py). Same hash family as the batch
    tier (pmod(a·vid + b, P) mod w, P = 2³¹−1, the CMS_A/CMS_B rows —
    numpy's % IS pmod for a positive modulus, and the batch tier uses
    F.pmod since r13 so negative or int64-wrapping uids land in the
    same cells in both engines), so the cells are interchangeable with
    batch-built sketches for ANY int64 uid. Per Arrow
    batch the insert is one value_counts + d vectorized scatter-adds —
    no per-row Python. Emits the NONZERO cells (event_type, j, col,
    cell), the exact layout cms_build produces."""
    import numpy as np
    import pandas as pd

    from parquetaivectorsearch_spark.operators.sketch import (
        CMS_A, CMS_B, CMS_P)

    A = np.array(CMS_A[:d], dtype=np.int64)
    B = np.array(CMS_B[:d], dtype=np.int64)

    def update(key, pdfs, state):
        cells = (np.array(state.get[0], dtype=np.int64).reshape(d, w)
                 if state.exists else np.zeros((d, w), dtype=np.int64))
        for pdf in pdfs:
            vc = pdf["user_id"].value_counts()
            vids = vc.index.to_numpy(np.int64) % CMS_P  # reduce first:
            # (a·vid+b) mod P == (a·(vid mod P)+b) mod P, product < 2^54
            # — no int64 wrap, matching the batch tier's pmod formula
            # for negative / snowflake-scale uids (ADVICE r12)
            cnts = vc.to_numpy(np.int64)
            cols = ((vids[None, :] * A[:, None] + B[:, None]) % CMS_P) % w
            for j in range(d):
                np.add.at(cells[j], cols[j], cnts)
        state.update(([int(x) for x in cells.ravel()],))
        jj, cc = np.nonzero(cells)
        yield pd.DataFrame({"event_type": key[0],
                            "j": jj.astype(np.int32),
                            "col": cc.astype(np.int64),
                            "cell": cells[jj, cc]})

    from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                                   StringType, StructField, StructType)

    out_schema = StructType([
        StructField("event_type", StringType()),
        StructField("j", IntegerType()),
        StructField("col", LongType()),
        StructField("cell", LongType()),
    ])
    state_schema = StructType([
        StructField("cells", ArrayType(LongType())),
    ])
    return (events
            .groupBy("event_type")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", "NoTimeout"))


def type_kmv_distinct(events: DataFrame, k: int = 256) -> DataFrame:
    """Bounded-state streaming KMV (k-minimum-values) distinct-user
    synopsis per event type (Beyer et al., SIGMOD 2007): the state per
    key is the k smallest (hash, user_id) pairs — ≤ k rows FOREVER, the
    streaming twin of the batch kmv_set_ops sketches. Micro-batches
    fold by BOTTOM-K-OF-UNION — the same lossless merge rule the batch
    tier and quantile_bottomk pin — so the final synopsis (and hence the
    (k−1)·H/h₍k₎ distinct estimate) EQUALS a batch bottom-k build over
    the whole stream, exact equality pinned in tests/test_streaming.py.
    Same md5-15-hex-digit 60-bit hash as the batch KMV family, so
    synopses are interchangeable (and oracle-replayable via
    conv(substring(md5(…),1,15),16,10)). Hashing is per UNIQUE uid per
    batch (the HLL twin's posture), never per row. Emits
    (event_type, n_synopsis, distinct_users_est)."""
    import hashlib

    import pandas as pd

    hmax = float(1 << 60)

    def update(key, pdfs, state):
        if state.exists:
            cur = dict(zip(state.get[1], state.get[0]))  # uid -> h
        else:
            cur = {}
        for pdf in pdfs:
            for uid in pdf["user_id"].unique():
                uid = int(uid)
                if uid not in cur:
                    cur[uid] = int(
                        hashlib.md5(str(uid).encode()).hexdigest()[:15], 16)
            if len(cur) > k:
                cur = {u: h for h, u in
                       sorted((h, u) for u, h in cur.items())[:k]}
        items = sorted((h, u) for u, h in cur.items())
        n_kv = len(items)
        est = (float(n_kv) if n_kv < k
               else (k - 1) * hmax / float(items[-1][0]))
        state.update(([h for h, _ in items], [u for _, u in items]))
        yield pd.DataFrame({"event_type": [key[0]],
                            "n_synopsis": [n_kv],
                            "distinct_users_est": [est]})

    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   LongType, StringType, StructField,
                                   StructType)

    out_schema = StructType([
        StructField("event_type", StringType()),
        StructField("n_synopsis", IntegerType()),
        StructField("distinct_users_est", DoubleType()),
    ])
    state_schema = StructType([
        StructField("hs", ArrayType(LongType())),
        StructField("us", ArrayType(LongType())),
    ])
    return (events
            .groupBy("event_type")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", "NoTimeout"))
