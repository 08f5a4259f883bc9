"""Distributed Lloyd k-means over a full vector corpus — the DISTRIBUTED
upgrade to the engine's driver-side capped-sample trainers (operators/
ann.py's IVF coarse quantizer and operators/pq.py's codebook trainers
train on a bounded driver sample; this operator runs Lloyd's iteration
over EVERY row, the way a corpus-wide semantic-clustering / SemDeDup-
style bucketing pass must at 100 TB).

Algorithm: standard Lloyd (Lloyd 1982, "Least squares quantization in
PCM"), FIXED round count so the whole computation is oracle-expressible
as unrolled CTEs (the LPA/random-walks/kcore precedent).

Spark shape — TWO assignment tiers, auto-selected on k·d (VERDICT r12
#2 introduced the split; r13's bench A/B then showed the Arrow tier 3×
faster already at k·d=512, so the auto cut sits at 256 — see
_LITERAL_KD_MAX — and the literal plan serves only genuinely tiny
models; its expression tree grows as k·d literals, which Catalyst
cannot compile at the reference's own regime of d=1536, k≥256):

- ``literal`` (k·d ≤ _LITERAL_KD_MAX): the k×d centroid matrix is
  embedded as LITERAL arrays, the per-row argmin is a codegen'd fold
  (array_position of array_min — NO n×k cross-join row explosion, NO
  shuffle for assignment), and the update is one groupBy(cid) with d
  avg aggregates — map-side partial aggregation ships k×d partials per
  task, never rows. Whole-stage-codegen, zero Python. This is the tier
  the DuckDB oracle replays.
- ``arrow`` (k·d > _LITERAL_KD_MAX): the centroid matrix rides to the
  executors as a broadcast numpy array; ONE ``mapInArrow`` pass per
  round computes the batch argmin as a single matmul
  (‖x‖² − 2·X·Cᵀ + ‖c‖², the operators/ann.py ivf_search shape)
  and emits per-batch PARTIAL SUMS (cid, Σx, n) — manual map-side
  combine, ≤ k rows of d doubles per Arrow batch, so the shuffle is
  O(batches·k·d) regardless of corpus size. Partials merge per cid in
  one ``applyInArrow``; the final divide + round runs Spark-side so
  BOTH tiers share the exact JVM HALF_UP rounding.

In both tiers each round is ONE narrow pass over the corpus; driver
pulls are exactly k×d doubles per round (the audited bounded-pull
posture); the prepared corpus is lazily localCheckpointed so every
round reuses the same materialized scan AND lineage stays O(1) in
rounds.

- Centroid coordinates are rounded to 9 decimals each round, in the
  operator AND the oracle: both engines compute IEEE-double averages
  whose partial-sum order differs, so the raw last bits differ;
  rounding far above the 1e-15 drift and far below any real distance
  gap makes the per-round centroids — and therefore every assignment —
  bit-identical across engines and partitionings. (Caveat, ADVICE r12,
  PINNED r14: the cross-engine leg of that argument additionally leans
  on Spark round() and DuckDB ROUND() agreeing at 5e-10 decimal
  boundaries. Measured (tests/test_kmeans.py::
  test_centroid_rounding_boundary_cross_engine_pin): Spark's round()
  operates on the SHORTEST DECIMAL REPRESENTATION of the double
  (scala BigDecimal(double) = java BigDecimal.valueOf = Double.toString
  → HALF_UP), so an average one ulp BELOW a half-way point whose
  shortest repr reads as the clean half still rounds UP — matching
  DuckDB's double-multiply ROUND on the same fixtures. The pinned
  boundary cases agree; the shortest-repr semantics is why no fixture
  has ever produced a divergence. The two SPARK tiers share one
  rounding implementation, so tier parity has no such caveat.)
- Tier parity caveat: the literal tier accumulates Σ(a−b)² left-to-
  right while the arrow tier uses the expanded matmul form — distances
  agree to ~1e-12 relative, so assignments can only differ on near-ties
  BELOW the 9dp centroid grain (exact ties resolve identically: numpy
  argmin and array_position both return the FIRST minimal index =
  smallest cid). The parity test pins identical assignments at 8×64 on
  the fixture corpus, where every gap is orders of magnitude wider.

Tie-breaks are total: equal distances resolve to the smallest cid,
matching the oracle's ORDER BY dist, cid. Empty clusters are DROPPED
for the following round (k may shrink) — the same thing a GROUP BY
produces in SQL, so the unrolled oracle mirrors it for free.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquetaivectorsearch_spark.functions.vector import arrow_list, arrow_matrix

# Above this k·d the literal argmin's expression tree (one zip_with fold
# per centroid, k·d literals total) stops being the plan you want:
# Catalyst analysis/codegen cost grows with the tree while the Arrow
# matmul amortizes to one BLAS call per batch. r13 set this at 4096
# (every IVF-coarse-sized model stayed literal) but the bench A/B showed
# the Arrow tier 3× faster already at the 8×64 headline fixture (2.47s
# vs 7.43s — per-round Catalyst analysis + codegen of 512 literals
# dominates at k·d=512; BENCH_NOTES r13/r14), so r14 lowers the cut to
# 256: only genuinely tiny models (PQ-subspace-sized, k·d ≤ 256) keep
# the zero-Python literal plan; everything else — including the
# reference's own 1536-dim k≥256 regime (~400k literals) — rides Arrow.
# The literal plan keeps driver-level oracle evidence via the forced-
# tier `kmeans_clusters_literal` query (queries_vector.py).
_LITERAL_KD_MAX = 256


def _assign_expr(cents: list[tuple[int, list[float]]], vec_col: str):
    """(cid) column for the argmin against the centroid literals:
    a codegen'd sum of squared differences per centroid, array_min +
    array_position for the first (= smallest-cid) minimal entry."""
    dists = [
        F.aggregate(
            F.zip_with(F.col(vec_col),
                       F.array(*[F.lit(float(x)) for x in v]),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
        for _cid, v in cents
    ]
    darr = F.array(*dists)
    pos = F.array_position(darr, F.array_min(darr)).cast("int")
    cid_by_pos = F.array(*[F.lit(int(cid)) for cid, _v in cents])
    return F.element_at(cid_by_pos, pos).alias("cid")


def _cent_arrays(cents: list[tuple[int, list[float]]]):
    """(cids int64[k], C float64[k×d], ‖c‖² float64[k]) from the sorted
    (cid, coords) list — the broadcast payload of the arrow tier."""
    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    C = np.array([v for _, v in cents], dtype=np.float64)
    return cids, C, (C * C).sum(axis=1)


def _argmin_batch(X: np.ndarray, C: np.ndarray, cn: np.ndarray) -> np.ndarray:
    """Index (NOT cid) of the nearest centroid per row of X: one matmul,
    first-minimal-index tie-break (numpy argmin) = smallest cid because
    centroid rows are in ascending-cid order. ‖x‖² is constant per row
    and argmin-invariant, but keeping it makes the values real distances
    (non-negative up to FP), which keeps near-tie behavior aligned with
    the literal tier's true Σ(a−b)²."""
    xn = (X * X).sum(axis=1)
    d2 = xn[:, None] - 2.0 * (X @ C.T) + cn[None, :]
    return d2.argmin(axis=1)


def _partial_sums(X: np.ndarray, a: np.ndarray, cids: np.ndarray
                  ) -> pa.RecordBatch:
    """One batch's per-cluster partial sums (cid, psum, cnt) — ≤ k rows
    of d doubles, the manual map-side combine of every arrow-tier Lloyd
    pass (batch rounds and the streaming update)."""
    uniq = np.unique(a)
    return pa.RecordBatch.from_arrays(
        [pa.array(cids[uniq].astype(np.int32), pa.int32()),
         arrow_list(np.array([X[a == j].sum(axis=0) for j in uniq]),
                    pa.list_(pa.float64())),
         pa.array([int((a == j).sum()) for j in uniq], pa.int64())],
        names=["cid", "psum", "cnt"])


def _merge_partial_sums(tbl: pa.Table) -> pa.Table:
    """applyInArrow merge of one key's partial sums: the key columns,
    Σ psum (as ``s``) and Σ cnt in one row. Shared by the distributed
    Lloyd passes (this arrow tier, the PQ codebook trainer)."""
    keys = [c for c in tbl.column_names if c not in ("psum", "cnt")]
    s = arrow_matrix(tbl.column("psum"), np.float64).sum(axis=0)
    return pa.table({
        **{c: tbl.column(c).slice(0, 1) for c in keys},
        "s": arrow_list(s[None, :], pa.list_(pa.float64())),
        "cnt": pa.array([int(tbl.column("cnt").to_numpy().sum())], pa.int64()),
    })


def _arrow_assign(e: DataFrame, cents: list[tuple[int, list[float]]]
                  ) -> DataFrame:
    """(id, cid) via the broadcast-matmul tier — one mapInArrow pass,
    output schema identical to the literal tier's select."""
    sc = e.sparkSession.sparkContext
    bc = sc.broadcast(_cent_arrays(cents))

    def part(it):
        cids, C, cn = bc.value
        for batch in it:
            if not batch.num_rows:
                continue
            a = _argmin_batch(arrow_matrix(batch.column("v"), np.float64),
                              C, cn)
            yield pa.RecordBatch.from_arrays(
                [batch.column("id").cast(pa.int64()),
                 pa.array(cids[a].astype(np.int32))],
                names=["id", "cid"])

    return e.mapInArrow(part, "id bigint, cid int")


def _arrow_round(e: DataFrame, cents: list[tuple[int, list[float]]]
                 ) -> list[tuple[int, list[float]]]:
    """One Lloyd round on the arrow tier: batch argmin + per-batch
    partial sums (≤ k rows of d doubles per Arrow batch — the manual
    map-side combine), merged per cid in applyInArrow, divide+round
    Spark-side (same HALF_UP as the literal tier's F.round). Returns
    the new sorted (cid, coords) list directly.

    The rounding projects ONE F.transform over the sum array, NOT d
    per-dimension getItem columns: at the wide regime (d=1536) the
    d-column form cost ~35s/round in Catalyst analysis + interpreted
    projection and another ~4.5s in O(d)-per-access Row name lookups on
    the driver, versus <0.1s for the array form — measured r13, same
    values bit-for-bit (HALF_UP either way)."""
    sc = e.sparkSession.sparkContext
    bc = sc.broadcast(_cent_arrays(cents))

    def part(it):
        cids, C, cn = bc.value
        for batch in it:
            if not batch.num_rows:
                continue
            X = arrow_matrix(batch.column("v"), np.float64)
            yield _partial_sums(X, _argmin_batch(X, C, cn), cids)

    partials = e.mapInArrow(part, "cid int, psum array<double>, cnt bigint")
    totals = partials.groupBy("cid").applyInArrow(
        _merge_partial_sums, "cid int, s array<double>, cnt bigint")
    rows = totals.select(
        "cid", F.transform("s", lambda x: F.round(x / F.col("cnt"), 9))
        .alias("v")).collect()
    return sorted((int(r["cid"]), [float(x) for x in r["v"]])
                  for r in rows)


def kmeans_lloyd(corpus: DataFrame, k: int = 8, rounds: int = 3,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 stats: dict | None = None,
                 assign_tier: str = "auto",
                 init: list[tuple[int, list[float]]] | None = None
                 ) -> DataFrame:
    """Run ``rounds`` Lloyd iterations; returns the final (id, cid)
    assignment frame. ``stats["centroids"]`` records the final centroid
    dict when a dict is passed (for tests and downstream encode).
    ``assign_tier``: "literal" | "arrow" | "auto" (k·d-thresholded —
    see the module docstring for the two plans). ``init`` overrides the
    default first-k-by-id seeding with explicit (cid, coords) seeds —
    the kmeans_parallel_seed hook (first-k-by-id stays the default
    because the DuckDB oracle replays it as ORDER BY id LIMIT k)."""
    if assign_tier not in ("auto", "literal", "arrow"):
        raise ValueError(f"unknown assign_tier {assign_tier!r}")
    raw = corpus.select(F.col(id_col).alias("id"),
                        F.col(vec_col).alias("v"))
    if init is not None:
        # d comes from the caller's seeds — no corpus action needed
        # (r14, guide §1.2: the empty/NULL probe job only guards the
        # DEFAULT first-k seeding; with explicit init there is nothing
        # to seed from the corpus, and the seeded queries save a job)
        if not init:
            raise ValueError("kmeans_lloyd: empty init seed list")
        d = len(init[0][1])
    else:
        first = raw.select("v").first()
        if first is None or first["v"] is None:
            raise ValueError(
                "kmeans_lloyd: empty corpus (or NULL first vector) — "
                "nothing to seed from")
        d = len(first["v"])
    if assign_tier == "auto":
        assign_tier = "arrow" if k * d > _LITERAL_KD_MAX else "literal"
    if stats is not None:
        stats["assign_tier"] = assign_tier
    # The literal tier folds over array<double> so the codegen'd Σ(a−b)²
    # is the double arithmetic the oracle replays. The arrow tier keeps
    # the SOURCE element type through the checkpoint and Arrow transfer
    # and widens to float64 in numpy — float→double widening is exact,
    # so every distance/seed/centroid is bit-identical to casting first,
    # and a float32 corpus ships half the bytes per round (the wide
    # regime is transfer-bound — measured r13).
    if assign_tier == "literal":
        raw = raw.select("id", F.col("v").cast("array<double>").alias("v"))
    e = raw.localCheckpoint(eager=False)
    if init is not None:
        if len(init) > k:
            raise ValueError(f"init has {len(init)} seeds for k={k}")
        cents: list[tuple[int, list[float]]] = sorted(
            (int(c), [float(x) for x in v]) for c, v in init)
    else:
        seed_rows = e.orderBy("id").limit(k).collect()
        cents = [
            (i, [float(x) for x in r["v"]]) for i, r in enumerate(seed_rows)]
    for _ in range(rounds):
        if assign_tier == "arrow":
            cents = _arrow_round(e, cents)
            continue
        assign = e.select("id", "v", _assign_expr(cents, "v"))
        agg = (assign.groupBy("cid")
               .agg(*[F.round(F.avg(F.col("v").getItem(i)), 9)
                      .alias(f"c{i}") for i in range(d)])
               .collect())
        cents = sorted(
            (int(r["cid"]), [float(r[f"c{i}"]) for i in range(d)])
            for r in agg)
    if stats is not None:
        stats["centroids"] = {cid: np.array(v) for cid, v in cents}
    if assign_tier == "arrow":
        return _arrow_assign(e, cents)
    return e.select("id", _assign_expr(cents, "v"))


def _seed_cte(k: int, seeds: list[tuple[int, list[float]]] | None) -> str:
    """The c0 CTE: default first-k-by-id, or EXPLICIT (cid, coords)
    literals (the frozen-seed replay the kmeans‖→Lloyd composition's
    hash-gated test needs — seeding itself is rows-only per SURVEY §5,
    but GIVEN the seeds, the Lloyd half is fully SQL-expressible)."""
    if seeds is None:
        return f"""
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid, v
      FROM (SELECT id, v FROM e ORDER BY id LIMIT {k})
    )"""
    vals = ",\n             ".join(
        "({}, [{}]::DOUBLE[])".format(
            int(cid), ", ".join(repr(float(x)) for x in v))
        for cid, v in seeds)
    return f"""
    c0 AS (
      SELECT * FROM (VALUES {vals}) AS t(cid, v)
    )"""


def kmeans_oracle_sql(k: int, rounds: int, d: int, table_sql: str,
                      seeds: list[tuple[int, list[float]]] | None = None
                      ) -> str:
    """The unrolled DuckDB replay of ``kmeans_lloyd`` over ``table_sql``
    (a SELECT yielding (id, v DOUBLE[])): seed = first k by id (or the
    explicit ``seeds`` literals — the ``init=`` replay), each round =
    ROW_NUMBER argmin over the cross join (ORDER BY dist, cid — the
    operator's smallest-cid tie-break) + per-dimension AVG rounded to 9
    decimals. Generated next to the operator so the two unrollings can
    never drift apart."""
    sel_dist, parts = _round_ctes(k, rounds, d, table_sql, seeds)
    final = f"""
    SELECT id, cid FROM (
      SELECT e.id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.id
                                ORDER BY {sel_dist}, c.cid) AS rn
      FROM e CROSS JOIN c{rounds} c) t WHERE rn = 1
"""
    return "WITH " + ",".join(parts) + final


def _round_ctes(k: int, rounds: int, d: int, table_sql: str,
                seeds: list[tuple[int, list[float]]] | None
                ) -> tuple[str, list[str]]:
    """The shared unrolling behind kmeans_oracle_sql (final ASSIGNMENTS)
    and kmeans_rounds_oracle_sql (final CENTROIDS): e + c0 + per-round
    a{t}/c{t} CTEs. One generator, so the two oracles cannot drift."""
    sel_dist = (f"list_sum(list_transform(generate_series(1, {d}),"
                f" i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])))")
    parts = [f"""
    e AS ({table_sql}),{_seed_cte(k, seeds)}"""]
    for t in range(1, rounds + 1):
        parts.append(f"""
    a{t} AS (
      SELECT id, cid FROM (
        SELECT e.id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.id
                                  ORDER BY {sel_dist}, c.cid) AS rn
        FROM e CROSS JOIN c{t - 1} c) t WHERE rn = 1
    ),
    c{t} AS (
      SELECT cid, list(val ORDER BY dim) AS v FROM (
        SELECT a.cid, u.i AS dim, ROUND(AVG(e.v[u.i]), 9) AS val
        FROM a{t} a JOIN e USING (id),
             unnest(generate_series(1, {d})) AS u(i)
        GROUP BY a.cid, u.i)
      GROUP BY cid
    )""")
    return sel_dist, parts


def kmeans_rounds_oracle_sql(k: int, rounds: int, d: int, table_sql: str,
                             seeds: list[tuple[int, list[float]]] | None
                             = None) -> str:
    """The DuckDB replay of ``rounds`` Lloyd UPDATE steps emitting the
    FINAL CENTROIDS as (cid, dim, val) — dim 0-based, val the 9dp-rounded
    coordinate — the multi-round generalization of
    kmeans_update_oracle_sql and the oracle of the streaming epoch loop
    (streaming/vectors.streaming_lloyd_rounds): each streamed epoch folds
    one frozen-assignment update whose result equals one batch Lloyd
    round, so R epochs replay as the same unrolled c{{R}} CTE chain the
    assignment oracle uses. ``+ 0.0`` normalizes -0.0 for value-hashing
    (same as kmeans_update_oracle_sql)."""
    _sel_dist, parts = _round_ctes(k, rounds, d, table_sql, seeds)
    final = f"""
    SELECT cid, CAST(u.i - 1 AS INTEGER) AS dim, v[u.i] + 0.0 AS val
    FROM c{rounds}, unnest(generate_series(1, {d})) AS u(i)
"""
    return "WITH " + ",".join(parts) + final


# ---------------------------------------------------------------------------
# k-means|| seeding (Bahmani et al., VLDB 2012, "Scalable k-means++")
# ---------------------------------------------------------------------------

_SEED_A, _SEED_B = 524287, 12289
_SEED_P = 2147483647  # shared with the sketch family's hash constants


def kmeans_parallel_seed(corpus: DataFrame, k: int, l: int | None = None,
                         seed_rounds: int = 5,
                         vec_col: str = "embedding", id_col: str = "vec_id",
                         stats: dict | None = None
                         ) -> list[tuple[int, list[float]]]:
    """k-means|| seeding (Bahmani et al. 2012): the DISTRIBUTED seeding
    that fixes first-k-by-id's failure mode (when low ids cluster —
    ingest order usually correlates with content — every seed lands in
    one region and Lloyd converges to a bad local optimum; test-pinned).
    kmeans++'s k sequential passes don't distribute; k-means|| replaces
    them with ``seed_rounds`` passes that each sample ~l candidates in
    PARALLEL with probability ∝ d²(x, C), then reduces the ≤ 1 + l·r
    candidates to k centers driver-side.

    Determinism (the engine-wide contract): the per-point Bernoulli draw
    uses the hash-uniform u(id) = pmod(a·id + b, P)/P — content-free,
    partitioning-invariant, replayable — against min(1, l·d²/φ); the
    driver-side reduction is weighted kmeans++ under a FIXED-seed numpy
    RNG. Two runs of the same corpus give byte-identical seeds (pinned),
    but the reduction's data-dependent weighted draws are not
    SQL-expressible, so queries built on it are rows-only per SURVEY §5.

    Spark shape (Bahmani's two-pass round, NO corpus shuffle): pass 1 is
    a narrow arrow scan (broadcast candidate matrix, batch matmul — the
    _arrow_round kernel) emitting ONE partial Σd² per Arrow batch → φ;
    pass 2 re-computes d² under the same broadcast and emits ONLY the
    rows with u < l·d²/φ — a filtered collect of the ~l new candidates
    (bounded driver pull: l·d doubles expected; hard-capped at 4·l by
    taking the smallest u·φ/(l·d²) ratios if a degenerate corpus
    over-selects). Recomputing the matmul in pass 2 is deliberate: the
    alternative (materialize (id, d²) and join back to the corpus for
    the vectors) shuffles the whole corpus per round, while the matmul
    is a narrow scan — at 100 TB the shuffle loses by orders of
    magnitude. Weights = one assignment pass + groupBy count (k-row
    pull). Total driver state: ≤ (1 + l·r)·d doubles — the IVF-trainer
    posture, never corpus-sized."""
    if l is None:
        l = 2 * k
    raw = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    e = raw.localCheckpoint(eager=False)

    # ONE probe action (r14, guide §1.2): the min-id row doubles as the
    # empty/NULL-vector guard — the r13 form paid a separate
    # select("v").first() job before this collect.
    c0_rows = e.orderBy("id").limit(1).collect()
    if not c0_rows or c0_rows[0]["v"] is None:
        raise ValueError(
            "kmeans_parallel_seed: empty corpus (or NULL first vector)")
    c0 = c0_rows[0]
    cand_ids = [int(c0["id"])]
    cand = [[float(x) for x in c0["v"]]]

    sc = e.sparkSession.sparkContext

    def _batch_d2(X, Cm, cnm):
        xn = (X * X).sum(axis=1)
        d2 = (xn[:, None] - 2.0 * (X @ Cm.T) + cnm[None, :]).min(axis=1)
        return np.maximum(d2, 0.0)

    # Fused seeding round (r14, guide §1.2 "remove passes" / §2.3): the
    # r13 form ran TWO corpus passes per round — a φ = Σd² agg pass, then
    # a selection pass re-computing d² under the same broadcast. But the
    # selection's sort key r = u·φ/(l·d²) is φ·(u/(l·d²)), and φ > 0 is a
    # global constant, so the ORDER of candidates is known without φ —
    # only the threshold test u·φ < l·d² needs it, and that test is
    # monotone in the same ratio (selected rows sort strictly before
    # rejected ones). ONE pass therefore suffices: each task emits its
    # φ-partial plus its top-(4l+slack) rows by (u/d², id); a TakeOrdered
    # over (kind, ratio, id) ships all ≤ P φ-partials and the global
    # candidate superset in ONE job, and the driver replays the exact
    # threshold + r-ordered 4l cap on that superset. Same draws: every
    # selected row sorts before every rejected row under u/d² (r < 1/l·φ
    # ⇔ selected), so the top-4l-of-selected is inside the shipped set;
    # the only caveat is float rounding — r and u/d² are each rounded
    # once differently, so two rows within ~2 ulps of each other at the
    # EXACT cap boundary of an over-selecting (>4l, itself degenerate)
    # round could order differently — the +4 slack pushes that residual
    # past any realistic fixture. Driver pull: ≤ P + 4l + 4 rows/round
    # (the P-scalars posture); corpus passes per round: 1, down from 2.
    cap = 4 * l + 4
    n_parts = e.rdd.getNumPartitions()
    out_schema = ("kind int, r double, id bigint, u double, d2 double, "
                  "v array<double>, p double")
    out_names = ["kind", "r", "id", "u", "d2", "v", "p"]
    for _ in range(seed_rounds):
        C = np.array(cand, dtype=np.float64)
        cn = (C * C).sum(axis=1)
        bc = sc.broadcast((C, cn))

        def fused_part(it):
            from pyspark import TaskContext

            Cm, cnm = bc.value
            phi_acc = 0.0
            t_rp = np.empty(0)
            t_id = np.empty(0, np.int64)
            t_u = np.empty(0)
            t_d2 = np.empty(0)
            t_v = None
            for batch in it:
                if not batch.num_rows:
                    continue
                # float64 here also widens a float32 checkpoint for the
                # emitted array<double> column
                X = arrow_matrix(batch.column("v"), np.float64)
                d2 = _batch_d2(X, Cm, cnm)
                phi_acc += float(d2.sum())
                ids = batch.column("id").to_numpy().astype(np.int64)
                uu = (((ids % _SEED_P) * _SEED_A + _SEED_B) % _SEED_P
                      ).astype(np.float64) / float(_SEED_P)
                with np.errstate(divide="ignore", invalid="ignore"):
                    rp = uu / d2  # φ-free order proxy (see note above)
                t_rp = np.concatenate([t_rp, rp])
                t_id = np.concatenate([t_id, ids])
                t_u = np.concatenate([t_u, uu])
                t_d2 = np.concatenate([t_d2, d2])
                t_v = X if t_v is None else np.concatenate([t_v, X])
                keep = np.lexsort((t_id, t_rp))[:cap]  # nan/inf sort last
                t_rp, t_id = t_rp[keep], t_id[keep]
                t_u, t_d2, t_v = t_u[keep], t_d2[keep], t_v[keep]
            pid = TaskContext.get().partitionId()
            yield pa.RecordBatch.from_arrays(
                [pa.array([0], pa.int32()), pa.array([-1.0]),
                 pa.array([pid], pa.int64()), pa.array([0.0]),
                 pa.array([0.0]), pa.nulls(1, pa.list_(pa.float64())),
                 pa.array([phi_acc])], names=out_names)
            if len(t_id):  # a 0/0 ratio ships as null, as it always has
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.ones(len(t_id), np.int32)),
                     pa.array(t_rp, from_pandas=True), pa.array(t_id),
                     pa.array(t_u), pa.array(t_d2),
                     arrow_list(t_v, pa.list_(pa.float64())),
                     pa.array(np.zeros(len(t_id)))], names=out_names)

        rows = (e.mapInArrow(fused_part, out_schema)
                .orderBy("kind", "r", "id").limit(n_parts + cap).collect())
        # φ = the task partials, summed in task order (deterministic)
        phi = sum(float(r["p"]) for r in
                  sorted((r for r in rows if r["kind"] == 0),
                         key=lambda r: int(r["id"])))
        if phi <= 0.0:  # all mass on candidates already
            break
        crows = [r for r in rows if r["kind"] == 1]
        if crows:
            uu = np.array([float(r["u"]) for r in crows])
            d2 = np.array([float(r["d2"]) for r in crows])
            ids = np.array([int(r["id"]) for r in crows], np.int64)
            lf = float(l)
            mask = uu * phi < lf * d2  # the exact r13 threshold
            with np.errstate(divide="ignore"):
                r_sel = uu[mask] * phi / (lf * d2[mask])
            order = np.lexsort((ids[mask], r_sel))[:4 * l]
            midx = np.nonzero(mask)[0][order]
            for i in midx:
                if int(ids[i]) not in cand_ids:
                    cand_ids.append(int(ids[i]))
                    cand.append([float(x) for x in crows[i]["v"]])

    # candidate weights: corpus points nearest to each candidate
    cents = list(enumerate(cand))
    wrows = (_arrow_assign(e, cents).groupBy("cid")
             .agg(F.count("*").alias("w")).collect())
    w = np.zeros(len(cand))
    for r in wrows:
        w[int(r["cid"])] = float(r["w"])

    # driver-side weighted kmeans++ reduction (Bahmani §3.3), fixed RNG.
    # d² to the chosen set folds INCREMENTALLY (min against each newly
    # chosen center only — O(k·|cand|·d) total); the r13 form recomputed
    # the full |cand|×|chosen| distance matrix per draw (O(k²·|cand|·d)
    # with a giant broadcast temporary — ~10s of the 131s wide-trainer
    # first cut, BENCH_NOTES r14). Same draws bit-for-bit: min over a
    # growing set IS the incremental fold.
    Cm = np.array(cand, dtype=np.float64)
    rng = np.random.RandomState(0)
    chosen = [int(np.argmax(w))]
    d2min = ((Cm - Cm[chosen[0]]) ** 2).sum(axis=1)
    while len(chosen) < min(k, len(cand)):
        p = w * d2min
        tot = p.sum()
        if tot <= 0.0:
            remaining = [i for i in range(len(cand)) if i not in chosen]
            chosen.extend(remaining[:k - len(chosen)])
            break
        nxt = int(rng.choice(len(cand), p=p / tot))
        chosen.append(nxt)
        d2min = np.minimum(d2min, ((Cm - Cm[nxt]) ** 2).sum(axis=1))
    seeds = sorted(chosen)
    if stats is not None:
        stats["n_candidates"] = len(cand)
        stats["candidate_ids"] = cand_ids
    return [(i, cand[c]) for i, c in enumerate(seeds)]


def kmeans_update_oracle_sql(k: int, d: int, table_sql: str) -> str:
    """The DuckDB replay of ONE Lloyd update step (the streaming
    centroid-update tier's oracle, streaming/vectors.py): seed = first k
    by id, one argmin assignment, per-(cid, dim) ROUND(AVG, 9). Emits
    (cid, dim, val) — dim 0-based to match posexplode. Generated next to
    kmeans_oracle_sql so the seed/tie-break/rounding rules can't drift."""
    sel_dist = (f"list_sum(list_transform(generate_series(1, {d}),"
                f" i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])))")
    return f"""
    WITH e AS ({table_sql}),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid, v
      FROM (SELECT id, v FROM e ORDER BY id LIMIT {k})
    ),
    a1 AS (
      SELECT id, cid FROM (
        SELECT e.id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.id
                                  ORDER BY {sel_dist}, c.cid) AS rn
        FROM e CROSS JOIN c0 c) t WHERE rn = 1
    )
    SELECT a.cid, CAST(u.i - 1 AS INTEGER) AS dim,
           ROUND(AVG(e.v[u.i]), 9) + 0.0 AS val
    FROM a1 a JOIN e USING (id),
         unnest(generate_series(1, {d})) AS u(i)
    GROUP BY a.cid, u.i
"""
