"""Partitioned HNSW — the reference's actual index algorithm, Spark-shaped.

The reference builds a Hierarchical Navigable Small World graph over the
corpus (build Program.cs:125-204 via the external HNSW.Net library; M=10,
LevelLambda=1/ln(M), batch add Program.cs:16,170,188), persists topology
only (SerializeGraph Program.cs:231-244), re-binds vectors at load
(Program.cs:246-263), and answers k-NN by graph beam search with
dot-product distance (Program.cs:207-227). Its own Option 1
(Program.cs:140-174) builds 10 *independent* per-chunk graphs in parallel —
exactly the shape that distributes.

This module is that Option 1 on Spark, with the graph algorithm implemented
from the published paper (Malkov & Yashunin, arXiv:1603.09320 — greedy
descent from the top layer, ef-beam search on layer 0, geometric level
assignment with mL = 1/ln(M)):

- **build**: corpus → P hash partitions → `applyInArrow` builds one numpy
  HNSW per partition → graph rows `(part_id, vec_id, embedding, neighbors:
  array<array<bigint>>)`, one row per node, neighbor lists per layer.
- **persist**: graph rows *including the vector*, parquet partitioned by
  part_id. This deliberately deviates from the reference's topology-only
  SerializeGraph (Program.cs:231-244) + re-bind-at-load (Program.cs:256):
  at 100 TB a serve-time "re-bind" is a full-corpus shuffle join on every
  query batch. Storing the vector with its node costs ~corpus-sized
  storage once and makes search a join-free partition-local scan.
  ``write_hnsw(topology_only=True)`` restores exact reference parity.
- **search**: fan out every query to every partition graph, beam-search
  each, and merge the global top-k on the driver (the merge the
  reference's Option 1 never wrote). A graph ``read_hnsw`` returned is
  served like the reference's deserialize-once graph (Program.cs:246-263):
  one task per ``part_id=`` directory over ``range(P)``, each taking its
  part from the Python worker's cache of loaded parts (keyed by file
  path, size and mtime, bounded in bytes), so a warm request scans and
  shuffles no graph rows. Any other graph frame is searched by one
  ``applyInArrow`` per part_id group. Both read a part through one loader
  that builds the per-layer adjacency matrices from the Arrow list
  offsets, and both end in one driver-side merge of at most P·nq·k
  survivors. No corpus join: vectors ride with the graph rows.

Neighbor selection implements BOTH the paper's simple nearest-M (Alg. 3)
and the heuristic (Alg. 4: SELECT-NEIGHBORS-HEURISTIC with
extendCandidates / keepPrunedConnections). The reference enables the
heuristic variants (NeighbourSelectionRuleType.SelectHeuristic +
ExpandBestSelection, Program.cs:135-137), so ``HNSWParams.heuristic``
defaults to True; set it False for Alg. 3. On clustered data the heuristic
preserves long-range links that pure nearest-M prunes away, which is worth
recall at equal ef (paper §4, Fig. 2 discussion).

IVF (operators/ann.py) remains the default scale path — its probe is a
partition-pruned *scan* with no per-node Python state. HNSW fans out to all
P graphs but touches only ~ef·log(N/P) vectors per graph — the better
latency/recall trade once per-partition corpora are large and resident.

Distance is dot-product distance (1 − a·b), matching the reference's
DotProductDistance (smaller = closer, ascending re-sort Program.cs:219).
"""

from __future__ import annotations

import heapq
import math
import re
from collections import OrderedDict
from functools import partial
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquetaivectorsearch_spark.functions.vector import arrow_list, arrow_matrix
from parquetaivectorsearch_spark.operators.knn import query_batch

__all__ = ["HNSWParams", "build_hnsw", "write_hnsw", "read_hnsw",
           "hnsw_search", "hnsw_append", "hnsw_compact"]


class HNSWParams:
    """Build/search knobs (defaults mirror Program.cs:15,128-138: M=10,
    mL=1/ln M, heuristic neighbor selection with candidate expansion)."""

    def __init__(self, M: int = 10, ef_construction: int = 100,
                 ef_search: int = 64, seed: int = 42,
                 heuristic: bool = True, extend_candidates: bool = True,
                 keep_pruned: bool = True):
        self.M = M
        self.ef_construction = ef_construction
        self.ef_search = ef_search
        self.seed = seed
        self.heuristic = heuristic              # Alg. 4 vs Alg. 3
        self.extend_candidates = extend_candidates  # ExpandBestSelection analog
        self.keep_pruned = keep_pruned          # keepPrunedConnections (Alg. 4)


# ---------------------------------------------------------------------------
# numpy HNSW core (one graph per partition; runs inside applyInArrow)
#
# Adjacency is a fixed-capacity int32 matrix per layer (nbr[l][node, :cnt])
# instead of dict-of-arrays: slice access in the beam loop, O(1) back-link
# append, no per-edge np.append copies. ``visited`` is an epoch-stamped
# int32 array — reset is a counter bump, not an O(n) memset per beam call.
# Insert distances are precomputed in CHUNKS: one (B × n) GEMM per B
# inserts replaces B GEMVs (BLAS-3 vs BLAS-2), bounded to ~64 MB scratch.
# ---------------------------------------------------------------------------

# Per-chunk distance scratch budget: B = _CHUNK_BUDGET // n insert rows per
# GEMM, so the (B, n) float32 block stays ~64 MB no matter the partition
# size. At n beyond the budget, B degrades to 1 (a single GEMV) — per-insert
# work stays O(n·d) only in the precompute, never materializing O(n²).
_CHUNK_BUDGET = 1 << 24


def _search_layer(dist_b, dist_s, nbr: np.ndarray, cnt: np.ndarray,
                  entry: int, ef: int, visited: np.ndarray,
                  epoch: int) -> list[tuple[float, int]]:
    """Beam search on one layer (paper Alg. 2): maintain the ef best, expand
    the closest unexpanded candidate until no candidate beats the worst.

    ``dist_b`` maps an index array to distances, ``dist_s`` a scalar index;
    ``nbr``/``cnt`` are the layer's capacity-matrix adjacency; ``visited``
    is the caller's epoch-stamp scratch (stamp == epoch ⇒ seen).

    ef == 1 (the upper-layer greedy descents — most calls) takes a
    heap-free hill-climb fast path: strict improvement ⇒ monotone distance
    ⇒ no revisit bookkeeping. (A fully vectorized array-beam for the
    general case was measured SLOWER — numpy per-call overhead loses to
    C heapq at beam sizes of ~10² — and reverted.)"""
    d0 = float(dist_s(entry))
    visited[entry] = epoch
    if ef == 1:
        cur, d = entry, d0
        while True:
            c = cnt[cur]
            if c == 0:
                return [(d, cur)]
            neigh = nbr[cur, :c]
            nds = dist_b(neigh)
            j = int(np.argmin(nds))
            nd = float(nds[j])
            if nd >= d:
                return [(d, cur)]
            cur, d = int(neigh[j]), nd
    cand = [(d0, entry)]           # min-heap by distance
    best = [(-d0, entry)]          # max-heap (negated) of the ef best
    while cand:
        d, node = heapq.heappop(cand)
        if d > -best[0][0]:
            break
        c = cnt[node]
        if c == 0:
            continue
        neigh = nbr[node, :c]
        new = neigh[visited[neigh] != epoch]
        if len(new) == 0:
            continue
        visited[new] = epoch
        nds = dist_b(new)
        if len(best) >= ef:
            # batch-filter against the current worst before touching heaps
            worst = -best[0][0]
            ok = nds < worst
            new, nds = new[ok], nds[ok]
        for nd, n in zip(nds.tolist(), new.tolist()):
            if len(best) < ef or nd < -best[0][0]:
                heapq.heappush(cand, (nd, n))
                heapq.heappush(best, (-nd, n))
                if len(best) > ef:
                    heapq.heappop(best)
    return sorted((-nd, n) for nd, n in best)


def _select_neighbors(x: np.ndarray, cands: list[tuple[float, int]], m: int,
                      nbr: np.ndarray, cnt: np.ndarray, p: "HNSWParams",
                      dist_b, visited: np.ndarray | None = None,
                      epoch: int = 0) -> np.ndarray:
    """Neighbor selection for one insert: paper Alg. 3 (simple nearest-M)
    or Alg. 4 (heuristic) per ``p.heuristic`` — the reference's
    SelectHeuristic/ExpandBestSelection pair (Program.cs:135-137).

    Alg. 4: walk candidates in ascending distance-to-q; keep e only if e is
    closer to q than to every already-kept neighbor — this preserves links
    that bridge clusters instead of M redundant intra-cluster edges.

    The working set is capped at max(ef_construction, 2m) nearest (the
    hnswlib convention): keeps the one pairwise candidate-matrix matmul
    bounded even when extendCandidates pulls in every neighborhood."""
    if not p.heuristic:
        return np.array([nid for _, nid in cands[:m]], dtype=np.int64)

    k = len(cands)
    ids = np.fromiter((nid for _, nid in cands), dtype=np.int64, count=k)
    dq = np.fromiter((d for d, _ in cands), dtype=np.float64, count=k)
    if p.extend_candidates:
        # ExpandBestSelection: widen the working set with candidates'
        # neighborhoods (paper Alg. 4 extendCandidates branch) — one
        # masked gather from the capacity matrix, distances in one batch.
        counts = cnt[ids]
        if counts.any():
            rows = nbr[ids]                                   # (k, cap)
            ext = rows[np.arange(rows.shape[1]) < counts[:, None]]
            ext = np.unique(ext)
            if visited is not None:
                # membership via the caller's epoch-stamp scratch — O(k+|ext|)
                # instead of np.isin's sort-based lookup per insert
                visited[ids] = epoch
                ext = ext[visited[ext] != epoch]
            else:
                ext = ext[~np.isin(ext, ids)]
            if len(ext):
                ids = np.concatenate([ids, ext])
                dq = np.concatenate([dq, dist_b(ext)])
    cap = max(p.ef_construction, 2 * m)
    if len(dq) > cap:
        # argpartition + sort of the cap head beats a full stable argsort of
        # the extended set (ties across the partition boundary can pick a
        # different equal-distance candidate — distances are floats, exact
        # ties are measure-zero, recall is gated in tests either way)
        part = np.argpartition(dq, cap - 1)[:cap]
        order = part[np.argsort(dq[part], kind="stable")]
    else:
        order = np.argsort(dq, kind="stable")
    ids, dq = ids[order], dq[order]

    # pairwise distances among the (capped) candidates — ONE matmul
    C = x[ids]
    dmat = 1.0 - C @ C.T
    # mind[j] = min distance from candidate j to any kept neighbor so far;
    # updated with one vectorized minimum per acceptance instead of a
    # fancy-indexed reduce per candidate.
    mind = np.full(len(ids), np.inf)
    kept: list[int] = []
    pruned: list[int] = []
    for j in range(len(ids)):
        if len(kept) >= m:
            break
        if dq[j] < mind[j]:
            kept.append(j)
            np.minimum(mind, dmat[j], out=mind)
        else:
            pruned.append(j)
    if p.keep_pruned:
        for j in pruned:
            if len(kept) >= m:
                break
            kept.append(j)
    return ids[np.array(kept, dtype=np.int64)]


def _build_graph(x: np.ndarray, p: HNSWParams) -> list[dict[int, np.ndarray]]:
    """Insert-all build (paper Alg. 1). Returns adjacency per layer:
    layers[l][node] = np.array of neighbor node indexes.

    Internally the graph lives in capacity matrices; the dict form is
    materialized once at the end for the row emitter (build_hnsw)."""
    n = len(x)
    rng = np.random.RandomState(p.seed)
    mL = 1.0 / math.log(p.M)
    levels = np.minimum(
        (-np.log(rng.uniform(1e-12, 1.0, size=n)) * mL).astype(np.int64), 32)
    max_level = int(levels.max()) if n else 0
    n_layers = max_level + 1
    caps = [2 * p.M if lvl == 0 else p.M for lvl in range(n_layers)]
    nbrs = [np.zeros((n, caps[lvl]), dtype=np.int32) for lvl in range(n_layers)]
    cnts = [np.zeros(n, dtype=np.int32) for lvl in range(n_layers)]
    # parallel per-edge distance store: ndist[l][node, j] = d(node, nbr j).
    # Makes the back-link degree cap an O(cap) argmax-replace instead of a
    # recomputed matmul + argsort per overflow (the build's former #2 cost).
    ndists = [np.zeros((n, caps[lvl]), dtype=np.float32)
              for lvl in range(n_layers)]
    entry, entry_level = 0, int(levels[0])
    visited = np.zeros(n, dtype=np.int32)  # epoch stamps; 0 = never seen
    epoch = 0
    chunk = max(1, _CHUNK_BUDGET // max(n, 1))
    dq_block: np.ndarray | None = None
    block_lo = 0
    for i in range(1, n):
        if dq_block is None or i >= block_lo + len(dq_block):
            block_lo = i
            # one GEMM precomputes distances for the next `chunk` inserts
            dq_block = 1.0 - x[i:i + chunk] @ x.T
        dq = dq_block[i - block_lo]
        dist_b, dist_s = dq.__getitem__, dq.__getitem__
        lvl_i = int(levels[i])
        ep = entry
        # greedy descent through layers above the node's level (ef=1)
        for lvl in range(entry_level, lvl_i, -1):
            epoch += 1
            ep = _search_layer(dist_b, dist_s, nbrs[lvl], cnts[lvl], ep, 1,
                               visited, epoch)[0][1]
        # insert with ef_construction beam on each level ≤ node level
        for lvl in range(min(entry_level, lvl_i), -1, -1):
            epoch += 1
            found = _search_layer(dist_b, dist_s, nbrs[lvl], cnts[lvl], ep,
                                  p.ef_construction, visited, epoch)
            m = p.M if lvl > 0 else 2 * p.M  # layer-0 degree 2M (paper §4)
            epoch += 1
            sel = _select_neighbors(x, found, m, nbrs[lvl], cnts[lvl], p,
                                    dist_b, visited, epoch)
            nbrs[lvl][i, :len(sel)] = sel
            cnts[lvl][i] = len(sel)
            ndists[lvl][i, :len(sel)] = dq[sel]
            # back-links + degree cap: keep each neighbor's m nearest.
            # d(nb, i) = dq[nb] (dq is this insert's distance row), so the
            # overflow case is evict-the-farthest via the stored edge
            # distances — no recompute.
            nbr_l, cnt_l, nd_l = nbrs[lvl], cnts[lvl], ndists[lvl]
            for nb in sel.tolist():
                c = cnt_l[nb]
                d_nb = dq[nb]
                if c < m:
                    nbr_l[nb, c] = i
                    nd_l[nb, c] = d_nb
                    cnt_l[nb] = c + 1
                else:
                    row = nd_l[nb, :c]
                    worst = int(np.argmax(row))
                    if d_nb < row[worst]:
                        nbr_l[nb, worst] = i
                        nd_l[nb, worst] = d_nb
            ep = int(found[0][1])
        if lvl_i > entry_level:
            entry, entry_level = i, lvl_i
    # materialize the dict form the emitter expects: node ∈ layer iff its
    # drawn level reaches it (node 0 and late entry-point promotions
    # included — their lists are simply empty until back-links arrive)
    layers: list[dict[int, np.ndarray]] = []
    for lvl in range(n_layers):
        members = np.nonzero(levels >= lvl)[0]
        layers.append({
            int(j): nbrs[lvl][j, :cnts[lvl][j]].astype(np.int64)
            for j in members.tolist()
        })
    return layers


def _graph_knn(x: np.ndarray, matrix_layers, entry0: int,
               q: np.ndarray, k: int, ef: int, visited: np.ndarray,
               epoch: int) -> tuple[list[tuple[float, int]], int]:
    """Full search (paper Alg. 5): greedy descent, layer-0 ef-beam, top-k.
    Distances stay LAZY here regardless of partition size: a serve-path
    GEMV over all n rows would cost exactly a brute-force scan per query,
    which is the thing the graph exists to avoid."""
    dist_b = lambda idxs: 1.0 - x[idxs] @ q  # noqa: E731
    dist_s = lambda i: float(1.0 - x[i] @ q)  # noqa: E731
    entry = entry0
    for lvl in range(len(matrix_layers) - 1, 0, -1):
        epoch += 1
        nbr, cnt = matrix_layers[lvl]
        entry = _search_layer(dist_b, dist_s, nbr, cnt, entry, 1,
                              visited, epoch)[0][1]
    epoch += 1
    nbr, cnt = matrix_layers[0]
    found = _search_layer(dist_b, dist_s, nbr, cnt, entry, max(ef, k),
                          visited, epoch)
    return found[:k], epoch


# ---------------------------------------------------------------------------
# Serve-time graph parts: one loader for persisted and in-memory graphs, a
# per-Python-worker cache of loaded parts, one driver-side top-k merge
# ---------------------------------------------------------------------------

_HITS = pa.schema([("query_id", pa.int64()), ("vec_id", pa.int64()),
                   ("distance", pa.float64())])
_HITS_DDL = "query_id BIGINT, vec_id BIGINT, distance DOUBLE"
_PART_COLS = ["vec_id", "embedding", "neighbors"]


class _Part(NamedTuple):
    """One part's graph in search form: node i is the i-th smallest vec_id."""
    vids: np.ndarray             # int64[n], ascending
    x: np.ndarray                # float32[n, d]
    entry: int                   # the build's entry point (a top-layer node)
    layers: list                 # per layer (nbr int32[n, cap], cnt int32[n])

    @property
    def nbytes(self) -> int:
        return (self.vids.nbytes + self.x.nbytes
                + sum(nbr.nbytes + cnt.nbytes for nbr, cnt in self.layers))


def _load_part(tbl: pa.Table) -> _Part:
    """A part's graph rows (vec_id, embedding, neighbors) → search form.

    The capacity matrices come straight from the ``list<list<int64>>``
    offsets: node-major (node, layer) lists, vec_id → position by
    ``searchsorted`` over the sorted ids. Edges to ids absent from
    ``tbl`` (rows a caller's filter removed) are dropped. The entry point
    is the build's: ``_build_graph`` inserts in vec_id order and promotes
    the entry only on a strictly higher level, so it is the smallest
    vec_id on the top layer — independent of the order rows arrive in."""
    tbl = tbl.sort_by("vec_id")
    vids = tbl.column("vec_id").to_numpy()
    n = len(vids)
    x = arrow_matrix(tbl.column("embedding"), np.float32)
    outer = tbl.column("neighbors").combine_chunks()
    n_lvl = pc.list_value_length(outer).to_numpy(zero_copy_only=False)
    inner = outer.flatten()
    deg = pc.list_value_length(inner).to_numpy(zero_copy_only=False)
    node = np.repeat(np.arange(n), n_lvl)
    layer = np.arange(len(inner)) - np.repeat(np.cumsum(n_lvl) - n_lvl, n_lvl)
    edge = np.repeat(np.arange(len(inner)), deg)
    to = inner.flatten().to_numpy()
    pos = np.searchsorted(vids, to)
    ok = pos < n
    ok[ok] = vids[pos[ok]] == to[ok]
    edge, pos = edge[ok], pos[ok].astype(np.int32)
    kept = np.bincount(edge, minlength=len(inner))
    col = np.arange(len(edge)) - (np.cumsum(kept) - kept)[edge]
    n_layers = int(n_lvl.max(initial=0))
    layers = []
    for lvl in range(n_layers):
        lists = layer == lvl
        on = layer[edge] == lvl
        nbr = np.zeros((n, max(int(kept[lists].max(initial=0)), 1)), np.int32)
        nbr[node[edge[on]], col[on]] = pos[on]
        cnt = np.zeros(n, np.int32)
        cnt[node[lists]] = kept[lists]
        layers.append((nbr, cnt))
    entry = int(np.argmax(n_lvl == n_layers))
    return _Part(vids, x, entry, layers)


def _search_part(part: _Part, q_ids: np.ndarray, q_mat: np.ndarray, k: int,
                 ef: int) -> pa.RecordBatch:
    """Every query's beam search over one part → (query_id, vec_id,
    distance) rows, at most k per query."""
    visited = np.zeros(len(part.vids), dtype=np.int32)
    epoch = 0
    out_q, out_n, out_d = [], [], []
    for qid, qv in zip(q_ids.tolist(), q_mat):
        found, epoch = _graph_knn(part.x, part.layers, part.entry, qv, k, ef,
                                  visited, epoch)
        out_q += [qid] * len(found)
        out_n += [node for _, node in found]
        out_d += [float(d) for d, _ in found]
    return pa.RecordBatch.from_arrays(
        [pa.array(out_q, pa.int64()),
         pa.array(part.vids[np.array(out_n, dtype=np.int64)], pa.int64()),
         pa.array(out_d, pa.float64())], schema=_HITS)


#: Bytes of loaded parts one Python worker keeps (least recently used
#: out first). A part that alone exceeds it is served, then dropped.
_RESIDENT_BYTES = 512 << 20
_resident: OrderedDict = OrderedDict()


def _resident_part(files: list[str]) -> _Part:
    """The part stored in ``files``, from this worker's cache. The key is
    each file's (path, size, mtime), so an overwrite, append or compaction
    under the same path never serves a stale part.

    Tasks must reach ``_resident`` through module-level functions like
    this one: cloudpickle ships a nested closure by value, together with
    copies of the globals it names, so a closure naming the dict would
    see a fresh empty copy in every task."""
    fs = pafs.FileSystem.from_uri(files[0])[0]
    paths = [pafs.FileSystem.from_uri(f)[1] for f in files]
    key = tuple((f, i.size, i.mtime_ns)
                for f, i in zip(files, fs.get_file_info(paths)))
    part = _resident.get(key)
    if part is not None:
        _resident.move_to_end(key)
        return part
    part = _load_part(pq.read_table(paths, columns=_PART_COLS, filesystem=fs))
    _resident[key] = part
    held = sum(p.nbytes for p in _resident.values())
    while held > _RESIDENT_BYTES:
        held -= _resident.popitem(last=False)[1].nbytes
    return part


def _resident_search(parts: list[list[str]], q_ids: np.ndarray,
                     q_mat: np.ndarray, k: int, ef: int, batches):
    """mapInArrow body over ``range(P)``: row i searches part ``parts[i]``."""
    for batch in batches:
        for i in batch.column("id").to_pylist():
            yield _search_part(_resident_part(parts[i]), q_ids, q_mat, k, ef)


_PART_DIR = re.compile(r"/part_id=(-?\d+)/[^/]*$")


def _part_files(graph: DataFrame) -> list[list[str]] | None:
    """A persisted graph's files grouped by ``part_id=`` directory, in
    part_id order; None when some file lies outside that layout."""
    by_part: dict[int, list[str]] = {}
    for f in graph.inputFiles():
        m = _PART_DIR.search(f)
        if m is None:
            return None
        by_part.setdefault(int(m.group(1)), []).append(f)
    return [sorted(by_part[p]) for p in sorted(by_part)]


def _merge_topk(hits: pa.Table, k: int) -> pa.Table:
    """Global top-k per query: sort by (query_id, distance, vec_id) and
    keep each query's first k rows."""
    hits = hits.sort_by([("query_id", "ascending"), ("distance", "ascending"),
                         ("vec_id", "ascending")])
    q = hits.column("query_id").to_numpy()
    first = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    rank = np.arange(len(q)) - np.repeat(first, np.diff(np.r_[first, len(q)]))
    return hits.filter(pa.array(rank < k))


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

_GRAPH_SCHEMA = T.StructType([
    T.StructField("part_id", T.IntegerType()),
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("neighbors", T.ArrayType(T.ArrayType(T.LongType()))),
])


def build_hnsw(corpus: DataFrame, n_partitions: int = 8,
               params: HNSWParams | None = None, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """P independent per-partition graphs (the reference's Option 1,
    Program.cs:140-174, with Parallel.For replaced by executor tasks).
    Output graph rows: (part_id, vec_id, embedding, neighbors[layer][j] =
    vec_id). Neighbor lists store *vec_ids*, not positions — explicit
    identity (SURVEY §7), unlike the reference's positional re-binding.
    The vector rides WITH its node so search never joins the corpus."""
    p = params or HNSWParams()

    def build(tbl: pa.Table) -> pa.Table:
        tbl = tbl.sort_by("__vid")  # deterministic insert order
        x = arrow_matrix(tbl.column("__vec"), np.float32)
        vids = tbl.column("__vid").to_numpy()
        layers = _build_graph(x, p)
        neighbors = [
            [[int(vids[j]) for j in layers[lvl][i]]
             for lvl in range(len(layers)) if i in layers[lvl]]
            for i in range(len(vids))
        ]
        return pa.table({
            "part_id": pa.array(np.full(len(vids), tbl.column("__part")[0].as_py(),
                                        dtype=np.int32)),
            "vec_id": pa.array(vids, pa.int64()),
            "embedding": arrow_list(x, pa.list_(pa.float32())),
            "neighbors": pa.array(neighbors, pa.list_(pa.list_(pa.int64()))),
        })

    prepared = corpus.select(
        # hash, not raw modulo: pmod(vec_id, P) degenerates under
        # correlated id patterns (an even-id-only batch with P=2 lands
        # entirely in one graph); xxhash64 spreads any id distribution
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_partitions))
        .cast("int").alias("__part"),
        F.col(id_col).alias("__vid"),
        F.col(vec_col).alias("__vec"),
    )
    # Explicit repartition by the group key: it satisfies the groupBy's
    # ClusteredDistribution (no second exchange) and, unlike a bare
    # groupBy shuffle, is NOT coalescible by AQE — small corpora hash to
    # a few MB, and AQE would fuse the P build tasks onto 1-2 cores,
    # serializing the one stage whose entire point is per-partition
    # parallelism (the build is CPU-bound, not byte-bound).
    return (prepared.repartition(n_partitions, "__part")
            .groupBy("__part").applyInArrow(build, _GRAPH_SCHEMA))


def write_hnsw(graph: DataFrame, path: str, topology_only: bool = False) -> None:
    """SerializeGraph analog (Program.cs:231-244): parquet partitioned by
    part_id on DFS — no single machine ever holds the whole index. By
    default the vector is stored with its node (storage ≈ corpus size,
    join-free serve path). ``topology_only=True`` is exact reference
    parity (vectors re-bound at load, Program.cs:256) — cheaper storage,
    but search then needs a corpus join."""
    cols = graph.drop("embedding") if topology_only else graph
    cols.repartition("part_id").write.mode("overwrite") \
        .partitionBy("part_id").parquet(path)


def read_hnsw(spark, path: str) -> DataFrame:
    """DeserializeGraph analog (Program.cs:246-263) — lazy. With the
    default vector-carrying layout no re-binding is needed; a
    topology-only graph re-binds via ``hnsw_search(corpus=...)``.

    The returned frame is marked as a persisted graph: handed to
    ``hnsw_search`` as is, it is served from worker-resident parts. Any
    frame derived from it is an ordinary frame."""
    graph = spark.read.parquet(path)
    graph._hnsw_persisted = True
    return graph


def hnsw_append(spark, path: str, new_vecs: DataFrame, n_partitions: int = 1,
                params: HNSWParams | None = None, id_col: str = "vec_id",
                vec_col: str = "embedding") -> None:
    """Segment-based HNSW maintenance (the Lucene-HNSW posture): build
    independent per-partition graphs for an ARRIVAL batch and append them
    under fresh part_id directories. ``hnsw_search`` already fans every
    query out over all partition graphs and merges a global top-k, so
    appended vectors are immediately servable — no rebuild, no
    read-modify-write of existing segments, concurrent readers stay
    consistent (the same additive posture as streaming IVF ingestion).
    The reference's single in-memory graph can only be rebuilt from
    scratch to add vectors (Program.cs:125-204).

    Trade-off: each append adds segments and a query pays one beam search
    per segment; periodic re-build into fewer partitions is the merge/
    compaction analog (cf. operators/ann.compact_hot_lists for IVF)."""
    base = spark.read.parquet(path).agg(F.max("part_id")).first()[0] + 1
    g = build_hnsw(new_vecs, n_partitions=n_partitions, params=params,
                   id_col=id_col, vec_col=vec_col)
    (g.withColumn("part_id", (F.col("part_id") + F.lit(base)).cast("int"))
     .repartition("part_id").write.mode("append")
     .partitionBy("part_id").parquet(path))


MAX_QUERY_BATCH = 10_000


def hnsw_search(graph: DataFrame, queries: DataFrame, k: int = 20,
                params: HNSWParams | None = None,
                corpus: DataFrame | None = None,
                id_col: str = "vec_id", vec_col: str = "embedding",
                max_query_batch: int = MAX_QUERY_BATCH) -> DataFrame:
    """KNNSearch analog (Program.cs:216-219), distributed: every query fans
    out to every partition graph; each graph beam-searches its own nodes;
    the global answer is the k best across partitions (the merge the
    reference's 10-graph Option 1 leaves unwritten).

    `queries` is a small (query_id, query_vec) frame, pulled to the driver
    and shipped in the task closure. Output: (query_id, vec_id, distance),
    global top-k per query, ascending distance (re-sort parity
    Program.cs:219). The search runs when this is called; the returned
    frame holds the merged answer.

    - The untouched frame ``read_hnsw`` returned is served like the
      reference's deserialize-once graph (Program.cs:246-263): one task
      per ``part_id=`` directory over ``range(P)``, each taking its part
      from the Python worker's cache of loaded parts. No graph rows are
      scanned or shuffled on a warm worker.
    - Any other graph (derived frames, ``build_hnsw`` output, topology-only
      graphs) is searched by one ``applyInArrow`` per part_id group.
      ``corpus`` is only consulted for topology-only graphs
      (reference-parity persistence), where it re-binds vectors by
      explicit vec_id join.

    Both end in one driver-side merge of at most P·nq·k survivors."""
    p = params or HNSWParams()
    parts = None
    if "embedding" not in graph.columns:
        if corpus is None:
            raise ValueError(
                "topology-only graph: pass corpus= to re-bind vectors "
                "(reference parity, Program.cs:256)")
        graph = graph.join(
            corpus.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("embedding")),
            "vec_id",
        )
    elif getattr(graph, "_hnsw_persisted", False):
        parts = _part_files(graph)
    spark = graph.sparkSession
    # Serving-side fan-out: the query batch ships to every partition
    # graph, so it must be small BY CONTRACT — and the contract is enforced,
    # not assumed: limit(max+1) bounds the driver pull no matter what the
    # caller hands us, and one row over the cap raises instead of silently
    # collecting a million queries. Batch big query sets upstream.
    q_ids, q_mat = query_batch(queries.limit(max_query_batch + 1), np.float32)
    if len(q_ids) > max_query_batch:
        raise ValueError(
            f"hnsw_search query batch exceeds max_query_batch="
            f"{max_query_batch}; split the queries into batches (the serve "
            f"path ships the batch to every partition graph)")
    ef = p.ef_search
    if parts is not None:
        hits = spark.range(0, len(parts), 1, max(len(parts), 1)).mapInArrow(
            partial(_resident_search, parts, q_ids, q_mat, k, ef), _HITS_DDL)
    else:
        def search(tbl: pa.Table) -> pa.Table:
            return pa.Table.from_batches(
                [_search_part(_load_part(tbl), q_ids, q_mat, k, ef)])

        hits = graph.groupBy("part_id").applyInArrow(search, _HITS_DDL)
    return spark.createDataFrame(_merge_topk(hits.toArrow(), k))


def hnsw_search_filtered(graph: DataFrame, queries: DataFrame,
                         allowed: DataFrame, k: int = 20,
                         params: HNSWParams | None = None,
                         oversample: float = 2.0,
                         id_col: str = "vec_id") -> DataFrame:
    """Metadata-FILTERED graph search — the FAISS IDSelector use case,
    realized as the published pre/post-filter hybrid: measure the
    filter's selectivity (two cheap aggs), OVER-SEARCH each partition
    graph at k' = ceil(k / selectivity) · oversample (so the unfiltered
    beam surfaces enough allowed survivors), then broadcast-semi-join
    the allowed id set and keep the filtered top-k. Traversal stays
    unfiltered — the graph's navigability must not be cut by the
    predicate (filtering DURING traversal strands the beam in
    disallowed regions; the standard failure mode) — only ADMISSION is
    filtered, exactly FAISS's selector semantics.

    ``allowed`` is any (vec_id) frame — typically metadata-filtered.
    At very selective filters (k' approaching graph size) the honest
    answer is the IVF pre-filter path (ann_filtered_topk) or exact
    filtered KNN; the cap below keeps k' sane and the recall gate in
    tests/test_hnsw.py measures the planted-corpus behavior.

    ADMISSION-JOIN BUILD SIDE — the scale-critical choice (r10 audit):
    the r10 plan broadcast ``allowed`` unconditionally, which OOMs at
    100 TB on any large-but-unselective filter (sel = 0.5 over 1B
    vectors → ~500M ids through a broadcast). ``cand`` is the side with
    the PROVABLE bound — |queries| × k' rows — but k' itself scales as
    k/sel, so at very selective filters cand grows while allowed
    shrinks: the two sides' sizes move in OPPOSITE directions with
    selectivity. admission_build_side() picks the provably smaller
    side, broadcasts it only when it is under the row budget, and
    degrades to a plain shuffle semi-join (AQE decides locally) when
    BOTH exceed it — never a planner-forced broadcast of an unbounded
    frame."""
    spark = graph.sparkSession
    n_total = graph.count()
    n_allowed = allowed.count()
    if n_allowed == 0:
        return spark.createDataFrame(
            [], "query_id BIGINT, vec_id BIGINT, distance DOUBLE")
    sel = n_allowed / max(n_total, 1)
    kk = min(int(np.ceil(k / max(sel, 1e-6)) * oversample), max(n_total, k))
    cand = hnsw_search(graph, queries, k=kk, params=params)
    allowed_ids = allowed.select(F.col(id_col).alias("vec_id"))
    side = admission_build_side(n_allowed, queries.count(), kk)
    if side == "broadcast_allowed":
        hits = cand.join(F.broadcast(allowed_ids), "vec_id")
    elif side == "broadcast_cand":
        # allowed streams; the bounded candidate frame is the build side
        hits = allowed_ids.join(F.broadcast(cand), "vec_id")
    else:  # shuffle: both sides unbounded — hash-partition on vec_id
        hits = cand.join(allowed_ids, "vec_id")
    hits = hits.select("query_id", "vec_id", "distance")
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy("distance", "vec_id")
    return (hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k).drop("rank")
            .orderBy("query_id", "distance", "vec_id"))


#: Rows we are willing to force through an explicit broadcast hint.
#: ~4M (vec_id BIGINT [+ distance DOUBLE + query_id] ≈ 24 B/row ≈ 100 MB
#: serialized) — comfortably inside executor memory at default configs;
#: anything larger goes through the shuffle path instead.
ADMISSION_BROADCAST_ROW_LIMIT = 4_000_000


def admission_build_side(n_allowed: int, n_queries: int, kk: int,
                         row_limit: int = ADMISSION_BROADCAST_ROW_LIMIT
                         ) -> str:
    """Pick the build side for the filtered-serve admission semi-join.

    Returns ``"broadcast_allowed"`` / ``"broadcast_cand"`` /
    ``"shuffle"``. The candidate frame is exactly ``n_queries × kk``
    rows (hnsw_search truncates per query); the allowed-id set is
    ``n_allowed`` rows. Broadcast the smaller, and only under
    ``row_limit`` — a selective filter (small allowed) broadcasts the
    id set as before, an UNselective filter (huge allowed, small k')
    broadcasts the candidates, and a pathological middle (both huge:
    enormous query batch against an enormous half-selective filter)
    falls back to a shuffle semi-join rather than OOM either way."""
    cand_rows = n_queries * kk
    smaller = min(n_allowed, cand_rows)
    if smaller > row_limit:
        return "shuffle"
    return "broadcast_allowed" if n_allowed <= cand_rows else "broadcast_cand"


#: Measured crossover selectivity (tools/filtered_ann_sweep.py, 20k×64
#: replica corpus, 64-query batch, min-of-3): hnsw over-search wins at
#: sel ≥ 0.5 (1.75s vs 2.18s), ivf pre-filter wins at sel ≤ 0.05
#: (1.40s vs 2.67s, and 4× at 0.005) — the log-midpoint of the
#: measured bracket [0.05, 0.5] is the pinned switch point.
FILTERED_ANN_CROSSOVER_SEL = 0.15


def filtered_ann_strategy(n_total: int, n_allowed: int, k: int,
                          oversample: float = 2.0,
                          crossover_sel: float = FILTERED_ANN_CROSSOVER_SEL
                          ) -> str:
    """Pick the serving path for metadata-filtered top-k (VERDICT r10
    #8 — the auto_index-style crossover, measured not asserted; numbers
    in SCALING.md §filtered-ANN and the FILTERED_ANN_CROSSOVER_SEL
    note):

    - ``"hnsw_oversearch"`` (hnsw_search_filtered): mild filters. The
      beam over-searches at k' = ceil(k/sel)·oversample — cheap while
      k' stays near k.
    - ``"ivf_prefilter"`` (ann.ivf_search(where=...)): selective
      filters below the measured crossover. Probe cost is flat in sel
      while over-search grows as k/sel; measured 1.9× cheaper at
      sel=0.05 and 4× at 0.005.
    - ``"exact_filtered"``: degenerate filters — k' would reach the
      whole graph (the "index" is a full scan with extra steps), or the
      allowed set is so small (≤ 32·k rows) that the exact KNN over
      just those rows beats any index, with recall 1.0 by definition
      (the IVF path's recall decays here: 0.923 measured at sel=0.005
      because rare allowed rows hide in unprobed lists)."""
    import math as _math

    if n_total <= 0 or n_allowed <= 0:
        return "exact_filtered"
    sel = n_allowed / n_total
    kk = _math.ceil(k / sel) * oversample
    if kk >= n_total or n_allowed <= 32 * k:
        return "exact_filtered"
    if sel < crossover_sel:
        return "ivf_prefilter"
    return "hnsw_oversearch"


def hnsw_compact(spark, path: str, n_partitions: int = 8,
                 params: HNSWParams | None = None) -> dict:
    """Segment merge (the compaction half of the append story): rebuild
    the persisted graph's vectors into `n_partitions` fresh segments and
    swap the artifact into place via two directory renames. Appends keep
    serve cost growing — one beam search per segment per query — so
    periodic compaction restores it; the vector-carrying layout
    (write_hnsw default) makes the rebuild a self-contained scan of the
    artifact, never of the source corpus.

    Swap semantics, honestly: renames are metadata ops, so the
    reader-visible gap is two syscalls (vs the previous rmtree-then-move,
    which exposed a missing artifact for the whole delete) — but it is
    NOT crash-atomic (a crash between the renames leaves `path` absent
    with the data intact under `path + "__compact_old"`), and os.rename
    requires a local (or POSIX-rename-capable) filesystem. On an object
    store, compact into a NEW versioned prefix and flip a pointer
    instead. Returns {"segments_before", "segments_after", "n_vecs"}."""
    import os as _os
    import shutil as _shutil

    g = read_hnsw(spark, path)
    before = g.select("part_id").distinct().count()
    vecs = g.select("vec_id", "embedding").localCheckpoint(eager=True)
    n = vecs.count()
    rebuilt = build_hnsw(vecs, n_partitions=n_partitions, params=params)
    tmp = f"{path}__compact_tmp"
    old = f"{path}__compact_old"
    write_hnsw(rebuilt, tmp)
    _shutil.rmtree(old, ignore_errors=True)  # leftover of a crashed swap
    _os.rename(path, old)
    _os.rename(tmp, path)
    _shutil.rmtree(old, ignore_errors=True)
    after = read_hnsw(spark, path).select("part_id").distinct().count()
    return {"segments_before": int(before), "segments_after": int(after),
            "n_vecs": int(n)}
