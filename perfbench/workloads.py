"""The two workloads. Each is a closed loop with one client: a request is
sent only after the previous one has returned. Requests rotate through a
fixed cycle of kinds, and a run measures whole cycles only, so every run
sees the same mix.

Both workloads return the same shape of result; ``run.py`` turns it into
metrics and the report.
"""

from __future__ import annotations

import gc
import os
import re
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

import gen
import host
import spans as tr

K = 20
BATCH = 8

SERVE = {
    "full": dict(n=3072, dim=1536, clusters=24, nlist=24, nprobe=3,
                 pq_m=64, pq_k=16, pq_sample=1024, pq_iters=6, shortlist=100,
                 hnsw_m=8, hnsw_efc=32, hnsw_efs=64, hnsw_parts=4, pool=128),
    "tiny": dict(n=1024, dim=64, clusters=8, nlist=8, nprobe=3,
                 pq_m=8, pq_k=16, pq_sample=512, pq_iters=6, shortlist=100,
                 hnsw_m=8, hnsw_efc=32, hnsw_efs=64, hnsw_parts=2, pool=32),
}
CURATE = {
    "full": dict(docs=3000, dup_pairs=36, contaminated=12, vectors=500),
    "tiny": dict(docs=400, dup_pairs=8, contaminated=4, vectors=300),
}
SERVE_KINDS = ("exact", "ivf", "ivfpq", "hnsw")
SERVE_LAYER = {"exact": "operators.knn", "ivf": "operators.ann",
               "ivfpq": "operators.pq", "hnsw": "operators.hnsw"}
# registered query -> the package layer it delegates to
STAGES = {"gopher_rules": "functions.text",
          "dedup_minhash": "operators.dedup",
          "dedup_clusters_star": "operators.components",
          "dedup_substring_exact": "operators.suffix",
          "decontaminate_bloom": "operators.bloom",
          "token_count": "functions.bpe",
          "kcore_membership": "operators.components"}
SETUP_ROUNDS = 3


@dataclass
class Op:
    kind: str
    latency: float
    out: object
    arg: object = None
    traced: bool = False
    ok: bool = True
    why: str = ""


@dataclass
class Result:
    setup_rounds: list = field(default_factory=list)
    setup_extra_s: float = 0.0
    ops: list = field(default_factory=list)
    warm: list = field(default_factory=list)
    cycles: int = 0
    elapsed: float = 0.0
    items_per_cycle: float = 0.0
    quality: float = 0.0
    facts: dict = field(default_factory=dict)
    useful: dict = field(default_factory=dict)


class Bench:
    """State shared by a workload: the session factory, the scratch root
    and the tracer."""

    def __init__(self, new_session, scratch: str, tracer: tr.Tracer,
                 seed: int, seconds: float, scale: str, corrupt: str | None):
        self.new_session = new_session
        self.scratch = scratch
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.scale = scale
        self.corrupt = corrupt
        self.spark = None

    def setup_round(self, r: int, make_inputs, ingest) -> float:
        """One set-up: (re)start the session, generate and write the
        inputs, ingest them. Only the last round is traced."""
        phase = "setup" if r == SETUP_ROUNDS - 1 else f"setup{r}"
        if self.spark is not None:
            self.tracer.bind(None)
            self.spark.stop()
        t0 = time.perf_counter()
        with self.tracer.span("session", "get_spark", phase):
            self.spark = self.new_session()
            self.tracer.bind(self.spark.sparkContext)
        path = os.path.join(self.scratch, f"inputs{r}")
        with self.tracer.span("bench", "inputs", phase):
            make_inputs(path)
        with self.tracer.span("sources", "load_table+ingest", phase):
            ingest(path)
        return time.perf_counter() - t0

    def loop(self, kinds, request, res: Result) -> None:
        """Closed loop over whole cycles of ``kinds``. Runs cycles while
        the next one is expected to end inside the window (at least one).

        When tracing, request j of cycle c is traced iff c + j is even,
        and at least two cycles run: every kind then has traced and
        untraced samples, in both orders across kinds, so the warm-up
        trend does not bias the measured tracing overhead."""
        trace_on = self.tracer.enabled
        min_cycles = 2 if trace_on else 1
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        cycle_times = []
        # start the timed section from a collected heap in every run
        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        with host.HostWatch(jvm_pid) as watch:
            t0 = time.perf_counter()
            while True:
                c0 = time.perf_counter()
                for j, kind in enumerate(kinds):
                    self.tracer.enabled = trace_on and (len(cycle_times) + j) % 2 == 0
                    res.ops.append(request(kind, "request"))
                    res.ops[-1].traced = self.tracer.enabled
                cycle_times.append(time.perf_counter() - c0)
                done = time.perf_counter() - t0
                if (len(cycle_times) >= min_cycles
                        and done + np.mean(cycle_times) > self.seconds):
                    break
            res.elapsed = time.perf_counter() - t0
        self.tracer.enabled = trace_on
        res.cycles = len(cycle_times)
        res.facts.update(peak_rss_mb=watch.peak_rss_mb,
                         steal_pct=watch.steal_pct, loadavg=watch.loadavg)
        if trace_on:
            # per cycle: sum over kinds of (mean traced - mean untraced)
            res.facts["trace_overhead_s"] = sum(
                np.mean([o.latency for o in res.ops if o.kind == k and o.traced])
                - np.mean([o.latency for o in res.ops if o.kind == k and not o.traced])
                for k in kinds)


# ---------------------------------------------------------------------------
# vector_serve
# ---------------------------------------------------------------------------

def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def vector_serve(b: Bench) -> Result:
    """Top-20 dot-product search at 1536 dims over exact, IVF, IVFPQ and
    HNSW, 8-query batches, against indexes built in set-up."""
    from pyspark.sql import functions as F

    from parquetaivectorsearch_spark.operators import ann, hnsw, kmeans, knn
    from parquetaivectorsearch_spark.operators import pq as PQ
    from parquetaivectorsearch_spark.sources.catalog import load_table

    p = SERVE[b.scale]
    x, labels = gen.planted_corpus(b.seed, p["n"], p["dim"], p["clusters"])
    queries = gen.query_draw(b.seed, x, p["pool"])
    truth_ids, truth_d = gen.exact_topk(x, queries, K)
    state: dict = {}
    res = Result()

    def ingest(path):
        corpus = load_table(b.spark, path, "embeddings")
        row = corpus.agg(F.count("*").alias("n"),
                         F.min(F.size("embedding")).alias("d0"),
                         F.max(F.size("embedding")).alias("d1")).first()
        if (row["n"], row["d0"], row["d1"]) != (p["n"], p["dim"], p["dim"]):
            raise RuntimeError(f"ingest read back {tuple(row)}")
        state["corpus"], state["path"] = corpus, path

    for r in range(SETUP_ROUNDS):
        res.setup_rounds.append(b.setup_round(
            r, lambda path: gen.write_vectors(path, x, labels), ingest))

    spark, corpus = b.spark, state["corpus"]
    idx_dir = os.path.join(b.scratch, "index")
    hp = hnsw.HNSWParams(M=p["hnsw_m"], ef_construction=p["hnsw_efc"],
                         ef_search=p["hnsw_efs"])
    t_build = time.perf_counter()
    with b.tracer.span("operators.kmeans", "kmeans_parallel_seed+lloyd", "setup"):
        seeds = kmeans.kmeans_parallel_seed(corpus, k=p["nlist"], seed_rounds=1)
        km: dict = {}
        kmeans.kmeans_lloyd(corpus, k=p["nlist"], rounds=2, stats=km,
                            assign_tier="arrow", init=seeds)
        cents = np.stack([km["centroids"][c] for c in sorted(km["centroids"])])
    with b.tracer.span("operators.ann", "IVFIndex.save+load", "setup"):
        ann.IVFIndex(lists=ann.assign_lists(corpus, cents, "cosine"),
                     centroids=cents.astype(np.float32),
                     metric="cosine").save(spark, f"{idx_dir}/ivf")
        index = ann.IVFIndex.load(spark, f"{idx_dir}/ivf")
    t_ivf = time.perf_counter() - t_build
    t0 = time.perf_counter()
    with b.tracer.span("operators.pq", "train_pq+pq_encode+write", "setup"):
        books = PQ.train_pq(corpus, m=p["pq_m"], k=p["pq_k"],
                            sample_cap=p["pq_sample"], iters=p["pq_iters"],
                            seed=b.seed)
        (PQ.pq_encode(index.lists, books, extra_cols=("list_id",))
         .write.mode("overwrite").partitionBy("list_id")
         .parquet(f"{idx_dir}/codes"))
        codes = spark.read.parquet(f"{idx_dir}/codes")
    t_pq = time.perf_counter() - t0
    t0 = time.perf_counter()
    with b.tracer.span("operators.hnsw", "build_hnsw+write_hnsw", "setup"):
        hnsw.write_hnsw(hnsw.build_hnsw(corpus, n_partitions=p["hnsw_parts"],
                                        params=hp), f"{idx_dir}/hnsw")
    t_hnsw = time.perf_counter() - t0
    build_s = time.perf_counter() - t_build

    import pandas as pd

    cursor = [0]

    def request(kind: str, phase: str) -> Op:
        lo = cursor[0] % p["pool"]
        cursor[0] += BATCH
        qids = np.arange(lo, lo + BATCH) % p["pool"]
        t = time.perf_counter()
        with b.tracer.span(SERVE_LAYER[kind], kind, phase):
            qdf = spark.createDataFrame(
                pd.DataFrame({"query_id": qids.astype(np.int64),
                              "query_vec": list(queries[qids])}),
                "query_id bigint, query_vec array<float>")
            if kind == "exact":
                out = knn.knn_join_bulk(corpus, qdf, k=K)
            elif kind == "ivf":
                out = ann.ivf_search_bulk(index, qdf, k=K, nprobe=p["nprobe"])
            elif kind == "ivfpq":
                short = PQ.ivf_pq_search(index, codes, books, qdf, k=K,
                                         nprobe=p["nprobe"],
                                         shortlist=p["shortlist"])
                out = PQ.pq_rerank(short, corpus, qdf, k=K)
            else:
                out = hnsw.hnsw_search(hnsw.read_hnsw(spark, f"{idx_dir}/hnsw"),
                                       qdf, k=K, params=hp)
            out = out.select("query_id", "vec_id", "distance").toPandas()
        return Op(kind, time.perf_counter() - t, out, qids)

    # A serving JVM runs warm; its JIT keeps improving over the first
    # few dozen requests, so the timed loop starts after two cycles.
    t0 = time.perf_counter()
    for _ in range(2):
        res.warm += [request(kind, "warm") for kind in SERVE_KINDS]
    warm_s = time.perf_counter() - t0

    b.loop(SERVE_KINDS, request, res)
    if b.corrupt in SERVE_KINDS:
        op = next(o for o in res.ops if o.kind == b.corrupt)
        op.out.loc[0, "vec_id"] = (op.out.loc[0, "vec_id"] + 1) % p["n"]

    # --- checks (untimed) ---
    recalls: dict[str, list] = {k: [] for k in SERVE_KINDS if k != "exact"}
    x64 = x.astype(np.float64)
    for op in res.warm + res.ops:
        for qid in op.arg:
            got = op.out[op.out["query_id"] == qid].sort_values(
                ["distance", "vec_id"])
            ids = got["vec_id"].to_numpy()
            why = ""
            if len(ids) != K or len(set(ids)) != K or ids.min() < 0 or ids.max() >= p["n"]:
                why = f"query {qid}: {len(ids)} rows, {len(set(ids))} distinct ids"
            else:
                want_d = 1.0 - x64[ids] @ queries[qid].astype(np.float64)
                tol = 1e-9 if op.kind == "exact" else 1e-5
                if np.abs(got["distance"].to_numpy() - want_d).max() > tol:
                    why = f"query {qid}: distance differs from 1 - <x, q>"
                elif op.kind == "exact" and not (
                        np.array_equal(ids, truth_ids[qid])
                        or np.abs(truth_d[qid] - want_d).max() <= 1e-12):
                    why = f"query {qid}: exact top-{K} differs from the oracle"
            if why:
                op.ok, op.why = False, why
                break
            if op.kind != "exact":
                recalls[op.kind].append(len(set(ids) & set(truth_ids[qid])) / K)

    raw = p["n"] * p["dim"] * 4
    idx_bytes = sum(_dir_bytes(f"{idx_dir}/{d}") for d in ("ivf", "codes", "hnsw"))
    res.setup_extra_s = build_s + warm_s
    res.items_per_cycle = BATCH * len(SERVE_KINDS)
    res.quality = min((float(np.mean(v)) if v else 0.0) for v in recalls.values())
    res.useful = {SERVE_LAYER[k]: K * BATCH * sum(
        1 for o in res.ops if o.kind == k and o.traced) for k in SERVE_KINDS}
    res.facts.update(
        corpus=f"{p['n']} x {p['dim']} float32, {p['clusters']} planted clusters",
        build_s=build_s, build_ivf_s=t_ivf, build_ivfpq_s=t_pq,
        build_hnsw_s=t_hnsw, warm_s=warm_s,
        build_vecs_per_s=3 * p["n"] / build_s,
        index_bytes_per_vec_byte=idx_bytes / raw,
        recall={k: float(np.mean(v)) if v else 0.0 for k, v in recalls.items()})
    return res


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

def corpus_curation(b: Bench) -> Result:
    """The curation stages as registered queries over a generated sf-dir
    of documents with planted near-duplicates and contamination."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from parquetaivectorsearch_spark.sources.catalog import load_table

    p = CURATE[b.scale]
    docs, planted, contaminated = gen.documents(
        b.seed, p["docs"], p["dup_pairs"], p["contaminated"])
    texts = docs.column("text").to_pylist()
    state: dict = {}
    res = Result()

    def make_inputs(path):
        gen.write_curation_inputs(path, docs, b.seed, p["vectors"])

    def ingest(path):
        d = load_table(b.spark, path, "documents")
        row = d.agg(F.count("*").alias("n"),
                    F.sum(F.length("text")).alias("chars")).first()
        if row["n"] != p["docs"] or row["chars"] != sum(map(len, texts)):
            raise RuntimeError(f"ingest read back {tuple(row)}")
        state["path"] = path

    for r in range(SETUP_ROUNDS):
        res.setup_rounds.append(b.setup_round(r, make_inputs, ingest))

    queries = entry.queries()
    sf_dir = state["path"]

    def request(name: str, phase: str) -> Op:
        t = time.perf_counter()
        with b.tracer.span(STAGES[name], name, phase):
            out = queries[name](b.spark, sf_dir).toPandas()
        return Op(name, time.perf_counter() - t, out)

    # The DuckDB oracles depend only on the inputs, so they run (on one
    # thread, to disturb Spark less) during the untimed warm-up pass and
    # are done before the timed loop starts.
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle = pool.submit(_oracle_hashes, entry.oracle_sql(), sf_dir)
        t0 = time.perf_counter()
        res.warm = [request(name, "warm") for name in STAGES]
        warm_s = time.perf_counter() - t0
        want = oracle.result()

    b.loop(tuple(STAGES), request, res)
    if b.corrupt in STAGES:
        op = next(o for o in res.ops if o.kind == b.corrupt)
        op.out.iloc[0, 0] = op.out.iloc[0, 0] + 1

    # --- checks (untimed) ---
    exact_cont = gen.contaminated_exact(texts)
    found_pairs: set = set()
    for op in res.warm + res.ops:
        out, why = op.out, ""
        if op.kind in want:
            if gen.canon_hash(out) != want[op.kind]:
                why = "result hash differs from the DuckDB oracle"
        elif op.kind == "dedup_minhash":
            pairs = set(zip(out["doc_a"], out["doc_b"]))
            bad = [(a, c, j) for a, c, j in zip(out["doc_a"], out["doc_b"], out["jaccard"])
                   if not (a < c and j >= 0.6
                           and abs(j - gen.char_jaccard(texts[a], texts[c])) <= 0.02)]
            if bad:
                why = f"pair {bad[0]} fails a < b, J >= 0.6 or the exact 5-gram Jaccard"
            found_pairs |= pairs
            op.arg = len(pairs)
        elif op.kind == "decontaminate_bloom":
            missed = exact_cont - set(out["contaminated_doc_id"])
            if missed or (out["n_hits"] < 1).any():
                why = f"missed contaminated docs {sorted(missed)[:5]}"
        elif op.kind == "token_count":
            n_words = np.array([len(t.split()) for t in texts])
            n_chars = np.array([len(t) for t in texts])
            if sorted(out["doc_id"]) != list(range(len(texts))):
                why = "not exactly one token count per document"
            else:
                tok = out.sort_values("doc_id")["bpe_tokens"].to_numpy()
                if not ((tok >= n_words) & (tok <= n_chars)).all():
                    why = "token count outside [words, chars]"
        if why:
            op.ok, op.why = False, why

    res.setup_extra_s = 0.0
    res.items_per_cycle = p["docs"]
    res.quality = len(planted & found_pairs) / len(planted)
    res.useful = {"operators.dedup": sum(
        o.arg or 0 for o in res.ops if o.kind == "dedup_minhash" and o.traced)}
    res.facts.update(
        documents=f"{p['docs']} docs, {len(planted)} planted near-dup pairs, "
                  f"{len(contaminated)} planted contaminated",
        warm_s=warm_s, oracle_checked=sorted(want))
    return res


def _oracle_hashes(oracles: dict, sf_dir: str) -> dict:
    """Result hash of each stage's registered DuckDB oracle."""
    import duckdb

    con = duckdb.connect(config={
        "threads": 1,
        "temp_directory": os.path.join(os.path.dirname(sf_dir), "duckdb")})
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        # Materialize every named CTE: the same SQL, but DuckDB evaluates
        # each CTE once instead of inlining the unrolled k-core peel
        # rounds (which expands exponentially in the round count).
        return {n: gen.canon_hash(con.execute(re.sub(
                    r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", oracles[n])).df())
                for n in STAGES if n in oracles}
    finally:
        con.close()
