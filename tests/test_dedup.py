"""Semantic checks for the dedup operators (beyond run-without-error):
MinHash-LSH recall against the exact jaccard θ-join, SimHash sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquetaivectorsearch_spark.functions.text import char_ngrams, jaccard_of_sets
from parquetaivectorsearch_spark.operators import dedup as DD
from parquetaivectorsearch_spark.sources import load_table
from tests.conftest import SF_SMOKE


def test_minhash_recall_vs_exact(spark):
    """Every pair the LSH pipeline reports must be a true near-dup (it
    verifies), and it must recover most true pairs at jaccard ≥ 0.8
    (40 hashes / 8 bands / r=5 → ~96% at s=0.8)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    got = {
        (r.doc_a, r.doc_b)
        for r in DD.minhash_dedup(docs, threshold=0.8, k=40, bands=8).collect()
    }
    d = docs.select("doc_id", char_ngrams("text", 5).alias("g"))
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    truth = {
        (r.doc_a, r.doc_b)
        for r in (
            a.join(b, F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", jaccard_of_sets("ga", "gb").alias("j"))
            .filter(F.col("j") >= 0.8)
        ).collect()
    }
    assert got <= truth, f"false positives: {got - truth}"
    if truth:
        recall = len(got & truth) / len(truth)
        assert recall >= 0.9, f"recall {recall:.2f} over {len(truth)} true pairs"


def test_exact_dedup_counts(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    groups = DD.exact_dedup(docs)
    assert groups.agg(F.sum("n_copies")).first()[0] == docs.count()


def test_minhash_signature_udf_matches_expression_formula(spark):
    """The Arrow-vectorized signature UDF must be bit-identical to the
    definitional Catalyst form (explode + k min-aggregates of
    (a·h + b) mod p over pmod(xxhash64(shingle), p)). Pins numpy/Spark
    integer-arithmetic parity (floor-mod vs pmod, int64 overflow headroom)
    so a refactor of either side can't silently drift the LSH buckets."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(100)
    seeds = DD._perm_seeds(8, 42)
    sh = docs.select(
        "doc_id", F.explode(char_ngrams("text", 5)).alias("s")
    ).select("doc_id", F.pmod(F.xxhash64("s"), F.lit(DD.MERSENNE_P)).alias("h"))
    mins = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(DD.MERSENNE_P))).alias(f"_m{i}")
        for i, (a, b) in enumerate(seeds)
    ]
    expected = {
        r["doc_id"]: [r[f"_m{i}"] for i in range(len(seeds))]
        for r in sh.groupBy("doc_id").agg(*mins).collect()
    }
    got = {
        r["doc_id"]: list(r["signature"])
        for r in DD.minhash_signatures(docs, k=len(seeds), seed=42).collect()
    }
    assert got == expected


def test_simhash_fingerprint_udf_matches_expression_formula(spark):
    """The packed-int64 fingerprint must equal the definitional form: bit i
    set iff Σ over word occurrences of (2·bit_i(xxhash64(word)) − 1) ≥ 0."""
    from parquetaivectorsearch_spark.functions.text import words

    docs = load_table(spark, SF_SMOKE, "documents").limit(100)
    ws = docs.select(
        "doc_id", F.explode(words("text")).alias("w")
    ).select("doc_id", F.xxhash64("w").alias("h"))
    sums = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"_s{i}")
        for i in range(64)
    ]
    rows = ws.groupBy("doc_id").agg(*sums).collect()
    expected = {}
    for r in rows:
        v = 0
        for i in range(64):
            if r[f"_s{i}"] >= 0:
                v |= 1 << i
        if v >= 1 << 63:  # two's-complement int64
            v -= 1 << 64
        expected[r["doc_id"]] = v
    got = {r["doc_id"]: r["fp"] for r in DD.simhash_fingerprints(docs).collect()}
    assert got == expected


def test_simhash_self_consistency(spark):
    """Identical texts must land at hamming 0; the operator must not pair a
    doc with itself."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    doubled = docs.union(
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    )
    pairs = DD.simhash_dedup(doubled, max_hamming=0).collect()
    clones = {(r.doc_a, r.doc_b) for r in pairs}
    expected = {(r.doc_id, r.doc_id + 1_000_000) for r in docs.collect()}
    assert expected <= clones
    assert all(r.doc_a != r.doc_b for r in pairs)


def test_substring_dup_pairs_hashed_equals_string_keys(spark):
    """The hashed (scale) and raw-string (oracle) substring-dedup twins must
    find identical PAIR SETS on the fixtures. Since r12 the hashed path
    winnows on xxhash64 longs instead of md5 strings (VERDICT r11 #5),
    so the two paths pick different representatives inside each
    stride-run: shared-window COUNTS are no longer bit-equal, but both
    selections have the same 2/(stride+1) expected density, so each
    pair's counts must stay within 2× + 3 of each other — a drifted
    selection (e.g. a broken slice bound) would blow that band."""
    from parquetaivectorsearch_spark.operators.dedup import substring_dup_pairs
    from parquetaivectorsearch_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    raw = {(r.doc_a, r.doc_b): r.n_shared_windows
           for r in substring_dup_pairs(docs, hashed=False).collect()}
    fast = {(r.doc_a, r.doc_b): r.n_shared_windows
            for r in substring_dup_pairs(docs, hashed=True).collect()}
    assert set(raw) == set(fast)
    assert raw  # fixtures contain duplicate docs → must find pairs
    for pair in raw:
        a, b = raw[pair], fast[pair]
        assert a <= 2 * b + 3 and b <= 2 * a + 3, (pair, a, b)


import pytest


@pytest.mark.parametrize("hashed", [True, False])
def test_substring_dup_pairs_misaligned_span_caught(spark, hashed):
    """The winnowing guarantee the stride-aligned sampler lacked: a shared
    span ≥ window + stride − 1 chars must be caught at EVERY relative
    alignment of the span in the two docs — including the old sampler's
    counterexample (span at offset 1 in doc A, offset 2 in doc B, which
    shares no stride-16-aligned window start). Padding is high-entropy and
    distinct per doc so only the planted span is shared. Parameterized
    over BOTH selection paths (xxhash64-long scale path and md5-string
    oracle path) since they winnow on different hash families."""
    import random

    from parquetaivectorsearch_spark.operators.dedup import substring_dup_pairs

    rng = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    span = "".join(rng.choice(alpha) for _ in range(47))  # window+stride-1
    rows = []
    expected = set()
    for i, off_b in enumerate(range(16)):  # every alignment class mod stride
        pad = lambda n: "".join(rng.choice(alpha) for _ in range(n))
        a_id, b_id = 2 * i, 2 * i + 1
        rows.append((a_id, pad(1) + span + pad(40)))
        rows.append((b_id, pad(1 + off_b) + span + pad(40)))
        expected.add((a_id, b_id))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b)
           for r in substring_dup_pairs(docs, window=32, stride=16,
                                        max_docs_per_window=64,
                                        hashed=hashed).collect()}
    assert expected <= got


def test_minhash_dedup_incremental_composes_to_batch(spark):
    """Two incremental arrival batches must produce EXACTLY the batch
    pipeline's pair set (same seeds ⇒ same signatures ⇒ same band
    collisions; union of even-even + odd-vs-all = all pairs)."""
    import tempfile

    from parquetaivectorsearch_spark.operators.dedup import (
        minhash_dedup,
        minhash_dedup_incremental,
    )
    from parquetaivectorsearch_spark.sources import load_table
    from tests.conftest import SF_SMOKE
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMOKE, "documents")
    batch = {(r.doc_a, r.doc_b): round(r.jaccard, 9)
             for r in minhash_dedup(docs, threshold=0.5).collect()}
    store = tempfile.mkdtemp(prefix="mh_inc_") + "/state"
    inc = {}
    for parity in (0, 1):
        part = docs.filter(F.col("doc_id") % 2 == parity)
        for r in minhash_dedup_incremental(part, store, threshold=0.5).collect():
            inc[(r.doc_a, r.doc_b)] = round(r.jaccard, 9)
    assert inc == batch
    assert batch  # fixtures contain near-dups → non-vacuous


def test_substring_span_removal_known_fixture(spark):
    """Plant a 47-char span shared by three docs at different offsets: the
    min-doc_id holder keeps its text untouched (absent from the output);
    the other two lose exactly the planted span (dense windows cover it
    fully), and clean_md5 equals the md5 of the Python-computed remainder."""
    import hashlib
    import random

    from parquetaivectorsearch_spark.operators.dedup import (
        substring_span_removal,
    )

    rng = random.Random(3)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    pad = lambda n: "".join(rng.choice(alpha) for _ in range(n))
    span = pad(47)
    pre1, post1 = pad(5), pad(40)
    pre2, post2 = pad(11), pad(40)
    rows = [
        (1, pad(3) + span + pad(40)),   # keeper (min doc_id)
        (2, pre1 + span + post1),
        (3, pre2 + span + post2),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in substring_span_removal(docs, window=32).collect()}
    assert set(got) == {2, 3}  # doc 1 keeps its copy
    for doc_id, pre, post in ((2, pre1, post1), (3, pre2, post2)):
        r = got[doc_id]
        assert r.n_spans == 1
        assert r.chars_removed == len(span)
        assert r.clean_len == len(pre) + len(post)
        want = hashlib.md5((pre + post).encode()).hexdigest()
        assert r.clean_md5 == want, doc_id

    # hashed twin (xxhash64 keys) must agree on the full output
    h = {r.doc_id: (r.n_spans, r.chars_removed, r.clean_len, r.clean_md5)
         for r in substring_span_removal(docs, window=32, hashed=True).collect()}
    u = {r.doc_id: (r.n_spans, r.chars_removed, r.clean_len, r.clean_md5)
         for r in substring_span_removal(docs, window=32, hashed=False).collect()}
    assert h == u


def test_substring_span_removal_prefilter_identical(spark):
    """The two-phase path (winnow-prefilter at guarantee length == window,
    VERDICT r8 #4) must produce EXACTLY the single-phase output. The
    fixture stresses every way the prefilter could lose recall: a shared
    span of EXACTLY `window` chars (the guarantee boundary) at misaligned
    offsets, a long span, boilerplate shared by MANY docs (a stop-window
    cap would drop it — the prefilter must not), and clean docs that the
    prefilter exists to skip."""
    import random

    from parquetaivectorsearch_spark.operators.dedup import (
        substring_span_removal,
    )

    rng = random.Random(11)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789 "
    pad = lambda n: "".join(rng.choice(alpha) for _ in range(n))
    window = 32
    exact_span = pad(window)       # guarantee boundary: len == window
    long_span = pad(90)
    boiler = pad(44)               # shared by 12 docs
    rows = [
        (1, pad(7) + exact_span + pad(50)),
        (2, pad(19) + exact_span + pad(50)),   # misaligned vs doc 1
        (3, pad(4) + long_span + pad(33)),
        (4, pad(28) + long_span + pad(33)),
        (5, pad(60)),                          # clean
        (6, pad(61)),                          # clean
    ]
    rows += [(10 + i, pad(3 + i) + boiler + pad(20)) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for hashed in (True, False):
        one = {r.doc_id: (r.n_spans, r.chars_removed, r.clean_len, r.clean_md5)
               for r in substring_span_removal(
                   docs, window=window, hashed=hashed,
                   prefilter=False).collect()}
        two = {r.doc_id: (r.n_spans, r.chars_removed, r.clean_len, r.clean_md5)
               for r in substring_span_removal(
                   docs, window=window, hashed=hashed,
                   prefilter=True).collect()}
        assert one == two, hashed
        assert 2 in one and 4 in one          # exact-boundary + long spans cut
        assert 5 not in one and 6 not in one  # clean docs untouched
        assert all(10 + i in one for i in range(1, 12))  # boilerplate holders


def test_boilerplate_removal_known_fixture(spark):
    """Hand-built semantics: docs A and B share one aligned 8-word block
    (dropped from BOTH — no keeper, boilerplate is noise); doc C is
    unique (absent from output); doc D repeats a block twice WITHIN
    itself only (nd=1 → kept, absent from output); hashed keying must
    reproduce the raw-string output exactly."""
    from parquetaivectorsearch_spark.operators.dedup import (
        boilerplate_segment_removal,
    )

    blk = "w1 w2 w3 w4 w5 w6 w7 w8"          # one full 8-word segment
    uniq = lambda t, n: " ".join(f"{t}{i}" for i in range(n))  # noqa: E731
    rows = [
        (1, blk + " " + uniq("a", 8)),        # seg0 = blk (shared), seg1 uniq
        (2, blk + " " + uniq("b", 16)),       # seg0 = blk (shared)
        (3, uniq("c", 24)),                   # fully unique
        (4, uniq("d", 8) + " " + uniq("d", 8)),  # self-repeat only (nd=1)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    outs = {}
    for hashed in (True, False):
        out = {r.doc_id: (r.n_segs, r.n_removed, r.clean_chars, r.clean_md5)
               for r in boilerplate_segment_removal(
                   docs, seg_words=8, min_docs=2, hashed=hashed).collect()}
        outs[hashed] = out
        assert set(out) == {1, 2}             # only cross-doc sharers lose
        assert out[1][0] == 2 and out[1][1] == 1   # 2 segs, 1 removed
        assert out[2][1] == 1
        assert out[1][2] == len(uniq("a", 8))      # stitched = the uniq tail
        assert out[2][2] == len(uniq("b", 16))
    assert outs[True] == outs[False]


def test_boilerplate_removal_fixture_hashed_equals_raw(spark):
    """On the real fixture corpus the xxhash64-keyed scale path and the
    raw-string oracle path must emit identical rows."""
    from parquetaivectorsearch_spark.operators.dedup import (
        boilerplate_segment_removal,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    key = lambda r: (r.doc_id, r.n_segs, r.n_removed, r.clean_chars,  # noqa: E731
                     r.clean_md5)
    a = sorted(map(key, boilerplate_segment_removal(docs, hashed=True).collect()))
    b = sorted(map(key, boilerplate_segment_removal(docs, hashed=False).collect()))
    assert a == b and len(a) > 0


def test_compression_ratio_three_regimes(spark):
    """zlib-ratio quality signal: pure repetition compresses hard (low
    ratio, flagged); a tiny doc is header-overhead-dominated (ratio > 1,
    flagged); word-salad prose and random hex sit in the accept band."""
    import numpy as np

    from parquetaivectorsearch_spark.queries_text import q_compression_ratio

    rng = np.random.RandomState(3)
    prose = " ".join(rng.choice(
        ["table", "scan", "join", "vector", "merge", "query", "row",
         "batch", "filter", "sort"], size=200))
    docs = spark.createDataFrame(
        [(1, "spam " * 400),
         (2, "".join(rng.choice(list("0123456789abcdef"), size=2000))),
         (3, prose),
         (4, "hi")],
        "doc_id BIGINT, text STRING")
    import tempfile
    d = tempfile.mkdtemp(prefix="cr_")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {r.doc_id: r for r in q_compression_ratio(spark, d).collect()}
    assert rows[1].ratio < 0.15 and rows[1].flagged
    assert 0.15 <= rows[2].ratio <= 1.0 and not rows[2].flagged
    assert 0.15 <= rows[3].ratio <= 1.0 and not rows[3].flagged
    assert rows[4].ratio > 1.0 and rows[4].flagged


@pytest.mark.parametrize("seed", [19, 23])
def test_connected_components_matches_union_find(spark, seed):
    """connected_components must produce EXACTLY the component-minimum
    labels on random graphs — validated against a driver-side
    union-find ground truth."""
    import random

    from parquetaivectorsearch_spark.operators.components import (
        connected_components)

    rng = random.Random(seed)
    for trial in range(3):
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(50)]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        touched = sorted({x for e in edges for x in e})
        comp_min = {}
        for x in touched:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        truth = {x: comp_min[find(x)] for x in touched}

        pairs = spark.createDataFrame(edges, "doc_a BIGINT, doc_b BIGINT")
        got = {r.doc_id: r.cluster_id
               for r in connected_components(pairs).collect()}
        assert got == truth, (trial, got, truth)


def test_hashmin_logarithmic_on_chain(spark):
    """A 256-node PATH (diameter 255 — an O(diameter) propagator would
    need 255 rounds) converges in O(log n) rounds — the paper's
    4·log₂ n bound, ≤ 2 extra rounds of blocked-check overshoot — with
    every node labeled 0 and the fixpoint reported. Also pins the
    permuted-id chain (labels random relative to topology, the regime
    that defeated pointer jumping in r14)."""
    import random

    from parquetaivectorsearch_spark.operators.components import (
        connected_components)

    n = 256
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "doc_a BIGINT, doc_b BIGINT")
    stats = {}
    got = {r.doc_id: r.cluster_id
           for r in connected_components(pairs, max_iter=40,
                                         stats=stats).collect()}
    assert got == {i: 0 for i in range(n)}
    assert stats["converged"] and stats["rounds"] <= 4 * 8 + 2, stats

    perm = list(range(n))
    random.Random(5).shuffle(perm)
    pairs2 = spark.createDataFrame([(perm[i], perm[i + 1])
                                    for i in range(n - 1)],
                                   "doc_a BIGINT, doc_b BIGINT")
    got2 = {r.doc_id: r.cluster_id
            for r in connected_components(pairs2, max_iter=40).collect()}
    assert got2 == {p: 0 for p in perm}


def test_connected_components_cap_out_raises(spark):
    """Running out of max_iter before the fixpoint must raise, never
    return the partial labels of an unfinished 256-node path."""
    from parquetaivectorsearch_spark.operators.components import (
        connected_components)

    n = 256
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "doc_a BIGINT, doc_b BIGINT")
    stats = {}
    with pytest.raises(ValueError, match="no fixpoint within max_iter=4"):
        connected_components(pairs, max_iter=4, stats=stats)
    assert stats == {"rounds": 4, "converged": False}


def test_hashmin_empty_and_self_loop(spark):
    from parquetaivectorsearch_spark.operators.components import (
        connected_components)

    empty = spark.createDataFrame([], "doc_a BIGINT, doc_b BIGINT")
    out = connected_components(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "cluster_id"]
    # a self-pair keeps its node in the output as its own cluster
    selfp = spark.createDataFrame([(7, 7), (1, 2)],
                                  "doc_a BIGINT, doc_b BIGINT")
    got = {r.doc_id: r.cluster_id
           for r in connected_components(selfp).collect()}
    assert got == {7: 7, 1: 1, 2: 1}


def test_char_ngram_codes_match_string_grams(spark):
    """char_ngram_codes' code-point pack must be INJECTIVE so that the
    θ-join set sizes — and therefore every jaccard value — equal the
    char_ngrams string form exactly. Pinned on ASCII, accented, and
    astral-plane text plus the short-string/empty edge cases, and the
    integer J ≥ 0.5 gate (jaccard_gate_half) is pinned ⟺ the double
    filter on every pair of a small corpus."""
    import itertools

    from pyspark.sql import functions as F

    from parquetaivectorsearch_spark.functions.text import (
        char_ngram_codes, char_ngrams, jaccard_gate_half, jaccard_of_sets)

    texts = ["the quick brown fox", "the quick brown fix",
             "café résumé naïve", "caffé REsumé naïve",
             "a𝄞b€c𝄞d", "a𝄞b€c𝄞e", "ab", "", "aaaa", "abab"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id INT, text STRING")
    both = df.select(
        "doc_id",
        char_ngrams("text", 3).alias("gs"),
        char_ngram_codes("text", 3).alias("gc")).collect()
    by_id = {r.doc_id: r for r in both}
    for r in both:
        assert len(r.gs) == len(r.gc), r  # injective per doc
        assert len(set(r.gc)) == len(r.gc), r
    # pairwise: intersect sizes equal, gate ⟺ double filter
    a = df.select(F.col("doc_id").alias("da"),
                  char_ngrams("text", 3).alias("ga"),
                  char_ngram_codes("text", 3).alias("ca"))
    b = df.select(F.col("doc_id").alias("db"),
                  char_ngrams("text", 3).alias("gb"),
                  char_ngram_codes("text", 3).alias("cb"))
    rows = (a.join(b, F.col("da") < F.col("db"))
            .select("da", "db",
                    F.size(F.array_intersect("ga", "gb")).alias("is_s"),
                    F.size(F.array_intersect("ca", "cb")).alias("is_c"),
                    jaccard_of_sets("ga", "gb").alias("j_s"),
                    jaccard_of_sets("ca", "cb").alias("j_c"),
                    jaccard_gate_half("ca", "cb").alias("gate"))
            .collect())
    assert rows
    for r in rows:
        assert r.is_s == r.is_c, r
        assert r.j_s == r.j_c, r
        assert r.gate == (r.j_s >= 0.5), r
