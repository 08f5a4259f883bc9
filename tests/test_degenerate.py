"""Degenerate-input sweep: core operators must handle empty corpora,
all-null text, and single-row inputs without crashing (and with sane
outputs). At 100 TB these cases WILL occur per-partition (empty
partitions, null-heavy shards), so operators can't assume non-empty
batches."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")


def test_dedup_pipelines_on_empty_and_null_text(spark):
    from parquetaivectorsearch_spark.operators.dedup import (
        exact_dedup,
        minhash_dedup,
        simhash_dedup,
        substring_dup_pairs,
    )

    empty = _docs(spark, [])
    nulls = _docs(spark, [(1, None), (2, ""), (3, "x")])
    assert exact_dedup(nulls).count() == 3  # null and empty are groups too
    assert minhash_dedup(empty).count() == 0
    assert minhash_dedup(nulls).count() == 0  # all below shingle length
    assert simhash_dedup(nulls).count() == 0
    assert substring_dup_pairs(nulls).count() == 0
    assert substring_dup_pairs(empty, hashed=True).count() == 0


def test_bpe_on_empty_corpus(spark):
    from parquetaivectorsearch_spark.functions import bpe as B

    empty = _docs(spark, [])
    merges = B.train_merges(empty, n_merges=10)
    assert merges == []
    d = _docs(spark, [(1, "abc"), (2, None)])
    got = {r.doc_id: r.n for r in d.select(
        "doc_id", B.bpe_token_count("text", merges).alias("n")).collect()}
    assert got == {1: 3, 2: 0}  # no merges → chars; null → 0


def test_knn_on_single_row_corpus(spark):
    from parquetaivectorsearch_spark.operators import knn

    one = _vecs(spark, [(0, [1.0] * 8)])
    q = knn.query_vector_df(one, 0)
    assert knn.knn_topk(one, q, k=5).count() == 1
    assert knn.knn_topk_arrow(one, q, k=5).count() == 1


def test_knn_join_bulk_with_empty_corpus_partitions(spark):
    """32-way parallelism over a 3-row corpus → most Arrow batches are
    empty; the partial-topk heaps must not crash on them."""
    from parquetaivectorsearch_spark.operators import knn

    vecs = _vecs(spark, [(i, [float(i + 1)] * 8) for i in range(3)])
    corpus = vecs.repartition(32)
    qs = vecs.limit(2).select(F.col("vec_id").alias("query_id"),
                              F.col("embedding").alias("query_vec"))
    out = knn.knn_join_bulk(corpus, qs, k=2)
    assert out.count() == 4  # 2 queries × min(k, 3 candidates incl. self)


def test_connected_components_and_pagerank_on_tiny_graphs(spark):
    from parquetaivectorsearch_spark.operators.components import (
        connected_components,
        pagerank,
    )

    one_edge = spark.createDataFrame([(1, 2)], "doc_a BIGINT, doc_b BIGINT")
    cc = {(r.doc_id, r.cluster_id) for r in connected_components(one_edge).collect()}
    assert cc == {(1, 1), (2, 1)}
    sym = spark.createDataFrame([(1, 2), (2, 1)], "src BIGINT, dst BIGINT")
    ranks = {r.node: r.rank for r in pagerank(sym, n_iter=3).collect()}
    assert set(ranks) == {1, 2}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # rank mass conserved


def test_text_functions_on_empty_strings(spark):
    from parquetaivectorsearch_spark.functions import text as TX

    d = _docs(spark, [(1, ""), (2, "ab")])
    r = {row.doc_id: (row.w, row.fp, row.g) for row in d.select(
        "doc_id",
        TX.word_count("text").alias("w"),
        TX.polynomial_fingerprint("text").alias("fp"),
        TX.char_ngrams("text", 3).alias("g"),
    ).collect()}
    assert r[1] == (0, 0, [])
    assert r[2][0] == 1 and r[2][2] == []  # shorter than n → empty grams


def test_ivf_range_search_degenerate(spark):
    """Radius search on a 2-row corpus: nprobe over-asking is clamped, a
    tiny radius returns empty (not an error), and a generous radius over a
    1-list index returns the whole corpus."""
    from parquetaivectorsearch_spark.operators import ann as ANN

    vecs = _vecs(spark, [(0, [1.0] * 8), (1, [-1.0] * 8)])
    index = ANN.IVFIndex.build(vecs, nlist=1)
    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    wide = ANN.ivf_range_search(index, q, radius=100.0, nprobe=99)
    assert wide.count() == 2
    # self-distance is 1 - <v,v> = -7 for the non-unit [1]*8 vector, so a
    # genuinely unreachable radius must sit below that
    tight = ANN.ivf_range_search(index, q, radius=-100.0, nprobe=1)
    assert tight.count() == 0


def test_ivf_kernels_on_empty_query_batch(spark):
    """A 0-row query frame probes no list: top-k, radius and IVFPQ search
    each return an empty frame with their output schema instead of
    failing in the probe matmul."""
    import numpy as np

    from parquetaivectorsearch_spark.operators import ann as ANN
    from parquetaivectorsearch_spark.operators import pq as PQ

    vecs = _vecs(spark, [(0, [1.0] * 8), (1, [-1.0] * 8)])
    index = ANN.IVFIndex.build(vecs, nlist=1)
    none = vecs.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    top = ANN.ivf_search(index, none, k=5, nprobe=1)
    assert top.columns == ["query_id", "vec_id", "distance", "rank"]
    assert top.count() == 0
    near = ANN.ivf_range_search(index, none, radius=100.0, nprobe=1)
    assert near.columns == ["query_id", "vec_id", "distance"]
    assert near.count() == 0
    books = np.zeros((2, 2, 4))  # m=2 subspaces × 2 codewords × 4 dims
    codes = PQ.pq_encode(index.lists, books, extra_cols=("list_id",))
    short = PQ.ivf_pq_search(index, codes, books, none, nprobe=1)
    assert short.columns == ["query_id", "vec_id", "approx_score"]
    assert short.count() == 0


def test_maxsim_and_matryoshka_shapes_on_fixture(spark):
    """The row-local MaxSim and two-stage matryoshka queries hold their
    exact k=10 bound on the smoke fixture (second scale besides the
    sf0.01 parity run)."""
    from parquetaivectorsearch_spark import queries_vector as QV
    from tests.conftest import SF_SMOKE

    assert QV.q_maxsim_multivector(spark, SF_SMOKE).count() == 10
    assert QV.q_matryoshka_topk(spark, SF_SMOKE).count() == 10


def test_blocklist_scan_on_single_word_corpus(spark, tmp_path):
    """An empty blocklist (no doc has >= 2 words -> zero bigram patterns)
    must return an empty frame, not crash on a None hits column
    (ADVICE r10: hits stayed None and None.cast() raised)."""
    from parquetaivectorsearch_spark.queries import all_queries

    d = str(tmp_path)
    spark.createDataFrame(
        [(1, "hello", "en", "web", 5), (2, "x", "en", "web", 1)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = all_queries()["blocklist_scan"](spark, d)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "n_pats"]
