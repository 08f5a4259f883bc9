"""Skew/bucketing/connected-components semantics beyond oracle parity:
salted join ≡ plain join, bucketed join plans no Exchange, hash-to-min
connected components find the right clusters."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from parquetaivectorsearch_spark.operators.components import (
    canonical_docs,
    connected_components,
)
from parquetaivectorsearch_spark.operators.skew import (
    bucketed_join,
    salted_join,
    write_bucketed,
)
from parquetaivectorsearch_spark.sources import load_table
from tests.conftest import SF_SMOKE


def test_salted_join_equals_plain_join(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    salted = salted_join(li, o, "l_orderkey", n_salts=8)
    plain = li.join(o, "l_orderkey")
    assert salted.count() == plain.count()
    s = {tuple(r) for r in salted.groupBy("o_orderpriority").count().collect()}
    p = {tuple(r) for r in plain.groupBy("o_orderpriority").count().collect()}
    assert s == p


def test_bucketed_join_has_no_exchange(spark):
    """Identically-bucketed tables must join with zero shuffle."""
    loc = tempfile.mkdtemp(prefix="bucketdb_")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{loc}'")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    write_bucketed(li, "bucketdb.li_b", "l_orderkey", 8)
    write_bucketed(o, "bucketdb.o_b", "l_orderkey", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = bucketed_join(spark, "bucketdb.li_b", "bucketdb.o_b", "l_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == load_table(spark, SF_SMOKE, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_connected_components_chain_and_island(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a BIGINT, doc_b BIGINT"
    )
    got = {(r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_connected_components_long_chain_converges(spark):
    """A 12-node chain needs ~11 propagation rounds — exercises the
    iteration/checkpoint loop, not just one-hop merges."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a BIGINT, doc_b BIGINT"
    )
    got = connected_components(pairs)
    assert got.filter(F.col("cluster_id") != 0).count() == 0
    assert got.count() == 13


def test_canonical_docs_covers_singletons(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    pairs = spark.createDataFrame([(0, 1)], "doc_a BIGINT, doc_b BIGINT")
    canon = canonical_docs(pairs, docs)
    assert canon.count() == 50
    m = {r.doc_id: r.canonical_id for r in canon.collect()}
    assert m[1] == 0 and m[0] == 0
    assert all(m[d] == d for d in m if d > 1)


def test_pagerank_hand_graph(spark):
    """Symmetric 3-cycle + pendant pair: ranks must match the closed-form
    power iteration (numpy) exactly, and sum to 1."""
    import numpy as np
    from parquetaivectorsearch_spark.operators.components import pagerank

    el = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3), (4, 5), (5, 4)]
    edges = spark.createDataFrame(el, "src BIGINT, dst BIGINT")
    got = {r.node: r.rank for r in pagerank(edges, n_iter=10).collect()}
    odeg = {}
    for s, _ in el:
        odeg[s] = odeg.get(s, 0) + 1
    nodes = sorted(odeg)
    idx = {v: i for i, v in enumerate(nodes)}
    r = np.full(len(nodes), 1 / len(nodes))
    for _ in range(10):
        c = np.zeros(len(nodes))
        for s, d in el:
            c[idx[d]] += r[idx[s]] / odeg[s]
        r = 0.15 / len(nodes) + 0.85 * c
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-12, (v, got[v], r[idx[v]])


def test_label_propagation_recovers_planted_cliques(spark):
    """Synchronous LPA on two 5-cliques joined by one bridge edge: four
    rounds must assign each clique a single community and keep the two
    communities distinct — the bridge must NOT merge them (its endpoint
    sees 4 intra-clique votes vs 1 across). Also pins determinism: two
    runs agree row-for-row."""
    from itertools import combinations

    from parquetaivectorsearch_spark.operators.components import (
        label_propagation_sync,
    )

    cliq_a, cliq_b = range(5), range(10, 15)
    pairs = (list(combinations(cliq_a, 2)) + list(combinations(cliq_b, 2))
             + [(4, 10)])
    e = spark.createDataFrame(pairs, "src BIGINT, dst BIGINT")
    edges = e.union(e.selectExpr("dst AS src", "src AS dst"))
    got = {r.node: r.community
           for r in label_propagation_sync(edges, rounds=4).collect()}
    assert set(got) == set(cliq_a) | set(cliq_b)
    labels_a = {got[n] for n in cliq_a}
    labels_b = {got[n] for n in cliq_b}
    assert len(labels_a) == 1 and len(labels_b) == 1
    assert labels_a != labels_b
    again = {r.node: r.community
             for r in label_propagation_sync(edges, rounds=4).collect()}
    assert again == got


def test_kcore_peels_pendants_keeps_cliques(spark):
    """3-core semantics on a planted graph: a 4-clique (every node has 3
    in-clique neighbors) must survive the peel intact with core_deg == 3;
    a pendant chain hanging off the clique must peel away entirely —
    including the chain's attachment-adjacent cascade (node i peels,
    dropping node i-1 below k next round). Also pins convergence: an
    extra peel round changes nothing."""
    from itertools import combinations

    from parquetaivectorsearch_spark.operators.components import kcore

    clique = list(combinations(range(4), 2))
    chain = [(3, 10), (10, 11), (11, 12)]
    e = spark.createDataFrame(clique + chain, "src BIGINT, dst BIGINT")
    edges = e.union(e.selectExpr("dst AS src", "src AS dst"))
    got = {r.node: r.core_deg for r in kcore(edges, k=3, rounds=8).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    more = {r.node: r.core_deg for r in kcore(edges, k=3, rounds=9).collect()}
    assert more == got


def test_kcore_fixture_converges_within_unroll(spark):
    """The registered query's fixed 8-round unroll must have CONVERGED on
    the fixture graph (round 8 == round 7 survivor sets) — otherwise the
    oracle-checked output is a peel prefix, not the true k-core."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from parquetaivectorsearch_spark.functions import vector as V
    from parquetaivectorsearch_spark.operators.components import kcore
    from parquetaivectorsearch_spark.queries_text import (
        _KCORE_K, _KCORE_ROUNDS)
    from parquetaivectorsearch_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    emb = (load_table(spark, SF_SMOKE, "embeddings")
           .filter(F.col("vec_id") < 200)
           .select("vec_id",
                   F.col("embedding").cast("array<double>").alias("v")))
    a = emb.select(F.col("vec_id").alias("src"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("dst"), F.col("v").alias("vb"))
    sims = (a.join(b, F.col("src") != F.col("dst"))
            .select("src", "dst", V.dot("va", "vb").alias("dot")))
    knn3 = (sims.withColumn(
                "rn", F.row_number().over(
                    W.partitionBy("src").orderBy(F.desc("dot"), "dst")))
            .filter(F.col("rn") <= 3).select("src", "dst"))
    edges = knn3.union(
        knn3.selectExpr("dst AS src", "src AS dst")).distinct()
    at = {r.node for r in
          kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS).collect()}
    before = {r.node for r in
              kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS - 1).collect()}
    assert at == before, "peel had not converged within the unroll depth"
    assert at, "fixture 3-core unexpectedly empty"


def test_kcore_deep_chain_detected_and_fixpoint_correct(spark):
    """VERDICT r11 #1: a pendant PATH longer than the fixed unroll peels
    one node per end per round, so at rounds=8 the fixed peel holds a
    strict superset of the true 2-core (which is EMPTY — a path has no
    2-core). The operator must now (a) DETECT the non-converged fixed
    unroll and raise instead of returning the superset, and (b) reach
    the true empty fixpoint under the default rounds=None iteration,
    reporting its round count via stats."""
    import pytest

    from parquetaivectorsearch_spark.operators.components import kcore

    n = 40  # path 0-1-…-39: needs ~n/2 peel rounds at k=2
    e = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                              "src BIGINT, dst BIGINT")
    edges = e.union(e.selectExpr("dst AS src", "src AS dst"))
    with pytest.raises(ValueError, match="did not reach the k-core fixpoint"):
        kcore(edges, k=2, rounds=8).collect()
    stats: dict = {}
    got = kcore(edges, k=2, rounds=None, stats=stats).collect()
    assert got == []
    assert stats["converged"] and stats["rounds"] >= n // 2 - 1


def test_kcore_fixpoint_mode_matches_converged_fixed(spark):
    """On the clique+chain planted graph the default fixpoint iteration
    must return exactly what a converged fixed unroll returns (and the
    fixed unroll, now verified, must still accept a converged depth)."""
    from itertools import combinations

    from parquetaivectorsearch_spark.operators.components import kcore

    clique = list(combinations(range(4), 2))
    chain = [(3, 10), (10, 11), (11, 12)]
    e = spark.createDataFrame(clique + chain, "src BIGINT, dst BIGINT")
    edges = e.union(e.selectExpr("dst AS src", "src AS dst"))
    stats: dict = {}
    fix = {r.node: r.core_deg
           for r in kcore(edges, k=3, stats=stats).collect()}
    assert fix == {0: 3, 1: 3, 2: 3, 3: 3}
    assert stats["converged"]
    fixed = {r.node: r.core_deg
             for r in kcore(edges, k=3, rounds=8).collect()}
    assert fixed == fix
