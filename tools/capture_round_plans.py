"""Un-truncated per-round plan fragments for the iterative operators
(VERDICT r14 what's-wrong #2: the committed before/after plans of
checkpoint-bounded loops show only the final 2-node fragment, so the
per-round shape claims were evidenced by code, not dumps).

Each capture rebuilds ONE round of the operator on the real sf0.1 input
exactly as the operator does, but WITHOUT the round's localCheckpoint
call, and writes `.explain("formatted")` to plans/<round>/round_<name>.txt
so the Exchanges per round can be counted directly.

Usage: python tools/capture_round_plans.py <round>
    round — round label, e.g. r16: picks the output dir plans/<round>/
"""

from __future__ import annotations

import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF = "/root/testdata/sf0.1"


def main() -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from parquetaivectorsearch_spark.plans.inspect import formatted_plan
    from parquetaivectorsearch_spark.session import get_spark
    from parquetaivectorsearch_spark.sources import load_table

    if len(sys.argv) < 2:
        sys.exit(__doc__)
    round_tag = sys.argv[1]
    spark = get_spark(f"plan-rounds-{round_tag}",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    out = Path(_REPO) / "plans" / round_tag
    out.mkdir(parents=True, exist_ok=True)

    # ---- hash-to-min CC: one round over the materialized H state -------
    # (components.connected_components inner loop, verbatim minus the
    # checkpoint)
    emb = load_table(spark, SF, "embeddings")
    from parquetaivectorsearch_spark.operators import ann as ANN

    pairs = (ANN.embedding_dedup(emb, threshold=0.35, nlist=8)
             .select("vec_a", "vec_b"))
    e = pairs.select(F.col("vec_a").alias("u"), F.col("vec_b").alias("v"))
    ef = e.filter(F.col("u") != F.col("v"))
    sym = ef.union(ef.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nodes = e.select(F.explode(F.array("u", "v")).alias("u"))
    H = (sym.union(nodes.select("u", F.col("u").alias("v")))
         .select(F.col("u").alias("node"), F.col("v").alias("member"))
         .repartition("node").dropDuplicates(["node", "member"])
         .localCheckpoint(eager=True))   # materialized: the round reads this
    m = H.groupBy("node").agg(F.min("member").alias("m"))
    rnd = (H.join(m, "node")
           .select(F.explode(F.array(
               F.struct(F.col("member").alias("node"),
                        F.col("m").alias("member")),
               F.struct(F.col("m").alias("node"),
                        F.col("member").alias("member")))).alias("e"))
           .select("e.node", "e.member")
           .repartition("node").dropDuplicates(["node", "member"]))
    (out / "round_cc_hashmin.txt").write_text(
        "ONE hash-to-min round over the checkpointed H state "
        "(connected_components inner loop, checkpoint elided).\n"
        "Shape: one min aggregate (its small Exchange feeds a broadcast\n"
        "build), one broadcast send-join over the H scan, both emissions\n"
        "from ONE Generate (explode), then the round's single data\n"
        "Exchange (repartition(node)) whose partitioning the dedup\n"
        "aggregate reuses. A union of two projections instead of the\n"
        "explode physically duplicated the join+agg subtree per branch\n"
        "(r15 fix).\n\n"
        + formatted_plan(rnd))

    # ---- suffix-array re-rank round (radix-4 prefix doubling) ----------
    from parquetaivectorsearch_spark.queries_curation import _shard_chars
    from parquetaivectorsearch_spark.operators.suffix import (_RADIX,
                                                              _rank_round1)

    df, nd, n = _rank_round1(_shard_chars(spark, SF), "pos", "ch")
    df = df.localCheckpoint(eager=True)
    h = 1
    u = None
    for i in range(_RADIX):
        s = df.select((F.col("pos") - F.lit(i * h)).alias("pos"),
                      F.lit(i).alias("tag"), "rank")
        u = s if u is None else u.unionAll(s)
    paired = (u.filter(F.col("pos") >= 1)
              .groupBy("pos")
              .agg(*[F.coalesce(
                      F.max(F.when(F.col("tag") == i, F.col("rank"))),
                      F.lit(0).cast("bigint")).alias(f"k{i + 1}")
                     for i in range(_RADIX)]))
    parts = 8
    width = max(1, (nd + parts) // parts)
    rp = paired.withColumn(
        "pid", F.floor(F.col("k1") / F.lit(width)).cast("int"))
    w = Window.partitionBy("pid").orderBy(*[f"k{i+1}" for i in range(_RADIX)])
    loc = rp.select("pos", "pid",
                    F.dense_rank().over(w).cast("bigint").alias("lrank"))
    (out / "round_suffix_rerank.txt").write_text(
        "ONE radix-4 prefix-doubling re-rank round over the checkpointed\n"
        "span-1 ranks (suffix_array_rounds inner loop, checkpoint elided):\n"
        "4-way tagged union -> ONE groupBy(pos) pivot Exchange -> computed\n"
        "equi-width pid -> ONE hash(pid) Exchange for the JVM dense_rank\n"
        "window. No Python node anywhere.\n\n" + formatted_plan(loc))

    # ---- pagerank contribution round ------------------------------------
    edges = (sym.select(F.col("u").alias("src"), F.col("v").alias("dst"))
             .localCheckpoint(eager=True))
    deg = edges.groupBy("src").agg(F.count("*").alias("odeg"))
    ew = edges.join(deg, "src").localCheckpoint(eager=True)
    nn = deg.count()
    ranks = (deg.select(F.col("src").alias("node"))
             .withColumn("rank", F.lit(1.0 / nn)).localCheckpoint(eager=True))
    contribs = (ew.join(ranks.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("rank") / F.col("odeg")).alias("c")))
    rnd3 = contribs.select(
        "node", (F.lit(0.15 / nn) + F.lit(0.85) * F.col("c")).alias("rank"))
    (out / "round_pagerank.txt").write_text(
        "ONE pagerank contribution round over the checkpointed degree-\n"
        "joined edge list and rank frame (operators/components.pagerank\n"
        "inner loop, checkpoint elided).\n\n" + formatted_plan(rnd3))

    print("wrote", sorted(p.name for p in out.glob("round_*.txt")))
    spark.stop()


if __name__ == "__main__":
    main()
