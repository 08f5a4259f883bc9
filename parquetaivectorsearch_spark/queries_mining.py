"""Training-data MINING queries (round-9 extension): the operators that
turn a curated corpus into model-training inputs and keep two corpus
versions honest against each other.

The reference's pipeline ends at "embed and search" (Program.cs:117-227);
an LLM/embedding-model data pipeline additionally has to MINE training
pairs and audit corpus versions:

* **hard-negative mining / triplet mining** — contrastive training data
  for embedding models (per anchor: nearest same-label positive, nearest
  different-label negatives). The retrieval kernel is the reference's own
  dot-product top-k (Program.cs:207-227) with a label predicate.
* **skip-gram pair extraction** — word2vec-style (center, context)
  co-occurrence counts (Mikolov et al. 2013), generated ROW-LOCALLY with
  array slices so the only shuffle is the final count aggregation.
* **snapshot diff** — added/removed/changed/unchanged accounting between
  two corpus versions by content hash; the audit every incremental
  ingestion run needs before retraining.
* **code detection** — line-shape heuristic separating code-like from
  prose documents (the Gopher/StarCoder-style routing decision).
* **quality calibration** — per-source percentile rank of a quality
  score, so a global keep-threshold does not silently starve sources
  whose raw score distributions differ (CCNet-style per-bucket
  calibration, Wenzek et al. 2020).

All six are exact integer / fixed-order IEEE arithmetic → DuckDB
oracle-checked (hash-gated).

Scale notes (the shapes that survive 100 TB):
- anchor sets broadcast (they are the small side by construction: a
  training batch, not the corpus); the corpus-side scan is one pass and
  the per-anchor top-k shuffles only the filtered candidate stream keyed
  by anchor — at a real 100 TB serve the same query rides the bulk IVF
  path (operators/ann.ivf_search) instead of the exact window;
- skip-gram pairs never positional-self-join: pairs materialize inside
  the row via arrays_zip on shifted slices, then one explode feeds a
  count agg with map-side combine (shuffle keys are (center, context),
  not document bytes);
- snapshot diff projects (doc_id, md5) BEFORE the full-outer join, so
  the join ships 48-byte rows, not document text; with both snapshots
  bucketed by doc_id it is a zero-exchange merge;
- code detection and calibration are one projection / one window — no
  plan fat to audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquetaivectorsearch_spark.functions import text as TX
from parquetaivectorsearch_spark.functions.vector import dot
from parquetaivectorsearch_spark.queries import _t, register
from parquetaivectorsearch_spark.queries_text import _STOPWORDS

_N_ANCHORS = 8  # vec_id < 8: a training "batch" of anchors, broadcast side
_STOP_IN = ", ".join(f"'{s}'" for s in _STOPWORDS)
_DUCK_WORDS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')"


# ---------------------------------------------------------------------------
# hard-negative mining (contrastive training data for embedding models)
# ---------------------------------------------------------------------------

@register("hard_negative_mining", f"""
    WITH a AS (SELECT vec_id AS anchor_id, label AS anchor_label,
                      embedding::DOUBLE[] AS av
               FROM embeddings WHERE vec_id < {_N_ANCHORS}),
    d AS (
      SELECT a.anchor_id, a.anchor_label, e.vec_id, e.label AS neg_label,
             ROUND(1.0 - list_inner_product(e.embedding::DOUBLE[], a.av), 6)
               + 0.0 AS distance
      FROM embeddings e, a
      WHERE e.label <> a.anchor_label
    )
    SELECT anchor_id, anchor_label, vec_id, neg_label, distance,
           CAST(rnk AS INTEGER) AS neg_rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                       ORDER BY distance, vec_id) AS rnk
          FROM d)
    WHERE rnk <= 5
""")
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per anchor (a broadcast batch of {_N_ANCHORS}): the 5 nearest
    corpus vectors with a DIFFERENT label — the "hard negatives" that
    contrastive losses (InfoNCE, triplet) want. Kernel = the reference's
    dot-product top-k (Program.cs:207-227) plus a label predicate.

    Plan: broadcast anchors → scan-side label filter → window top-5 per
    anchor, tie-break (distance, vec_id). The shuffle carries only
    (anchor, candidate) rows that survived the label filter; at a real
    100 TB mine the anchor batch rides operators/ann.ivf_search
    (probed-list union scanned once, label mask applied post-matmul)."""
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.where(F.col("vec_id") < _N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("av"),
    )
    d = F.round(F.lit(1.0) - dot("embedding", "av"), 6) + F.lit(0.0)
    cand = (
        emb.join(F.broadcast(a), emb["label"] != a["anchor_label"])
        .select("anchor_id", "anchor_label", "vec_id",
                F.col("label").alias("neg_label"), d.alias("distance"))
    )
    w = Window.partitionBy("anchor_id").orderBy("distance", "vec_id")
    return (
        cand.withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .where(F.col("neg_rank") <= 5)
    )


@register("triplet_mining", f"""
    WITH a AS (SELECT vec_id AS anchor_id, label AS anchor_label,
                      embedding::DOUBLE[] AS av
               FROM embeddings WHERE vec_id < {_N_ANCHORS}),
    d AS (
      SELECT a.anchor_id, a.anchor_label, e.vec_id,
             e.label = a.anchor_label AS same,
             ROUND(1.0 - list_inner_product(e.embedding::DOUBLE[], a.av), 6)
               + 0.0 AS distance
      FROM embeddings e, a
      WHERE e.vec_id <> a.anchor_id
    ),
    best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id, same
                                   ORDER BY distance, vec_id) AS rnk
      FROM d
    ),
    pos AS (SELECT anchor_id, anchor_label, vec_id AS pos_id,
                   distance AS pos_distance FROM best WHERE same AND rnk = 1),
    neg AS (SELECT anchor_id, vec_id AS neg_id, distance AS neg_distance
            FROM best WHERE NOT same AND rnk = 1)
    SELECT p.anchor_id, p.anchor_label, p.pos_id, p.pos_distance,
           n.neg_id, n.neg_distance,
           ROUND(n.neg_distance - p.pos_distance, 6) + 0.0 AS margin
    FROM pos p JOIN neg n USING (anchor_id)
""")
def q_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, hardest negative) triplets: per anchor the
    nearest SAME-label non-self vector and the nearest DIFFERENT-label
    vector, plus the margin a triplet loss would see. One corpus scan
    scores both roles (a `same` flag partitions the window) — not two
    separate retrievals; the join that pairs them is {_N_ANCHORS}×1 rows
    a side, broadcast-trivial at any corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.where(F.col("vec_id") < _N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("av"),
    )
    dist = F.round(F.lit(1.0) - dot("embedding", "av"), 6) + F.lit(0.0)
    d = (
        emb.join(F.broadcast(a), emb["vec_id"] != a["anchor_id"])
        .select("anchor_id", "anchor_label", "vec_id",
                (F.col("label") == F.col("anchor_label")).alias("same"),
                dist.alias("distance"))
    )
    w = Window.partitionBy("anchor_id", "same").orderBy("distance", "vec_id")
    best = d.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") == 1)
    pos = best.where(F.col("same")).select(
        "anchor_id", "anchor_label", F.col("vec_id").alias("pos_id"),
        F.col("distance").alias("pos_distance"))
    neg = best.where(~F.col("same")).select(
        "anchor_id", F.col("vec_id").alias("neg_id"),
        F.col("distance").alias("neg_distance"))
    return pos.join(neg, "anchor_id").select(
        "anchor_id", "anchor_label", "pos_id", "pos_distance", "neg_id",
        "neg_distance",
        (F.round(F.col("neg_distance") - F.col("pos_distance"), 6)
         + F.lit(0.0)).alias("margin"),
    )


# ---------------------------------------------------------------------------
# skip-gram (center, context) pair extraction — word2vec training data
# ---------------------------------------------------------------------------

@register("skipgram_pairs", f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    p AS (SELECT ws, len(ws) AS n FROM w WHERE len(ws) >= 2),
    f AS (
      SELECT ws[i] AS center, ws[i + j] AS context
      FROM p,
           unnest(generate_series(1, n - 1)) AS s(i),
           unnest(generate_series(1, 2)) AS t(j)
      WHERE i + j <= n
    ),
    sym AS (SELECT center, context FROM f
            UNION ALL
            SELECT context AS center, center AS context FROM f)
    SELECT center, context, CAST(count(*) AS BIGINT) AS n_pairs
    FROM sym GROUP BY center, context
    ORDER BY n_pairs DESC, center, context
    LIMIT 50
""")
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric skip-gram pairs with window 2 (Mikolov et al. 2013),
    top-50 by count. Pairs are generated ROW-LOCALLY: arrays_zip of the
    word array against its 1- and 2-shifted slices — no positional
    self-join, no per-position explode-then-join. The only wide stage is
    the (center, context) count, which map-side combines; shuffle volume
    is bounded by vocabulary², independent of corpus bytes. Total-order
    tie-break (count desc, center, context) keeps the LIMIT exact."""
    d = _t(spark, sf_dir, "documents")
    ws = TX.words("text")
    n = F.size(ws)
    adj = F.arrays_zip(F.slice(ws, 1, n - 1).alias("center"),
                       F.slice(ws, 2, n - 1).alias("context"))
    skip2 = F.arrays_zip(F.slice(ws, 1, n - 2).alias("center"),
                         F.slice(ws, 3, n - 2).alias("context"))
    fwd = (
        d.where(F.size(TX.words("text")) >= 2)
        .select(F.explode(F.concat(adj, skip2)).alias("pr"))
        .select(F.col("pr.center").alias("center"),
                F.col("pr.context").alias("context"))
    )
    sym = fwd.unionByName(fwd.select(F.col("context").alias("center"),
                                     F.col("center").alias("context")))
    return (
        sym.groupBy("center", "context")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "center", "context")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# corpus snapshot diff — added / removed / changed accounting by content hash
# ---------------------------------------------------------------------------

# Snapshot B is DERIVED deterministically from the fixture corpus (the test
# environment has exactly one snapshot on disk): doc_id%23==5 rows are
# dropped ("removed"), doc_id%17==3 rows get an edit marker ("changed"),
# and doc_id%29==7 rows are re-ingested under new ids ("added"). Both
# engines apply the identical derivation, so the DIFF OPERATOR — hash,
# full-outer join, status classification — is what the oracle checks.
_DUCK_SNAPSHOT_B = """
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 3 THEN text || ' [rev2]' ELSE text END
               AS text
      FROM documents WHERE doc_id % 23 <> 5
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, 'new: ' || text AS text
      FROM documents WHERE doc_id % 29 = 7
"""


@register("snapshot_diff", f"""
    WITH a AS (SELECT doc_id, md5(text) AS h FROM documents),
    b AS (SELECT doc_id, md5(text) AS h FROM ({_DUCK_SNAPSHOT_B})),
    j AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             CASE WHEN a.h IS NULL THEN 'added'
                  WHEN b.h IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM j GROUP BY status
""")
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-over-version corpus diff: classify every doc_id as added /
    removed / changed / unchanged by comparing content hashes across two
    snapshots, then roll up per status. The ingestion-audit query every
    incremental pipeline runs before retraining.

    Plan: each side projects (doc_id, md5) BEFORE the full-outer join —
    the join ships 48-byte hash rows, never document text; at 100 TB with
    both snapshots bucketed by doc_id it degrades to a zero-exchange
    sort-merge. The status rollup is 4 groups, map-side combined."""
    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.encode(F.col("text"), "UTF-8"))
    a = d.select("doc_id", h.alias("ha"))
    base = d.where(F.col("doc_id") % 23 != 5).select(
        "doc_id",
        F.when(F.col("doc_id") % 17 == 3,
               F.concat(F.col("text"), F.lit(" [rev2]")))
         .otherwise(F.col("text")).alias("text"))
    added = d.where(F.col("doc_id") % 29 == 7).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat(F.lit("new: "), F.col("text")).alias("text"))
    b = base.unionByName(added).select("doc_id", h.alias("hb"))
    j = a.join(b, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("ha").isNull(), "added")
         .when(F.col("hb").isNull(), "removed")
         .when(F.col("ha") != F.col("hb"), "changed")
         .otherwise("unchanged").alias("status"))
    return j.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# code detection — line-shape routing heuristic (code vs prose)
# ---------------------------------------------------------------------------

# The fixture corpus is single-line prose, so a code-shaped SLICE is derived
# deterministically (doc_id%5==0 rows are re-rendered as indented
# `word();` lines) in BOTH engines; the DETECTOR — line split, shape
# regex, fraction, threshold — is what the oracle checks.
_CODE_LINE_RE = r"^\s{2,}.*[;{}]\s*$"


@register("code_detect", f"""
    WITH rendered AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 5 = 0 THEN
               array_to_string(list_transform({_DUCK_WORDS},
                                              w -> '    ' || w || '();'),
                               chr(10))
             ELSE text END AS text
      FROM documents
    ),
    m AS (
      SELECT doc_id, source, len(ls) AS n_lines,
             len(list_filter(ls, l -> regexp_matches(l, '{_CODE_LINE_RE}')))
               AS code_lines
      FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ls
            FROM rendered)
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN code_lines * 2 > n_lines THEN 1 ELSE 0 END)
                AS BIGINT) AS code_docs,
           ROUND(sum(code_lines) * 1.0 / sum(n_lines), 6) + 0.0
             AS code_line_frac
    FROM m GROUP BY source
""")
def q_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing: per line, a shape regex (indent + trailing
    `;`/`{{`/`}}`); a doc is code when >half its lines match; rolled up per
    source. The StarCoder/Gopher-style corpus-routing decision, exact and
    oracle-checked. One projection (split + filter are row-local) into a
    4-group agg — the 100 TB shape is a pure map stage; the regex runs
    JVM-side (no Python), and the classification threshold compares
    integers (code_lines*2 > n_lines), so no float gate can drift."""
    d = _t(spark, sf_dir, "documents")
    code_text = F.array_join(
        F.transform(TX.words("text"),
                    lambda w: F.concat(F.lit("    "), w, F.lit("();"))),
        "\n")
    rendered = d.select(
        "doc_id", "source",
        F.when(F.col("doc_id") % 5 == 0, code_text)
         .otherwise(F.col("text")).alias("text"))
    ls = F.split(F.col("text"), "\n")
    m = rendered.select(
        "source",
        F.size(ls).alias("n_lines"),
        F.size(F.filter(ls, lambda l: l.rlike(_CODE_LINE_RE)))
         .alias("code_lines"))
    return m.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("code_lines") * 2 > F.col("n_lines"), 1)
               .otherwise(0)).cast("bigint").alias("code_docs"),
        (F.round(F.sum("code_lines").cast("double") / F.sum("n_lines"), 6)
         + F.lit(0.0)).alias("code_line_frac"),
    )


# ---------------------------------------------------------------------------
# per-source quality calibration — percentile rank within source
# ---------------------------------------------------------------------------

@register("quality_calibrate", f"""
    WITH m AS (
      SELECT doc_id, source,
             ROUND(len(list_filter(ws, w -> w IN ({_STOP_IN}))) * 1.0
                   / len(ws), 6) AS q_score
      FROM (SELECT doc_id, source, {_DUCK_WORDS} AS ws FROM documents)
      WHERE len(ws) > 0
    )
    SELECT doc_id, source, q_score,
           ROUND(PERCENT_RANK() OVER (PARTITION BY source
                                      ORDER BY q_score, doc_id), 6) + 0.0
             AS pct_rank
    FROM m
""")
def q_quality_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-source calibration (Wenzek et al. 2020): a raw
    quality score (stopword ratio here — any score plugs in) is replaced
    by its percentile rank WITHIN its source, so one global keep-threshold
    treats differently-distributed sources fairly. One window per source
    partition; sources are the natural partition key at 100 TB (each is
    independently rankable, no global sort). Tie-break (q_score, doc_id)
    makes PERCENT_RANK deterministic on both engines."""
    d = _t(spark, sf_dir, "documents")
    ws = TX.words("text")
    stop_hits = F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS)))
    m = d.where(F.size(TX.words("text")) > 0).select(
        "doc_id", "source",
        F.round(stop_hits.cast("double") / F.size(ws), 6).alias("q_score"))
    w = Window.partitionBy("source").orderBy("q_score", "doc_id")
    return m.select(
        "doc_id", "source", "q_score",
        (F.round(F.percent_rank().over(w), 6) + F.lit(0.0)).alias("pct_rank"),
    )


# ---------------------------------------------------------------------------
# word2vec negative sampling — unigram^0.75 table, deterministic draws
# ---------------------------------------------------------------------------

@register("negative_samples", f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    vw AS (SELECT unnest(ws) AS word FROM w),
    vocab AS (SELECT word, COUNT(*) AS cnt FROM vw GROUP BY word),
    wt AS (
      SELECT word,
             CAST(FLOOR(sqrt(sqrt((CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE))
                                  * CAST(cnt AS DOUBLE))) * 1048576)
                  AS BIGINT) AS wgt
      FROM vocab
    ),
    cum AS (
      SELECT word, wgt,
             SUM(wgt) OVER (ORDER BY word
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cw
      FROM wt
    ),
    tot AS (SELECT MAX(cw) AS total FROM cum),
    p AS (SELECT ws, len(ws) AS n FROM w WHERE len(ws) >= 2),
    f AS (
      SELECT ws[i] AS center, ws[i + j] AS context
      FROM p,
           unnest(generate_series(1, n - 1)) AS s(i),
           unnest(generate_series(1, 2)) AS t(j)
      WHERE i + j <= n
    ),
    sym AS (SELECT center, context FROM f
            UNION ALL
            SELECT context AS center, center AS context FROM f),
    tp AS (
      SELECT * FROM (
        SELECT center, context, COUNT(*) AS n_pairs,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, center, context)
                 AS pid
        FROM sym GROUP BY center, context
      ) WHERE pid <= 20
    ),
    probes AS (
      SELECT center, context, pid, j AS neg_rank,
             (pid * 2654435761 + j * 40503) % (SELECT total FROM tot)
               AS probe
      FROM tp, unnest(generate_series(1, 5)) AS q(j)
    )
    SELECT pr.center, pr.context, CAST(pr.neg_rank AS BIGINT) AS neg_rank,
           c.word AS negative,
           CAST(CASE WHEN c.word IN (pr.center, pr.context)
                     THEN 1 ELSE 0 END AS INTEGER) AS is_collision
    FROM probes pr
    JOIN cum c ON pr.probe >= c.cw - c.wgt AND pr.probe < c.cw
""")
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-sampling table for word2vec-family training (Mikolov et
    al. 2013 §2.2: negatives drawn from the unigram distribution raised
    to 3/4) — the third stage of the graph-embedding data pipeline
    (random_walks → skipgram_pairs → THIS), 5 negatives per top-20
    skip-gram pair. Everything is hash-deterministic and engine-portable:

    - weight = floor(sqrt(sqrt(c·c·c)) · 2^20) — count^0.75 via two
      IEEE-correctly-rounded sqrts of an exact double product (ln/pow
      are libm-ulp-unstable across engines, the dsir/pps discipline),
      scaled by a power of two (exact) and floored to an INTEGER mass;
    - the sampling table is the integer cumulative mass over the
      word-ordered vocabulary (one bounded window);
    - draw j for pair pid probes position (pid·2654435761 + j·40503)
      mod total — Knuth multiplicative hashing, integer interval
      compare only, so the oracle replays every draw bit-for-bit.

    Accidental center/context hits are FLAGGED (is_collision), not
    resampled — rejection loops are engine-divergent; flagged rows are
    the caller's resample-or-drop choice, and the flag itself is part
    of the checked answer. Scale shape: vocab agg + one broadcast of
    the bounded cumulative table; the interval lookup is a broadcast
    range join (probes × vocab) — at production vocab sizes swap the
    lookup for a binary search over the broadcast cum array inside an
    Arrow closure (the blocklist_scan Aho-Corasick-swap pattern),
    identical semantics."""
    d = _t(spark, sf_dir, "documents")
    ws = TX.words("text")
    vw = d.select(F.explode(ws).alias("word"))
    cd = F.col("cnt").cast("double")
    wt = (vw.groupBy("word").agg(F.count("*").alias("cnt"))
          .select("word",
                  F.floor(F.sqrt(F.sqrt(cd * cd * cd)) * F.lit(1048576))
                  .cast("bigint").alias("wgt")))
    wcum = Window.orderBy("word").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = wt.select("word", "wgt", F.sum("wgt").over(wcum).alias("cw")) \
        .localCheckpoint(eager=False)  # reused: total agg + interval join
    total = cum.agg(F.max("cw").alias("total"))

    n = F.size(ws)
    adj = F.arrays_zip(F.slice(ws, 1, n - 1).alias("center"),
                       F.slice(ws, 2, n - 1).alias("context"))
    skip2 = F.arrays_zip(F.slice(ws, 1, n - 2).alias("center"),
                         F.slice(ws, 3, n - 2).alias("context"))
    fwd = (d.where(F.size(ws) >= 2)
           .select(F.explode(F.concat(adj, skip2)).alias("pr"))
           .select(F.col("pr.center").alias("center"),
                   F.col("pr.context").alias("context")))
    sym = fwd.unionByName(fwd.select(F.col("context").alias("center"),
                                     F.col("center").alias("context")))
    counted = sym.groupBy("center", "context").agg(
        F.count("*").alias("n_pairs"))
    tp = (counted.withColumn(
            "pid", F.row_number().over(
                Window.orderBy(F.desc("n_pairs"), "center", "context")))
          .filter(F.col("pid") <= 20))
    probes = (tp.select("center", "context", "pid",
                        F.explode(F.expr("sequence(1, 5)")).alias("neg_rank"))
              .crossJoin(F.broadcast(total))
              .select("center", "context", "neg_rank",
                      ((F.col("pid") * F.lit(2654435761)
                        + F.col("neg_rank") * F.lit(40503))
                       % F.col("total")).alias("probe")))
    hit = probes.join(
        F.broadcast(cum),
        (F.col("probe") >= F.col("cw") - F.col("wgt"))
        & (F.col("probe") < F.col("cw")))
    return hit.select(
        "center", "context", F.col("neg_rank").cast("bigint").alias("neg_rank"),
        F.col("word").alias("negative"),
        F.when((F.col("word") == F.col("center"))
               | (F.col("word") == F.col("context")), 1)
        .otherwise(0).cast("int").alias("is_collision"))
