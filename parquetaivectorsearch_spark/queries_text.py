"""Text-analysis + dedup + similarity queries (north-star operator set).

Oracle-checkable where the computation is exact integer/IEEE arithmetic in
a fixed order (jaccard, fingerprints, quality ratios, exact cosine);
rows-only where the operator hinges on engine-specific hashing
(xxhash64-based MinHash/SimHash) per SURVEY.md §5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquetaivectorsearch_spark.functions import text as TX
from parquetaivectorsearch_spark.functions import vector as V
from parquetaivectorsearch_spark.operators import dedup as DD
from parquetaivectorsearch_spark.queries import register, _t

# ---------------------------------------------------------------------------
# chunking + tf-idf (embedding-prep pipeline stages)
# ---------------------------------------------------------------------------

@register("text_chunks", """
    WITH d AS (
      SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, CAST(t.k AS INTEGER) AS chunk_id,
           substring(text, t.k * 150 + 1, 200) AS chunk_text,
           CAST(length(substring(text, t.k * 150 + 1, 200)) AS INTEGER) AS chunk_chars
    FROM d, unnest(generate_series(0,
           greatest(0, CAST(ceil((n - 200) / 150.0) AS INTEGER)))) AS t(k)
""")
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping chunking (200 chars, 50 overlap) — the
    embed-prep stage upstream of the vector pipeline. Pure substring
    arithmetic → oracle-exact."""
    from parquetaivectorsearch_spark.operators.chunking import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"), size=200, overlap=50)


@register("text_tfidf", """
    WITH terms AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                w -> w <> '')) AS term
      FROM documents WHERE doc_id < 300
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
    dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents WHERE doc_id < 300)
    SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
           ROUND(tf.tf * (ln((nd.n_docs + 1) / (dfx.df + 1)) + 1), 6) AS tfidf
    FROM tf JOIN dfx ON tf.term = dfx.term CROSS JOIN nd
""")
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (smoothed idf, scikit-learn convention) per (doc, term) over a
    bounded id range: explode + two hash aggs + broadcast df join. Rounded
    6 dp — far above libm ln() ulp differences."""
    from parquetaivectorsearch_spark.operators.chunking import tf_idf

    return tf_idf(_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300))


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

@register("dedup_exact", """
    SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
""")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash groupBy on full text (SURVEY §2.7 X)."""
    return DD.exact_dedup(_t(spark, sf_dir, "documents"))


@register("dedup_keep_best", """
    WITH q AS (
      SELECT doc_id,
             md5(substring(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                           1, 80)) AS dup_md5,
             ROUND(len(list_distinct(list_filter(
                     regexp_split_to_array(trim(text), '\\s+'),
                     x -> x <> ''))) * LN(1 + length(text))
                   / GREATEST(len(list_filter(
                     regexp_split_to_array(trim(text), '\\s+'),
                     x -> x <> '')), 1), 6) AS quality
      FROM documents
    ),
    r AS (
      SELECT doc_id, dup_md5, quality,
             ROW_NUMBER() OVER (PARTITION BY dup_md5
                                ORDER BY quality DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY dup_md5) AS n_copies
      FROM q
    )
    SELECT dup_md5, doc_id AS kept_doc_id, CAST(n_copies AS BIGINT) AS n_copies,
           quality AS best_quality
    FROM r WHERE rn = 1 AND n_copies >= 2
""")
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a KEEP-BEST policy: production pipelines keep the
    highest-quality copy of a duplicate group, not the arbitrary min-id
    (copies differ upstream in truncation/encoding damage even when the
    dedup key matches). The dup KEY is md5 of the first 80 chars of the
    case/whitespace-NORMALIZED text — truncation-variant dedup: docs
    sharing an opening are one logical document cut at different points,
    so group members genuinely differ and quality genuinely selects
    (a full-text key degenerates to min-id because identical text means
    identical quality); quality =
    distinct-word ratio × ln(1+chars) on the RAW text — a
    deterministic, engine-portable proxy for the classifier score a real
    pipeline would plug in here. One hash-agg-shaped window per md5 group
    (the same shuffle exact dedup pays) picks argmax(quality, id);
    ties break to the smaller doc_id so the choice is total."""
    d = _t(spark, sf_dir, "documents")
    ws = TX.words("text")
    quality = F.round(
        F.size(F.array_distinct(ws)) * F.log(1 + F.length("text"))
        / F.greatest(F.size(ws), F.lit(1)), 6)
    norm = F.md5(F.substring(
        F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")), 1, 80))
    q = d.select("doc_id", norm.alias("dup_md5"), quality.alias("quality"))
    from pyspark.sql.window import Window as W

    win = W.partitionBy("dup_md5")
    r = (q.withColumn("rn", F.row_number().over(
            win.orderBy(F.desc("quality"), F.asc("doc_id"))))
         .withColumn("n_copies", F.count("*").over(win)))
    return (r.filter((F.col("rn") == 1) & (F.col("n_copies") >= 2))
            .select("dup_md5", F.col("doc_id").alias("kept_doc_id"),
                    F.col("n_copies").cast("bigint").alias("n_copies"),
                    F.col("quality").alias("best_quality")))


@register("bigram_logprob", """
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    b AS (
      SELECT doc_id, ws[i] AS a, ws[i + 1] AS t
      FROM w, unnest(generate_series(1, len(ws) - 1)) AS s(i)
      WHERE len(ws) >= 2
    ),
    f2 AS (SELECT a, t, COUNT(*) AS c2 FROM b GROUP BY a, t),
    f1 AS (SELECT a, CAST(SUM(c2) AS BIGINT) AS c1 FROM f2 GROUP BY a)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-LN(CAST(c2 AS DOUBLE) / c1)), 6) AS avg_neg_logprob
    FROM b JOIN f2 USING (a, t) JOIN f1 USING (a)
    GROUP BY doc_id
""")
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained BIGRAM LM scoring — one order up from
    unigram_logprob toward the CCNet perplexity filter: score(doc) =
    mean over positions of −ln p(wᵢ | wᵢ₋₁), with p the corpus
    conditional frequency c(wᵢ₋₁wᵢ)/c(wᵢ₋₁·). Unigram flags rare-TOKEN
    gibberish; the bigram catches shuffled-but-common-word soup (every
    token frequent, transitions improbable) — the signal that actually
    separates word salad from prose.

    Same train/apply asymmetry as the unigram: the bigram table builds
    with one hash agg (shuffle = |bigram vocab|), the left-context
    totals derive from it with a second tiny agg, and both JOIN back
    onto the bigram stream WITHOUT a broadcast hint — the bigram-TYPE
    table grows with the vocabulary (billions of types at 100 TB;
    forcing a broadcast there is the unbounded-build-side mistake r10's
    What's-wrong #1 named), so AQE broadcasts at runtime only while the
    table is actually small. The per-doc agg shuffles on doc_id. Every
    scored bigram was observed (c2 ≥ 1), so no smoothing term is needed
    and the score is exact."""
    d = _t(spark, sf_dir, "documents", spread=True)
    ws = TX.words("text")
    b = (d.select("doc_id", ws.alias("ws"))
         .filter(F.size("ws") >= 2)
         .select("doc_id", F.explode(F.expr(
             "transform(sequence(1, size(ws) - 1),"
             " i -> struct(element_at(ws, i) as a,"
             "             element_at(ws, i + 1) as t))")).alias("bg"))
         .select("doc_id", F.col("bg.a").alias("a"), F.col("bg.t").alias("t"))
         # lazy checkpoint (r14, guide §5): the bigram stream feeds both
         # the model build (f2) and the apply join — without it the
         # scan+split+explode recomputes once per consumer
         .localCheckpoint(eager=False))
    f2 = b.groupBy("a", "t").agg(F.count("*").alias("c2"))
    f1 = f2.groupBy("a").agg(F.sum("c2").cast("bigint").alias("c1"))
    return (
        b.join(f2, ["a", "t"])
        .join(f1, "a")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_bigrams"),
             F.round(F.avg(-F.log(F.col("c2").cast("double") / F.col("c1"))),
                     6).alias("avg_neg_logprob"))
    )


_KN_D = 0.75  # the standard absolute discount (Chen & Goodman 1999 §4)


@register("kneser_ney_logprob", f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    b AS (
      SELECT doc_id, ws[i] AS a, ws[i + 1] AS t
      FROM w, unnest(generate_series(1, len(ws) - 1)) AS s(i)
      WHERE len(ws) >= 2
    ),
    f2 AS (SELECT a, t, COUNT(*) AS c2 FROM b GROUP BY a, t),
    f1 AS (SELECT a, CAST(SUM(c2) AS BIGINT) AS c1,
                  CAST(COUNT(*) AS BIGINT) AS n1a
           FROM f2 GROUP BY a),
    cont AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n1t FROM f2 GROUP BY t),
    types AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntypes FROM f2),
    p AS (
      SELECT b.doc_id,
             ROUND(GREATEST(c2 - {_KN_D}, 0.0) / c1
                   + (({_KN_D} * n1a) / c1)
                     * (CAST(n1t AS DOUBLE) / ntypes), 9) AS pkn
      FROM b JOIN f2 USING (a, t) JOIN f1 USING (a)
             JOIN cont USING (t) CROSS JOIN types
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-LN(pkn)), 6) AS kn_avg_neg_logprob
    FROM p GROUP BY doc_id
""")
def q_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; the
    Chen & Goodman 1999 formulation with fixed discount D=0.75) — the
    published standard the raw-frequency bigram LM (`bigram_logprob`)
    approximates: p(t|a) = max(c(a,t)−D, 0)/c(a·) + λ(a)·p_cont(t) with
    λ(a) = D·N₁₊(a·)/c(a·) and the CONTINUATION probability
    p_cont(t) = N₁₊(·t)/N₁₊(··) — 'how many contexts does t follow'
    rather than 'how often does t occur', the distinction that stops
    frequent-but-context-locked words (e.g. 'Francisco') from absorbing
    smoothing mass. Every ingredient is an integer count off the SAME
    one-pass bigram-type table (c2, row counts per a, per t, and the
    global type count), so the model trains with one hash agg + three
    derived aggs joined back onto the bigram stream; per-doc agg
    shuffles on doc_id — identical shuffle budget to bigram_logprob.
    The model joins carry NO broadcast hint: the bigram-TYPE table grows
    with the vocabulary (billions of types at 100 TB — forcing a
    broadcast there is the admission-join mistake r10's What's-wrong #1
    named), so AQE picks broadcast at runtime only while the table is
    actually small. p is pre-rounded 9 dp before the ln on BOTH engines
    (the repo-wide divide-then-round determinism convention)."""
    d = _t(spark, sf_dir, "documents", spread=True)
    ws = TX.words("text")
    b = (d.select("doc_id", ws.alias("ws"))
         .filter(F.size("ws") >= 2)
         .select("doc_id", F.explode(F.expr(
             "transform(sequence(1, size(ws) - 1),"
             " i -> struct(element_at(ws, i) as a,"
             "             element_at(ws, i + 1) as t))")).alias("bg"))
         .select("doc_id", F.col("bg.a").alias("a"), F.col("bg.t").alias("t"))
         # lazy checkpoint (r14, guide §5): the bigram stream feeds both
         # the model build (f2) and the apply join — without it the
         # scan+split+explode recomputes once per consumer
         .localCheckpoint(eager=False))
    f2 = b.groupBy("a", "t").agg(F.count("*").alias("c2")) \
        .localCheckpoint(eager=False)  # reused by f1 / cont / types
    f1 = f2.groupBy("a").agg(F.sum("c2").cast("bigint").alias("c1"),
                             F.count("*").cast("bigint").alias("n1a"))
    cont = f2.groupBy("t").agg(F.count("*").cast("bigint").alias("n1t"))
    types = f2.agg(F.count("*").cast("bigint").alias("ntypes"))
    pkn = F.round(
        F.greatest(F.col("c2") - F.lit(_KN_D), F.lit(0.0)) / F.col("c1")
        + ((F.lit(_KN_D) * F.col("n1a")) / F.col("c1"))
        * (F.col("n1t").cast("double") / F.col("ntypes")), 9)
    return (
        b.join(f2, ["a", "t"])
        .join(f1, "a")
        .join(cont, "t")
        .crossJoin(F.broadcast(types))
        .select("doc_id", pkn.alias("pkn"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_bigrams"),
             F.round(F.avg(-F.log("pkn")), 6).alias("kn_avg_neg_logprob"))
    )


@register("dedup_minhash")  # rows-only: xxhash64 minhash is Spark-specific
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs verified by exact 5-gram jaccard.
    Recall vs exact jaccard is asserted in tests/test_dedup.py."""
    return DD.minhash_dedup(
        _t(spark, sf_dir, "documents"), k=40, bands=8, shingle_n=5, threshold=0.6
    )


@register("dedup_simhash")  # rows-only: xxhash64 bit sums are Spark-specific
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 over 64-bit fingerprints)."""
    return DD.simhash_dedup(_t(spark, sf_dir, "documents"))


_DUCK_NGRAMS = """
    list_distinct(list_transform(
        generate_series(1, greatest(length({t}) - {n_minus_1}, 0)),
        i -> substring({t}, CAST(i AS INTEGER), {n})))
"""


@register("ngram_jaccard_pairs", f"""
    WITH d AS (
      SELECT doc_id,
             {_DUCK_NGRAMS.format(t="text", n=3, n_minus_1=2)} AS g
      FROM documents WHERE doc_id < 150
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / len(list_distinct(a.g || b.g)) AS jaccard
    FROM d a, d b
    WHERE a.doc_id < b.doc_id
      AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
            / len(list_distinct(a.g || b.g)) >= 0.5
""")
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram jaccard θ-join on a bounded id range — the hash-checkable
    twin of the MinHash path (one int division → bit-deterministic)."""
    # r15 (guide §2.3): grams ride as code-point-packed bigints
    # (char_ngram_codes — injective, identical set sizes) and the J ≥ 0.5
    # gate is the exact integer predicate 3·|A∩B| ≥ |A|+|B|
    # (jaccard_gate_half), so the θ-join evaluates ONE primitive-typed
    # array_intersect per candidate; the output jaccard is re-derived
    # for survivors only — same integers, bit-identical doubles.
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", TX.char_ngram_codes("text", 3).alias("g"))
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    return (
        a.join(b, (F.col("doc_a") < F.col("doc_b"))
               # exact size prefilter (r14, guide §3.2): J >= 0.5 forces
               # 2*min(|A|,|B|) >= max — integer-exact, implied by the
               # jaccard gate, skips the array_intersect for
               # size-mismatched pairs inside the theta-join
               & (F.least(F.size("ga"), F.size("gb")) * 2
                  >= F.greatest(F.size("ga"), F.size("gb")))
               & TX.jaccard_gate_half("ga", "gb"))
        .select("doc_a", "doc_b", TX.jaccard_of_sets("ga", "gb").alias("jaccard"))
    )


@register("fingerprint", f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (acc, c) -> (acc * {TX.FP_BASE} + c) % {TX.FP_MOD}) AS fp
    FROM documents
""")
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint — exact modular int arithmetic,
    identical left fold in both engines."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", TX.polynomial_fingerprint("text").alias("fp")
    )


_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE d AS (
      SELECT doc_id,
             {_DUCK_NGRAMS.format(t="text", n=3, n_minus_1=2)} AS g
      FROM documents WHERE doc_id < 150
    ),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db
      FROM d a, d b
      WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / len(list_distinct(a.g || b.g)) >= 0.5
    ),
    edges AS (
      SELECT da AS src, db AS dst FROM pairs
      UNION ALL
      SELECT db, da FROM pairs
    ),
    walk(node, label) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node
"""


@register("dedup_clusters_star", _CLUSTERS_ORACLE)
@register("dedup_clusters", _CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: exact-jaccard near-dup pairs (bounded id range) →
    connected components by hash-to-min path doubling
    (operators/components.py). Oracle: DuckDB recursive CTE computing min
    reachable id — transitive closure is the one dedup step plain SQL
    can't do without recursion.

    ``dedup_clusters_star`` is a second registry name for this same
    query, kept because bench and profile artifacts key on it; it once
    ran star contraction and now runs the same hash-to-min CC."""
    from parquetaivectorsearch_spark.operators.components import connected_components

    # r15 (guide §2.3): code-point-packed gram arrays + the exact
    # integer J ≥ 0.5 gate — one primitive array_intersect per
    # candidate pair, identical pair set (see ngram_jaccard_pairs)
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", TX.char_ngram_codes("text", 3).alias("g"))
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    pairs = (
        a.join(b, (F.col("doc_a") < F.col("doc_b"))
               # exact size prefilter (r14, guide §3.2)
               & (F.least(F.size("ga"), F.size("gb")) * 2
                  >= F.greatest(F.size("ga"), F.size("gb")))
               & TX.jaccard_gate_half("ga", "gb"))
        .select("doc_a", "doc_b")
    )
    return connected_components(pairs)


# ---------------------------------------------------------------------------
# similarity search over embeddings (exact θ-join; ANN lives in ann.py)
# ---------------------------------------------------------------------------

_DUCK_COS = (
    "list_inner_product(a.v, b.v) / "
    "(sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))"
)


@register("similarity_join", f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_DUCK_COS} AS cosine
    FROM e a, e b
    WHERE a.vec_id < b.vec_id AND {_DUCK_COS} >= 0.35
""")
def q_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine θ-join over the FULL corpus (SURVEY §2.3 X) — no id
    cap. Tiled block-pair equi-joins (operators/simjoin.py, Okcan &
    Riedewald M-bucket shape) keep every task's tile bounded and the plan
    free of cartesian nodes while staying exact; the sequential-fold
    cosine is bit-deterministic, so this hash-matches the DuckDB oracle.
    Approximate scale variants: `similarity_join_lsh`, `dedup_embedding`."""
    from parquetaivectorsearch_spark.operators.simjoin import all_pairs_similarity_join

    return all_pairs_similarity_join(
        _t(spark, sf_dir, "embeddings"), threshold=0.35, n_blocks=8)


# ---------------------------------------------------------------------------
# text quality / language id
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "that"]

_LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to", "in"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "es": ["el", "la", "los", "que", "por", "una"],
    "fr": ["le", "les", "des", "et", "est", "une"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3"],
}


def _count_in(words_col, markers: list[str]):
    lst = ", ".join(f"'{m}'" for m in markers)
    return F.aggregate(
        words_col,
        F.lit(0),
        lambda acc, w: acc + F.when(w.isin(markers), 1).otherwise(0),
    )


def _duck_count_in(markers: list[str]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return (
        "len(list_filter(list_filter(regexp_split_to_array(trim(text), '\\s+'),"
        f" w -> w <> ''), w -> w IN ({lst})))"
    )


@register("quality_score", f"""
    WITH w AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(len(ws) AS INTEGER) AS n_words,
           CAST(length(text) AS BIGINT) AS n_chars_q,
           ROUND(CAST(len(list_filter(ws, x -> x IN ({", ".join(f"'{s}'" for s in _STOPWORDS)}))) AS DOUBLE)
                 / len(ws), 9) AS stopword_ratio,
           ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(ws), 9) AS mean_word_len
    FROM w
    WHERE len(ws) > 0
""")
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals: stopword ratio + mean word length
    (SURVEY north-star text analysis). Ratios are single divisions of
    exact ints → deterministic; rounded to 9 dp for belt-and-braces."""
    d = _t(spark, sf_dir, "documents")
    ws = TX.words("text")
    stop_hits = _count_in(ws, _STOPWORDS)
    return (
        d.select(
            "doc_id",
            F.size(ws).alias("n_words"),
            F.length("text").cast("bigint").alias("n_chars_q"),
            F.round(stop_hits.cast("double") / F.size(ws), 9).alias("stopword_ratio"),
            F.round(
                F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
                / F.size(ws), 9
            ).alias("mean_word_len"),
        )
        .filter(F.col("n_words") > 0)
    )


@register("lang_id", f"""
    WITH w AS (
      SELECT doc_id, lang,
             {_duck_count_in(_LANG_MARKERS["en"])} AS s_en,
             {_duck_count_in(_LANG_MARKERS["de"])} AS s_de,
             {_duck_count_in(_LANG_MARKERS["es"])} AS s_es,
             {_duck_count_in(_LANG_MARKERS["fr"])} AS s_fr,
             {_duck_count_in(_LANG_MARKERS["zh"])} AS s_zh
      FROM documents
    )
    SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
           CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS lang_guess
    FROM w
""")
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (deterministic argmax with fixed
    priority). The fixture text is synthetic word salad, so the *accuracy*
    is meaningless here — the operator and its determinism are what's under
    test; real corpora swap in real marker lists."""
    d = _t(spark, sf_dir, "documents")
    ws = TX.words("text")
    scores = {k: _count_in(ws, v) for k, v in _LANG_MARKERS.items()}
    s = {k: F.col(f"s_{k}") for k in scores}
    guess = (
        F.when((s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["zh"]), "en")
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]) & (s["de"] >= s["zh"]), "de")
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["zh"]), "es")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )
    return d.select(
        "doc_id", "lang", *[scores[k].alias(f"s_{k}") for k in _LANG_MARKERS]
    ).withColumn("lang_guess", guess)


# ---------------------------------------------------------------------------
# BM25 lexical ranking + hybrid (lexical ⊕ vector) retrieval
# ---------------------------------------------------------------------------

_BM25_TERMS = ("scan", "join", "vector")
_BM25_K1, _BM25_B, _RRF_K = 1.2, 0.75, 60

# Per-doc term frequencies + doc length, then the fixed-order BM25 formula.
# tf/df/dl are integers and the score expression tree is identical in both
# engines, so the only cross-engine wobble is libm ln — rounded to 6 dp
# before ranking (ties then break on doc_id identically everywhere).
_BM25_DOC_SQL = """
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '') AS words
      FROM documents
    ),
    tf AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS dl,
             CAST(len(list_filter(words, x -> x = 'scan')) AS BIGINT) AS tf_scan,
             CAST(len(list_filter(words, x -> x = 'join')) AS BIGINT) AS tf_join,
             CAST(len(list_filter(words, x -> x = 'vector')) AS BIGINT) AS tf_vector
      FROM w
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS sum_dl,
             CAST(SUM(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_scan,
             CAST(SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_join,
             CAST(SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_vector
      FROM tf
    ),
    scored AS (
      SELECT tf.doc_id,
        ROUND(
          LN((n_docs - df_scan + 0.5) / (df_scan + 0.5) + 1.0)
            * (tf_scan * (1.2 + 1.0))
            / (tf_scan + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
          + LN((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0)
            * (tf_join * (1.2 + 1.0))
            / (tf_join + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
          + LN((n_docs - df_vector + 0.5) / (df_vector + 0.5) + 1.0)
            * (tf_vector * (1.2 + 1.0))
            / (tf_vector + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
        , 6) AS bm25
      FROM tf, stats
    )
"""


def _eq_term(t: str):
    return lambda x: x == F.lit(t)


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
    tf = d.select(
        "doc_id",
        F.size(words).cast("bigint").alias("dl"),
        *[
            # NB: a factory, not a default-arg lambda — a 2-arg lambda would
            # make F.filter pass the element *index* as the second argument.
            F.size(F.filter(words, _eq_term(t))).cast("bigint").alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    )
    stats = tf.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).cast("bigint").alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    j = tf.join(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    score = None
    for t in _BM25_TERMS:
        idf = F.log((F.col("n_docs") - F.col(f"df_{t}") + 0.5)
                    / (F.col(f"df_{t}") + 0.5) + 1.0)
        contrib = idf * (F.col(f"tf_{t}") * (k1 + 1.0)) / (
            F.col(f"tf_{t}") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
        )
        score = contrib if score is None else score + contrib
    return j.select("doc_id", F.round(score, 6).alias("bm25"))


@register("bm25_rank", _BM25_DOC_SQL + """
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT 20
""")
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical ranking (k1=1.2, b=0.75) for the fixed query
    ["scan","join","vector"] — Okapi BM25 per Robertson & Zaragoza (2009),
    computed wholly in codegen'd expressions: per-doc integer tf/dl via
    higher-order filters, corpus df/avgdl as one broadcast single-row agg,
    then the closed-form score. One pass over the corpus, one tiny agg —
    at 100 TB this is scan + broadcast + TakeOrdered, no inverted index
    needed for a fixed query. Scores rounded 6 dp before ranking so libm
    ln ulps can't flip ranks (ties break on doc_id)."""
    scored = _bm25_scored(spark, sf_dir)
    return scored.orderBy(F.desc("bm25"), "doc_id").limit(20)


@register("hybrid_search", _BM25_DOC_SQL + """
    , lex AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
      FROM scored
    ),
    vec AS (
      SELECT e.vec_id AS doc_id,
             CAST(ROW_NUMBER() OVER (
               ORDER BY list_inner_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                        e.vec_id) AS BIGINT) AS vec_rank
      FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    )
    SELECT lex.doc_id, lex_rank, vec_rank,
           1.0 / (60 + lex_rank) + 1.0 / (60 + vec_rank) AS rrf
    FROM lex JOIN vec ON lex.doc_id = vec.doc_id
    ORDER BY rrf DESC, lex.doc_id
    LIMIT 20
""")
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical rank ⊕ dot-product vector rank fused
    by Reciprocal Rank Fusion (Cormack et al., SIGIR 2009: Σ 1/(k+rank),
    k=60) — the query shape of a modern RAG stack, entirely engine-native.
    The two rankings run as independent one-pass scans (shared corpus
    scan), join on doc id, and fuse; RRF terms are exact rationals of
    integer ranks so the fusion is bit-deterministic. At scale each ranking
    is a TakeOrdered over its scan and the fusion joins two k-row lists."""
    from pyspark.sql.window import Window as W

    lex = _bm25_scored(spark, sf_dir).select(
        "doc_id",
        F.row_number().over(W.orderBy(F.desc("bm25"), "doc_id"))
        .cast("bigint").alias("lex_rank"),
    )
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    vec = (
        emb.join(F.broadcast(qv))
        .select("vec_id", V.dot("embedding", "qv").alias("dot"))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number().over(W.orderBy(F.desc("dot"), "vec_id"))
            .cast("bigint").alias("vec_rank"),
        )
    )
    rrf = (F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank"))
           + F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank")))
    return (
        lex.join(vec, "doc_id")
        .select("doc_id", "lex_rank", "vec_rank", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# corpus-quality filters (training-data curation stage)
# ---------------------------------------------------------------------------

@register("repetition_score", """
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    w2 AS (
      SELECT doc_id, ws, len(ws) AS nw, len(list_distinct(ws)) AS nd
      FROM w WHERE len(ws) >= 2
    ),
    b AS (
      SELECT doc_id, nw, nd,
             ws[CAST(i AS INTEGER)] || ' ' || ws[CAST(i + 1 AS INTEGER)] AS bg
      FROM w2, unnest(generate_series(1, nw - 1)) AS t(i)
    ),
    bc AS (SELECT doc_id, nw, nd, bg, COUNT(*) AS c FROM b GROUP BY ALL),
    bm AS (
      SELECT doc_id, nw, nd, MAX(c) AS max_bg, SUM(c) AS n_bg
      FROM bc GROUP BY doc_id, nw, nd
    )
    SELECT doc_id,
           ROUND(1.0 - CAST(nd AS DOUBLE) / nw, 9) AS dup_word_frac,
           ROUND(CAST(max_bg AS DOUBLE) / n_bg, 9) AS top_bigram_frac
    FROM bm
""")
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals for corpus filtering (the Gopher-rules family,
    Rae et al. 2021 §A1.1: high duplicate-word / duplicate-n-gram fractions
    mark boilerplate and degenerate text):

    - ``dup_word_frac``  = 1 − |distinct words| / |words|
    - ``top_bigram_frac`` = occurrences of the most frequent bigram / #bigrams

    Entirely per-row codegen — bigrams come from a ``transform`` over index
    offsets, and the max bigram multiplicity is the longest equal-adjacent
    run of the *sorted* bigram array (one ``aggregate`` fold), so the whole
    operator is a narrow map whose only exchange is the spread repartition
    (a small (id, text) scatter that floors the fold's parallelism when
    the table is row-group-starved — see sources/catalog.load_table). The
    oracle computes the same multiplicity relationally
    (unnest → GROUP BY) — two shapes, one answer. Ratios are single
    divisions of exact ints, rounded 9 dp belt-and-braces."""
    d = _t(spark, sf_dir, "documents", spread=True)  # CPU-heavy narrow map
    base = d.select("doc_id", TX.words("text").alias("ws")).filter(F.size("ws") >= 2)
    bgs = F.expr(
        "array_sort(transform(sequence(1, size(ws) - 1),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))))"
    )
    # Longest equal-adjacent run in the sorted array == max multiplicity.
    # seq(2, greatest(2, n)) probes try_element_at(bgs, 2) = NULL when
    # n == 1 (ANSI-safe); NULL = x is NULL, the CASE falls to ELSE 1, and
    # best stays 1 — correct for a single-bigram doc.
    max_run = F.expr("""
        aggregate(
          sequence(2, greatest(size(bgs), 2)),
          struct(1 AS run, 1 AS best),
          (acc, i) -> struct(
            CASE WHEN try_element_at(bgs, i) = try_element_at(bgs, i - 1)
                 THEN acc.run + 1 ELSE 1 END AS run,
            greatest(acc.best,
                     CASE WHEN try_element_at(bgs, i) = try_element_at(bgs, i - 1)
                          THEN acc.run + 1 ELSE 1 END) AS best),
          acc -> acc.best)
    """)
    return (
        base.select("doc_id", F.size("ws").alias("nw"),
                    F.size(F.array_distinct("ws")).alias("nd"),
                    bgs.alias("bgs"))
        .select(
            "doc_id",
            F.round(F.lit(1.0) - F.col("nd").cast("double") / F.col("nw"), 9)
             .alias("dup_word_frac"),
            F.round(max_run.cast("double") / F.size("bgs"), 9)
             .alias("top_bigram_frac"),
        )
    )


@register("unigram_logprob", """
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    t AS (SELECT doc_id, unnest(ws) AS term FROM w),
    freq AS (SELECT term, COUNT(*) AS c FROM t GROUP BY term),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM freq)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(-LN(CAST(c AS DOUBLE) / n_total)), 6) AS avg_neg_logprob
    FROM t JOIN freq USING (term) CROSS JOIN tot
    GROUP BY doc_id
""")
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM scoring — the cheapest member of the
    perplexity-filter family (CCNet, Wenzek et al. 2020, uses a KenLM
    5-gram; the unigram case needs no external model): score(doc) =
    mean over tokens of −ln p(token), p = corpus relative frequency.
    High scores flag rare-token gibberish, low scores flag stopword soup.

    Shape at 100 TB: one explode + hash-agg builds the vocabulary (partial
    combine keeps the shuffle at |vocab|, not |tokens|), the vocab then
    BROADCASTS back onto the token stream (vocab ≪ corpus — the classic
    model-train/model-apply asymmetry), and the per-doc agg shuffles on
    doc_id. Rounded 6 dp — far above both libm ln ulps and double
    summation-order wobble (~1e-13 on ~500-term sums)."""
    d = _t(spark, sf_dir, "documents", spread=True)  # explode feeds partial agg
    # NO token-stream checkpoint here (r15, VERDICT #4): the r14 lazy
    # localCheckpoint regressed this query +20% — with only TWO readers
    # (vocab build, apply join) the checkpoint's plan-finalization trip
    # plus materializing the exploded rows cost more than recomputing
    # one cheap scan+split+explode; A/B'd quiet this round (see
    # OPTIMIZATION_r15.md). bigram/kneser-ney (heavier streams) and
    # perplexity_buckets (three readers) keep theirs.
    t = d.select("doc_id", F.explode(TX.words("text")).alias("term"))
    freq = t.groupBy("term").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").cast("bigint").alias("n_total"))
    return (
        t.join(F.broadcast(freq), "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("c").cast("double") / F.col("n_total"))), 6
            ).alias("avg_neg_logprob"),
        )
    )


@register("pagerank_simgraph", """
    WITH RECURSIVE base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200
    ),
    sims AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             list_inner_product(a.v, b.v) AS dot
      FROM base a JOIN base b ON a.vec_id <> b.vec_id
    ),
    knn AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY dot DESC, dst) AS rn
        FROM sims) WHERE rn <= 3
    ),
    -- NB: inside WITH RECURSIVE, DuckDB gives any CTE whose body is a
    -- top-level UNION the recursive-union treatment even when it does not
    -- self-reference, losing cross-branch dedup; keep the union in a
    -- subquery under an explicit DISTINCT.
    edges0 AS (SELECT DISTINCT src, dst FROM
                 (SELECT src, dst FROM knn
                  UNION ALL SELECT dst, src FROM knn)),
    deg AS (SELECT src, COUNT(*) AS odeg FROM edges0 GROUP BY src),
    edges AS (SELECT e.src, e.dst, d.odeg FROM edges0 e JOIN deg d USING (src)),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM base),
    pr AS (
      SELECT 0 AS iter, src AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg
      UNION ALL
      SELECT pr.iter + 1, e.dst,
             0.15 / (SELECT n FROM nn) + 0.85 * SUM(pr.rank / e.odeg)
      FROM pr JOIN edges e ON pr.node = e.src
      WHERE pr.iter < 10
      GROUP BY pr.iter + 1, e.dst
    )
    SELECT node AS vec_id, ROUND(rank, 6) AS pagerank
    FROM pr WHERE iter = 10
""")
def q_pagerank_simgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetrized 3-NN similarity graph (bounded id
    range): rank = centrality within the embedding manifold — the classic
    graph-signal for coreset/curriculum selection over training corpora
    (high-rank ≈ dense-region representatives, low-rank ≈ outliers).

    Pipeline: exact 3-NN by dot product (window top-k per src, ties to the
    smaller vec_id) → symmetrize → operators/components.pagerank, 10 fixed
    iterations, d = 0.85. Fixed iteration count keeps it oracle-expressible
    (bounded recursive CTE with aggregation). Float sums cross engines in
    different orders; ranks rounded 6 dp ≫ the ~1e-13 drift."""
    from pyspark.sql.window import Window as W

    from parquetaivectorsearch_spark.operators.components import pagerank

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    a = emb.select(F.col("vec_id").alias("src"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("dst"), F.col("v").alias("vb"))
    # explicit broadcast of the bounded 200-row side (r15, guide §3.1 /
    # VERDICT #5) — pins the BNLJ build side instead of leaving it to
    # size estimates
    sims = (
        a.join(F.broadcast(b), F.col("src") != F.col("dst"))
        .select("src", "dst", V.dot("va", "vb").alias("dot"))
    )
    knn3 = (
        sims.withColumn(
            "rn", F.row_number().over(W.partitionBy("src").orderBy(F.desc("dot"), "dst"))
        )
        .filter(F.col("rn") <= 3)
        .select("src", "dst")
    )
    edges = knn3.union(
        knn3.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    ranks = pagerank(edges, n_iter=10, damping=0.85)
    return ranks.select(
        F.col("node").alias("vec_id"), F.round("rank", 6).alias("pagerank")
    )


@register("pagerank_simgraph_full")  # rows-only: ANN-built edge set
def q_pagerank_simgraph_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus similarity-graph PageRank (VERDICT r6 item 6): the 3-NN
    edges come from operators/ann.knn_graph — an IVF-blocked co-partitioned
    join (within-list candidates only, no broadcast of the query side) —
    instead of pagerank_simgraph's vec_id < 200 all-pairs θ-join. This is
    the shape that survives 100 TB: graph build cost is Σ per-list blocks,
    pagerank itself is the same 2-shuffle-per-round loop. nlist is
    corpus-adaptive (knn_graph's default, N / 512): a FIXED list count
    makes within-list pair work quadratic in corpus size — with adaptive
    lists and fixed nprobe the scored-pair count stays ~N × nprobe × 512,
    i.e. linear (measured across a 10× corpus in SCALING.md). The edge
    set is approximate (recall vs the exact graph is pinned in
    tests/test_ann.py) → rows-only. Symmetrizing the kNN edges also
    discharges pagerank's no-dangling-node precondition by
    construction."""
    from parquetaivectorsearch_spark.operators import ann as ANN
    from parquetaivectorsearch_spark.operators.components import pagerank

    emb = _t(spark, sf_dir, "embeddings")
    g = ANN.knn_graph(emb, k=3, nprobe=4).select("src", "dst")
    edges = g.union(
        g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    ranks = pagerank(edges, n_iter=10, damping=0.85)
    return ranks.select(
        F.col("node").alias("vec_id"), F.round("rank", 6).alias("pagerank")
    )


@register("dedup_minhash_incremental")  # rows-only: xxhash64 minhash is Spark-specific
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup over two arrival batches (even doc_ids seed the
    signature store, odd doc_ids arrive second): each call pairs ONLY the
    arriving batch against the persisted corpus state — the O(batch)
    per-arrival cost a 100 TB pipeline needs instead of re-running the
    full O(corpus) LSH join. Same seeds ⇒ the two calls' pairs compose
    EXACTLY to the batch pipeline's (pinned in tests/test_dedup.py)."""
    import tempfile

    from parquetaivectorsearch_spark.operators.dedup import (
        minhash_dedup_incremental,
    )

    d = _t(spark, sf_dir, "documents")
    store = tempfile.mkdtemp(prefix="mh_store_") + "/state"
    p1 = minhash_dedup_incremental(d.filter(F.col("doc_id") % 2 == 0), store,
                                   threshold=0.6)
    p2 = minhash_dedup_incremental(d.filter(F.col("doc_id") % 2 == 1), store,
                                   threshold=0.6)
    return p1.union(p2).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


@register("pretokenize_pieces", """
    WITH p AS (
      SELECT unnest(regexp_extract_all(text,
        '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]{1,3}| ?[^\\sA-Za-z0-9]+|\\s+'
      )) AS piece
      FROM documents
    )
    SELECT piece, COUNT(*) AS n
    FROM p GROUP BY piece ORDER BY n DESC, piece LIMIT 50
""")
def q_pretokenize_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cl100k-style pre-tokenization piece frequencies (the regex stage in
    front of BPE — tiktoken's public pattern family, the same pattern
    functions/text._BPE_ISH and the BPE trainer use). Runs fully JVM-side
    via regexp_extract_all, so unlike the BPE merge loop this stage is
    HASH-CHECKED against the oracle (Java regex and DuckDB's RE2 agree on
    this alternation's leftmost-first semantics). Plan: narrow extract →
    explode → partial-agg → one |vocab|-keyed shuffle → TakeOrdered."""
    pat = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]{1,3}| ?[^\sA-Za-z0-9]+|\s+"
    d = _t(spark, sf_dir, "documents", spread=True)
    p = d.select(
        F.explode(F.regexp_extract_all("text", F.lit(pat), 0)).alias("piece"))
    return (
        p.groupBy("piece").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "piece").limit(50)
    )


@register("dedup_substring", """
    WITH d AS (
      SELECT doc_id, text, length(text) - 31 AS n_w
      FROM documents WHERE length(text) >= 32
    ),
    k AS (
      SELECT doc_id, text, n_w,
             list_transform(generate_series(1, n_w),
               i -> md5(substring(text, CAST(i AS INTEGER), 32))
                    || lpad(CAST(i AS VARCHAR), 10, '0')) AS keys
      FROM d
    ),
    sel AS (
      SELECT doc_id, text,
             list_distinct(list_transform(generate_series(1, n_w),
               q -> list_min(list_slice(keys, CAST(q AS INTEGER),
                                        CAST(q + 15 AS INTEGER))))) AS winners
      FROM k
    ),
    w AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || substr(wk, 1, 15)) AS BIGINT) AS win
      FROM sel, unnest(winners) AS t(wk)
    ),
    keep AS (
      SELECT win FROM w GROUP BY win HAVING COUNT(*) BETWEEN 2 AND 10
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_windows
    FROM w a
    JOIN keep k2 ON a.win = k2.win
    JOIN w b ON b.win = a.win AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
""")
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better": exact overlapping spans, not token-set
    similarity): winnowed 32-char windows per doc (Schleimer et al. 2003
    content-defined selection, w=16) → window-content hash-join → doc
    pairs with their shared-window counts. Completes the dedup family
    ladder (exact doc / MinHash / SimHash / embedding / n-gram-jaccard /
    exact substring).

    Scale shape: the window stage is a narrow map (no shuffle; the
    winnowing min-scan is a per-doc codegen'd array fold); the only heavy
    op is one shuffle keyed on window content. The suffix-array of the
    paper is a single-machine structure — winnowed fingerprinting is its
    standard distributed substitute, and because selection is
    content-defined (min-md5 per run of 16 windows, NOT stride-aligned
    sampling) shared spans ≥ 47 chars are caught regardless of their
    alignment in either doc. The HAVING ≤ 10 stop-window cap bounds join
    fan-out on boilerplate windows (the skew guard: a window in
    ten-thousand docs is template noise, and each such key would
    otherwise explode quadratically). Since r12 the oracle path ships
    the 60-bit md5 PREFIX of the winner key as an 8-byte join key
    (replayed exactly by DuckDB's '0x'||substr cast — the kmv conv
    trick) instead of re-extracting the 32-char window; production
    corpora run the hashed=True twin, which winnows directly on
    xxhash64 longs and skips md5 entirely (A/B in SCALING.md)."""
    from parquetaivectorsearch_spark.operators.dedup import substring_dup_pairs

    d = _t(spark, sf_dir, "documents", spread=True)
    # hashed=False: raw window strings so DuckDB can replay the grouping;
    # production corpora run the hashed=True twin (8-byte shuffle keys) —
    # pair-set equality of the two is pinned in tests/test_dedup.py.
    return substring_dup_pairs(d, window=32, stride=16,
                               max_docs_per_window=10, hashed=False)


@register("dedup_cdc")  # rows-only: gear-hash chunking is engine-specific
def q_dedup_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup accounting (operators/cdc.py,
    FastCDC lineage): gear rolling-hash boundaries move with the content,
    so shifted verbatim reuse re-synchronizes and dedupes on plain chunk-
    hash equality — no shingles, no banding, no window self-join; rows
    through the one shuffle = chunks (bytes/avg_size), not characters.
    avg 64 / min 16 / max 256 byte chunks fit the ~300-char fixture docs.
    Boundary determinism, min/max bounds, and the ≥80% resync-after-
    misalignment property are pinned in tests/test_cdc.py. Output: per-doc
    cross-doc-duplicated chunk/byte counts for docs with ≥1 dup chunk."""
    from parquetaivectorsearch_spark.operators.cdc import cdc_dedup_stats

    return (cdc_dedup_stats(_t(spark, sf_dir, "documents"),
                            avg_size=64, min_size=16, max_size=256)
            .orderBy("doc_id"))


@register("dedup_substring_removal", """
    WITH w AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos, length(text) AS len,
             substring(text, CAST(i AS INTEGER), 32) AS win
      FROM documents, unnest(generate_series(1, length(text) - 31)) AS t(i)
      WHERE length(text) >= 32
    ),
    k AS (
      SELECT win, MIN(doc_id) AS keeper, COUNT(DISTINCT doc_id) AS nd
      FROM w GROUP BY win
    ),
    m AS (
      SELECT w.doc_id, w.pos, w.len
      FROM w JOIN k USING (win) WHERE k.nd >= 2 AND w.doc_id > k.keeper
    ),
    o AS (
      SELECT doc_id, pos, len,
             MAX(pos + 31) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM m
    ),
    i2 AS (
      SELECT doc_id, pos, len,
             SUM(CASE WHEN pmax IS NULL OR pos > pmax + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM o
    ),
    sp AS (
      SELECT doc_id, isl, MIN(pos) AS s, MAX(pos) + 31 AS e,
             ANY_VALUE(len) AS len
      FROM i2 GROUP BY doc_id, isl
    ),
    p AS (
      SELECT sp.doc_id, sp.s, sp.e, sp.len, d.text,
             COALESCE(LAG(sp.e) OVER (PARTITION BY sp.doc_id ORDER BY sp.s),
                      0) AS pe
      FROM sp JOIN documents d USING (doc_id)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS chars_removed,
           CAST(ANY_VALUE(len) - SUM(e - s + 1) AS BIGINT) AS clean_len,
           md5(string_agg(substring(text, pe + 1, s - pe - 1), '' ORDER BY s)
               || substring(ANY_VALUE(text), MAX(e) + 1)) AS clean_md5
    FROM p GROUP BY doc_id
""")
def q_dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of Lee et al. 2022 (the paper CUTS duplicated
    spans; dedup_substring only reports pairs): dense 32-char windows,
    min-doc_id holder keeps its copy, every other holder loses the merged
    marked spans (gaps-and-islands coalescing). clean_md5 hash-checks the
    STITCHED remaining text against the oracle — the reconstruction
    itself is oracle-verified, not just counts. Dense windows (one per
    char) are deliberate: inside a shared span every window is shared, so
    removal covers full spans with no winnowing/alignment caveat; the
    O(corpus bytes) aggregate is the same asymptotic bill the paper's
    suffix array pays, distributed (operators/dedup.py
    substring_span_removal, hashed twin for the 100 TB run)."""
    from parquetaivectorsearch_spark.operators.dedup import (
        substring_span_removal,
    )

    d = _t(spark, sf_dir, "documents", spread=True)
    return substring_span_removal(d, window=32, hashed=False)


@register("bpe_merge_step", """
    WITH w AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    p AS (
      SELECT substring(w, CAST(i AS INTEGER), 2) AS pair
      FROM w, unnest(generate_series(1, greatest(length(w) - 1, 1))) AS t(i)
    )
    SELECT pair, COUNT(*) AS n
    FROM p WHERE length(pair) = 2
    GROUP BY pair ORDER BY n DESC, pair LIMIT 20
""")
def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training step (Sennrich et al. 2016 §3: merge the most
    frequent adjacent symbol pair): corpus-wide adjacent character-pair
    counts within words, top 20. This is the inner loop of tokenizer
    induction — at 100 TB it is explode → partial-agg → one shuffle of
    |alphabet|² keys → TakeOrdered, the same shape as vocab_top_words.
    Counts are exact ints; ties break on the pair string."""
    d = _t(spark, sf_dir, "documents", spread=True)  # explode feeds partial agg
    w = d.select(F.explode(TX.words("text")).alias("w"))
    pairs = w.select(
        F.explode(
            F.expr("transform(sequence(1, greatest(length(w) - 1, 1)),"
                   " i -> substring(w, i, 2))")
        ).alias("pair")
    ).filter(F.length("pair") == 2)
    return (
        pairs.groupBy("pair").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "pair").limit(20)
    )


@register("doc_char_entropy", """
    WITH c AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents WHERE length(text) > 0
    ),
    cc AS (SELECT doc_id, ch, COUNT(*) AS n FROM c GROUP BY doc_id, ch),
    tot AS (SELECT doc_id, SUM(n) AS t FROM cc GROUP BY doc_id)
    SELECT cc.doc_id,
           ROUND(-SUM((n / CAST(t AS DOUBLE)) * log2(n / CAST(t AS DOUBLE))), 6)
             AS char_entropy
    FROM cc JOIN tot USING (doc_id) GROUP BY cc.doc_id
""")
def q_doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character Shannon entropy — the classic gibberish /
    encoding-garbage signal (low ⇒ repeated-char degenerate text, high ⇒
    random bytes; natural language sits ~4-4.5 bits for English). Exact
    integer counts through two hash-aggs; the -Σ p·log2 p sum is rounded
    6 dp above cross-engine summation-order drift (~70 terms)."""
    d = _t(spark, sf_dir, "documents", spread=True).filter(F.length("text") > 0)
    c = d.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("ch"))
    cc = c.groupBy("doc_id", "ch").agg(F.count("*").alias("n"))
    tot = cc.groupBy("doc_id").agg(F.sum("n").alias("t"))
    p = F.col("n") / F.col("t").cast("double")
    return (
        cc.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(-F.sum(p * F.log2(p)), 6).alias("char_entropy"))
    )


@register("pmi_collocations", """
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    uni AS (
      SELECT t.w AS word, COUNT(*) AS c
      FROM w, unnest(ws) AS t(w) GROUP BY t.w
    ),
    n_uni AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    bi AS (
      SELECT ws[CAST(i AS INTEGER)] AS w1, ws[CAST(i + 1 AS INTEGER)] AS w2,
             COUNT(*) AS c_ab
      FROM w, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS t(i)
      GROUP BY 1, 2
    ),
    n_bi AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n FROM bi)
    SELECT w1, w2, c_ab,
           ROUND(LN((CAST(c_ab AS DOUBLE) / nb.n)
                 / ((CAST(a.c AS DOUBLE) / nu.n) * (CAST(b.c AS DOUBLE) / nu.n))), 6)
             AS pmi
    FROM bi
    JOIN uni a ON a.word = w1
    JOIN uni b ON b.word = w2
    CROSS JOIN n_uni nu CROSS JOIN n_bi nb
    WHERE c_ab >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 20
""")
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information (Church & Hanks
    1990): PMI(a,b) = ln(p(ab) / (p(a)p(b))) over adjacent word pairs,
    keeping pairs seen ≥ 5 times — the phrase-induction companion to
    `bpe_merge_step` (frequency merges) for tokenizer/vocab work. Shape:
    two explode+hash-agg passes (unigrams, bigrams), two broadcast
    re-joins of the unigram table onto the bigram counts, TakeOrdered.
    PMI rounded 6 dp before ranking; ties break on the pair."""
    d = _t(spark, sf_dir, "documents", spread=True)
    ws = d.select("doc_id", TX.words("text").alias("ws"))
    uni = (ws.select(F.explode("ws").alias("word"))
           .groupBy("word").agg(F.count("*").alias("c")))
    n_uni = uni.agg(F.sum("c").cast("bigint").alias("n_u"))
    # NB: filter ≥ 2 words BEFORE the index transform — Spark's
    # sequence(1, 0) is DESCENDING [1, 0], so an unguarded 1-word doc
    # would probe element_at 0/2 and throw under ANSI mode.
    bigrams = ws.filter(F.size("ws") >= 2).select(F.explode(F.expr(
        "transform(sequence(1, size(ws) - 1),"
        " i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"
    )).alias("p")).select("p.w1", "p.w2")
    bi = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    n_bi = bi.agg(F.sum("c_ab").cast("bigint").alias("n_b"))
    pmi = F.round(
        F.log((F.col("c_ab").cast("double") / F.col("n_b"))
              / ((F.col("c_a").cast("double") / F.col("n_u"))
                 * (F.col("c_b").cast("double") / F.col("n_u")))), 6)
    return (
        bi.filter(F.col("c_ab") >= 5)
        .join(F.broadcast(uni.select(F.col("word").alias("w1"),
                                     F.col("c").alias("c_a"))), "w1")
        .join(F.broadcast(uni.select(F.col("word").alias("w2"),
                                     F.col("c").alias("c_b"))), "w2")
        .join(F.broadcast(n_uni)).join(F.broadcast(n_bi))
        .select("w1", "w2", "c_ab", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2").limit(20)
    )


@register("dedup_boilerplate", """
    WITH d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    s AS (
      SELECT doc_id, CAST(t.i AS INTEGER) AS seg_id,
             array_to_string(list_slice(ws, t.i * 8 + 1, t.i * 8 + 8), ' ')
               AS seg
      FROM d, unnest(generate_series(0,
             CAST(ceil(len(ws) / 8.0) AS INTEGER) - 1)) AS t(i)
      WHERE len(ws) > 0
    ),
    f AS (SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM s GROUP BY seg),
    j AS (
      SELECT s.doc_id, s.seg_id, s.seg, (f.nd >= 2) AS dup
      FROM s JOIN f USING (seg)
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
           CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(COALESCE(length(string_agg(CASE WHEN NOT dup THEN seg END,
                                           ' ' ORDER BY seg_id)), 0)
                AS INTEGER) AS clean_chars,
           md5(COALESCE(string_agg(CASE WHEN NOT dup THEN seg END,
                                   ' ' ORDER BY seg_id), '')) AS clean_md5
    FROM j GROUP BY doc_id
    HAVING SUM(CASE WHEN dup THEN 1 ELSE 0 END) >= 1
""")
def q_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb line-level boilerplate removal (Raffel 2020 §2.2,
    Penedo 2023): drop every occurrence of any segment held by ≥ 2
    distinct docs, stitch the remainder, hash-check the RECONSTRUCTION.
    Segments are fixed 8-word blocks (the fixture has no newlines; real
    corpora use the newline split — identical plan). One content-keyed
    hash aggregate for frequency (no pair join — million-doc boilerplate
    costs one reduced row per holder), one groupBy for the stitch.
    hashed=False here so DuckDB replays the count on raw segments; the
    scale path ships xxhash64 keys (operators/dedup.py
    boilerplate_segment_removal)."""
    d = _t(spark, sf_dir, "documents", spread=True)
    return DD.boilerplate_segment_removal(
        d, seg_words=8, min_docs=2, hashed=False)


@register("zipf_fit", """
    WITH w AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    c AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word),
    r AS (
      SELECT n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) AS INTEGER)
               AS rank
      FROM c
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
           ROUND(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))),
                 6) AS slope,
           ROUND(regr_intercept(ln(CAST(n AS DOUBLE)),
                                ln(CAST(rank AS DOUBLE))), 6) AS intercept,
           ROUND(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
             AS r2
    FROM r WHERE rank <= 200
""")
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank–frequency fit over the top-200 vocabulary: OLS of
    ln(freq) on ln(rank) — slope ≈ −1 is the natural-language signature;
    a flat slope flags templated/synthetic text, a cliff flags degenerate
    repetition. The corpus-level cousin of repetition_score. Scale
    shape: explode → map-side-combined count (|vocab| keys), top-200 by
    one TakeOrdered-sized window, then a 4-accumulator regression agg on
    200 rows — the heavy stage is the same single shuffle
    vocab_top_words pays. Rounded 6 dp over ~200-term covariance sums
    (well above summation-order drift)."""
    d = _t(spark, sf_dir, "documents", spread=True)
    c = (d.select(F.explode(TX.words("text")).alias("word"))
         .groupBy("word").agg(F.count("*").alias("n")))
    from pyspark.sql.window import Window as W
    r = (c.withColumn(
            "rank",
            F.row_number().over(W.orderBy(F.desc("n"), "word")).cast("int"))
         .filter(F.col("rank") <= 200))
    ly, lx = F.log(F.col("n").cast("double")), F.log(F.col("rank").cast("double"))
    return r.agg(
        F.count("*").cast("bigint").alias("n_ranks"),
        F.round(F.regr_slope(ly, lx), 6).alias("slope"),
        F.round(F.regr_intercept(ly, lx), 6).alias("intercept"),
        F.round(F.regr_r2(ly, lx), 6).alias("r2"),
    )


@register("split_leakage", f"""
    WITH s AS (
      SELECT doc_id, text,
             CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                  WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents WHERE doc_id < 150
    ),
    d AS (
      SELECT doc_id, split,
             {_DUCK_NGRAMS.format(t="text", n=3, n_minus_1=2)} AS g
      FROM s
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.split AS split_a, b.split AS split_b,
           CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / len(list_distinct(a.g || b.g)) AS jaccard
    FROM d a, d b
    WHERE a.doc_id < b.doc_id
      AND a.split <> b.split
      AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
            / len(list_distinct(a.g || b.g)) >= 0.5
""")
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval LEAKAGE audit: near-duplicate pairs that STRADDLE the
    deterministic 80/10/10 hash split (split_assign's assignment) — the
    check that a held-out set is actually held out after dedup ran. A
    val/test doc whose near-twin sits in train inflates eval scores
    without any verbatim eval-set contamination (decontaminate's case);
    this is the post-split gate real pipelines run last. Exact 3-gram
    jaccard over the bounded oracle range; at 100 TB the pair source is
    the banded MinHash candidate stream (dedup_minhash) with the SAME
    cross-split filter — the filter composes with any pair generator.
    The cross-split predicate prunes BEFORE jaccard scoring: only
    cross-split candidate pairs pay the verify cost."""
    # r15 (guide §2.3): code-point-packed gram arrays + the exact
    # integer J ≥ 0.5 gate — one primitive array_intersect per
    # candidate pair, identical pair set (see ngram_jaccard_pairs)
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", TX.char_ngram_codes("text", 3).alias("g"))
    )
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 100
    split = (F.when(bucket < 80, "train")
             .when(bucket < 90, "val")
             .otherwise("test"))
    d = d.withColumn("split", split)
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"),
                 F.col("split").alias("split_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"),
                 F.col("split").alias("split_b"))
    return (
        a.join(b, (F.col("doc_a") < F.col("doc_b"))
               & (F.col("split_a") != F.col("split_b"))
               # J >= 0.5 forces 2*min >= max (r14, guide §3.2)
               & (F.least(F.size("ga"), F.size("gb")) * 2
                  >= F.greatest(F.size("ga"), F.size("gb")))
               & TX.jaccard_gate_half("ga", "gb"))
        .select("doc_a", "doc_b", "split_a", "split_b",
                TX.jaccard_of_sets("ga", "gb").alias("jaccard"))
    )


@register("heaps_law", """
    WITH d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    mx AS (SELECT MAX(doc_id) AS m FROM d),
    dec AS (
      SELECT CAST(t.k AS INTEGER) AS decile,
             CAST(floor(mx.m * t.k / 10.0) AS BIGINT) AS cutoff
      FROM mx, unnest(generate_series(1, 10)) AS t(k)
    ),
    fo AS (
      SELECT w, MIN(doc_id) AS fd
      FROM (SELECT doc_id, unnest(ws) AS w FROM d) GROUP BY w
    ),
    voc AS (
      SELECT dec.decile, COUNT(*) AS n_vocab
      FROM dec JOIN fo ON fo.fd <= dec.cutoff GROUP BY dec.decile
    ),
    tok AS (
      SELECT dec.decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(d.ws)) AS BIGINT) AS n_tokens
      FROM dec JOIN d ON d.doc_id <= dec.cutoff GROUP BY dec.decile
    )
    SELECT voc.decile, tok.n_docs, tok.n_tokens,
           CAST(voc.n_vocab AS BIGINT) AS n_vocab
    FROM voc JOIN tok USING (decile)
""")
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: distinct-vocabulary size after
    each successive tenth of the corpus (by doc_id order) next to the
    token count — sublinear growth (V ~ n^β, β ≈ 0.5-0.7) is the
    natural-text signature; a flat curve flags a closed template
    vocabulary, a linear one flags id-like token noise. The naive shape
    (count DISTINCT per prefix) re-scans the corpus 10×; the scale shape
    here aggregates each word's FIRST-occurrence doc_id once (one
    shuffle of |vocab| keys), then vocabulary-at-cutoff is a count over
    fd ≤ t against a 10-row broadcast decile table — growth falls out of
    one pass."""
    d = (_t(spark, sf_dir, "documents", spread=True)
         .select("doc_id", TX.words("text").alias("ws")))
    mx = d.agg(F.max("doc_id").alias("m"))
    dec = (mx.select(F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"),
                     "m")
           .select(F.col("decile").cast("int").alias("decile"),
                   F.floor(F.col("m") * F.col("decile") / 10.0)
                   .cast("bigint").alias("cutoff")))
    fo = (d.select("doc_id", F.explode("ws").alias("w"))
          .groupBy("w").agg(F.min("doc_id").alias("fd")))
    voc = (fo.join(F.broadcast(dec), F.col("fd") <= F.col("cutoff"))
           .groupBy("decile").agg(F.count("*").cast("bigint").alias("n_vocab")))
    tok = (d.join(F.broadcast(dec), F.col("doc_id") <= F.col("cutoff"))
           .groupBy("decile").agg(
               F.count("*").cast("bigint").alias("n_docs"),
               F.sum(F.size("ws")).cast("bigint").alias("n_tokens")))
    return voc.join(tok, "decile").select(
        "decile", "n_docs", "n_tokens", "n_vocab")


@register("compression_ratio")  # rows-only: zlib bytes are not SQL-replayable
def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality filter — the repetitiveness signal the
    Gopher/RefinedWeb family applies alongside rule filters: highly
    compressible text (low ratio) is boilerplate/template/repetition;
    near-incompressible text is noise or binary junk; natural prose
    sits in a band. stdlib zlib level 6 over UTF-8 bytes in one Arrow
    pass (C-speed per batch, zero joins — the decontaminate_bloom
    narrow-pass shape); deterministic because zlib's output is fixed
    for a given (input, level, strategy). Flags docs outside
    [0.15, 1.0] — fixture docs sit at 0.40-1.02 (short docs carry zlib
    header overhead past 1.0), heavy repetition lands near 0.01. Test
    pins the regimes on known strings."""
    import zlib

    import pandas as pd

    def ratios(batches):
        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            n = raw.map(len)
            r = comp / n.clip(lower=1)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": n.astype("int64"),
                "ratio": r.round(6),
                "flagged": (r < 0.15) | (r > 1.0),
            })

    return (_t(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .mapInPandas(ratios,
                         "doc_id BIGINT, n_bytes BIGINT, ratio DOUBLE,"
                         " flagged BOOLEAN"))


@register("random_walks", """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < 200
    ),
    sims AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             list_inner_product(a.v, b.v) AS dot
      FROM base a JOIN base b ON a.vec_id <> b.vec_id
    ),
    knn AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY dot DESC, dst) AS rn
        FROM sims) t WHERE rn <= 3
    ),
    edges AS (SELECT DISTINCT src, dst FROM
                (SELECT src, dst FROM knn
                 UNION ALL SELECT dst AS src, src AS dst FROM knn) u),
    nbr AS (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
             COUNT(*) OVER (PARTITION BY src) AS odeg
      FROM edges
    ),
    w0 AS (SELECT src AS start, src AS cur, 0 AS step FROM nbr
           GROUP BY src),
    w1 AS (SELECT w.start, n.dst AS cur, 1 AS step FROM w0 w JOIN nbr n
           ON n.src = w.cur
           AND n.idx = (w.cur * 2654435761 + 1 * 2246822519) % n.odeg),
    w2 AS (SELECT w.start, n.dst AS cur, 2 AS step FROM w1 w JOIN nbr n
           ON n.src = w.cur
           AND n.idx = (w.cur * 2654435761 + 2 * 2246822519) % n.odeg),
    w3 AS (SELECT w.start, n.dst AS cur, 3 AS step FROM w2 w JOIN nbr n
           ON n.src = w.cur
           AND n.idx = (w.cur * 2654435761 + 3 * 2246822519) % n.odeg),
    w4 AS (SELECT w.start, n.dst AS cur, 4 AS step FROM w3 w JOIN nbr n
           ON n.src = w.cur
           AND n.idx = (w.cur * 2654435761 + 4 * 2246822519) % n.odeg)
    SELECT start, CAST(step AS INTEGER) AS step, cur AS node FROM (
      SELECT * FROM w0 UNION ALL SELECT * FROM w1 UNION ALL
      SELECT * FROM w2 UNION ALL SELECT * FROM w3 UNION ALL
      SELECT * FROM w4) walks
""")
def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC random walks over the 3-NN similarity graph — the
    DeepWalk/node2vec data-generation stage (Perozzi et al. 2014): the
    walk corpus these methods feed to skip-gram (the engine's
    skipgram_pairs) to learn graph embeddings. One 4-step walk per
    node; the 'random' neighbor choice is a Knuth-hash of
    (current node, step) mod out-degree over the dst-sorted adjacency —
    reproducible under any partitioning AND SQL-expressible, so the
    whole walk corpus is hash-gated (each step is one equi-join of the
    frontier against the indexed adjacency list — L joins for L steps,
    the distributed walk shape at any graph size). Same bounded
    vec_id < 200 θ-join graph as pagerank_simgraph; the full-corpus
    variant rides knn_graph exactly as pagerank_simgraph_full does."""
    from pyspark.sql.window import Window as W

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    a = emb.select(F.col("vec_id").alias("src"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("dst"), F.col("v").alias("vb"))
    sims = (a.join(b, F.col("src") != F.col("dst"))
            .select("src", "dst", V.dot("va", "vb").alias("dot")))
    knn3 = (sims.withColumn(
                "rn", F.row_number().over(
                    W.partitionBy("src").orderBy(F.desc("dot"), "dst")))
            .filter(F.col("rn") <= 3).select("src", "dst"))
    edges = knn3.union(
        knn3.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    nbr = edges.select(
        "src", "dst",
        (F.row_number().over(W.partitionBy("src").orderBy("dst")) - 1)
        .alias("idx"),
        F.count("*").over(W.partitionBy("src")).alias("odeg"),
    ).localCheckpoint()
    frontier = (nbr.select("src").distinct()
                .select(F.col("src").alias("start"),
                        F.col("src").alias("cur"),
                        F.lit(0).alias("step")))
    walks = [frontier]
    for s in range(1, 5):
        prev = walks[-1]
        nxt = (prev.join(
                   nbr,
                   (F.col("cur") == F.col("src"))
                   & (F.col("idx") == (F.col("cur") * F.lit(2654435761)
                                       + F.lit(s) * F.lit(2246822519))
                      % F.col("odeg")))
               .select("start", F.col("dst").alias("cur"),
                       F.lit(s).alias("step")))
        walks.append(nxt)
    out = walks[0]
    for w_ in walks[1:]:
        out = out.union(w_)
    return out.select("start", F.col("step").cast("int").alias("step"),
                      F.col("cur").alias("node"))


_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    """Unrolled synchronous label-propagation oracle: the same bounded
    3-NN graph CTEs as random_walks, then one (count, argmin-tie argmax)
    CTE pair per round — aggregation in a recursive CTE term is illegal
    SQL, so rounds unroll exactly as random_walks' steps do."""
    rounds = []
    prev = "l0"
    for t in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
    c{t} AS (
      SELECT e.src, l.label, COUNT(*) AS c
      FROM edges e JOIN {prev} l ON l.node = e.dst
      GROUP BY e.src, l.label
    ),
    l{t} AS (
      SELECT src AS node, label FROM (
        SELECT src, label,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY c DESC, label) AS rn
        FROM c{t}) t WHERE rn = 1
    )""")
        prev = f"l{t}"
    return f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < 200
    ),
    sims AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             list_inner_product(a.v, b.v) AS dot
      FROM base a JOIN base b ON a.vec_id <> b.vec_id
    ),
    knn AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY dot DESC, dst) AS rn
        FROM sims) t WHERE rn <= 3
    ),
    edges AS (SELECT DISTINCT src, dst FROM
                (SELECT src, dst FROM knn
                 UNION ALL SELECT dst AS src, src AS dst FROM knn) u),
    l0 AS (SELECT src AS node, src AS label FROM edges GROUP BY src),
    {",".join(rounds)}
    SELECT node, label AS community FROM {prev}
"""


_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    """Unrolled k-core peel: survivors(t) = nodes with ≥ k neighbors
    among survivors(t−1). Monotone-removal recursion is not expressible
    in a recursive CTE (negation over the recursive term), so rounds
    unroll — the random_walks/LPA precedent. Convergence at the fixture
    within the unroll depth is test-pinned. Every CTE is MATERIALIZED:
    each peel round reads the previous one twice, so an inlined unroll
    re-expands the similarity join 2^rounds times."""
    rounds = []
    prev = "s0"
    for t in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
    s{t} AS MATERIALIZED (
      SELECT node FROM (
        SELECT e.src AS node, COUNT(*) AS c
        FROM edges e
        JOIN s{t - 1} a ON e.src = a.node
        JOIN s{t - 1} b ON e.dst = b.node
        GROUP BY e.src
      ) t WHERE c >= {_KCORE_K}
    )""")
        prev = f"s{t}"
    return f"""
    WITH base AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < 200
    ),
    sims AS MATERIALIZED (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             list_inner_product(a.v, b.v) AS dot
      FROM base a JOIN base b ON a.vec_id <> b.vec_id
    ),
    knn AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY dot DESC, dst) AS rn
        FROM sims) t WHERE rn <= 3
    ),
    edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM
                (SELECT src, dst FROM knn
                 UNION ALL SELECT dst AS src, src AS dst FROM knn) u),
    s0 AS MATERIALIZED (SELECT src AS node FROM edges GROUP BY src),
    {",".join(rounds)}
    SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM edges e
    JOIN {prev} a ON e.src = a.node
    JOIN {prev} b ON e.dst = b.node
    GROUP BY e.src
"""


@register("kcore_membership", _kcore_oracle())
def q_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core extraction (Seidman 1983, 'Network structure and minimum
    degree'): the maximal subgraph where every node keeps ≥ k neighbors
    INSIDE the subgraph — the dense-cluster audit that separates
    near-dup cliques (high mutual connectivity survives the peel) from
    chained-false-positive stars (pendants peel away round one), one
    step past graph_triangles' local view. Computed by iterative
    peeling: each round drops nodes whose within-survivor degree < k;
    a FIXED {_KCORE_ROUNDS}-round unroll keeps it oracle-expressible
    (removal recursion can't be a recursive CTE), and fixture
    convergence inside that depth — round {_KCORE_ROUNDS} ==
    round {_KCORE_ROUNDS - 1} — is pinned in tests along with planted
    clique-vs-pendant behavior. The operator now VERIFIES the fixed
    unroll reached the fixpoint (every survivor's in-core degree ≥ k)
    and raises rather than returning a peel prefix, so a graph deeper
    than the unroll fails loudly instead of silently (VERDICT r11 #1);
    the default rounds=None mode iterates to fixpoint for callers that
    don't need CTE parity. Each round is two semi-joins of the
    edge list against the survivor set + one degree agg (keyed src —
    pre-partitioned edges co-locate every round); survivors only ever
    shrink, so round cost is non-increasing. Output: surviving nodes
    with their final in-core degree. Fixture honesty: the symmetric
    3-NN graph has min degree ≥ 3, so at k=3 every node survives (the
    oracle still checks all 200 in-core degrees) and at k=4 the sparse
    random graph peels to empty (measured) — the clique-survives /
    pendant-cascade-peels semantics live in the planted-graph test."""
    from pyspark.sql.window import Window as W

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    a = emb.select(F.col("vec_id").alias("src"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("dst"), F.col("v").alias("vb"))
    sims = (a.join(b, F.col("src") != F.col("dst"))
            .select("src", "dst", V.dot("va", "vb").alias("dot")))
    knn3 = (sims.withColumn(
                "rn", F.row_number().over(
                    W.partitionBy("src").orderBy(F.desc("dot"), "dst")))
            .filter(F.col("rn") <= 3).select("src", "dst"))
    edges = knn3.union(
        knn3.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint()
    from parquetaivectorsearch_spark.operators.components import kcore

    return kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


@register("label_propagation", _lpa_oracle())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007) over the 3-NN similarity graph — the clustering
    stage that turns a near-dup/similarity graph into topical groups
    without a target cluster count. Every node starts as its own label;
    each of the {_LPA_ROUNDS} rounds replaces it with the most frequent
    neighbor label, ties to the SMALLEST label — integer counts + a total
    tie order make every round deterministic, and a FIXED round count
    makes the output well-defined even where free-running synchronous LPA
    would oscillate (documented in the paper; fixed-T is the standard
    batch remedy). Each round is one equi-join of the label frame against
    the adjacency list plus one (node, label) count-argmax — the Pregel
    message shape: at 100 TB, edges pre-partitioned by dst co-locate the
    join, and the argmax window keys on src so a hub node never sorts
    more rows than its degree in candidate labels. Same bounded
    vec_id < 200 graph as pagerank_simgraph/random_walks; every round of
    the oracle replays the argmax exactly (count DESC, label ASC)."""
    from pyspark.sql.window import Window as W

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    a = emb.select(F.col("vec_id").alias("src"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("dst"), F.col("v").alias("vb"))
    sims = (a.join(b, F.col("src") != F.col("dst"))
            .select("src", "dst", V.dot("va", "vb").alias("dot")))
    knn3 = (sims.withColumn(
                "rn", F.row_number().over(
                    W.partitionBy("src").orderBy(F.desc("dot"), "dst")))
            .filter(F.col("rn") <= 3).select("src", "dst"))
    edges = knn3.union(
        knn3.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint()
    from parquetaivectorsearch_spark.operators.components import (
        label_propagation_sync)
    return label_propagation_sync(edges, rounds=_LPA_ROUNDS)


@register("perplexity_buckets", """
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    b AS (
      SELECT doc_id, ws[i] AS a, ws[i + 1] AS t
      FROM w, unnest(generate_series(1, len(ws) - 1)) AS s(i)
      WHERE len(ws) >= 2
    ),
    f2 AS (SELECT a, t, COUNT(*) AS c2 FROM b GROUP BY a, t),
    f1 AS (SELECT a, CAST(SUM(c2) AS BIGINT) AS c1 FROM f2 GROUP BY a),
    scored AS (
      SELECT doc_id,
             ROUND(AVG(-LN(CAST(c2 AS DOUBLE) / c1)), 6) AS score
      FROM b JOIN f2 USING (a, t) JOIN f1 USING (a)
      GROUP BY doc_id
    ),
    ranked AS (
      SELECT s.doc_id, d.lang, s.score,
             ROW_NUMBER() OVER (PARTITION BY d.lang
                                ORDER BY s.score, s.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY d.lang) AS n
      FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, score,
           CASE WHEN rn * 3 <= n THEN 'head'
                WHEN rn * 3 <= 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
""")
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3: score
    every document with a corpus LM, split each LANGUAGE into
    head/middle/tail terciles; pretraining mixtures keep head+middle) —
    the decision layer on top of bigram_logprob's score. Terciles are
    INTEGER-compare exact: rn·3 ≤ n over a (score, doc_id)-total-ordered
    per-lang row_number, no percent_rank floats to ulp-flip the gate.
    One window per language (shuffle keyed on lang); at 100 TB the
    exact per-lang sort swaps for approx_percentile tercile THRESHOLDS
    broadcast back — a filter, not a sort — with the same head/middle/
    tail semantics (documented swap, blocklist-pattern)."""
    d = _t(spark, sf_dir, "documents", spread=True)
    ws = TX.words("text")
    b = (d.select("doc_id", ws.alias("ws"))
         .filter(F.size("ws") >= 2)
         .select("doc_id", F.explode(F.expr(
             "transform(sequence(1, size(ws) - 1),"
             " i -> struct(element_at(ws, i) as a,"
             "             element_at(ws, i + 1) as t))")).alias("bg"))
         .select("doc_id", F.col("bg.a").alias("a"), F.col("bg.t").alias("t"))
         # lazy checkpoint (r14, guide §5): the bigram stream feeds both
         # the model build (f2) and the apply join — without it the
         # scan+split+explode recomputes once per consumer
         .localCheckpoint(eager=False))
    f2 = b.groupBy("a", "t").agg(F.count("*").alias("c2"))
    f1 = f2.groupBy("a").agg(F.sum("c2").cast("bigint").alias("c1"))
    scored = (
        b.join(f2, ["a", "t"])
        .join(f1, "a")
        .groupBy("doc_id")
        .agg(F.round(F.avg(-F.log(F.col("c2").cast("double") / F.col("c1"))),
                     6).alias("score")))
    from pyspark.sql.window import Window

    wl = Window.partitionBy("lang").orderBy("score", "doc_id")
    ranked = (scored.join(d.select("doc_id", "lang"), "doc_id")
              .withColumn("rn", F.row_number().over(wl))
              .withColumn("n", F.count("*").over(Window.partitionBy("lang"))))
    return ranked.select(
        "doc_id", "lang", "score",
        F.when(F.col("rn") * 3 <= F.col("n"), "head")
        .when(F.col("rn") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail").alias("bucket"))


_GT_N = 8  # shingle width — the word stream is degenerate here (31-word
           # closed vocab, zero hapaxes); 8-char shingles give a live tail


@register("good_turing_vocab", f"""
    WITH d AS (SELECT text FROM documents WHERE length(text) >= {_GT_N}),
    s AS (
      SELECT substring(text, CAST(i AS INTEGER), {_GT_N}) AS sh
      FROM d, unnest(generate_series(1, length(text) - {_GT_N - 1})) t(i)
    ),
    c AS (SELECT sh, COUNT(*) AS n FROM s GROUP BY sh)
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(SUM(n) AS BIGINT) AS total,
           ROUND(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / SUM(n), 6) AS p0_unseen,
           ROUND(COUNT(*)
                 + (CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                    * SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END))
                   / (2.0 * GREATEST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END),
                                     1)), 6) AS chao1_est
    FROM c
""")
def q_good_turing_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unseen-mass and total-vocabulary estimation — the 'how much of the
    distribution has this corpus NOT seen yet' health metrics next to
    zipf_fit/heaps_law: Good-Turing missing mass p₀ = N₁/N (Good 1953 —
    the probability the next sampled shingle is a NEW type, the quantity
    Kneser-Ney discounting reserves) and the Chao1 richness estimate
    V + N₁²/(2N₂) (Chao 1984 — a lower bound on the true type count).
    Species = {_GT_N}-char shingles (the word stream is a closed 31-type
    vocabulary here — degenerate, documented). Everything folds from ONE
    frequency-of-frequencies pass: shingle counts → (N₁, N₂, V, N) in a
    single global agg, so at 100 TB this is a map-side-combinable count
    per shingle plus four scalars. The p₀-predicts-held-out-novelty
    property is test-pinned on a split corpus."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") >= _GT_N)
    # NB (r14 measured negative): materializing the shingles as a
    # transform(...) array before the explode is NOT a win — whole-stage
    # codegen pipelines Generate+Project, so the "carried" text column
    # is a pointer in generated code, not a per-row copy, while the
    # array form pays a real per-doc array allocation (+0.2s here).
    sh = (d.select(F.explode(F.sequence(
              F.lit(1), F.length("text") - (_GT_N - 1))).alias("i"), "text")
          .select(F.expr(f"substring(text, i, {_GT_N})").alias("sh")))
    c = sh.groupBy("sh").agg(F.count("*").alias("n"))
    n1 = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    n2 = F.sum(F.when(F.col("n") == 2, 1).otherwise(0))
    return c.agg(
        F.count("*").cast("bigint").alias("vocab"),
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        F.sum("n").cast("bigint").alias("total"),
        F.round(n1.cast("double") / F.sum("n"), 6).alias("p0_unseen"),
        F.round(F.count("*")
                + (n1.cast("double") * n1)
                / (F.lit(2.0) * F.greatest(n2, F.lit(1))), 6)
        .alias("chao1_est"))
