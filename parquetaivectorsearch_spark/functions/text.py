"""Text analysis functions (SURVEY.md §2.8 + north-star text ops).

The reference's only text ops are concat (Program.cs:79) and cl100k_base
token counting via SharpToken (Program.cs:40,80,88). tiktoken is not in this
container, so token counting comes in three tiers:

1. ``approx_token_count`` — ceil(chars/4), pure Catalyst, oracle-exact.
2. ``word_count`` — whitespace tokens, pure Catalyst, oracle-exact.
3. ``bpe_ish_token_count_udf`` — a pandas UDF running the cl100k-style
   pre-tokenizer regex (the public pattern family from the tiktoken repo,
   simplified to stdlib ``re``); deterministic but not SQL-expressible →
   rows-only oracle check, mirroring SharpToken's rows-only status
   (SURVEY.md §5).

Everything else (n-grams, jaccard, fingerprint) is pure Catalyst with
deterministic integer/double arithmetic so a DuckDB oracle matches exactly.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from parquetaivectorsearch_spark.functions.vector import _col, ColumnOrName

# Public cl100k_base pre-tokenizer shape (tiktoken), reduced to stdlib `re`:
# contractions | optionally-space-prefixed letter runs | 1-3 digit runs |
# punctuation runs | whitespace.
_BPE_ISH = re.compile(
    r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]{1,3}| ?[^\sA-Za-z0-9]+|\s+"
)


def words(text: ColumnOrName) -> Column:
    """Whitespace tokenization → array<string>, empties removed."""
    return F.filter(F.split(F.trim(_col(text)), r"\s+"), lambda w: w != "")


def word_count(text: ColumnOrName) -> Column:
    return F.size(words(text))


def approx_token_count(text: ColumnOrName) -> Column:
    """ceil(len/4): the classic chars-per-token heuristic; the oracle-exact
    stand-in for the reference's TokenCount (DbPedia.cs:10)."""
    return F.ceil(F.length(_col(text)) / F.lit(4)).cast("bigint")


@pandas_udf(T.IntegerType())
def bpe_ish_token_count_udf(texts: pd.Series) -> pd.Series:
    """cl100k-style token count. The regex is module-level — compiled once
    per worker, the same hoisting the reference applies to its "expensive"
    encoder constructor (Program.cs:39-40)."""
    return texts.map(lambda t: len(_BPE_ISH.findall(t)) if t is not None else 0).astype("int32")


def char_ngrams(text: ColumnOrName, n: int = 3) -> Column:
    """Distinct character n-grams as array<string> (shingles for jaccard /
    minhash). Pure Catalyst: sequence + transform + array_distinct."""
    t = _col(text)
    # NB: Spark's sequence(1, 0) is *descending* [1, 0], not empty — guard
    # short strings explicitly (DuckDB's generate_series(1, 0) is empty).
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(t) - F.lit(n - 1)),
            lambda i: F.substring(t, i, n),
        )
    )
    return F.when(F.length(t) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def char_ngram_codes(text: ColumnOrName, n: int = 3) -> Column:
    """Distinct character n-grams ENCODED as code-point-packed bigints:
    code = ((cp₁·2²¹ + cp₂)·2²¹ + …) — INJECTIVE (every Unicode code
    point < 2²¹; n ≤ 3 keeps 21·n ≤ 63 bits). Injectivity rests on
    ``F.ascii`` returning the FULL Unicode code point of the character
    (Spark ≥ 3.x semantics, pinned by the fixture tests on pyspark
    4.1.2); an engine whose ascii() returns the first UTF-8 byte would
    collide distinct grams and silently shift every jaccard built on
    these codes. Given that, |A∩B|, |A| and |B|
    over the coded arrays equal those over ``char_ngrams`` string arrays
    EXACTLY — no hashing, no collisions, the jaccard division sees the
    same integers bit-for-bit. Purpose (r15, guide §2.3 "narrower
    types"): a θ-join's array_intersect over long arrays runs on
    primitive comparisons where the string form pays per-element
    UTF8String hashing — measured ~40% off the trigram pair-join stage
    on top of the integer-threshold rewrite. Use when the gram STRINGS
    never surface in the output; ``char_ngrams`` remains the
    string-facing form."""
    if n < 1 or 21 * n > 63:
        raise ValueError("char_ngram_codes: need 1 <= n <= 3 for a "
                         "collision-free 63-bit pack")
    t = _col(text)

    def pack(i: Column) -> Column:
        code = F.ascii(t.substr(i, F.lit(1))).cast("bigint")
        for j in range(1, n):
            code = code * F.lit(2097152) + F.ascii(
                t.substr(i + F.lit(j), F.lit(1)))
        return code

    grams = F.array_distinct(
        F.transform(F.sequence(F.lit(1), F.length(t) - F.lit(n - 1)), pack))
    return F.when(F.length(t) >= n, grams).otherwise(
        F.array().cast("array<bigint>")
    )


def jaccard_gate_half(ga: ColumnOrName, gb: ColumnOrName) -> Column:
    """The J ≥ 0.5 θ-join gate as a PURE INTEGER predicate:
    J = i/(|A|+|B|−i) ≥ 1/2  ⟺  3·i ≥ |A|+|B| (for |A|+|B| > 0; the
    both-empty pair has J ≡ 0 and is excluded by the size guard) — an
    exact algebraic equivalence, no doubles anywhere. Why it exists
    (r15, guide §2.3/§4 — the minhash verify stage documents the same
    trap): a deterministic ``filter(jaccard ≥ 0.5)`` above the θ-join
    gets pushed into the join as a residual condition AND re-derived in
    the output projection, evaluating array_intersect 2-4× per
    candidate pair; this form needs ONE intersect per candidate, and
    consumers that output the jaccard value re-derive it for survivors
    only — measured ~2× off the trigram pair stage."""
    ga, gb = _col(ga), _col(gb)
    tot = F.size(ga) + F.size(gb)
    return (tot > 0) & (F.size(F.array_intersect(ga, gb)) * 3 >= tot)


def jaccard_of_sets(ga: ColumnOrName, gb: ColumnOrName) -> Column:
    """Jaccard over two precomputed distinct-element arrays, as double.

    One division of two exact ints → bit-deterministic, oracle-exact.
    Precompute the arrays *before* a pairwise join — shingling is O(rows),
    set intersection is O(pairs); fusing them makes shingling O(pairs) too,
    which is the difference between minutes and hours at scale.
    """
    ga, gb = _col(ga), _col(gb)
    inter = F.size(F.array_intersect(ga, gb)).cast("double")
    # |A∪B| = |A| + |B| − |A∩B| for DISTINCT-element arrays (the
    # documented input contract): same exact integers as
    # size(array_union(...)), minus materializing a ~|A|+|B|-element
    # array per PAIR in the pairwise join (r14, guide §2.3 — the union
    # array was most of the θ-join's per-pair bytes; the subtraction is
    # free). Division of the same two ints ⇒ bit-identical doubles.
    union = (F.size(ga) + F.size(gb)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard(a: ColumnOrName, b: ColumnOrName, n: int = 3) -> Column:
    """Jaccard similarity of distinct character n-gram sets, as double.
    Convenience form over raw text; for joins, shingle first and use
    ``jaccard_of_sets`` on the precomputed arrays."""
    return jaccard_of_sets(char_ngrams(a, n), char_ngrams(b, n))


# Polynomial rolling-hash fingerprint: h = (h*B + codepoint) mod P.
# P < 2^31 keeps h*B + c < 2^38 — no int64 overflow under ANSI mode, and the
# identical exact integer arithmetic runs in DuckDB (list_reduce).
FP_BASE = 131
FP_MOD = 1_000_000_007


def polynomial_fingerprint(text: ColumnOrName) -> Column:
    """Deterministic document fingerprint (rolling hash) as bigint."""
    chars = F.split(_col(text), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * F.lit(FP_BASE) + F.ascii(c).cast("bigint")) % F.lit(FP_MOD),
    )
