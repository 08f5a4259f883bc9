from parquetaivectorsearch_spark.functions.vector import (
    cosine_similarity,
    dot,
    dot_product_distance,
    l2_norm,
    arrow_list,
    arrow_matrix,
    normalize,
    vec_dot_arrow,
)
from parquetaivectorsearch_spark.functions.text import (
    approx_token_count,
    bpe_ish_token_count_udf,
    char_ngrams,
    ngram_jaccard,
    polynomial_fingerprint,
    word_count,
    words,
)

__all__ = [
    "dot",
    "l2_norm",
    "normalize",
    "cosine_similarity",
    "dot_product_distance",
    "vec_dot_arrow",
    "arrow_matrix",
    "arrow_list",
    "approx_token_count",
    "bpe_ish_token_count_udf",
    "char_ngrams",
    "ngram_jaccard",
    "polynomial_fingerprint",
    "word_count",
    "words",
]
