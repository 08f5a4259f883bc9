"""parquetaivectorsearch_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capability surface of
``bartczernicki/ParquetAIVectorSearch`` (a .NET parquet → tokenize → HNSW →
KNN pipeline; see /root/reference/Program.cs), extended with the
LLM-data-pipeline operators a 100 TB training-data pipeline needs:
deduplication, similarity search/join, text analysis, multimodal columns,
and streaming window aggregation.

Design principles (SURVEY.md §7):
- DataFrame/SQL first: declare logical plans, let Catalyst/Tungsten pick
  physical strategies (pushdown, pruning, broadcast, AQE).
- Python only on the slow path, and then Arrow-batched, never
  row-at-a-time. The vector kernels are Arrow UDFs / mapInArrow /
  applyInArrow over numpy matrices from ``functions/vector.arrow_matrix``.
- No ``collect()`` inside any operator path; scalar query parameters travel
  as broadcast single-row DataFrames or literals.
- Explicit ids everywhere (``vec_id``/``doc_id``): never rely on row order
  (the reference binds vectors by list position, Program.cs:106-107,256 —
  that contract does not survive distribution).
"""

__version__ = "0.1.0"

# Public operator surface (lazy imports would save nothing here — every
# submodule is pure-Python and Spark-session-free at import time).
from parquetaivectorsearch_spark.operators import (  # noqa: E402,F401
    ann,
    chunking,
    components,
    dedup,
    joins,
    knn,
    multimodal,
    skew,
)
from parquetaivectorsearch_spark.functions import text, vector  # noqa: E402,F401
from parquetaivectorsearch_spark.session import (  # noqa: E402,F401
    get_spark,
    reuse_zip_directories,
    ship_package,
)

reuse_zip_directories()
