"""Fixture-table catalog: one parquet file per table under an sf dir.

The reference hardcodes a single directory of dbpedia parquet files
(Program.cs:13-14,31); here the "catalog" is any sf dir with the ten
driver tables (TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str,
               *, spread: bool = False) -> DataFrame:
    """Scan one fixture table. Plain ``spark.read.parquet`` — Catalyst owns
    split planning, vectorized decode, pushdown, pruning (the reference's
    hand-rolled Parallel.ForEach + LogicalReader loop, Program.cs:33-75).

    ``spread=True`` requests a parallelism floor for compute-heavy
    consumers: parquet parallelism bottoms out at one task per row group,
    so a table stored as a handful of row groups runs any scan-fused
    computation (partial aggregation, explode, expression-heavy
    projection) on a handful of cores regardless of cluster size. When —
    and only when — the footer probe says the table is row-group-starved,
    a round-robin repartition to defaultParallelism is appended; filters
    still reach the scan (Catalyst pushes predicates below Repartition).
    On a real multi-TB table (thousands of row groups) this is a no-op,
    so cheap projection queries keep their exchange-free plans by simply
    not asking for it.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    from parquetaivectorsearch_spark.session import ship_package

    ship_package(spark)  # UDF queries must import this package on workers
    if name == "events":
        df = _load_events(spark, sf_dir)
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread:
        slots = spark.sparkContext.defaultParallelism
        if _num_row_groups(f"{sf_dir}/{name}.parquet") < max(2, slots // 2):
            df = df.repartition(slots)
    return df


_RG_CACHE: dict[str, int] = {}


def _num_row_groups(path: str) -> int:
    """Total parquet row groups under ``path`` (file or directory) — the
    hard upper bound on scan-stage parallelism. Footer-only reads, cached
    per path (the fixture files are immutable within a run).

    The probe is local-filesystem-only by nature (glob + pyarrow file
    reads). For a non-local ``sf_dir`` (hdfs://, s3://) or any unreadable
    footer it reports "ample row groups" so ``spread`` stays the
    documented no-op at scale instead of raising (ADVICE r5 #3) — a
    multi-TB DFS table has thousands of row groups anyway."""
    if path not in _RG_CACHE:
        import glob
        import os

        _AMPLE = 1 << 30
        if "://" in path and not path.startswith("file:"):
            return _AMPLE  # non-file URI scheme: not probeable, assume ample
        try:
            import pyarrow.parquet as pq

            local = path.removeprefix("file:")
            files = (sorted(glob.glob(os.path.join(local, "*.parquet")))
                     if os.path.isdir(local) else [local])
            _RG_CACHE[path] = sum(
                pq.ParquetFile(f).metadata.num_row_groups for f in files
            )
        except OSError:
            return _AMPLE
    return _RG_CACHE[path]


def approx_num_rows(df: DataFrame) -> int | None:
    """Source row count from the parquet footers of ``df``'s input files —
    zero Spark jobs. None when the frame has no file inputs or a footer
    is unreachable (non-local DFS). NB: this is the count of the SOURCE
    files, not of the frame after filters — callers must tolerate an
    overestimate (sizing heuristics do; result-correctness paths do not)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    import pyarrow.parquet as pq

    total = 0
    for f in files:
        p = f.removeprefix("file:")
        if "://" in p:
            return None  # non-local DFS: footers not readable from here
        try:
            total += pq.ParquetFile(p).metadata.num_rows
        except OSError:
            return None
    return total or None


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts normalized to TIMESTAMP_NTZ, branching on the dtype the
    scan actually produced — the Spark analog of the reference's schema
    walk before reading (Program.cs:51-63). The fixtures store parquet
    TIMESTAMP(MICROS), which Spark reads as TIMESTAMP_NTZ
    (isAdjustedToUTC=false) — pass through; a UTC-adjusted file arrives as
    TIMESTAMP and is cast to NTZ (lossless under the repo's UTC session
    timezone, session.py:67). No session conf is touched.

    The result matches DuckDB's TIMESTAMP(µs) view of the file (asserted
    in tests/test_sources.py fixture-parity test).
    """
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    from pyspark.sql import types as T

    if isinstance(df.schema["ts"].dataType, T.TimestampType):  # UTC instant
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df  # already TIMESTAMP_NTZ


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}
