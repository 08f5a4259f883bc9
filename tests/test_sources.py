"""Fixture-parity tests for the events loaders.

Round-4 postmortem: the driver regenerated events.parquet from
TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and both loaders silently assumed the
old encoding — batch died at analysis time, streaming returned *wrong*
timestamps (micros ÷ 1000). This file pins the invariant that would have
caught it instantly: the loaded min/max/count of ``ts`` must equal DuckDB's
independent view of the same parquet file, for both the batch catalog path
and the streaming raw-long path. Neither path may change session conf.
"""

from __future__ import annotations

import shutil

import duckdb
import pyspark.sql.functions as F
import pytest

from parquetaivectorsearch_spark import streaming as S
from parquetaivectorsearch_spark.sources import load_table
from tests.conftest import SF_SMOKE


def _duck_ts_view(path: str):
    con = duckdb.connect()
    lo, hi, n = con.execute(
        f"SELECT epoch_us(min(ts)), epoch_us(max(ts)), count(*) "
        f"FROM read_parquet('{path}')"
    ).fetchone()
    con.close()
    return lo, hi, n


def test_batch_events_ts_matches_duckdb(spark):
    lo, hi, n = _duck_ts_view(f"{SF_SMOKE}/events.parquet")
    ev = load_table(spark, SF_SMOKE, "events")
    assert ev.schema["ts"].dataType.typeName() == "timestamp_ntz"
    row = ev.agg(
        F.min(F.col("ts")).alias("lo"),
        F.max(F.col("ts")).alias("hi"),
        F.count("*").alias("n"),
    ).collect()[0]
    # NTZ wall-clock == DuckDB wall-clock; compare as epoch µs under UTC.
    import datetime as dt

    def us(x):
        return int((x - dt.datetime(1970, 1, 1)).total_seconds() * 10**6 + 0.5)

    assert (us(row.lo), us(row.hi), row.n) == (lo, hi, n)


def test_stream_events_ts_matches_duckdb(spark, tmp_path):
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    load_table(spark, SF_SMOKE, "events")
    lo, hi, n = _duck_ts_view(f"{SF_SMOKE}/events.parquet")
    d = str(tmp_path / "ev")
    (tmp_path / "ev").mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{d}/events.parquet")
    stream = S.read_event_stream(spark, d)
    sink = S.run_available_now(
        stream.groupBy().agg(
            F.min(F.unix_micros("ts")).alias("lo"),
            F.max(F.unix_micros("ts")).alias("hi"),
            F.count("*").alias("n"),
        ),
        "complete",
    )
    row = sink.collect()[0]
    # Streaming rebuilds instants under a UTC reading of the file's
    # wall-clock — epoch µs must equal DuckDB's epoch_us exactly.
    assert (row.lo, row.hi, row.n) == (lo, hi, n)
    # neither the batch loader nor the stream leaves session conf behind
    assert spark.conf.get(key, None) == before


def test_all_tables_match_duckdb_shape(spark):
    """Generic fixture-generation insurance: every catalog table loads with
    the same row count and column set DuckDB sees in the same parquet file.
    A driver-side fixture regeneration that changes a physical type the
    loaders can't normalize shows up here before it corrupts query results."""
    from parquetaivectorsearch_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for name in TABLES:
        path = f"{SF_SMOKE}/{name}.parquet"
        n_duck, = con.execute(
            f"SELECT count(*) FROM read_parquet('{path}')").fetchone()
        cols_duck = [
            r[0] for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()]
        df = load_table(spark, SF_SMOKE, name)
        assert df.count() == n_duck, name
        assert df.columns == cols_duck, name
    con.close()


def test_spread_rebalances_row_group_starved_scan(spark):
    """spread=True must add a rebalance exactly when the footer probe says
    the table is row-group-starved (the fixtures are single-row-group), and
    the pushed-down filter must still reach the scan through it."""
    from parquetaivectorsearch_spark import plans as P

    df = load_table(spark, SF_SMOKE, "lineitem", spread=True).filter(
        F.col("l_orderkey") > 0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange RoundRobinPartitioning" in plan, plan
    assert any("l_orderkey" in p for p in P.pushed_filters(df))


def test_spread_is_noop_on_multi_row_group_table(spark, tmp_path):
    """The 100 TB invariant: a table with ample row groups (the real-world
    layout) must load with NO injected exchange — spread only fires on the
    degenerate few-row-group case, so cheap projection plans stay
    exchange-free at scale."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquetaivectorsearch_spark.sources import catalog as C

    path = str(tmp_path / "many_rgs.parquet")
    tbl = pa.table({"k": list(range(10_000)), "v": [i * 2 for i in range(10_000)]})
    pq.write_table(tbl, path, row_group_size=100)  # 100 row groups
    assert C._num_row_groups(path) == 100
    # mimic load_table's spread decision on a synthetic out-of-catalog table
    df = spark.read.parquet(path)
    slots = spark.sparkContext.defaultParallelism
    assert C._num_row_groups(path) >= max(2, slots // 2)  # condition not met
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
