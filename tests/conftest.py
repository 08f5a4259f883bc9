from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# Env-overridable so the suite (notably the plan-pinning tests) can be
# re-run at sf0.1, where broadcast-threshold and AQE plan flips that hide
# below the default scale would surface (VERDICT r8 #6).
SF_SMOKE = os.environ.get("PAVS_SF_SMOKE", "/root/testdata/sf0.001")
SF_CORRECT = os.environ.get("PAVS_SF_CORRECT", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from parquetaivectorsearch_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()  # views registered per-test via register_views
    yield con
    con.close()


def register_views(con, sf_dir: str) -> None:
    """Mimic the driver: each fixture table pre-registered as a view."""
    from parquetaivectorsearch_spark.sources.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def executed_plans_and_jobs(spark, fn):
    """Run ``fn`` under a fresh job group → (its physical plans, its job
    count), read back from Spark's status stores."""
    import uuid

    group = f"plan_guard_{uuid.uuid4().hex}"
    sc = spark.sparkContext
    jvm = sc._jvm
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()
        return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            store.executionsList()))

    seen = {e.executionId() for e in executions()}
    sc.setJobGroup(group, "plan and job guard")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    plans = [e.physicalPlanDescription() for e in executions()
             if e.executionId() not in seen]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    return plans, len(jobs)
