"""SparkSession factory tuned for the engine.

Local-mode defaults mirror the test/bench environment (``local[$SPARK_GRAFT_CPUS]``)
but every knob is the one you would also set on a real cluster:

- AQE on: runtime join-strategy switch, skew-join splitting, partition
  coalescing — the cluster-scale answer to the reference's hand-tuned
  ``MaxDegreeOfParallelism`` (Program.cs:33-37).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a 1000-executor
  cluster this would be ~2-3× total cores (AQE coalesces the excess).
- Arrow enabled for all pandas-UDF exchange (the batched-amortization idea of
  the reference's BATCHSIZE=10k, Program.cs:16, for free).
- ``cpus`` defaults to the cores this process may run on.

It also owns how the engine's Python runs on executors:

- ``ship_package`` makes the package importable on Python workers.
- ``reuse_zip_directories`` (called when the package is imported) stops
  each Python task from re-reading every zip archive on ``sys.path``.
  PySpark calls ``importlib.invalidate_caches()`` at the start of every
  task. On Python < 3.13 that makes each ``zipimporter`` re-read its
  archive's directory: the spark-core jar, ``pyspark.zip`` (one importer
  per imported subpackage) and the shipped package zip. That measured
  ~0.18 s of CPU per task per worker, about half of the wait before a
  trivial task's first batch. The hook re-reads an archive only when its
  ``(st_mtime_ns, st_size)`` changed since it was last read, the key rule
  of the HNSW resident cache. It is installed on workers only, and only
  on Python < 3.13, whose ``invalidate_caches`` is already lazy; the
  driver keeps the stock behaviour.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import sys
import tempfile
import zipfile
import zipimport

from pyspark.core.files import SparkFiles
from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_SHIPPED: set[int] = set()


@functools.cache
def _package_zip() -> str:
    """Zip the package's sources, once per process. The zip's temp dir is
    removed at interpreter exit."""
    import parquetaivectorsearch_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    tmp = tempfile.mkdtemp(prefix="pavs_pkg_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    zpath = os.path.join(tmp, "parquetaivectorsearch_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
    return zpath


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Pandas UDFs defined in the package pickle by reference to their module,
    and workers spawned by the JVM do not inherit the driver's sys.path —
    a harness that did ``sys.path.insert(0, repo)`` from another cwd gets
    ModuleNotFoundError at the first UDF. ``sc.addPyFile`` of a zip of the
    package (the cluster deployment story, too) fixes both. Idempotent per
    SparkContext; every context ships the same zip."""
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED.add(id(sc))


# archive path -> (st_mtime_ns, st_size) when zipimport last read its directory
_ZIP_KEYS: dict[str, tuple[int, int]] = {}
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _zip_key(archive: str) -> tuple[int, int]:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since it was last read."""
    try:
        key = _zip_key(self.archive)
    except OSError:
        _ZIP_KEYS.pop(self.archive, None)
        _stock_invalidate(self)
        return
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _ZIP_KEYS.get(self.archive) == key:
        self._files = files
        return
    _stock_invalidate(self)
    _ZIP_KEYS[self.archive] = key


def reuse_zip_directories() -> None:
    """On a Python worker below 3.13, make ``invalidate_caches`` skip
    unchanged zip archives (see the module docstring). The package calls
    this once, when it is imported."""
    if sys.version_info >= (3, 13) or not SparkFiles._is_running_on_worker:
        return
    # The package is imported inside a task. Every cached directory was
    # read during this task (by its invalidate_caches or by an importer
    # created since), and nothing rewrites Spark's files within a task,
    # so each cached directory matches its archive's key now.
    for archive in list(zipimport._zip_directory_cache):
        try:
            _ZIP_KEYS[archive] = _zip_key(archive)
        except OSError:
            pass
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def get_spark(app_name: str = "parquetaivectorsearch_spark", *, cpus: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # ObjectHashAggregate (collect_list/collect_set/percentile & other
        # TypedImperativeAggregates) silently falls back to SORT-BASED
        # aggregation after 128 distinct keys per partition — a per-
        # partition object sort that measured 10-40× slower on grouped
        # collection aggs (an explode+collect_set shingle stage went 83s
        # at sf0.1 purely from the fallback). 64k keys of small per-key
        # buffers is well within executor memory at our partition sizing;
        # spill safety for pathological key counts is preserved above it.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
                "65536")
        # One BLAS thread per Python worker: with one worker per core, a
        # multi-threaded OpenBLAS inside each (numpy kernels in the UDF
        # paths — KNN matmuls, HNSW/PQ builds) oversubscribes the machine
        # and slows the CPU-bound stages. Standard practice for
        # executor-side numpy; a real cluster sets the same env per
        # executor.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
