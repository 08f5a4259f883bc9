"""Session set-up: host-sized defaults, one shipped package zip per
process, and Python workers that do not re-read unchanged zip archives.

PySpark calls ``importlib.invalidate_caches()`` at the start of each task;
on Python < 3.13 every ``zipimporter`` then re-reads its archive's
directory. ``session.reuse_zip_directories`` (installed on workers when the
package is imported) re-reads an archive only when its mtime or size
changed since the last read.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from parquetaivectorsearch_spark import session

from conftest import REPO


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def lazy_zip(monkeypatch):
    """The worker hook installed in this process; returns the list of
    archives ``zipimport._read_directory`` reads."""
    reads: list[str] = []
    read = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        session._invalidate_if_changed)
    monkeypatch.setattr(session, "_ZIP_KEYS", {})
    return reads


def test_unchanged_zip_read_once_and_rewritten_zip_reread(tmp_path, monkeypatch, lazy_zip):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"pavs_zip_a": "X = 1\n"})
    try:
        imp = zipimport.zipimporter(zpath)
        lazy_zip.clear()
        for _ in range(5):
            imp.invalidate_caches()
        assert lazy_zip == [zpath]

        monkeypatch.syspath_prepend(zpath)
        assert importlib.import_module("pavs_zip_a").X == 1
        _write_zip(zpath, {"pavs_zip_a": "X = 1\n", "pavs_zip_b": "Y = 2\n"})
        lazy_zip.clear()
        importlib.invalidate_caches()
        assert importlib.import_module("pavs_zip_b").Y == 2
        imp.invalidate_caches()  # a second importer reuses the fresh read
        assert "pavs_zip_b.py" in imp._files
        assert lazy_zip.count(zpath) == 1
    finally:
        for name in ("pavs_zip_a", "pavs_zip_b"):
            sys.modules.pop(name, None)
        zipimport._zip_directory_cache.pop(zpath, None)


def test_missing_zip_falls_back_to_stock_invalidate(tmp_path, lazy_zip):
    zpath = str(tmp_path / "gone.zip")
    _write_zip(zpath, {"pavs_zip_c": "Z = 3\n"})
    imp = zipimport.zipimporter(zpath)
    imp.invalidate_caches()
    os.remove(zpath)
    imp.invalidate_caches()
    assert imp._files == {}
    assert zpath not in zipimport._zip_directory_cache
    assert zpath not in session._ZIP_KEYS


def test_package_zip_built_once_and_removed_at_exit(tmp_path):
    script = ("import sys; sys.path.insert(0, sys.argv[1]);"
              "from parquetaivectorsearch_spark.session import _package_zip;"
              "assert _package_zip() == _package_zip(); print(_package_zip())")
    proc = subprocess.run(
        [sys.executable, "-c", script, str(REPO)], cwd=tmp_path,
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().startswith(str(tmp_path))
    assert not list(tmp_path.glob("pavs_pkg_*"))


def test_driver_keeps_stock_invalidate():
    assert zipimport.zipimporter.invalidate_caches is session._stock_invalidate


_WORKER_SCRIPT = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from parquetaivectorsearch_spark.session import get_spark, ship_package

os.environ.pop("SPARK_GRAFT_CPUS", None)
os.sched_getaffinity = lambda pid: {0}  # the default cpus follow affinity
spark = get_spark("worker-imports",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
ship_package(spark)


def count_reads(batches):
    import os
    import zipimport

    import pyarrow as pa

    if not hasattr(zipimport, "_pavs_reads"):
        zipimport._pavs_reads = 0
        read = zipimport._read_directory

        def counted(archive):
            zipimport._pavs_reads += 1
            return read(archive)

        zipimport._read_directory = counted
    import parquetaivectorsearch_spark  # noqa: F401  (installs the hook)

    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()], "reads": [zipimport._pavs_reads],
        "minor": [sys.version_info[1]]})


out = []
for _ in range(3):
    t = spark.range(0, 1, 1, 1).mapInArrow(
        count_reads, "pid long, reads long, minor long").toArrow()
    out.append(t.to_pylist()[0])
master = spark.sparkContext.master
spark.stop()
print("RESULT " + json.dumps({"tasks": out, "master": master}))
"""


def test_worker_reads_zip_directories_only_in_first_task(tmp_path):
    """Three 1-partition jobs on one Python worker: without the hook
    each task re-reads ~20 zip directories (0, 20, 40); with it, none.
    The same run checks that ``cpus`` defaults to the usable cores."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_SCRIPT, str(REPO)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT "))
    got = json.loads(line[len("RESULT "):])
    tasks = got["tasks"]
    if tasks[0]["minor"] < 13:  # 3.13+ invalidates zip caches lazily
        assert len({t["pid"] for t in tasks}) == 1, tasks
        assert [t["reads"] for t in tasks] == [tasks[0]["reads"]] * 3, tasks
    assert got["master"] == "local[1]"
