"""Source-level guards for invariants no run-time test can see:

- ``arrow_matrix`` is the one list→matrix conversion: no ``np.stack`` over
  a pandas ``.to_numpy()`` list column outside functions/vector.py;
- the numpy vector kernels run on Arrow: no ``mapInPandas``,
  ``applyInPandas`` or ``pandas_udf`` in their modules;
- every ``applyInPandasWithState`` passes ``"NoTimeout"``:
  streaming/events.run_available_now skips the trailing no-data
  micro-batch, which is only safe when no state timeout can fire there.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "parquetaivectorsearch_spark"
SOURCES = sorted(PKG.rglob("*.py"))
VECTOR = PKG / "functions" / "vector.py"
ARROW_KERNELS = [VECTOR] + [PKG / "operators" / f"{m}.py" for m in
                            ("knn", "ann", "pq", "kmeans", "pca", "hnsw")]
STACK_OF_SERIES = re.compile(r"np\.stack\(\s*[\w\[\]\"'.]+\.to_numpy\(")


def _rel(p: Path) -> str:
    return str(p.relative_to(PKG.parent))


@pytest.mark.parametrize("path", [p for p in SOURCES if p != VECTOR], ids=_rel)
def test_no_hand_rolled_list_to_matrix(path):
    assert not STACK_OF_SERIES.search(path.read_text()), \
        f"{_rel(path)}: convert list columns with functions/vector.arrow_matrix"


@pytest.mark.parametrize("path", ARROW_KERNELS, ids=_rel)
def test_vector_kernels_have_no_pandas_path(path):
    src = path.read_text()
    assert [api for api in ("mapInPandas", "applyInPandas(", "pandas_udf")
            if api in src] == []


def test_every_stateful_update_has_no_timeout():
    calls = [(p, node) for p in SOURCES for node in ast.walk(ast.parse(p.read_text()))
             if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
             and node.func.attr == "applyInPandasWithState"]
    assert len(calls) >= 7
    for path, call in calls:
        conf = {kw.arg: kw.value for kw in call.keywords}.get(
            "timeoutConf", call.args[4] if len(call.args) > 4 else None)
        assert isinstance(conf, ast.Constant) and conf.value == "NoTimeout", \
            f"{_rel(path)}:{call.lineno} applyInPandasWithState without NoTimeout"
