"""The list-column ⇄ matrix layer every vector kernel converts through
(functions/vector.arrow_matrix / arrow_list): exact float32→float64
widening equal to the pandas np.stack it replaced, sliced and chunked
input, the empty batch, a raise on null or ragged rows, and round trips."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from parquetaivectorsearch_spark.functions.vector import arrow_list, arrow_matrix

F32 = pa.list_(pa.float32())
ROWS = np.random.RandomState(7).randn(5, 6).astype(np.float32)
BASE = pa.array(ROWS.tolist(), F32)


@pytest.mark.parametrize("arr, want", [
    (BASE, ROWS),
    (BASE.slice(1, 3), ROWS[1:4]),
    (pa.chunked_array([BASE.slice(0, 2), BASE.slice(2)]), ROWS),
    (pa.chunked_array([BASE.slice(3), BASE.slice(0, 1)]), ROWS[[3, 4, 0]]),
], ids=["plain", "sliced", "chunked", "chunked_sliced"])
def test_arrow_matrix_widens_exactly(arr, want):
    got = arrow_matrix(arr, np.float64)
    stacked = np.stack(arr.to_pandas().to_numpy()).astype(np.float64)
    assert got.dtype == np.float64 and np.array_equal(got, stacked)
    assert np.array_equal(got, want.astype(np.float64))
    assert arrow_matrix(arr).dtype == np.float32


@pytest.mark.parametrize("arr", [
    pa.array([], F32), pa.chunked_array([], F32), BASE.slice(2, 0),
], ids=["empty", "empty_chunked", "empty_slice"])
def test_arrow_matrix_empty_batch(arr):
    assert arrow_matrix(arr, np.float64).shape == (0, 0)


@pytest.mark.parametrize("rows, match", [
    ([[1.0, 2.0], None, [3.0, 4.0]], "null"),
    ([[1.0, 2.0], [3.0], [4.0, 5.0]], "ragged"),
    ([[1.0, 2.0], [], [4.0, 5.0]], "ragged"),
], ids=["null_row", "ragged_row", "empty_row"])
def test_arrow_matrix_rejects_bad_rows(rows, match):
    with pytest.raises(ValueError, match=match):
        arrow_matrix(pa.array(rows, F32), np.float64)
    # a bad row outside the slice does not count
    assert arrow_matrix(pa.array(rows, F32).slice(0, 1)).shape == (1, 2)


@pytest.mark.parametrize("mat, typ", [
    (ROWS, F32),
    (ROWS.astype(np.float64), pa.list_(pa.float64())),
    (ROWS.astype(np.float64), F32),  # narrowed once to the element type
    (np.arange(12, dtype=np.int32).reshape(4, 3), pa.list_(pa.int32())),
    (np.arange(8, dtype=np.int64).reshape(2, 4), pa.list_(pa.int64())),
], ids=["f32", "f64", "f64_to_f32", "int32", "int64"])
def test_arrow_list_round_trip(mat, typ):
    lst = arrow_list(mat, typ)
    want = mat.astype(typ.value_type.to_pandas_dtype())
    assert lst.type == typ and lst.to_pylist() == want.tolist()
    assert np.array_equal(arrow_matrix(lst), want)
    assert len(arrow_list(np.empty((0, 3), np.float32), F32)) == 0
