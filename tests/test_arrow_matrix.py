"""The vector operators' one Arrow batch idiom (no Spark): the
``list_to_matrix`` / ``matrix_to_list`` pair of
``sources/arrow_records.py``, and a guard that keeps the package's
Python UDFs on Arrow batches instead of pandas round trips."""

from __future__ import annotations

import pathlib
import re

import numpy as np
import pyarrow as pa
import pytest

from ome_arrow_spark.sources.arrow_records import list_to_matrix, matrix_to_list

PKG = pathlib.Path(__file__).resolve().parent.parent / "ome_arrow_spark"


def test_list_to_matrix_reads_values_buffer():
    """Sliced input, float32 → float64 widening, integer elements and
    zero rows."""
    col = pa.array(
        [[1.0, 2.0], [3.0, 4.5], [5.0, 6.0], [7.0, 8.0]], pa.list_(pa.float32())
    )
    got = list_to_matrix(col.slice(1, 2), "embedding")
    assert got.dtype == np.float64 and got.shape == (2, 2)
    assert got.tolist() == [[3.0, 4.5], [5.0, 6.0]]

    codes = pa.array([[1, 2, 3], [4, 5, 6]], pa.list_(pa.int32()))
    assert list_to_matrix(codes, "codes", np.int64).tolist() == [[1, 2, 3], [4, 5, 6]]

    chunked = pa.chunked_array([col.slice(0, 1), col.slice(3, 1)])
    assert list_to_matrix(chunked, "embedding").tolist() == [[1.0, 2.0], [7.0, 8.0]]

    empty = list_to_matrix(col.slice(0, 0), "embedding")
    assert empty.shape == (0, 0) and empty.dtype == np.float64


def test_list_to_matrix_rejects_null_and_ragged_rows():
    """A null or ragged row raises one ValueError that names the column
    and the first bad row, counted within the (sliced) array."""
    col = pa.array([[1.0, 2.0], [3.0, 4.0], None, [5.0]], pa.list_(pa.float64()))
    with pytest.raises(ValueError, match=r"embedding: row 2 is null"):
        list_to_matrix(col, "embedding")
    with pytest.raises(ValueError, match=r"embedding: row 1 is null"):
        list_to_matrix(col.slice(1), "embedding")
    ragged = pa.array([None, [1.0, 2.0], [5.0]], pa.list_(pa.float64()))
    with pytest.raises(ValueError, match=r"vec: row 1 has 1 elements, row 0 has 2"):
        list_to_matrix(ragged.slice(1), "vec")


def test_matrix_to_list_roundtrips_with_validity():
    mat = np.arange(6, dtype=np.int32).reshape(3, 2)
    arr = matrix_to_list(mat)
    assert arr.type == pa.list_(pa.int32())
    assert arr.to_pylist() == [[0, 1], [2, 3], [4, 5]]
    assert (list_to_matrix(arr, "a", np.int32) == mat).all()

    masked = matrix_to_list(mat, np.array([True, False, True, True]))
    assert masked.to_pylist() == [[0, 1], None, [2, 3], [4, 5]]
    assert matrix_to_list(np.empty((0, 3))).to_pylist() == []


_PANDAS_DETOUR = re.compile(
    r"import pandas|pandas_udf|mapInPandas|applyInPandas\(|toPandas\("
)


def test_no_pandas_batches_in_engine_modules():
    """Only the registered queries whose subject is a pandas API
    (``suite*.py``) and ``applyInPandasWithState``, which has no Arrow
    twin (``streaming/stateful.py``), may build pandas batches; every
    other Python UDF in the package exchanges Arrow batches."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if path.name.startswith("suite") or rel == "streaming/stateful.py":
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if _PANDAS_DETOUR.search(line):
                hits.append(f"{rel}:{n}: {line.strip()}")
    assert not hits, "\n".join(hits)
