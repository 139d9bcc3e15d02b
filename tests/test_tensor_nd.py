"""Arbitrary-rank TensorArray ufunc surface (reference
``array/tensor.py:640-667``): elementwise/scalar/unary ufuncs and the
all-NaN NA rule must match numpy at ranks 1-3."""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F


def _one(df, col):
    return df.select(col.alias("o")).collect()[0]["o"]


def test_elementwise_nd_matches_numpy_rank123(spark):
    from text_extensions_for_pandas_spark.functions.tensor import (
        elementwise_nd,
    )

    a1 = [1.0, 2.0, 3.0]
    b1 = [10.0, 20.0, 30.0]
    a2 = [[1.0, 2.0], [3.0, 4.0]]
    b2 = [[5.0, 6.0], [7.0, 8.0]]
    a3 = [[[1.0], [2.0]], [[3.0], [4.0]]]
    b3 = [[[2.0], [2.0]], [[2.0], [2.0]]]
    df = spark.createDataFrame(
        [(a1, b1, a2, b2, a3, b3)],
        "a1 array<double>, b1 array<double>, "
        "a2 array<array<double>>, b2 array<array<double>>, "
        "a3 array<array<array<double>>>, b3 array<array<array<double>>>",
    )
    for op, np_op in [("+", np.add), ("-", np.subtract), ("*", np.multiply), ("/", np.divide)]:
        got1 = _one(df, elementwise_nd("a1", "b1", op, rank=1))
        assert got1 == np_op(np.array(a1), np.array(b1)).tolist()
        got2 = _one(df, elementwise_nd("a2", "b2", op, rank=2))
        assert got2 == np_op(np.array(a2), np.array(b2)).tolist()
        got3 = _one(df, elementwise_nd("a3", "b3", op, rank=3))
        assert got3 == np_op(np.array(a3), np.array(b3)).tolist()


def test_scale_and_unary_ufunc_nd(spark):
    from text_extensions_for_pandas_spark.functions.tensor import (
        apply_ufunc_nd,
        scale_nd,
    )

    a2 = [[1.0, 2.0], [3.0, 4.0]]
    df = spark.createDataFrame([(a2,)], "a array<array<double>>")
    assert _one(df, scale_nd("a", 2.0, 1.0, rank=2)) == (
        (np.array(a2) * 2.0 + 1.0).tolist()
    )
    got = _one(df, apply_ufunc_nd("a", F.exp, rank=2))
    want = np.exp(np.array(a2))
    assert all(
        math.isclose(g, w, rel_tol=1e-12)
        for gr, wr in zip(got, want.tolist())
        for g, w in zip(gr, wr)
    )


def test_flatten_and_isna_nd(spark):
    from text_extensions_for_pandas_spark.functions.tensor import (
        flatten_nd,
        tensor_isna_nd,
        vsum,
    )

    nan = float("nan")
    df = spark.createDataFrame(
        [
            ([[1.0, 2.0], [3.0, 4.0]], [[nan, nan], [nan, nan]]),
        ],
        "a array<array<double>>, na array<array<double>>",
    )
    # row-major ravel
    assert _one(df, flatten_nd("a", rank=2)) == [1.0, 2.0, 3.0, 4.0]
    # any rank-1 reduction composes with flatten
    assert _one(df, vsum(flatten_nd("a", rank=2))) == 10.0
    # NA rule: ALL leaves NaN
    assert _one(df, tensor_isna_nd("na", rank=2)) is True
    assert _one(df, tensor_isna_nd("a", rank=2)) is False
    # rank=1 degenerates to the 1-D behavior
    df1 = spark.createDataFrame([([nan, 1.0],)], "x array<double>")
    assert _one(df1, tensor_isna_nd("x", rank=1)) is False


def test_tensor_isna_and_min_max_match_numpy(spark):
    # reference TensorArray.isna: np.all(np.isnan(t), axis=-1), so the
    # all-NaN row (and the empty one) is NA and a partly-NaN row is not;
    # vmin/vmax are the row's np.min/np.max
    from text_extensions_for_pandas_spark.functions.tensor import (
        tensor_isna,
        vmax,
        vmin,
    )

    nan = float("nan")
    rows = [[nan, nan, nan], [nan, 2.0], [1.5, -3.0, 0.25], [], [7.0]]
    df = spark.createDataFrame([(r,) for r in rows], "t array<double>")
    got = [r[0] for r in df.select(tensor_isna("t")).collect()]
    assert got == [bool(np.all(np.isnan(np.array(r)))) for r in rows]
    finite = [r for r in rows if r and not np.isnan(r).any()]
    dff = spark.createDataFrame([(r,) for r in finite], "t array<double>")
    got = [tuple(r) for r in dff.select(vmin("t"), vmax("t")).collect()]
    assert got == [(float(np.min(r)), float(np.max(r))) for r in finite]
