"""``sql._by_state``: the batch shape behind every probe-style SQL function,
exercised on plain pandas batches (no Spark)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fastbloom_spark.sql import _by_state


class Counting:
    """Wraps a per-state function and records the state of each call."""

    def __init__(self, fn):
        self.fn, self.calls = fn, []

    def __call__(self, *a):
        self.calls.append(a)
        return self.fn(*a)


def test_boolean_nulls_in_state_and_args_one_call_per_state():
    state = pd.Series([b"a", b"b", None, b"a", b"b", b"a"], dtype=object)
    x = pd.Series([1.0, 2.0, 3.0, np.nan, 5.0, 6.0])
    fn = Counting(lambda s, xs: xs.to_numpy() > (1 if s == b"a" else 4))
    out = _by_state([state], [x], fn, "boolean")
    assert str(out.dtype) == "boolean"
    assert out.tolist() == [False, False, pd.NA, pd.NA, True, True]
    assert sorted(c[0] for c in fn.calls) == [b"a", b"b"]
    # each group's call sees only its own valid rows
    by_state = {c[0]: c[1].tolist() for c in fn.calls}
    assert by_state == {b"a": [1.0, 6.0], b"b": [2.0, 5.0]}


def test_int64_kind_scalar_per_group():
    state = pd.Series([b"x", None, b"y", b"x"], dtype=object)
    fn = Counting(lambda s, d: {b"x": 7, b"y": -3}[s] + d.to_numpy())
    out = _by_state([state], [pd.Series([1, 2, 3, 4])], fn, "Int64")
    assert str(out.dtype) == "Int64"
    assert out.tolist() == [8, pd.NA, 0, 11]
    assert len(fn.calls) == 2


def test_double_kind_uses_nan_for_null():
    state = pd.Series([b"s", None, b"s"], dtype=object)
    fn = Counting(lambda s: 2.5)
    out = _by_state([state], [], fn, "double")
    assert out.dtype == np.float64
    assert out[0] == 2.5 and np.isnan(out[1]) and out[2] == 2.5
    assert fn.calls == [(b"s",)]


def test_binary_kind_two_column_state():
    a = pd.Series([b"p", b"p", None, b"q", b"p"], dtype=object)
    b = pd.Series([b"1", b"2", b"1", b"1", b"1"], dtype=object)
    fn = Counting(lambda x, y: x + y)
    out = _by_state([a, b], [], fn, "binary")
    assert out.dtype == object
    assert out.tolist() == [b"p1", b"p2", None, b"q1", b"p1"]
    # (p, 1) appears twice but is computed once
    assert sorted(fn.calls) == [(b"p", b"1"), (b"p", b"2"), (b"q", b"1")]


def test_all_valid_fast_path_passes_columns_unsliced():
    state = pd.Series([b"k"] * 4, dtype=object)
    d = pd.Series([3, 1, 4, 1], dtype=np.int64)
    fn = Counting(lambda s, digests: digests.to_numpy() % 2 == 1)
    out = _by_state([state], [d], fn, "boolean")
    assert out.tolist() == [True, True, False, True]
    assert not out.isna().any()
    # one distinct state and no NULL row: the argument column itself
    # reaches fn, no masked copy
    assert len(fn.calls) == 1 and fn.calls[0][1] is d


@pytest.mark.parametrize("kind, null", [
    ("boolean", pd.NA), ("Int64", pd.NA), ("binary", None)])
def test_all_null_batch_never_calls_fn(kind, null):
    fn = Counting(lambda *a: pytest.fail("fn called on an all-NULL batch"))
    out = _by_state([pd.Series([None, None], dtype=object)], [], fn, kind)
    assert out.tolist() == [null, null] and not fn.calls

