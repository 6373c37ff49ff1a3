"""The Arrow reader under every Python stage, checked in-process without
Spark: ``_pylist`` against ``to_pylist()``, and ``run_reducer``'s
partition function against an ``itertools.groupby`` replay of the same
sorted stream.

The replay is the reducer contract read literally: one call per run of
Python-equal keys, every NaN key in one run (as ``_NAN``), -0.0 with 0.0,
nulls as one run, values in stream order. The batches are cut at random
(0-7 rows), so runs cross batch edges and empty batches occur.
"""

from __future__ import annotations

import datetime
import decimal
import itertools
import math
import random
from collections import Counter
from types import SimpleNamespace

import pyarrow as pa
import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from appengine_mapreduce_spark.core.adapters import _pylist, run_reducer
from appengine_mapreduce_spark.core.worker import Reducer
from tests.test_reducer_streaming import _Frame

# --- _pylist: the same values of the same Python types as to_pylist()

_UTC = datetime.timezone.utc


def _values(t: pa.DataType, rnd: random.Random) -> list:
    """Random non-null values of ``t``, its extremes mixed in."""
    if pa.types.is_boolean(t):
        return [rnd.random() < 0.5 for _ in range(20)]
    if pa.types.is_integer(t):
        bits = t.bit_width
        lo, hi = (0, 2**bits - 1) if pa.types.is_unsigned_integer(t) else (
            -(2 ** (bits - 1)), 2 ** (bits - 1) - 1)
        return [lo, hi, 0, 1, *(rnd.randint(lo, hi) for _ in range(16))]
    if pa.types.is_floating(t):
        special = [math.nan, -0.0, 0.0, math.inf, -math.inf, 1e-310, 1.7e308, 0.1]
        return special + [rnd.uniform(-1e6, 1e6) for _ in range(12)]
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return ["", "a", "é", "日本", "\U0001f600", *(str(rnd.random()) for _ in range(15))]
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return [b"", b"\x00", b"\xff\xfe", *(rnd.randbytes(rnd.randrange(9)) for _ in range(17))]
    if pa.types.is_decimal(t):
        return [decimal.Decimal(rnd.randrange(-10**9, 10**9)).scaleb(-2) for _ in range(20)]
    if pa.types.is_date(t):
        return [datetime.date(1970, 1, 1) + datetime.timedelta(days=rnd.randrange(-9999, 99999))
                for _ in range(20)]
    if pa.types.is_timestamp(t):
        tz = _UTC if t.tz else None
        return [datetime.datetime(2000, 1, 1, tzinfo=tz)
                + datetime.timedelta(microseconds=rnd.randrange(-10**15, 10**15))
                for _ in range(20)]
    if pa.types.is_duration(t):
        return [datetime.timedelta(microseconds=rnd.randrange(-10**15, 10**15)) for _ in range(20)]
    raise AssertionError(t)


# Every flat type Spark's Arrow conversion produces (boolean, tinyint to
# bigint, float, double, string, binary, decimal, date, timestamp,
# timestamp_ntz, day-time interval, void), plus the large and unsigned
# forms the reader also accepts.
_TYPES = [
    pa.bool_(), pa.int8(), pa.int16(), pa.int32(), pa.int64(), pa.uint8(), pa.uint64(),
    pa.float32(), pa.float64(), pa.string(), pa.large_string(), pa.binary(),
    pa.large_binary(), pa.decimal128(12, 2), pa.date32(), pa.timestamp("us", tz="UTC"),
    pa.timestamp("us"), pa.duration("us"),
]


def _same(got: list, want: list) -> None:
    """Element by element: the same ``type()`` and the same ``repr``
    (which tells NaN, -0.0 and each float apart exactly)."""
    assert len(got) == len(want)
    for i, (g, w) in enumerate(zip(got, want)):
        assert type(g) is type(w) and repr(g) == repr(w), (i, g, w)


@pytest.mark.parametrize("t", _TYPES, ids=str)
def test_pylist_matches_to_pylist(t):
    rnd = random.Random(str(t))
    vals = _values(t, rnd)
    with_nulls = [None if rnd.random() < 0.3 else v for v in vals]
    for arr in (pa.array(vals, type=t), pa.array(with_nulls, type=t), pa.array([], type=t)):
        _same(_pylist(arr), arr.to_pylist())
        # sliced: a non-zero offset into the values and the null bitmap
        for a, b in ((3, 17), (1, 2), (7, len(arr))):
            part = arr[a:b]
            _same(_pylist(part), part.to_pylist())


def test_pylist_null_column():
    for arr in (pa.nulls(5), pa.nulls(5)[2:]):
        _same(_pylist(arr), arr.to_pylist())


def test_pylist_numeric_column_with_null_keeps_ints():
    """numpy would read a bigint column holding a null as float64."""
    arr = pa.array([2**53 + 1, None, -(2**63)], type=pa.int64())
    _same(_pylist(arr), [2**53 + 1, None, -(2**63)])


# --- run_reducer's partition function against a groupby replay


def _norm(k):
    """A key as the reducer contract names it."""
    if isinstance(k, float):
        return math.nan if k != k else k + 0.0
    return k


def _group_key(k):
    """What the replay groups on: every NaN one value."""
    return "NaN" if isinstance(k, float) and k != k else _norm(k)


def _sort_key(k):
    """Spark's ascending sort: nulls first, NaN after every number;
    -0.0 and 0.0 tie, so they stay interleaved as drawn."""
    if k is None:
        return (0, 0)
    if isinstance(k, float) and k != k:
        return (2, 0)
    return (1, k)


_KEYS = {
    "string": (StringType(), pa.string(), [None, "", "a", "ab", "é", "日本", "\U0001f600"]),
    "bigint": (LongType(), pa.int64(), [None, 0, -1, 2**53, 2**53 + 1, 2**62, -(2**63)]),
    "double": (DoubleType(), pa.float64(),
               [None, math.nan, -math.nan, -0.0, 0.0, 1.5, math.inf, -math.inf]),
}


class _Record(Reducer):
    """Yield the key and every value, both as ``repr``; or only the first
    value when ``first_only``."""

    def __init__(self, first_only=False):
        self.first_only = first_only

    def __call__(self, ctx, key, values):
        vals = [next(values)] if self.first_only else list(values)
        yield repr(key), repr([tuple(v) if isinstance(v, tuple) else v for v in vals])


def _run(rows, key_type, value_types, batch_sizes, reducer):
    """Run ``run_reducer``'s partition function over ``rows`` (sorted,
    ``(key, *values)``) cut into batches of ``batch_sizes``."""
    key_spark, key_arrow, _ = key_type
    names = ["k", *(f"v{i}" for i in range(len(value_types)))]
    schema = StructType(
        [StructField("k", key_spark)]
        + [StructField(n, s) for n, (s, _) in zip(names[1:], value_types)]
    )
    arrow_types = [key_arrow, *(a for _, a in value_types)]
    batches, i = [], 0
    for size in batch_sizes:
        part = rows[i:i + size]
        i += size
        cols = list(zip(*part)) if part else [()] * len(names)
        batches.append(pa.record_batch(
            [pa.array(list(c), type=t) for c, t in zip(cols, arrow_types)], names=names))
    assert i == len(rows)
    counts: Counter = Counter()
    out_schema = StructType([StructField("k", StringType()), StructField("vals", StringType())])
    fn = run_reducer(
        _Frame(names, schema), reducer, out_schema, SimpleNamespace(add=counts.update),
        key_col="k", value_cols=names[1:],
    )
    out = [r for b in fn(iter(batches)) for r in zip(*b.to_pydict().values())]
    return out, counts["reducer-calls"]


def _replay(rows, first_only):
    out = []
    for _, run in itertools.groupby(rows, key=lambda r: _group_key(r[0])):
        run = list(run)
        vals = [r[1] if len(r) == 2 else tuple(r[1:]) for r in run]
        out.append((repr(_norm(run[0][0])), repr(vals[:1] if first_only else vals)))
    return out


def _cuts(n, rnd):
    """Batch sizes of 0-7 rows summing to ``n``."""
    sizes = []
    while n > 0:
        s = min(n, rnd.randrange(8))
        sizes.append(s)
        n -= s
    return sizes


_VALUES = {
    "bigint": [(LongType(), pa.int64())],
    "pair": [(LongType(), pa.int64()), (StringType(), pa.string())],
}


@pytest.mark.parametrize("first_only", [False, True], ids=["all", "first_only"])
@pytest.mark.parametrize("values", sorted(_VALUES))
@pytest.mark.parametrize("key", sorted(_KEYS))
def test_reducer_matches_groupby_replay(key, values, first_only):
    rnd = random.Random(f"{key}-{values}-{first_only}")
    key_type, value_types = _KEYS[key], _VALUES[values]
    for trial in range(40):
        pool = rnd.sample(key_type[2], rnd.randrange(1, len(key_type[2]) + 1))
        n = rnd.randrange(0, 60)
        keys = sorted((rnd.choice(pool) for _ in range(n)), key=_sort_key)
        rows = []
        for k in keys:
            v = rnd.choice([None, rnd.randrange(-(2**63), 2**63)])
            rows.append((k, v) if values == "bigint" else (k, v, rnd.choice([None, "", "x", "ü"])))
        out, calls = _run(rows, key_type, value_types, _cuts(n, rnd), _Record(first_only))
        want = _replay(rows, first_only)
        assert out == want, (trial, rows)
        assert calls == len(want)


def test_reducer_values_are_namedtuples():
    """Several value columns reach the reducer as namedtuples of them."""
    seen = []

    class Fields(Reducer):
        def __call__(self, ctx, key, values):
            for v in values:
                seen.append((type(v).__name__, v._fields, tuple(v)))
            yield key, ""

    rows = [("a", 1, "x"), ("a", None, "y"), ("b", 3, None)]
    _run(rows, _KEYS["string"], _VALUES["pair"], [2, 0, 1], Fields())
    assert seen == [("Pandas", ("v0", "v1"), tuple(r[1:])) for r in rows]
