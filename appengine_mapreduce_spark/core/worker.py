"""User-code worker contracts: Mapper / Reducer / Combiner.

Reference contracts reproduced:
- ``Mapper`` — generator ``__call__(ctx, row) -> yield outputs``; lifecycle
  ``begin_shard``/``end_shard`` (python api/map_job/mapper.py:24-47 Mapper
  with begin/end_shard + __call__; java Mapper.java:19-28 + Worker.java
  beginShard/endShard). A shard ≙ a Spark partition.
- ``MapOnlyMapper`` — map with no shuffle (java MapOnlyMapper.java:15).
- ``Reducer`` — ``__call__(ctx, key, values) -> yield outputs`` where
  ``values`` is an iterator, mirroring the streaming ``ReducerInput``
  (java Reducer.java:20-37, ReducerInput.java; python reduce generators
  invoked via _ReducerReader, demo/main.py:206-208).
- ``Combiner`` — ``combine(ctx, key, values) -> yield combined`` applied
  map-side per partition before the shuffle, replacing the reference's
  reduce-side incremental combiner (input_readers.py:2608-2662) — same
  contract (commutative/associative), better placement: partial
  aggregation happens before bytes cross the wire.

Plain functions (or generator functions) are accepted anywhere a class
instance is — the legacy Python API resolved bare callables too
(util.handler_for_name, handlers.py:607-648).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any, Callable

from appengine_mapreduce_spark.core.counters import CounterContext


class Mapper:
    """Emit zero or more output rows per input row (generator contract).

    ``row`` is a namedtuple of the input columns (named ``Pandas``, field
    names that are not identifiers renamed to ``_<position>``), each value
    exactly as Arrow's ``to_pylist()`` reads it: null is ``None``; an
    integer is an ``int`` at any size; a float NaN stays NaN, apart from
    null; a string is ``str``, binary ``bytes``, a decimal ``Decimal``, a
    date ``datetime.date``, a timestamp a tz-aware ``datetime`` in the
    session time zone (UTC in this package's session); an array is a
    ``list``, a struct a ``dict`` and a map a list of ``(key, value)``
    pairs. Reducer keys and values are read the same way.

    Yielded values go straight to Arrow: each should already be of its output
    column's Python type (``None`` for null). A NaN, an infinity or a
    bool yielded into an integer column, or a number into a string
    column, fails the task with an error naming the stage and the
    column; a finite float in an integer column is truncated toward
    zero. Reducer output follows the same rule.
    """

    def begin_shard(self, ctx: CounterContext) -> None:  # noqa: B027
        pass

    def end_shard(self, ctx: CounterContext) -> None:  # noqa: B027
        pass

    def __call__(self, ctx: CounterContext, row: Any) -> Iterable[tuple]:
        raise NotImplementedError


class MapOnlyMapper(Mapper):
    """Marker subclass: output goes straight to the sink, no shuffle."""


class Reducer:
    """Emit zero or more output rows per (key, value-iterator) group."""

    def begin_shard(self, ctx: CounterContext) -> None:  # noqa: B027
        pass

    def end_shard(self, ctx: CounterContext) -> None:  # noqa: B027
        pass

    def __call__(
        self, ctx: CounterContext, key: Any, values: Iterator[Any]
    ) -> Iterable[tuple]:
        raise NotImplementedError


class Combiner:
    """Map-side partial aggregation; must be commutative/associative."""

    def __call__(
        self, ctx: CounterContext, key: Any, values: Iterator[Any]
    ) -> Iterable[Any]:
        raise NotImplementedError


def as_mapper(fn: Callable | Mapper) -> Mapper:
    if isinstance(fn, Mapper):
        return fn

    class _FnMapper(Mapper):
        def __call__(self, ctx, *args):
            return fn(ctx, *args)

    return _FnMapper()


def as_reducer(fn: Callable | Reducer) -> Reducer:
    if isinstance(fn, Reducer):
        return fn

    class _FnReducer(Reducer):
        def __call__(self, ctx, key, values):
            return fn(ctx, key, values)

    return _FnReducer()


def as_combiner(fn: Callable | Combiner | None) -> Combiner | None:
    if fn is None or isinstance(fn, Combiner):
        return fn

    class _FnCombiner(Combiner):
        def __call__(self, ctx, key, values):
            return fn(ctx, key, values)

    return _FnCombiner()
