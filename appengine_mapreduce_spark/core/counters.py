"""Job counters — the reference's global named aggregates.

Reference: ``CountersMap`` (python/src/mapreduce/model.py:228-334), the
``Increment`` operation (operation/counters.py:30-49), pooled per-slice in
``_Counters`` (context.py:343-371), rolled up controller-side
(handlers.py:1127-1210); Java ``Counters.java`` / ``impl/CountersImpl.java``.

Spark-native: one dict-merging accumulator per job. Workers increment via
the closure-captured accumulator; the driver reads totals after the action
completes. Standard counter names mirror context.py COUNTER_* /
CounterNames.java.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.accumulators import AccumulatorParam

# Reference counter names (context.py / CounterNames.java)
MAPPER_CALLS = "mapper-calls"
REDUCER_CALLS = "reducer-calls"
MAPPER_WALLTIME_MS = "mapper-walltime-ms"
REDUCER_WALLTIME_MS = "reducer-walltime-ms"
IO_RECORDS_READ = "io-records-read"
IO_RECORDS_WRITTEN = "io-records-written"


class _DictSumParam(AccumulatorParam):
    def zero(self, value: dict[str, int]) -> dict[str, int]:
        return {}

    def addInPlace(self, a: dict[str, int], b: dict[str, int]) -> dict[str, int]:
        for k, v in b.items():
            a[k] = a.get(k, 0) + v
        return a


class Counters:
    """Driver-side handle over the job's counter accumulator.

    Besides user ``ctx.increment`` calls, each map and reduce shard adds
    the reference's built-in counters once, when it has run to its end:
    ``mapper-calls``/``reducer-calls``, ``io-records-read`` (input rows
    on the map side, values on the reduce side), ``io-records-written``
    (rows the stage emits) and ``mapper-walltime-ms``/
    ``reducer-walltime-ms`` (the shard's wall time). A job's counters sum
    both sides. Every counter adds again when Spark re-runs a partition
    that already succeeded, for example a re-collect of a map-only
    ``output_df``; a shard that stops early adds none of the built-in
    ones.
    """

    def __init__(self, sc: SparkContext):
        self._acc = sc.accumulator({}, _DictSumParam())

    @property
    def accumulator(self):
        return self._acc

    def get(self, name: str) -> int:
        return self._acc.value.get(name, 0)

    def to_dict(self) -> dict[str, int]:
        return dict(self._acc.value)


def observe_counters(df, name: str, **exprs):
    """Attach Spark-native observed metrics to a plan — the zero-overhead
    counter path for built-in-expression jobs (vs the accumulator path for
    generator UDFs). Returns ``(df, observation)``; after the first action
    ``observation.get`` holds the metric dict.

    Example::

        df2, obs = observe_counters(df, "scan",
                                    rows=F.count(F.lit(1)),
                                    total_chars=F.sum(F.length("text")))
        df2.collect()
        obs.get  # {"rows": ..., "total_chars": ...}
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *[v.alias(k) for k, v in exprs.items()]), obs


class CounterContext:
    """Worker-side context passed to mappers/reducers.

    ``increment`` matches the reference Operation surface
    (operation/counters.py Increment); ``counter`` matches the Java
    ``Worker.getCounter(name).increment(delta)`` idiom.
    """

    __slots__ = ("_acc", "shard_id")

    def __init__(self, acc, shard_id: int = -1):
        self._acc = acc
        self.shard_id = shard_id

    def increment(self, name: str, delta: int = 1) -> None:
        self._acc.add({name: delta})

    # alias used by Java-style call sites
    counter = increment
