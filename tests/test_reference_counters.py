"""The reference's io-records and walltime counters, against a pure-Python
replay of the Index job (the reference's demo: one ``(word, offset)`` per
distinct word of a line, reduced to ``(word, lines, first offset)``).

The corpus is the benchmark's ``mr_index`` input at seed 902: 16,000
zipf lines over a 1,000-word vocabulary.
"""

from __future__ import annotations

import importlib.util
import os
from collections import Counter

import pytest
from pyspark.sql.types import StructType

from appengine_mapreduce_spark.core import counters as C
from appengine_mapreduce_spark.core.adapters import run_mapper, run_reducer
from appengine_mapreduce_spark.core.counters import Counters
from appengine_mapreduce_spark.core.job import (
    MapReduceJob,
    MapReduceSpecification,
    TextLinesInput,
)
from appengine_mapreduce_spark.core.worker import as_mapper, as_reducer
from appengine_mapreduce_spark.sinks.inmemory import InMemoryOutput

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_MAP_OUT = "word string, offset bigint"
_OUT = "word string, n_lines bigint, first_offset bigint"


def index_mapper(ctx, row):
    offset, line = row
    for word in set(line.split()):
        yield (word, offset)


def index_reducer(ctx, key, values):
    n = 0
    first = None
    for v in values:
        n += 1
        if first is None or v < first:
            first = v
    yield (key, n, first)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """``(glob, replay)``: the corpus files and, replayed in Python, the
    records each side reads and writes and the expected output."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_inputs", os.path.join(_REPO, "perfbench", "inputs.py")
    )
    inputs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(inputs)
    path, _ = inputs.corpus(str(tmp_path_factory.mktemp("corpus")), 902, 16_000, 1_000, 4)
    recs = inputs.read_corpus(path)
    n: Counter = Counter()
    first: dict[str, int] = {}
    for off, line in recs:
        for w in set(line.split()):
            n[w] += 1
            first[w] = min(first.get(w, off), off)
    pairs = sum(n.values())
    replay = {
        "map": {C.MAPPER_CALLS: len(recs), C.IO_RECORDS_READ: len(recs), C.IO_RECORDS_WRITTEN: pairs},
        "reduce": {C.REDUCER_CALLS: len(n), C.IO_RECORDS_READ: pairs, C.IO_RECORDS_WRITTEN: len(n)},
        "output": sorted((w, c, first[w]) for w, c in n.items()),
    }
    return os.path.join(path, "*.txt"), replay


def _without_walltime(counts: dict, name: str) -> dict:
    assert counts[name] > 0, counts
    return {k: v for k, v in counts.items() if k != name}


def test_index_replay_numbers(corpus):
    _, replay = corpus
    assert replay["map"][C.IO_RECORDS_READ] == 16_000
    assert replay["map"][C.IO_RECORDS_WRITTEN] == 344_464
    assert replay["reduce"][C.IO_RECORDS_READ] == 344_464
    assert replay["reduce"][C.IO_RECORDS_WRITTEN] == 1_000


def test_each_side_emits_io_and_walltime_counters(spark, corpus):
    glob, replay = corpus
    lines = TextLinesInput(glob).read(spark)
    map_c, reduce_c = Counters(spark.sparkContext), Counters(spark.sparkContext)
    mapped = run_mapper(
        lines, as_mapper(index_mapper), StructType.fromDDL(_MAP_OUT), map_c.accumulator
    ).localCheckpoint(eager=True)
    reduced = run_reducer(
        mapped, as_reducer(index_reducer), StructType.fromDDL(_OUT),
        reduce_c.accumulator, "word", ["offset"],
    )
    assert sorted(map(tuple, reduced.collect())) == replay["output"]
    assert _without_walltime(map_c.to_dict(), C.MAPPER_WALLTIME_MS) == replay["map"]
    assert _without_walltime(reduce_c.to_dict(), C.REDUCER_WALLTIME_MS) == replay["reduce"]


def test_job_counters_sum_both_sides(spark, corpus):
    glob, replay = corpus
    spec = (
        MapReduceSpecification.builder()
        .set_job_name("index-counters")
        .set_input(TextLinesInput(glob))
        .set_mapper(index_mapper)
        .set_map_output_schema(_MAP_OUT)
        .set_reducer(index_reducer)
        .set_output_schema(_OUT)
        .set_output(InMemoryOutput())
        .build()
    )
    result = MapReduceJob.run(spark, spec)
    assert sorted(result.output) == replay["output"]
    counts = _without_walltime(
        _without_walltime(result.counters, C.MAPPER_WALLTIME_MS), C.REDUCER_WALLTIME_MS
    )
    assert counts == dict(Counter(replay["map"]) + Counter(replay["reduce"]))
