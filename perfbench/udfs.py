"""User code the benchmark's MapReduce jobs run in the Python workers.

Pickled by value (the workers do not have the benchmark on their path).
"""

from __future__ import annotations


def index_mapper(ctx, row):
    """The reference's Index demo map: one ``(word, offset)`` per distinct
    word of a line."""
    offset, line = row
    for word in set(line.split()):
        yield (word, offset)


def index_reducer(ctx, key, values):
    """``(word, lines containing it, first offset)``; no combiner."""
    n = 0
    first = None
    for v in values:
        n += 1
        if first is None or v < first:
            first = v
    yield (key, n, first)

