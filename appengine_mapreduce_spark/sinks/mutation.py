"""Mutation-pool sink: batched side-effecting writes from workers.

Reference: mappers yield ``op.db.Put(entity)`` / ``op.db.Delete(key)``
(operation/db.py:29-72), pooled per worker and flushed in batches of
``MAX_ENTITY_COUNT = 20`` (context.py:54, _MutationPool context.py:216-341);
java DatastoreOutput.java:22 + DatastoreMutationPool.java.

Spark-native: one ``mapPartitions`` pass with a user-supplied batch
applier — the applier receives lists of (op, row) tuples sized
``batch_size`` — that also counts the rows it applied, so the input runs
once. The target system (a datastore client, an HTTP API, a JDBC
connection) is opened once per partition, not per record. At-least-once
semantics, same as the reference's writers (output_writers.py:669
'at-least-once').
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame

PUT = "put"
DELETE = "delete"

# Reference default: 20 entities per RPC batch (context.py:54).
DEFAULT_BATCH_SIZE = 20


@dataclass
class Mutation:
    op: str  # PUT | DELETE
    row: Any


@dataclass
class MutationPoolOutput:
    """Apply mutations in batches from each partition.

    ``apply_batch(batch: list[Mutation]) -> None`` is the user's client
    call (≙ datastore.Put(entities)); ``connect() -> context`` optionally
    opens a per-partition client passed as the second argument.
    """

    apply_batch: Callable[..., None]
    batch_size: int = DEFAULT_BATCH_SIZE
    op_col: str | None = None  # column naming the op; None ⇒ all PUT
    connect: Callable[[], Any] | None = None

    def write(self, df: DataFrame, job_name: str = "") -> int:
        apply_batch, batch_size = self.apply_batch, self.batch_size
        op_col, connect = self.op_col, self.connect
        cols = df.columns

        def handle_partition(rows: Iterable) -> Iterable[int]:
            client = connect() if connect is not None else None
            batch: list[Mutation] = []

            def flush() -> None:
                if not batch:
                    return
                if client is not None:
                    apply_batch(list(batch), client)
                else:
                    apply_batch(list(batch))
                batch.clear()

            op_idx = cols.index(op_col) if op_col else None
            n = 0
            for row in rows:
                op = row[op_idx] if op_idx is not None else PUT
                batch.append(Mutation(op, row))
                n += 1
                if len(batch) >= batch_size:
                    flush()
            flush()
            yield n

        return df.rdd.mapPartitions(handle_partition).sum()
