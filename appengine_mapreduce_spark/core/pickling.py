"""Executor-pickling helper.

The driver contract puts this package on the DRIVER's sys.path only;
executor Python workers have no install. Any module whose functions are
referenced from a worker closure (the ``core.adapters`` mapInArrow
bodies, foreachPartition writers, the pandas group functions) must be
serialized BY VALUE so the closure is self-contained.
Modules self-register at import:

    from appengine_mapreduce_spark.core.pickling import register_self
    register_self(__name__)
"""

from __future__ import annotations

import sys


def register_self(module_name: str) -> None:
    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[module_name])
    except Exception:  # pragma: no cover — pyspark without the API
        pass
