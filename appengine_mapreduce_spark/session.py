"""SparkSession construction tuned for the engine.

Local-mode testing uses ``local[N]``; the same configs are the right
defaults on a real cluster (AQE on, sensible shuffle partitioning,
Arrow enabled for the pandas-UDF slow path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, or else ¾ of the host's physical memory
    capped at 48g: a heap larger than the host can never make the JVM
    collect or spill before the host runs out of memory."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(48 << 10, phys * 3 // 4 >> 20)}m"


def get_spark(
    app_name: str = "appengine_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    AQE is enabled so runtime statistics re-plan skewed joins and coalesce
    small shuffle partitions — at 100 TB this is what absorbs skew the
    reference handled with ``oversplit_factor``
    (reference: python/src/mapreduce/input_readers.py:724-733).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", _driver_memory())
        # InferFiltersFromGenerate duplicates expensive computed arrays
        # (per-position digests, shingles) into a pre-Generate filter
        # pushed below the widening exchange — measured 5.8x tax on the
        # substring-dedup explode (see plans/tables.py for the full
        # rationale; set there too so vanilla driver sessions get it).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


