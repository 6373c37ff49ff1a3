"""Simulate the driver: vanilla SparkSession, import __spark_entry__,
run entry() smoke + every queries() entry vs oracle_sql() in DuckDB at
sf0.01 with order-insensitive value-hash compare.

Usage: python tools/driver_sim.py [NAME | t:TAG ...]
With arguments, only the named queries and the queries tagged TAG are
checked, and the entry() smoke is skipped.

Chunk mode: SPARK_GRAFT_SIM_CHUNK="i/N" runs only the i-th of N strided
slices of the query list (and skips the entry() smoke for i > 0).
Big-SF sweeps (sf1+) need this: a single long-lived session over all
queries at sf1 degrades partway (executor memory pressure accumulates),
failing late queries environmentally — fresh-session re-checks of the
same names MATCH. tools/parity_sweep.py drives one fresh
process per chunk and aggregates a single ALL-OK artifact."""
import hashlib
import os as _os
import sys

sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))

from pyspark.sql import SparkSession

# Vanilla session — deliberately NOT appengine_mapreduce_spark.session.get_spark:
# no UTC pin, no nanosAsLong, default shuffle partitions. The contract must
# set what it needs at runtime.
_builder = SparkSession.builder.master("local[8]").appName("driver-sim")
# The sf0.01 gate stays VANILLA (default 1g heap — that's the point).
# Scale sweeps (SPARK_GRAFT_SIM_SF) may opt into a bigger heap via
# SPARK_GRAFT_SIM_MEM: at sf1 the 4M-edge graph queries need more than
# the vanilla driver default, which is a harness bound, not an engine one.
if _os.environ.get("SPARK_GRAFT_SIM_MEM"):
    _builder = _builder.config(
        "spark.driver.memory", _os.environ["SPARK_GRAFT_SIM_MEM"])
spark = _builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import duckdb

import __spark_entry__ as entrymod
from appengine_mapreduce_spark.plans import all_queries
from appengine_mapreduce_spark.plans.tables import TABLES

# default = the driver's gate SF; override to re-prove parity at scale
# (e.g. SPARK_GRAFT_SIM_SF=/root/testdata/sf0.1)
SF = _os.environ.get("SPARK_GRAFT_SIM_SF", "/root/testdata/sf0.01")
conn = duckdb.connect()
for t in TABLES:
    conn.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")


def value_hash(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = []
    for tup in pdf.itertuples(index=False):
        cells = []
        for v in tup:
            if isinstance(v, float):
                cells.append(f"{v:.9g}")
            else:
                cells.append(str(v))
        rows.append("|".join(cells))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


_chunk = _os.environ.get("SPARK_GRAFT_SIM_CHUNK")  # "i/N" or unset
_ci, _cn = (int(x) for x in _chunk.split("/")) if _chunk else (0, 1)

# 1. entry() smoke (once per full sweep: only the first chunk)
if _ci == 0 and not sys.argv[1:]:
    res = entrymod.entry(spark)
    rows = res.collect()
    print(f"entry(): {len(rows)} rows, schema={[f.name for f in res.schema.fields]}")
    assert len(rows) >= 0

# 2. queries vs oracles
qs = entrymod.queries()
oracles = entrymod.oracle_sql()
wanted = []
for arg in sys.argv[1:]:
    if arg.startswith("t:"):
        wanted += [n for n, spec in all_queries().items() if arg[2:] in spec.tags]
    else:
        wanted.append(arg)
unknown = [n for n in wanted if n not in qs]
if unknown:
    sys.exit(f"unknown queries: {unknown}")
names = (list(dict.fromkeys(wanted)) if sys.argv[1:] else sorted(qs))[_ci::_cn]
print(f"{len(qs)} queries, {len(oracles)} oracles"
      + (f", chunk {_ci}/{_cn}: {len(names)} queries" if _chunk else ""))
fails = []
for name, fn in ((n, qs[n]) for n in names):
    try:
        spdf = fn(spark, SF).toPandas()
        if name in oracles:
            dpdf = conn.sql(oracles[name]).df()
            ok_rows = len(spdf) == len(dpdf)
            ok_cols = sorted(spdf.columns) == sorted(dpdf.columns)
            ok_hash = value_hash(spdf) == value_hash(dpdf)
            status = ("MATCH" if (ok_rows and ok_cols and ok_hash)
                      else f"MISMATCH rows={ok_rows}({len(spdf)}/{len(dpdf)}) "
                           f"cols={ok_cols} hash={ok_hash}")
        else:
            status = f"rows-only ({len(spdf)} rows)"
        print(f"  {name}: {status}")
        if "MISMATCH" in status:
            fails.append(name)
    except Exception as e:
        print(f"  {name}: ERROR {type(e).__name__}: {str(e)[:200]}")
        fails.append(name)

print("RESULT:", "FAIL " + str(fails) if fails else "ALL OK")
sys.exit(1 if fails else 0)
