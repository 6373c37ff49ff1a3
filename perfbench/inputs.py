"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical files. Inputs are written under the benchmark's
cache directory (ignored by git), one directory per (workload, seed,
size), and reused when a finished marker is present.

- ``corpus``: zipf-vocabulary text files for ``mr_index``.
- ``tpch``: TPC-H-shaped tables with the same schemas and value domains
  as the engine's fixtures, in a seeded row order, for ``sql_driver``.
"""

from __future__ import annotations

import json
import os
import shutil
import string

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_DONE = "_READY.json"


def _cached(root: str, name: str, seed: int, size: dict, build) -> tuple[str, dict]:
    """Return ``(dir, stats)`` for the input, building it once per key."""
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    path = os.path.join(root, f"{name}-s{seed}-{key}")
    marker = os.path.join(path, _DONE)
    if os.path.exists(marker):
        with open(marker) as f:
            return path, json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    stats = build(tmp, np.random.default_rng(seed), **size)
    stats["bytes"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(tmp) for f in fs
    )
    with open(os.path.join(tmp, _DONE), "w") as f:
        json.dump(stats, f)
    os.rename(tmp, path)
    return path, stats


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase words of 3-9 letters."""
    letters = np.array(list(string.ascii_lowercase))
    words: set[str] = set()
    while len(words) < n:
        lens = rng.integers(3, 10, size=n)
        for ln in lens:
            words.add("".join(rng.choice(letters, size=ln)))
            if len(words) == n:
                break
    return np.array(sorted(words), dtype=object)[rng.permutation(n)]


# --- mr_index ----------------------------------------------------------------


def _build_corpus(out, rng, lines, vocab, files, zipf_s=1.2, min_words=24, max_words=48):
    words = _vocab(rng, vocab)
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    p /= p.sum()
    counts = rng.integers(min_words, max_words + 1, size=lines)
    tokens = words[rng.choice(vocab, size=int(counts.sum()), p=p)]
    bounds = np.concatenate([[0], np.cumsum(counts)])
    per_file = -(-lines // files)
    for i in range(files):
        rows = range(i * per_file, min(lines, (i + 1) * per_file))
        with open(os.path.join(out, f"part-{i:03d}.txt"), "w") as f:
            for r in rows:
                f.write(" ".join(tokens[bounds[r]:bounds[r + 1]]) + "\n")
    return {"rows": lines, "files": files, "vocab": vocab, "zipf_s": zipf_s}


def corpus(root: str, seed: int, lines: int, vocab: int, files: int):
    return _cached(root, "corpus", seed, {"lines": lines, "vocab": vocab, "files": files}, _build_corpus)


def read_corpus(path: str) -> list[tuple[int, str]]:
    """``(byte offset, line)`` for every line of every corpus file —
    exactly the records Hadoop's TextInputFormat yields."""
    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".txt"):
            continue
        off = 0
        with open(os.path.join(path, name), "rb") as f:
            for raw in f:
                out.append((off, raw.rstrip(b"\n").decode()))
                off += len(raw)
    return out


# --- sql_driver --------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _pick(rng, values, n):
    return np.array(values, dtype=object)[rng.integers(0, len(values), size=n)]


def _days(rng, start, end, n):
    span = (np.datetime64(end) - np.datetime64(start)).astype(int)
    return (np.datetime64(start, "D") + rng.integers(0, span + 1, size=n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _write_table(out, name, cols: dict, rng, shuffle=True):
    df = pd.DataFrame(cols)
    if shuffle:
        df = df.iloc[rng.permutation(len(df))]
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"), compression="snappy")
    return len(df)


def _build_tpch(out, rng, sf_milli):
    """Tables at scale factor ``sf_milli / 1000`` (row counts per TPC-H:
    customer 150k·sf, orders 1.5M·sf, lineitem ~6M·sf, part 200k·sf,
    supplier 10k·sf), with the fixture's schemas and value domains."""
    f = sf_milli / 1000
    n_cust, n_ord, n_li = int(150_000 * f), int(1_500_000 * f), int(6_000_000 * f)
    n_part, n_supp = int(200_000 * f), max(25, int(10_000 * f))
    i32 = np.int32
    rows = {}
    rows["region"] = _write_table(out, "region", {
        "r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS}, rng, shuffle=False)
    rows["nation"] = _write_table(out, "nation", {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32)}, rng, shuffle=False)
    rows["customer"] = _write_table(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, size=n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)}, rng)
    rows["supplier"] = _write_table(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, size=n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}, rng)
    rows["part"] = _write_table(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, _ADJ, n_part) + " " + _pick(rng, _NOUN, n_part),
        "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)], dtype=object),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": rng.integers(1, 51, size=n_part).astype(i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)}, rng)
    rows["orders"] = _write_table(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, size=n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 900, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)}, rng)
    rows["lineitem"] = _write_table(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, size=n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, size=n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, size=n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, size=n_li).astype(i32),
        "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, size=n_li) / 100,
        "l_tax": rng.integers(0, 9, size=n_li) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)}, rng)
    return {"sf": f, "rows": sum(rows.values()), "table_rows": rows}


def tpch(root: str, seed: int, sf_milli: int):
    return _cached(root, "tpch", seed, {"sf_milli": sf_milli}, _build_tpch)
