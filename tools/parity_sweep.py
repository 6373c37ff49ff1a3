"""Full-registry oracle-parity sweep at a big SF as ONE artifact.

Runs tools/driver_sim.py in a FRESH subprocess per chunk (fresh
SparkSession + fresh DuckDB each time), so executor memory pressure from
early queries can never fail late queries environmentally. Aggregates every
chunk's per-query lines into PARITY.md with a single ALL-OK/FAIL
verdict.

Usage:
    python tools/parity_sweep.py [--sf DIR] [--chunks N] [--mem SIZE]
                                 [--out PARITY.md]
"""

from __future__ import annotations

import argparse
import datetime
import os
import re
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.path.join(_REPO, "testdata", "sf1"))
    ap.add_argument("--chunks", type=int, default=6)
    ap.add_argument("--mem", default="8g",
                    help="driver memory per chunk process (sf1 graph "
                         "queries need >1g; a harness bound, not an "
                         "engine one — see driver_sim.py)")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    out_path = args.out or os.path.join(_REPO, "PARITY.md")

    lines_by_query: dict[str, str] = {}
    chunk_reports: list[str] = []
    all_fails: list[str] = []
    expected_total = -1
    t_start = time.time()
    for i in range(args.chunks):
        env = dict(os.environ)
        env["SPARK_GRAFT_SIM_SF"] = args.sf
        env["SPARK_GRAFT_SIM_CHUNK"] = f"{i}/{args.chunks}"
        env["SPARK_GRAFT_SIM_MEM"] = args.mem
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(_REPO, "tools", "driver_sim.py")],
            capture_output=True, text=True, env=env, cwd=_REPO,
        )
        dt = time.time() - t0
        n_q = 0
        m_total = re.search(r"^(\d+) queries,", proc.stdout, re.M)
        if m_total:
            tot = int(m_total.group(1))
            if i == 0:
                expected_total = tot
            elif tot != expected_total:
                # the registry changed while the sweep ran: strided
                # chunks no longer partition the same list — results
                # would silently miss queries. Fail loudly.
                all_fails.append(
                    f"<registry drift: chunk 0 saw {expected_total} "
                    f"queries, chunk {i} saw {tot}>")
        for line in proc.stdout.splitlines():
            m = re.match(r"^  (\S+): (.*)$", line)
            if m:
                lines_by_query[m.group(1)] = m.group(2)
                n_q += 1
                if "MISMATCH" in line or "ERROR" in line:
                    all_fails.append(m.group(1))
        verdict = ("OK" if proc.returncode == 0 else
                   f"EXIT {proc.returncode}")
        chunk_reports.append(
            f"| {i}/{args.chunks} | {n_q} | {dt:.0f}s | {verdict} |")
        print(f"# chunk {i}/{args.chunks}: {n_q} queries, {dt:.0f}s, "
              f"{verdict}", file=sys.stderr)
        if proc.returncode != 0:
            # ANY non-zero exit is a failure (a chunk that
            # printed all its per-query lines and THEN died — abnormal
            # teardown, OOM-kill after the last line — must not let the
            # sweep report ALL OK), with stderr surfaced when the chunk
            # died before reporting anything.
            if not n_q:
                print(proc.stderr[-2000:], file=sys.stderr)
            all_fails.append(
                f"<chunk {i} exit {proc.returncode} after {n_q} queries>")

    if expected_total > 0 and len(lines_by_query) != expected_total:
        all_fails.append(
            f"<coverage hole: {len(lines_by_query)} per-query results "
            f"vs {expected_total} registered>")
    n_match = sum(1 for v in lines_by_query.values() if v == "MATCH")
    n_rows_only = sum(
        1 for v in lines_by_query.values() if v.startswith("rows-only"))
    ok = not all_fails
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime(
        "%Y-%m-%d %H:%MZ")
    with open(out_path, "w") as fh:
        fh.write(
            f"# Oracle parity sweep — {os.path.basename(args.sf)}, "
            f"fresh session per chunk\n\n"
            f"Generated {stamp} by `tools/parity_sweep.py --sf {args.sf} "
            f"--chunks {args.chunks} --mem {args.mem}` "
            f"({time.time() - t_start:.0f}s total).\n\n"
            f"One fresh `driver_sim.py` process per chunk (vanilla "
            f"SparkSession + DuckDB rebuilt each time), so no composition "
            f"caveat: every query ran against its oracle in a clean "
            f"session this sweep.\n\n"
            f"**RESULT: {'ALL OK' if ok else 'FAIL ' + str(sorted(set(all_fails)))}** — "
            f"{n_match} MATCH, {n_rows_only} rows-only (by design), "
            f"{len(all_fails)} failures, {len(lines_by_query)} queries "
            f"total.\n\n"
            f"| chunk | queries | wall | verdict |\n|---|---|---|---|\n"
        )
        fh.write("\n".join(chunk_reports))
        fh.write("\n\n## Per-query status\n\n```\n")
        for name in sorted(lines_by_query):
            fh.write(f"{name}: {lines_by_query[name]}\n")
        fh.write("```\n")
    print(f"# wrote {out_path}", file=sys.stderr)
    print("RESULT:", "ALL OK" if ok else f"FAIL {sorted(set(all_fails))}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
