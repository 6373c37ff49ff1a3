"""bench.py driver-contract guards.

The driver parses bench.py's stdout as ONE JSON line; anything else a
bench phase emits must go to stderr. The sf1 fixture generator is a
subprocess, so its inherited stdout is the one place a phase could
pollute the contract without any print() in bench.py itself.
"""

import json
import os
import subprocess
import sys
import textwrap

import bench


def test_ensure_sf1_keeps_child_output_off_stdout(tmp_path, monkeypatch):
    calls = {}

    def fake_run(cmd, **kwargs):
        calls["cmd"] = cmd
        calls["stdout"] = kwargs.get("stdout")
        return subprocess.CompletedProcess(cmd, 0)

    monkeypatch.setattr(subprocess, "run", fake_run)
    assert bench._ensure_sf1(str(tmp_path / "sf1")) is True
    # gen_sf.py prints per-table progress; it must not inherit bench's
    # stdout (the driver parses stdout as a single JSON line).
    assert calls["stdout"] is sys.stderr


def test_ensure_sf1_short_circuits_on_existing_fixture(tmp_path, monkeypatch):
    sf1 = tmp_path / "sf1"
    sf1.mkdir()
    (sf1 / "lineitem.parquet").write_bytes(b"")

    def boom(*a, **k):  # pragma: no cover - must not be reached
        raise AssertionError("subprocess.run called despite existing fixture")

    monkeypatch.setattr(subprocess, "run", boom)
    assert bench._ensure_sf1(str(sf1)) is True


def test_main_prints_one_contract_line_and_layers(tmp_path):
    """bench.main() on two headline queries, one of them ``udf``, at
    sf0.001 (no sf1 phase): stdout is exactly one JSON line with the
    contract keys, and the detail file holds one ``layers`` record per
    query. bench stops its SparkContexts between phases, so it runs in a
    child process rather than against this session's context."""
    names = ["q6_revenue_delta", "mapreduce_api_eventfilter"]
    detail = tmp_path / "BENCH_LOCAL.json"
    code = textwrap.dedent(f"""
        import bench
        specs = bench.bench_queries()
        bench.bench_queries = lambda: {{n: specs[n] for n in {names!r}}}
        bench.DETAIL_PATH = {str(detail)!r}
        bench.main()
    """)
    repo = os.path.dirname(os.path.abspath(bench.__file__))
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
           "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run([sys.executable, "-c", code], cwd=repo, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout
    line = json.loads(lines[0])
    assert set(line) == {"metric", "value", "unit", "queries", "runs", "sf", "detail_file"}
    assert sorted(line["queries"]) == sorted(names)
    assert line["sf"] == 0.001 and line["detail_file"] == "BENCH_LOCAL.json"
    layers = json.loads(detail.read_text())["layers"]
    assert sorted(layers) == sorted(names)
    for rec in layers.values():
        assert rec["jobs"] >= 1 and rec["wall_s"] > 0
