"""The benchmark's own smoke test: every workload end to end at tiny
size (sf0.001 tables, a 2K-row store, 50-doc deltas), untraced and
traced, checking that the result line carries exactly the metrics
BENCHMARK.json names and that every output check passed.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run_bench(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_reports_every_metric(workload, trace):
    res = run_bench(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]


def test_refuses_to_run_without_the_engine(tmp_path):
    """A checkout holding only the benchmark must fail fast, printing no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_text(open(os.path.join(HERE, f)).read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def test_summary_reports_when_every_write_fails():
    """A run whose every write raises still summarises, with the write
    figures empty and each failure named."""
    sys.path.insert(0, HERE)
    from common import Recorder
    from spans import NullTracer

    def refuse():
        raise OSError("no space left on device")

    rec = Recorder(NullTracer())
    rec.t_start = time.perf_counter()
    rec.op("read", "get", lambda: 1)
    rec.op("write", "set", refuse)
    rec.op("write", "patch", refuse)
    rec.t_end = time.perf_counter()
    out = rec.summary()
    assert out["read_p50_ms"] > 0 and out["read_samples"] == 1
    assert out["write_p50_ms"] is None and out["write_tail_ms"] is None
    assert out["ingest_rows_per_s"] is None and out["write_samples"] == 0
    assert rec.attempted == 3
    assert rec.failures == ["set: OSError: no space left on device",
                            "patch: OSError: no space left on device"]
