"""End-to-end smoke runs of the registered workloads at sf0.01 (one to
two minutes each on 4 cores)."""

import json
import os
import subprocess
import sys

import pytest

import ingest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "3", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [("serve", 1), ("batch", 0), ("batch", 1)])
def test_smoke(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    elif workload == "serve":
        assert out["metrics"]["api.pq.plan_ms"]["value"] > 0
        assert out["metrics"]["spark.jobs"]["value"] > 0
        # the write stream ran, and its reads were checked
        assert out["attempted"] > 10
        for p in ingest.PREFIX.values():
            assert out["metrics"][f"{p}.apply_batch_s"]["value"] > 0
        assert out["metrics"]["ingest.freshness_p50_s"]["value"] > 0
    else:
        assert out["metrics"]["queries.plan_s"]["value"] > 0
        assert out["metrics"]["indexing.ensure_posting_s"]["value"] > 0
        assert out["metrics"]["indexing.ensure_ivf_s"]["value"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "3", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in p.stdout.splitlines())
