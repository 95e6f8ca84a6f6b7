"""BENCHMARK.json stays inside its format limits and names exactly what
run.py reports."""

import json
import os
import re

import batch
import gen
import ingest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def test_top_level_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(SPEC["paths"]) <= 16
    for p in SPEC["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p.split("/")
    assert 1 <= len(SPEC["command"]) <= 32 and all(len(c) <= 200 for c in SPEC["command"])
    assert isinstance(SPEC["run_seconds"], int) and 1 <= SPEC["run_seconds"] <= 60
    assert len(json.dumps(SPEC)) <= 64 * 1024


def test_workloads():
    assert 2 <= len(SPEC["workloads"]) <= 8
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"}
        assert NAME.match(w["name"]) and "\n" not in w["why"] and len(w["why"]) <= 200


def test_metric_names_units_and_bounds():
    e2e, layers = SPEC["end_to_end"], SPEC["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128
    names = [m["name"] for m in e2e + layers] + [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in layers:
        assert set(m) == {"name", "unit", "better"}
    for m in e2e + layers:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    setup = [m for m in e2e if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in e2e)


def test_per_layer_names_cover_what_the_workloads_report():
    names = {m["name"] for m in SPEC["per_layer"]}
    for mode in gen.SERVE_MODES:
        for k in ("plan_ms", "plan_jobs", "exec_ms", "exec_jobs"):
            assert f"api.{mode}.{k}" in names
    for m in batch.MODULES:
        assert f"queries.{m}.s" in names
    for p in ingest.PREFIX.values():
        for k in ("apply_batch_s", "compact_s", "bytes_per_user_byte", "files"):
            assert f"{p}.{k}" in names
    for m in SPEC["end_to_end"]:
        assert f"traced.{m['name']}" in names
