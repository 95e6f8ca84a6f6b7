#!/usr/bin/env python3
"""The repository benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from ``--seed``, builds what the
workload needs from an empty index dir, measures for about
``--seconds``, checks every output, and prints as its last stdout line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs the same workload with Spark's event log on and
reports the per-layer metrics (and writes the spans to
``.perfbench/traces/``).  Progress and failures go to stderr/stdout
lines starting with ``#``.  Exits non-zero when the program is missing
or an output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

WORKLOADS = ("batch", "serve")
#: scale of the generated tables (gen.SCALES)
SF = "sf0.01"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_block(spec_list: list[dict], values: dict[str, float]) -> dict:
    out = {}
    for m in spec_list:
        if m["name"] not in values:
            raise KeyError(f"workload did not measure {m['name']}")
        out[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
    return out


def run_once(args, spec: dict) -> dict:
    import gen
    from harness import Run, median, percentile

    run = Run(args.workload, args.seed, bool(args.trace))
    try:
        scale = gen.SCALES[SF]
        tables = gen.make_tables(args.seed, scale)
        gen.write_tables(tables, run.sf_dir)
        shuffle = run.nproc
        boot_s = run.boot(shuffle)
        print(f"# boot {boot_s:.2f}s", file=sys.stderr, flush=True)
        if args.workload == "serve":
            import serve

            res = serve.run_workload(run, tables, args.seconds)
        else:
            import batch

            res = batch.run_workload(run, batch.ROWS, args.seconds)
        lat_ms = [1000 * x for x in res["latencies_s"]]
        end_to_end = {
            "setup_s": boot_s + res["setup_extra_s"],
            "cpu_ms_per_op": 1000 * res["cpu_per_op_s"],
            "rss_peak_mb": run.rss.peak,
        }
        wall = {
            "latency_geomean_ms": statistics.geometric_mean(lat_ms),
            "latency_p50_ms": percentile(lat_ms, 50),
            "latency_p75_ms": percentile(lat_ms, 75),
            "latency_p95_ms": percentile(lat_ms, 95),
            "pass_s": res["pass_s"],
        }
        per_layer = {
            "session.boot_s": boot_s,
            "spark.job_floor_ms": 1000 * median(res["floors_s"]),
            **{f"traced.{k}": v for k, v in {**end_to_end, **wall}.items()},
            **res["per_layer"],
        }
        info = {
            "workload": args.workload, "seed": args.seed, "sf": scale.sf,
            "nproc": run.nproc, "shuffle_partitions": shuffle,
            "latency_samples": len(lat_ms), "host_steal_share": round(run.steal_share(), 4),
            "python_rss_peak_mb": round(run.rss.python_peak),
            "wall": {k: round(v, 4) for k, v in wall.items()},
            **res["info"],
        }
        print("# info " + json.dumps(info), file=sys.stderr, flush=True)
        trace_extra = {"info": info, "per_layer": per_layer}
        spans = run.spans
        ops, rows_out = res["ops"], res["rows_out"]
        run.stop_spark()
        if args.trace:
            import eventlog

            groups = eventlog.per_group(eventlog.log_file(run.event_dir))
            per_layer.update(eventlog.summarize(groups, ops, rows_out))
            trace_extra["job_groups"] = groups
            path = run.write_trace(trace_extra)
            print(f"# trace written to {path} ({len(spans)} spans)", file=sys.stderr)
            names = spec["per_layer"]
            metrics = metric_block(names, {m["name"]: per_layer.get(m["name"], 0.0) for m in names})
        else:
            metrics = metric_block(spec["end_to_end"], end_to_end)
        return {
            "correct": res["failed"] == 0,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": metrics,
        }
    finally:
        run.close()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "car_etl_spark", "__init__.py")):
        print(f"# the program (car_etl_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    try:
        result = run_once(args, load_spec())
    except Exception:
        traceback.print_exc()
        return 1
    print(f"# run took {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
