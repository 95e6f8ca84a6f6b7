"""Spark event-log reader for the traced run.

With ``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``
Spark writes one JSON object per line.  Each job carries the job group
the harness set around the call that started it (``<op>:<layer>``), and
each completed stage carries its task-metric accumulables, so stage
costs sum up per job group and from there per op and per workload.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

#: stage accumulable name -> (our key, scale to the reported unit)
ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.input.bytesRead": ("scan_bytes", 1.0),
    "internal.metrics.input.recordsRead": ("records_read", 1.0),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1.0),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1.0),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1.0),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1.0),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1.0),
    # SQL metrics of the Arrow/pandas UDF operators
    "data sent to Python workers": ("python_sent_bytes", 1.0),
    "data returned from Python workers": ("python_received_bytes", 1.0),
}
KEYS = ("jobs", "stages", "tasks", *dict.fromkeys(k for k, _ in ACCUMULABLES.values()))


def log_file(event_dir: str) -> str:
    """The single finished log a stopped session leaves in ``event_dir``."""
    names = [n for n in os.listdir(event_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {event_dir}, found {names}")
    return os.path.join(event_dir, names[0])


def per_group(path: str) -> dict[str, dict[str, float]]:
    """Job group -> summed costs of the jobs and stages it started.
    A stage shared by several jobs is charged to the first job that
    lists it."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(KEYS, 0.0))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                out[group]["jobs"] += 1
                for st in ev.get("Stage Infos", []):
                    stage_group.setdefault(st["Stage ID"], group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Failure Reason" in info:
                    continue
                g = out[stage_group.get(info["Stage ID"], "-")]
                g["stages"] += 1
                g["tasks"] += info.get("Number of Tasks", 0)
                for acc in info.get("Accumulables", []):
                    hit = ACCUMULABLES.get(acc.get("Name"))
                    if hit is not None:
                        g[hit[0]] += float(acc.get("Value") or 0) * hit[1]
    return dict(out)


def summarize(groups: dict[str, dict[str, float]], ops: set[str], rows_out: int) -> dict[str, float]:
    """Per-op means over the timed ops (job groups ``<op>:<layer>`` with
    ``op`` in ``ops``), as the ``spark.*`` per-layer metrics."""
    tot = dict.fromkeys(KEYS, 0.0)
    for group, g in groups.items():
        if group.split(":", 1)[0] in ops:
            for k in KEYS:
                tot[k] += g[k]
    n = max(1, len(ops))
    out = {f"spark.{k}": tot[k] / n for k in KEYS if k != "records_read"}
    out["spark.records_read_per_row_out"] = tot["records_read"] / max(1, rows_out)
    return out
