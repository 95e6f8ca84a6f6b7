"""The ``batch`` workload: one caller runs a fixed list of registry rows
in sequence, pass after pass, the way a scheduled report or pipeline
job runs them.

The rows mix the JVM-bound analytics side of the engine (scans,
shuffles, codegen, the money-sum parity path; no Python UDFs or index
stores) with the document-pipeline side (rows that cross the
Python/Arrow boundary and run wide aggregates), so the per-module split
``queries.<module>.s`` shows which side a change moved.  A row is
resolved the way ``bench.py`` resolves it (fine-grained form first), so
it names the same work as that series' row of the same name — but its
figures are medians of a few passes after two warm-up passes in a
fresh session, at sf0.01 on ``nproc`` cores, and do not compare with it.

Each row is split into a ``plan`` span (the registry function returning
its DataFrame) and an ``exec`` span (collecting the full result to the
driver); the collected results are what the oracle checks compare.
"""

from __future__ import annotations

import time

from harness import Run, concurrently, median, tree_cpu_s

ROWS = (
    # JVM-bound analytics
    "q1_pricing_summary",
    "flagship_portfolio_rollup",
    # document pipeline: Python/Arrow boundary and wide aggregates
    "minhash_lsh_neardup",
    "pii_entity_counts",
)

#: home modules reported as ``queries.<module>.s`` (zero when a
#: workload runs no row of that module)
MODULES = ("relational", "analytics", "dedup", "pii")


def resolve(names):
    """name -> (fn, oracle or None).  Fine-grained forms first, like
    ``bench.py``; only a registry row timed as itself has an oracle."""
    from car_etl_spark.queries import build_registry
    from car_etl_spark.queries.suites import fine_grained_queries

    reg, fine = build_registry(), fine_grained_queries()
    out = {}
    for n in names:
        if n in fine:
            out[n] = (fine[n], None)
        else:
            out[n] = (reg[n].fn, reg[n].oracle)
    return out


def oracle_rows(oracle, sf_dir: str):
    """The registry's DuckDB oracle result for one row."""
    from car_etl_spark.oracle import run_oracle
    from car_etl_spark.queries import resolve_oracle

    return run_oracle(resolve_oracle(oracle, sf_dir), sf_dir)


def mismatch(name: str, got, want) -> str | None:
    """Row count + order-insensitive value comparison of ``got`` with
    ``want``, with the project's own comparator."""
    from car_etl_spark.oracle import _canon_rows

    if sorted(got.columns) != sorted(want.columns):
        return f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows != {len(want)}"
    if _canon_rows(got) != _canon_rows(want):
        return f"{name}: values differ"
    return None


def build_default_stores(run: Run) -> dict[str, float]:
    """Build the registry's default suffix posting store and IVF store
    through their own ``ensure_*`` entry points, side by side, into the
    run's empty index dir; returns each build's wall time.  No batch
    row reads them: the traced run builds them after the pass only to
    report these two build layers."""
    from car_etl_spark.operators.indexing import ensure_ivf_index, ensure_posting_index

    builds = {
        "indexing.ensure_posting_s": lambda: ensure_posting_index(run.spark, run.sf_dir),
        "indexing.ensure_ivf_s": lambda: ensure_ivf_index(run.spark, run.sf_dir),
    }

    def timed(key: str) -> float:
        with run.span("default-stores", "setup", key) as s:
            builds[key]()
        return s["dur_s"]

    return concurrently(run, {k: (lambda k=k: timed(k)) for k in builds})


def run_pass(run: Run, fns: dict, tag: str, outputs: dict | None = None,
             cpu: dict | None = None) -> dict[str, float]:
    """One pass over ``fns`` in order, one op per row; returns each
    row's wall time.  A row that raises is left out and, when
    ``outputs`` is given, recorded there as the exception.  When
    ``cpu`` is given, each row's process-tree CPU seconds are appended
    to ``cpu[name]``."""
    spark, sf = run.spark, run.sf_dir
    times = {}
    for name, (fn, _) in fns.items():
        op = run.new_id(tag)
        r0, c0 = time.perf_counter(), tree_cpu_s()
        try:
            with run.span(op, "plan", name):
                df = fn(spark, sf)
            with run.span(op, "exec", name):
                got = df.toPandas()
        except Exception as e:  # counted as a failed op by the caller
            got = e
        else:
            times[name] = time.perf_counter() - r0
        if cpu is not None:
            cpu.setdefault(name, []).append(tree_cpu_s() - c0)
        if outputs is not None:
            outputs.setdefault(name, []).append(got)
    return times


#: a warm pass takes 6-7 s on 4 cores: ``--seconds`` buys
#: about ``seconds / PASS_S`` timed passes, and never fewer than
#: MIN_PASSES, so the median pass is a middle one
PASS_S = 7
MIN_PASSES = 3
#: untimed passes first: after one, each row's CPU still fell by up to
#: a third over the next three passes
WARM_PASSES = 2


def run_workload(run: Run, rows: tuple[str, ...], seconds: float) -> dict:
    """:data:`WARM_PASSES` warm-up passes (part of set-up: they compile
    every row's plan and warm the JIT), then a fixed number of timed
    passes, about ``seconds`` of them on 4 cores; every timed pass's
    output of every row is checked.  The count is fixed, not timed, so
    a slow run does the same work as a fast one."""
    sf = run.sf_dir
    t0 = time.perf_counter()
    run.fresh_index_dir("batch")
    fns = resolve(rows)
    for _ in range(WARM_PASSES):
        run_pass(run, fns, "warm")
    setup_s = time.perf_counter() - t0
    floors = [run.job_floor_s() for _ in range(3)]

    outputs: dict[str, list] = {}
    passes: list[dict[str, float]] = []
    pass_walls: list[float] = []
    row_cpu: dict[str, list[float]] = {}
    for _ in range(max(MIN_PASSES, round(seconds / PASS_S))):
        w0 = time.perf_counter()
        passes.append(run_pass(run, fns, "row", outputs, row_cpu))
        pass_walls.append(time.perf_counter() - w0)

    attempted, failed = 0, 0
    for name, (fn, oracle) in fns.items():
        # against the oracle where the row has one; otherwise every
        # pass must return what the first pass returned
        want = None
        if oracle is not None:
            try:
                want = oracle_rows(oracle, sf)
            except Exception as e:  # an oracle that cannot run fails every check
                want = e
        for got in outputs[name]:
            attempted += 1
            if isinstance(got, Exception):
                reason = f"{name}: {got!r}"
            elif isinstance(want, Exception):
                reason = f"{name}: oracle error {want!r}"
            elif want is None:
                want, reason = got, None
            else:
                reason = mismatch(name, got, want)
            if reason:
                failed += 1
                print(f"# FAILED {reason}", flush=True)
    ops = {s["op"] for s in run.spans if s["op"].startswith("row-")}
    row_s = {n: median(p[n] for p in passes if n in p) for n in fns if any(n in p for p in passes)}

    builds = build_default_stores(run) if run.trace else {}
    run.count_jobs()
    # per-layer times are per timed pass: the median over passes of the
    # pass's sum for each module and for each of plan and exec
    per_pass: list[dict[str, float]] = [{} for _ in passes]
    order = {op: i for i, op in enumerate(sorted(ops, key=lambda o: int(o.split("-")[1])))}
    module = {n: fn.__module__.rsplit(".", 1)[-1] for n, (fn, _) in fns.items()}
    for s in run.spans:
        if s["op"] in ops:
            acc = per_pass[order[s["op"]] // len(fns)]
            for key in (f"queries.{module[s['name']]}.s", f"queries.{s['layer']}_s"):
                acc[key] = acc.get(key, 0.0) + s["dur_s"]
    keys = {k for p in per_pass for k in p} | {f"queries.{m}.s" for m in MODULES}
    per_layer = {**builds, **{k: median(p.get(k, 0.0) for p in per_pass) for k in keys}}
    return {
        "ops": ops,
        "rows_out": sum(len(o) for outs in outputs.values() for o in outs
                        if not isinstance(o, Exception)),
        "attempted": attempted,
        "failed": failed,
        "setup_extra_s": setup_s,
        "latencies_s": list(row_s.values()),
        "pass_s": median(pass_walls),
        # each row's median over the passes, so one slow pass of a row
        # does not move it
        "cpu_per_op_s": sum(median(v) for v in row_cpu.values()) / len(fns),
        "floors_s": floors,
        "per_layer": per_layer,
        "info": {
            "rows": len(fns), "oracle_checked": sum(o is not None for _, o in fns.values()),
            "passes": len(passes), "pass_s": [round(x, 3) for x in pass_walls],
            "row_cpu_s": {n: [round(x, 2) for x in v] for n, v in row_cpu.items()},
            "row_s": {n: round(v, 3) for n, v in row_s.items()},
        },
    }
