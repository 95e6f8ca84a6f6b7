"""Run-scoped plumbing shared by every workload: the private run
directory, the Spark session, spans, per-op job counting, and peak RSS.

Run state lives on a :class:`Run` object the entry point creates; the
environment variables it sets are for the program's child processes
(the JVM and its Python workers).  Everything the run writes goes under
its own directory inside the checkout, which :meth:`Run.close` removes.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: per-run scratch (index stores, tables, Spark local dirs, event log)
#: lives under here; traces written with ``--trace 1`` stay behind in
#: ``TRACE_DIR`` for reading after the run
WORK_DIR = os.path.join(ROOT, ".perfbench")
TRACE_DIR = os.path.join(WORK_DIR, "traces")
#: JVM flags of every run.  A run lives about a minute, and with the
#: default tiered JIT the C2 compiler spent half the run's CPU and was
#: still compiling when it ended, so the CPU a request or pass cost
#: tracked how far compilation had got; C1 alone finishes early and
#: halves that CPU.  -XX:-UsePerfData keeps hsperfdata files out of /tmp.
JVM_OPTIONS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, pct: int) -> float:
    """The ``pct``-th percentile, linearly interpolated between order
    statistics (steadier than nearest rank on a few dozen samples)."""
    ys = list(xs)
    if len(ys) < 2:
        return float(ys[0]) if ys else 0.0
    return float(statistics.quantiles(ys, n=100, method="inclusive")[pct - 1])


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            pages = int(f.read().split()[1])
    except (OSError, ValueError, IndexError):
        return 0.0
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


def driver_pids() -> list[int]:
    """This process and the processes its main thread started: the
    driver Python and the local-mode JVM.  The JVM's Python workers are
    left out — their number follows task timing, and their forked pages
    would be counted once per worker."""
    me = os.getpid()
    try:
        with open(f"/proc/{me}/task/{me}/children") as f:
            return [me, *(int(x) for x in f.read().split())]
    except OSError:
        return [me]


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and
    every process under it — the JVM and its Python workers — counting
    exited children through their parents' reaped-children times."""
    procs: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # fields after the command: state ppid ... utime(12) stime(13)
        # cutime(14) cstime(15), counted from the state at index 0
        procs[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    tree, frontier = set(), [os.getpid()]
    while frontier:
        pid = frontier.pop()
        tree.add(pid)
        frontier += [p for p, (pp, _) in procs.items() if pp == pid and p not in tree]
    return sum(procs[p][1] for p in tree if p in procs) / os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) CPU jiffies of the host so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def concurrently(run: Run, tasks: dict) -> dict:
    """Run ``{key: fn}`` on one thread (and FAIR pool) each; returns
    ``{key: result}`` and re-raises the first failure."""
    out, errors = {}, []

    def work(i: int, key, fn) -> None:
        run.spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"w{i}")
        try:
            out[key] = fn()
        except Exception as e:  # re-raised below, on the calling thread
            errors.append(e)

    threads = [
        threading.Thread(target=work, args=(i, k, fn), daemon=True)
        for i, (k, fn) in enumerate(tasks.items())
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return out


class RssSampler(threading.Thread):
    """Peak RSS of the driver Python plus the JVM, sampled every 50 ms."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = sum(_rss_mb(p) for p in driver_pids())
        #: peak of this (driver Python) process alone, for reading ``peak``
        self.python_peak = _rss_mb(os.getpid())
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(0.05):
            self.peak = max(self.peak, sum(_rss_mb(p) for p in driver_pids()))
            self.python_peak = max(self.python_peak, _rss_mb(os.getpid()))

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak


class Run:
    """One benchmark run: owns the scratch directory, the Spark session
    and the spans recorded around every call into the program."""

    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.nproc = nproc()
        self.dir = os.path.join(WORK_DIR, f"run-{os.getpid()}-{time.time_ns()}")
        self.tmp = os.path.join(self.dir, "tmp")
        self.sf_dir = os.path.join(self.dir, "tables")
        self.event_dir = os.path.join(self.dir, "eventlog")
        os.makedirs(self.tmp)
        os.makedirs(self.event_dir)
        # the program and its Python workers import car_etl_spark from
        # the checkout; scratch files of every process stay in the run dir
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.tmp} {JVM_OPTIONS}"
        # a 1 GB driver heap is ample for these table sizes; with 2 GB
        # the peak RSS followed when G1 happened to grow the heap
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
        self.spark = None
        self.spans: list[dict] = []
        self._span_lock = threading.Lock()
        self._ids = 0
        self.rss = RssSampler()
        self.rss.start()
        self.jiffies0 = cpu_jiffies()

    def steal_share(self) -> float:
        """Share of host CPU time stolen by other guests since the run
        began — context for reading a slow run, not a program cost."""
        total, steal = cpu_jiffies()
        return (steal - self.jiffies0[1]) / max(1, total - self.jiffies0[0])

    # -- index dirs -----------------------------------------------------------

    def fresh_index_dir(self, tag: str) -> str:
        """An empty ``CAR_ETL_INDEX_DIR``: every ensure_* call under it
        builds from scratch, and nothing touches the shared cache."""
        d = os.path.join(self.dir, f"indexes-{tag}")
        os.makedirs(d)
        os.environ["CAR_ETL_INDEX_DIR"] = d
        return d

    # -- session ----------------------------------------------------------------

    def boot(self, shuffle_partitions: int) -> float:
        """Start the tuned session; returns its wall time in seconds."""
        conf = {
            "spark.scheduler.mode": "FAIR",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            # jobs are counted per job group after the run: keep them all
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + self.event_dir,
            })
        t0 = time.perf_counter()
        from car_etl_spark.session import get_spark

        self.spark = get_spark(
            f"perfbench-{self.workload}",
            master=f"local[{nproc()}]",
            shuffle_partitions=shuffle_partitions,
            extra_conf=conf,
        )
        self.spark.range(1).count()
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def job_floor_s(self) -> float:
        """Wall time of a minimal one-task job."""
        t0 = time.perf_counter()
        self.spark.sparkContext.parallelize([0], 1).count()
        return time.perf_counter() - t0

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers) to exit — also when the run was cut short while the
        session was still starting."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is None and gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception as e:  # the JVM may already be gone
                print(f"# gateway shutdown: {e!r}", file=sys.stderr)
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def close(self) -> None:
        self.rss.stop()
        self.stop_spark()
        shutil.rmtree(self.dir, ignore_errors=True)

    # -- spans and job counting -------------------------------------------------

    def new_id(self, prefix: str) -> str:
        with self._span_lock:
            self._ids += 1
            return f"{prefix}-{self._ids}"

    @contextmanager
    def span(self, op_id: str, layer: str, name: str):
        """Time one call into the program.  Spark jobs it starts are
        tagged with a job group ``<op_id>:<layer>`` (so they can be
        counted and found in the event log) and the description
        ``name``.  The span dict is yielded so callers can attach
        counts; ``jobs`` is filled in by :meth:`count_jobs`."""
        sc = self.spark.sparkContext
        group = f"{op_id}:{layer}"
        sc.setJobGroup(group, name)
        rec = {"op": op_id, "layer": layer, "name": name}
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["start"] = t0
            rec["dur_s"] = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            rec["group"] = group
            with self._span_lock:
                self.spans.append(rec)

    def count_jobs(self) -> None:
        """Fill ``jobs`` on every span.  Job-start events reach the
        status store through the asynchronous listener bus, so drain it
        first."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        for s in self.spans:
            s["jobs"] = len(tracker.getJobIdsForGroup(s["group"]))

    def spans_of(self, layer: str, name: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["layer"] == layer and (name is None or s["name"] == name)
        ]

    def write_trace(self, extra: dict) -> str:
        os.makedirs(TRACE_DIR, exist_ok=True)
        path = os.path.join(TRACE_DIR, f"{self.workload}-seed{self.seed}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=0, default=str)
        return path
