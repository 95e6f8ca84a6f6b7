#!/usr/bin/env python
"""Maintenance-under-serving soak: race apply_batch/compact against
live serving queries and assert every serve is EXACT for a committed
snapshot.

Every LSM store's crash discipline is pinned in isolation
(tests/test_indexing.py, tests/test_snapshot_isolation.py), but the
production condition at 100 TB is that maintenance never stops: a
serve can land at ANY instant inside an apply_batch or a compact.
This script is the whole-system version of that condition:

- a MAINTENANCE thread drives N deterministic batches (upserts +
  deletes for the posting and IVF stores, appends for the rollup
  store) with a compact every K batches, continuously, no pauses;
- SERVING threads (own FAIR scheduler pools) loop FIVE serving shapes
  — tf-ranked term search, certified-exact vector top-k, day-grain
  rollup, exact-substring from the positional trigram chain, and
  certified-exact PQ top-k whose store RETRAINS its codebooks at every
  compaction wave (the race that makes generation-pinning codebooks
  with codes load-bearing) — the whole time;
- every serve samples the store's committed state id BEFORE and AFTER
  (posting/IVF: ``applied_through`` from meta; rollup:
  max(compaction epoch, applied sentinel)) and must equal the
  brute-force answer for that state.  A serve that straddles a commit
  (ids differ) must equal SOME state in the closed range — the
  linearizability-at-batch-granularity contract.

Brute-force oracles are INDEX-FREE, computed per state from the
python-side ground-truth corpus before any racing starts: the posting
oracle re-derives tf ranking from raw text through the tokenizer
kernel only (no store), the vector oracle is a full cosine scan, the
rollup oracle a direct groupBy over the accumulated events.

With the generation-numbered layouts (compact publishes layout-<g+1>
and flips a pointer; the old generation survives one compact interval
for in-flight readers) a serve never loses its files mid-job — the
expected retry count is ZERO.  The retry-with-backoff path remains as
defense-in-depth; retries are counted and reported, never hidden.

Output: one JSON line with per-shape serve latencies split by
maintenance activity, equality/straddle/retry counters, and a
hard nonzero exit on any equality failure.

Usage: python scripts/soak_maintenance_serving.py [n_batches] [serve_threads]
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from car_etl_spark.functions import vectors as V  # noqa: E402
from car_etl_spark.functions.text import stem_py  # noqa: E402
from car_etl_spark.operators import indexing as IX  # noqa: E402
from car_etl_spark.operators import lsm  # noqa: E402
from car_etl_spark.session import get_spark  # noqa: E402
from car_etl_spark.streaming.rollup_store import RollupStore  # noqa: E402

N_BATCHES = int(sys.argv[1]) if len(sys.argv) > 1 else 12
SERVE_THREADS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
COMPACT_EVERY = 4
#: corpus scale knob (MAINT_SOAK_SCALE=8 -> 4800 docs / 3200 vectors):
#: batch sizes stay page-sized (realistic — corpora grow, connector
#: pages don't), so larger scales stress the base/delta asymmetry
SCALE = int(os.environ.get("MAINT_SOAK_SCALE", "1"))
N_DOCS, N_VECS, DIM = 600 * SCALE, 400 * SCALE, 8
TERMS = [stem_py(t) for t in ("spark", "window", "merge")]
#: exact-substring serving arm: the positional trigram chain under the
#: same race (lowercase corpus, no leading whitespace -> the serve's
#: normalization is the identity and the python oracle is a plain scan)
SUB_PATTERN = "spark window"
QUERY_K = 10

VOCAB = [
    "spark", "window", "merge", "stream", "batch", "delta", "store",
    "index", "probe", "vector", "token", "shard", "join", "scan",
    "filter", "group", "sort", "limit", "union", "state", "epoch",
    "commit", "snapshot", "tomb", "radix", "hash", "page", "block",
    "queue", "retry",
]


# -- deterministic ground-truth evolution ------------------------------------


def doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(20))


def vec(rng: random.Random, cluster: int) -> list[float]:
    import math

    center = [0.0] * DIM
    center[2 * cluster] = 1.0
    center[2 * cluster + 1] = 0.3
    v = [x + rng.gauss(0.0, 0.02) for x in center]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def initial_state() -> dict:
    rng = random.Random(42)
    docs = {i: doc_text(rng) for i in range(1, N_DOCS + 1)}
    vecs = {i: (i % 4, vec(rng, i % 4)) for i in range(1, N_VECS + 1)}
    return {"docs": docs, "vecs": vecs, "events": []}


def batch_changes(b: int) -> dict:
    """The deterministic change set of batch b (pure function of b)."""
    rng = random.Random(1000 + b)
    doc_up = {
        (b * 37 + j * 11) % N_DOCS + 1: doc_text(rng) for j in range(25)
    }
    doc_up[N_DOCS + b] = doc_text(rng)  # one brand-new doc per batch
    doc_del = sorted({(b * 53 + j * 17) % N_DOCS + 1 for j in range(5)} - set(doc_up))
    vec_up = {
        (b * 29 + j * 13) % N_VECS + 1: ((b + j) % 4, vec(rng, (b + j) % 4))
        for j in range(20)
    }
    vec_del = sorted({(b * 41 + j * 19) % N_VECS + 1 for j in range(4)} - set(vec_up))
    events = [
        (
            b * 1000 + j,
            ("click", "view", "error")[j % 3],
            f"2024-01-0{1 + (j % 2)} {10 + (j % 8)}:{j % 60:02d}:30",
            float((b + j) % 50),
        )
        for j in range(200)
    ]
    return {
        "doc_up": doc_up, "doc_del": doc_del,
        "vec_up": vec_up, "vec_del": vec_del, "events": events,
    }


def advance(state: dict, ch: dict) -> None:
    state["docs"].update(ch["doc_up"])
    for d in ch["doc_del"]:
        state["docs"].pop(d, None)
    state["vecs"].update(ch["vec_up"])
    for d in ch["vec_del"]:
        state["vecs"].pop(d, None)
    state["events"].extend(ch["events"])


# -- index-free brute-force oracles per state --------------------------------


def docs_df(spark, docs: dict):
    return spark.createDataFrame(
        [(i, "en", t) for i, t in sorted(docs.items())],
        "doc_id long, lang string, text string",
    )


def oracle_terms(spark, docs: dict, num_buckets: int) -> list[tuple]:
    """tf ranking from RAW TEXT through the tokenizer kernel only —
    the repo's established serving==scan oracle discipline, no store."""
    rows = IX.build_posting_rows(docs_df(spark, docs), "suffix", num_buckets, None)
    out = (
        rows.filter(F.col("term").isin(TERMS))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("tf") * F.col("weight")), 2).alias("rank_score"),
            F.countDistinct("term").alias("terms_matched"),
        )
        .orderBy(F.desc("rank_score"), F.asc("doc_id"))
        .limit(20)
    )
    return [tuple(r) for r in out.collect()]


def oracle_vectors(spark, vecs: dict, qvec: list[float]) -> list[tuple]:
    df = spark.createDataFrame(
        [(i, lab, v) for i, (lab, v) in sorted(vecs.items())],
        "vec_id long, label int, embedding array<double>",
    )
    out = (
        df.select(
            "vec_id", "label",
            F.round(
                V.cosine_similarity(F.col("embedding"), V.literal_vector(qvec)), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(QUERY_K)
    )
    return [tuple(r) for r in out.collect()]


def events_df(spark, events: list):
    return spark.createDataFrame(
        events, "event_id long, event_type string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def oracle_substring(docs: dict) -> list[tuple]:
    """Overlapping-occurrence count per doc — index-free python scan."""
    m = len(SUB_PATTERN)
    out = []
    for i, t in sorted(docs.items()):
        n = sum(1 for j in range(len(t) - m + 1) if t[j : j + m] == SUB_PATTERN)
        if n:
            out.append((i, "en", n))
    return out


def oracle_rollup(spark, events: list) -> list[tuple]:
    if not events:
        return []
    df = events_df(spark, events)
    out = df.groupBy(
        F.date_trunc("day", "ts").alias("bucket_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("vs"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
    ).select(
        "bucket_start", "event_type", "n",
        F.col("vs").cast("double").alias("value_sum"),
        (F.col("vs").cast("double") / F.col("n")).alias("value_avg"),
        "value_min", "value_max",
    )
    return sorted(tuple(r) for r in out.collect())


# -- committed-state ids -------------------------------------------------------


def state_id_posting(store: IX.PostingStore) -> int:
    return store.snapshot().upper


def state_id_ivf(store: IX.IvfStore) -> int:
    try:
        return store.snapshot().upper
    except (OSError, ValueError):
        return 0


def state_id_rollup(store: RollupStore) -> int:
    snap = store.snapshot()
    return max(snap.epoch, snap.upper)


def main() -> None:  # noqa: C901
    spark = get_spark(
        "car-etl-spark-maint-soak",
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert spark.sparkContext.getConf().get("spark.scheduler.mode") == "FAIR"

    tmp = tempfile.mkdtemp(prefix="maint-soak-")
    out: dict = {
        "metric": "maintenance_serving_soak",
        "n_batches": N_BATCHES,
        "compact_every": COMPACT_EVERY,
        "serve_threads": SERVE_THREADS,
        "scale": SCALE,
        "n_docs": N_DOCS,
        "n_vecs": N_VECS,
    }
    try:
        # ---- build stores at state 0 ------------------------------------
        state = initial_state()
        posting = IX.PostingStore(os.path.join(tmp, "postings"), num_buckets=16)
        posting.build(docs_df(spark, state["docs"]))
        trigram = IX.PostingStore(
            os.path.join(tmp, "trigram"), analyzer="trigram", num_buckets=16
        )
        trigram.build(docs_df(spark, state["docs"]))
        vecs_df0 = spark.createDataFrame(
            [(i, lab, v) for i, (lab, v) in sorted(state["vecs"].items())],
            "vec_id long, label int, embedding array<double>",
        )
        ivf = IX.IvfStore(os.path.join(tmp, "ivf"))
        ivf.build(vecs_df0, num_centroids=4)
        # pq store: compacts run with retrain=True, so every compaction
        # wave REWRITES the codebooks and re-encodes every row — the
        # race that makes codebook/code generation-pinning load-bearing
        ivfpq = IX.IvfStore(os.path.join(tmp, "ivfpq"))
        ivfpq.build(vecs_df0, num_centroids=4, pq_m=2)
        qvec = state["vecs"][5][1]
        rollup = RollupStore(os.path.join(tmp, "rollup"))
        rollup.build(events_df(spark, batch_changes(0)["events"]))
        state["events"].extend(batch_changes(0)["events"])

        # ---- precompute brute-force oracles for every state -------------
        print("# precomputing per-state oracles...", flush=True)
        t0 = time.perf_counter()
        expected: dict[str, dict[int, object]] = {
            "terms": {}, "vec": {}, "roll": {}, "sub": {}, "pq": {},
        }
        snap = initial_state()
        snap["events"] = list(state["events"])
        for s in range(N_BATCHES + 1):
            if s > 0:
                advance(snap, batch_changes(s))
            expected["terms"][s] = oracle_terms(spark, snap["docs"], posting.num_buckets)
            expected["vec"][s] = oracle_vectors(spark, snap["vecs"], qvec)
            # certified pq serving is EXACT — its oracle IS the
            # brute-force cosine ranking, retrains notwithstanding
            expected["pq"][s] = expected["vec"][s]
            expected["sub"][s] = oracle_substring(snap["docs"])
            expected["roll"][s] = oracle_rollup(spark, snap["events"])
        print(f"# oracles ready in {time.perf_counter() - t0:.1f}s", flush=True)

        # ---- the race -----------------------------------------------------
        maint_active = threading.Event()
        maint_done = threading.Event()
        compacting = threading.Event()
        errors: list[str] = []
        retried_excs: list[str] = []
        counters = {
            "serves": 0, "straddles": 0, "retries": 0,
            "mismatches": 0, "compacts": 0,
        }
        samples: dict[str, dict[str, list[float]]] = {
            k: {"during": [], "quiescent": []}
            for k in ("terms", "vec", "roll", "sub", "pq")
        }
        lock = threading.Lock()

        # the scheduler shape: ONE writer lease per store held across
        # the whole apply+compact campaign (r10 lease passthrough) —
        # the rogue-maintainer arm below must refuse on every attempt.
        # Heartbeats keep the long campaign's leases from ever looking
        # expired (a soak at scale outlasts the 600 s TTL, and the
        # rogue contests every second — exactly the steal condition).
        # Acquired HERE, before any racer thread starts: the rogue's
        # first attempt fires immediately, and an in-thread acquire
        # losing that race killed the maintenance thread before its
        # finally could set maint_done (found by the r11 pin arm run —
        # the rogue then compacted unopposed forever).
        stores = (posting, trigram, ivf, ivfpq, rollup)
        leases = {s.path: lsm.acquire_maintenance_lease(s.path) for s in stores}

        crash_counters = {"injected": 0, "recovered": 0, "orphan_dirs": 0}

        def crash_orphan_attempt(b: int) -> None:
            """r12 crash-orphan arm: a doomed applier PROMOTES poison
            content for batch ``b`` and crashes before the commit point
            (seam).  The poison is built to flip every serving oracle if
            it ever surfaces: a cos=1 vector, a unique posting term, a
            1e6-value rollup minute.  The real apply of ``b`` that
            follows must sweep the orphans (_sweep_promoted_orphans) —
            any racing serve that ever sees poison is a mismatch."""

            def boom(step):
                if step == "promoted":
                    raise RuntimeError("soak: injected post-promote crash")

            poison_docs = docs_df(
                spark, {999999: "soakpoisonterm soakpoisonterm unique"}
            )
            vq = [float(x) for x in qvec]
            poison_vec = spark.createDataFrame(
                [(999999, 0, vq)],
                "vec_id long, label int, embedding array<double>",
            )
            poison_ev = events_df(
                spark, [(999_999_000 + b, "click", "2024-01-01 10:00:30", 1_000_000.0)]
            )
            lsm._test_crash_point = boom
            try:
                for store, args in (
                    (posting, (poison_docs, None)),
                    (ivf, (poison_vec, None)),
                ):
                    try:
                        store.apply_batch(
                            spark, *args, batch=b, lease=leases[store.path]
                        )
                        raise AssertionError("injected crash did not fire")
                    except RuntimeError:
                        pass
                try:
                    rollup.apply_batch(
                        spark, poison_ev, b, lease=leases[rollup.path]
                    )
                    raise AssertionError("injected crash did not fire")
                except RuntimeError:
                    pass
            finally:
                lsm._test_crash_point = None
            # orphan EVIDENCE uses the sweep's own predicate in dry-run
            # (min(batch) > committed bound), not a bare dir-has-parquet
            # probe that ordinary committed delta files would satisfy
            probes = (
                (
                    (posting.delta_dir, posting.doclen_delta, posting.tomb_dir),
                    posting.snapshot().upper,
                ),
                (
                    (ivf.delta_dir, ivf.tomb_dir),
                    ivf.snapshot().upper,
                ),
                ((rollup.delta_dir,), rollup.snapshot().upper),
            )
            n_orph = sum(
                1
                for dirs, bound in probes
                if lsm._sweep_promoted_orphans(list(dirs), bound, dry_run=True)[0]
            )
            with lock:
                crash_counters["injected"] += 1
                crash_counters["orphan_dirs"] += n_orph

        def maintenance() -> None:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", "maintenance")
            beats = [lsm._LeaseHeartbeat(lease) for lease in leases.values()]
            for hb in beats:
                hb.start()
            try:
                for b in range(1, N_BATCHES + 1):
                    ch = batch_changes(b)
                    maint_active.set()
                    if b % 7 == 3:
                        crash_orphan_attempt(b)
                    posting.apply_batch(
                        spark, docs_df(spark, ch["doc_up"]), ch["doc_del"], batch=b,
                        lease=leases[posting.path],
                    )
                    trigram.apply_batch(
                        spark, docs_df(spark, ch["doc_up"]), ch["doc_del"], batch=b,
                        lease=leases[trigram.path],
                    )
                    vups = spark.createDataFrame(
                        [(i, lab, v) for i, (lab, v) in sorted(ch["vec_up"].items())],
                        "vec_id long, label int, embedding array<double>",
                    )
                    ivf.apply_batch(
                        spark, vups, ch["vec_del"], batch=b, lease=leases[ivf.path]
                    )
                    ivfpq.apply_batch(
                        spark, vups, ch["vec_del"], batch=b, lease=leases[ivfpq.path]
                    )
                    rollup.apply_batch(
                        spark, events_df(spark, ch["events"]), b,
                        lease=leases[rollup.path],
                    )
                    if b % 7 == 3:
                        # the real applies above swept the poison
                        # orphans at entry; the racing serves prove
                        # nothing ever surfaced
                        with lock:
                            crash_counters["recovered"] += 1
                    if b % COMPACT_EVERY == 0:
                        compacting.set()
                        posting.compact(spark, lease=leases[posting.path])
                        trigram.compact(spark, lease=leases[trigram.path])
                        ivf.compact(spark, lease=leases[ivf.path])
                        # forced retrain: fresh codebooks + re-encoded
                        # rows every wave, racing the pq serves
                        ivfpq.compact(spark, retrain=True, lease=leases[ivfpq.path])
                        rollup.compact(spark, lease=leases[rollup.path])
                        compacting.clear()
                        with lock:
                            counters["compacts"] += 5
            except BaseException as e:
                with lock:
                    errors.append(f"maintenance: {type(e).__name__}: {e}")
            finally:
                # order matters: signal done BEFORE freeing the leases —
                # a rogue attempt that begins after release but before
                # the flag would otherwise acquire legitimately and be
                # miscounted as a violation
                maint_active.clear()
                maint_done.set()
                for hb in beats:
                    hb.stop()
                for lease in leases.values():
                    lsm.release_maintenance_lease(lease)

        rogue_counters = {"attempts": 0, "refused": 0, "published": 0}

        def rogue_maintainer() -> None:
            """Double-start simulation: a second scheduler firing
            compactions on fresh store handles while the legit
            maintainer holds the leases.  Every attempt MUST refuse
            with the lease error — a single rogue publish is a FAIL."""
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", "rogue")
            paths = [posting.path, trigram.path, ivf.path, ivfpq.path, rollup.path]
            r = 0
            while not maint_done.is_set():
                p = paths[r % len(paths)]
                r += 1
                try:
                    if p == rollup.path:
                        RollupStore(p).compact(spark)
                    elif p in (ivf.path, ivfpq.path):
                        IX.IvfStore(p).compact(spark)
                    else:
                        IX.PostingStore(p).compact(spark)
                    if maint_done.is_set():
                        # campaign ended while this attempt was in
                        # flight: the lease was legitimately free — a
                        # benign post-race compact, not a violation
                        continue
                    with lock:
                        rogue_counters["attempts"] += 1
                        rogue_counters["published"] += 1
                        errors.append(f"rogue maintainer PUBLISHED on {p}")
                except lsm.MaintenanceLeaseError:
                    with lock:
                        rogue_counters["attempts"] += 1
                        rogue_counters["refused"] += 1
                except BaseException as e:
                    with lock:
                        errors.append(f"rogue: {type(e).__name__}: {e}")
                time.sleep(1.0)

        pin_counters = {
            "pins": 0, "deferred": 0, "late_equal": 0, "swept": 0,
            "skipped": 0, "pinned_gen": None,
        }

        def pinned_straggler() -> None:
            """r11 pin-sweep-under-load arm: a straggler scan pins a
            generation, outlives TWO compact cycles (the old GC grace
            would have reclaimed its layout on the second), re-collects
            its checksum from the SAME (gen, as_of) snapshot — must be
            byte-stable — and releases; the first publish after release
            must sweep the deferred layout (asserted in the epilogue).
            """
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", "pin")
            try:
                _pinned_straggler_body()
            except BaseException as e:
                with lock:
                    errors.append(f"pin arm: {type(e).__name__}: {e}")

        def _pinned_straggler_body() -> None:
            def checksum(g: int, sid: int):
                df = posting.read(spark, snap=posting.snapshot(gen=g, as_of=sid))
                row = df.select(
                    F.count(F.lit(1)).alias("n"),
                    # decimal accumulator: a long sum of 64-bit hashes
                    # overflows under ANSI mode
                    F.sum(F.xxhash64(*df.columns).cast("decimal(30,0)")).alias("h"),
                ).collect()[0]
                return (row.n, row.h)

            # pin after the FIRST compact so the pinned gen becomes
            # GC-eligible (<= new_gen - 2) while we still hold it
            while not maint_done.is_set():
                if lsm._layout_gen(posting.path) >= 2:
                    break
                time.sleep(0.2)
            if maint_done.is_set():
                with lock:
                    pin_counters["skipped"] += 1
                return
            with lsm.pinned_generation(posting.path) as g:
                with lock:
                    pin_counters["pins"] += 1
                    pin_counters["pinned_gen"] = g
                sid = state_id_posting(posting)
                early = checksum(g, sid)
                while not maint_done.is_set():
                    if lsm._layout_gen(posting.path) >= g + 2:
                        break
                    time.sleep(0.2)
                if lsm._layout_gen(posting.path) < g + 2:
                    with lock:
                        pin_counters["skipped"] += 1
                    return
                layout = os.path.join(posting.path, f"layout-{g}")
                with lock:
                    if os.path.isdir(layout):
                        pin_counters["deferred"] += 1
                    else:
                        errors.append(
                            f"pinned layout-{g} reclaimed while pinned"
                        )
                late = checksum(g, sid)
                with lock:
                    if late == early:
                        pin_counters["late_equal"] += 1
                    else:
                        errors.append(
                            f"pinned snapshot drifted: {early} -> {late}"
                        )

        def serve_once(kind: str) -> tuple[list | None, float, int, int, int]:
            """-> (rows, latency, sid_before, sid_after, retries)"""
            sid_fn = {
                "terms": lambda: state_id_posting(posting),
                "vec": lambda: state_id_ivf(ivf),
                "roll": lambda: state_id_rollup(rollup),
                "sub": lambda: state_id_posting(trigram),
                "pq": lambda: state_id_ivf(ivfpq),
            }[kind]
            retries = 0
            while True:
                sid0 = sid_fn()
                t0 = time.perf_counter()
                try:
                    if kind == "terms":
                        rows = [
                            tuple(r)
                            for r in posting.term_search(spark, TERMS, limit=20).collect()
                        ]
                    elif kind == "vec":
                        rows = [
                            tuple(r)
                            for r in ivf.probe_topk(spark, qvec, k=QUERY_K).collect()
                        ]
                    elif kind == "pq":
                        rows = [
                            tuple(r)
                            for r in ivfpq.pq_topk(spark, qvec, k=QUERY_K).collect()
                        ]
                    elif kind == "sub":
                        rows = [
                            tuple(r)
                            for r in trigram.substring_search(spark, SUB_PATTERN).collect()
                        ]
                    else:
                        rows = sorted(
                            tuple(r) for r in rollup.read(spark, "day").collect()
                        )
                except Exception as e:
                    # a compact's atomic layout swap invalidates the
                    # serve's file listing (or empties a dir between
                    # the existence check and the read) mid-serve —
                    # the documented retry-with-backoff policy for
                    # plain-parquet layout swaps; a compact spans
                    # seconds, so a handful of fast-failing attempts
                    # must be absorbed
                    retries += 1
                    if retries > 5:
                        raise
                    with lock:
                        retried_excs.append(f"{kind}: {type(e).__name__}")
                    time.sleep(0.15)
                    continue
                lat = time.perf_counter() - t0
                return rows, lat, sid0, sid_fn(), retries

        def server(idx: int) -> None:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"serve-{idx}")
            kinds = ("terms", "vec", "roll", "sub", "pq")
            r = 0
            try:
                while not maint_done.is_set():
                    kind = kinds[(idx + r) % len(kinds)]
                    r += 1
                    during = maint_active.is_set()
                    rows, lat, sid0, sid1, retries = serve_once(kind)
                    ok = (
                        rows == expected[kind][sid0]
                        if sid0 == sid1
                        else any(
                            rows == expected[kind][s] for s in range(sid0, sid1 + 1)
                        )
                    )
                    with lock:
                        counters["serves"] += 1
                        counters["retries"] += retries
                        if sid0 != sid1:
                            counters["straddles"] += 1
                        if not ok:
                            counters["mismatches"] += 1
                            errors.append(
                                f"{kind}: serve != oracle for state(s) "
                                f"[{sid0},{sid1}] (rows={len(rows or [])})"
                            )
                        samples[kind]["during" if during else "quiescent"].append(lat)
            except BaseException as e:
                with lock:
                    errors.append(f"server-{idx}: {type(e).__name__}: {e}")

        # warm the serving plans once before racing (codegen, listings)
        for kind in ("terms", "vec", "roll", "sub", "pq"):
            serve_once(kind)

        threads = [
            threading.Thread(target=maintenance),
            threading.Thread(target=rogue_maintainer),
            threading.Thread(target=pinned_straggler),
        ]
        threads += [
            threading.Thread(target=server, args=(i,)) for i in range(SERVE_THREADS)
        ]
        t_race = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        out["race_wall_sec"] = round(time.perf_counter() - t_race, 1)


        # quiescent tail: the same serves with maintenance finished —
        # the latency-impact baseline measured in the SAME session
        for i in range(20):
            kind = ("terms", "vec", "roll", "sub", "pq")[i % 5]
            rows, lat, sid0, sid1, _ = serve_once(kind)
            assert sid0 == sid1 == N_BATCHES
            if rows != expected[kind][N_BATCHES]:
                errors.append(f"post-race {kind}: serve != oracle at final state")
            samples[kind]["quiescent"].append(lat)

        # pin-sweep epilogue: the straggler has released; the next
        # publish (one more maintenance-interval compact) must reclaim
        # the deferred layout — a pin is a deferral, never a leak
        pg = pin_counters["pinned_gen"]
        if pg is not None and pin_counters["deferred"]:
            posting.compact(spark)
            if os.path.isdir(os.path.join(posting.path, f"layout-{pg}")):
                errors.append(
                    f"released pin's layout-{pg} not swept by next publish"
                )
            else:
                pin_counters["swept"] += 1

        def pct(xs, q):
            ys = sorted(xs)
            return round(ys[max(0, min(len(ys) - 1, round(q * (len(ys) - 1))))], 4)

        out["counters"] = counters
        out["latency"] = {
            kind: {
                phase: (
                    {
                        "n": len(xs),
                        "avg": round(sum(xs) / len(xs), 4),
                        "p95": pct(xs, 0.95),
                    }
                    if xs
                    else None
                )
                for phase, xs in phases.items()
            }
            for kind, phases in samples.items()
        }
        out["retried"] = retried_excs[:20]
        out["rogue_maintainer"] = rogue_counters
        out["pinned_straggler"] = pin_counters
        out["crash_orphans"] = crash_counters
        out["errors"] = errors[:20]
        out["verdict"] = (
            "PASS: every serve matched a committed snapshot; every "
            "rogue maintenance attempt refused"
            if not errors
            and counters["mismatches"] == 0
            and rogue_counters["published"] == 0
            and crash_counters["injected"] == crash_counters["recovered"]
            # the arm fires at b % 7 == 3, so any run long enough to
            # contain it must have injected; shorter runs skip the gate
            and (N_BATCHES < 3 or crash_counters["injected"] > 0)
            else "FAIL"
        )
        print(json.dumps(out))
        if errors:
            sys.exit(1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
