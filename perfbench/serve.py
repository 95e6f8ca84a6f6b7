"""The ``serve`` workload: tenant search requests in an open loop.

Set-up builds every store the serving mix reads, from an empty index
dir: a tenant-partitioned porter posting store (keyword, bm25, phrase,
the keyword leg of hybrid), a tenant-partitioned trigram store
(substring, regex), a tenant-partitioned IVF store with product
quantization (vector, filtered vector, pq, the vector leg of hybrid)
and the event rollup store.  Requests arrive on a seeded Poisson
schedule and run on ``nproc`` worker threads, one FAIR pool each; a
request's latency runs from its due time to its last result row, so
queueing behind a stall counts.  Each request is split into a ``plan``
span (the facade call that returns a DataFrame, including any eager
probe jobs) and an ``exec`` span (collecting the rows).  After the
open loop, one more block of fresh requests is served one request at
a time for the run's cost figure: the CPU time the whole process tree (driver
Python, JVM, Python workers) spends on a request served alone.
"""

from __future__ import annotations

import math
import re
import threading
import time

import numpy as np

import gen
from harness import Run, concurrently, median, percentile, tree_cpu_s

LIMIT = 20


def _tenant(col: str):
    from pyspark.sql import functions as F

    return F.concat(F.lit("t"), F.pmod(F.col(col), F.lit(2)).cast("string"))


class Stores:
    def __init__(self, run: Run) -> None:
        from car_etl_spark.tables import load_tables

        t = load_tables(run.spark, run.sf_dir, ("documents", "embeddings"))
        self.docs = t["documents"].withColumn("tenant_id", _tenant("doc_id"))
        self.emb = t["embeddings"].withColumn("tenant_id", _tenant("vec_id"))


def setup(run: Run) -> tuple[Stores, dict[str, float]]:
    """Build every serving store into a fresh index dir, the four builds
    side by side the way a service would at boot; times each build."""
    from car_etl_spark.operators import indexing as IX
    from car_etl_spark.streaming.rollup_store import ensure_rollup_store

    root = run.fresh_index_dir("serve")
    st = Stores(run)
    n_emb = st.emb.count()
    st.porter = IX.PostingStore(f"{root}/porter", analyzer="porter", tenant_col="tenant_id")
    st.trigram = IX.PostingStore(f"{root}/trigram", analyzer="trigram", tenant_col="tenant_id")
    st.ivf = IX.IvfStore(f"{root}/tenant_ivf", tenant_col="tenant_id")
    builds = {
        "indexing.ensure_porter_s": lambda: st.porter.build(st.docs),
        "indexing.ensure_trigram_s": lambda: st.trigram.build(st.docs),
        # seed centroids without Lloyd refinement: the certified probe
        # is exact for any centroid set, and refinement triples the build
        "indexing.ensure_tenant_ivf_s": lambda: st.ivf.build(
            st.emb, IX.derive_num_centroids(n_emb), 0, filter_cols=("label",), pq_m=8
        ),
        "rollup_store.ensure_s": lambda: ensure_rollup_store(run.spark, run.sf_dir),
    }

    def timed(key: str, fn):
        with run.span("setup", "setup", key) as s:
            res = fn()
        return res, s["dur_s"]

    done = concurrently(run, {k: (lambda k=k, fn=fn: timed(k, fn)) for k, fn in builds.items()})
    st.rollup = done["rollup_store.ensure_s"][0]
    return st, {k: v[1] for k, v in done.items()}


def plan(run: Run, st: Stores, req: dict):
    """The facade call for one request; returns its (lazy) DataFrame."""
    from car_etl_spark import api

    m, tenant, spark = req["mode"], req["tenant"], run.spark
    if m == "keyword":
        return api.tenant_search(spark, st.porter, tuple(req["terms"]), tenant, LIMIT)
    if m == "bm25":
        return api.tenant_bm25_search(spark, st.porter, tuple(req["terms"]), tenant, LIMIT)
    if m == "phrase":
        return api.tenant_phrase_search(spark, st.porter, tuple(req["terms"]), tenant, LIMIT)
    if m == "vector":
        return api.tenant_vector_search(spark, st.ivf, req["qvec"], tenant, LIMIT)
    if m == "filtered_vector":
        return api.tenant_filtered_vector_search(
            spark, st.ivf, req["qvec"], tenant, ("label", req["labels"]), LIMIT
        )
    if m == "pq":
        return api.tenant_pq_search(spark, st.ivf, req["qvec"], tenant, LIMIT)
    if m == "hybrid":
        return api.tenant_hybrid_search(
            spark, st.porter, st.ivf, tuple(req["terms"]), req["qvec"], tenant, LIMIT
        )
    if m == "substring":
        return api.tenant_substring_search(spark, st.trigram, req["pattern"], tenant, docs=st.docs)
    if m == "regex":
        return api.tenant_regex_search(spark, st.trigram, req["pattern"], st.docs, tenant)
    if m == "rollup":
        return st.rollup.read(spark, req["grain"], start_date=req["start"], end_date=req["end"])
    raise ValueError(f"unknown mode {m}")


def serve_one(run: Run, st: Stores, req: dict, op_id: str) -> list[tuple]:
    with run.span(op_id, "plan", f"api.{req['mode']}"):
        df = plan(run, st, req)
    with run.span(op_id, "exec", f"api.{req['mode']}"):
        rows = [tuple(r) for r in df.collect()]
    return rows


def open_loop(run: Run, st: Stores, requests: list[dict], workers: int) -> dict:
    """Serve ``requests`` at their due times on ``workers`` threads.
    Returns per-request latency/lag/rows/error keyed by request id."""
    out: dict[int, dict] = {}
    lock = threading.Lock()
    pending = iter(requests)
    t_start = time.perf_counter() + 0.2

    def worker(i: int) -> None:
        run.spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"w{i}")
        while True:
            with lock:
                req = next(pending, None)
            if req is None:
                return
            due = t_start + req["due"]
            time.sleep(max(0.0, due - time.perf_counter()))
            began = time.perf_counter()
            rec = {"lag_s": began - due}
            try:
                rec["rows"] = serve_one(run, st, req, f"r{req['id']}")
            except Exception as e:  # a failed request is counted, not fatal
                rec["error"] = repr(e)
            rec["latency_s"] = time.perf_counter() - due
            with lock:
                out[req["id"]] = rec

    threads = [threading.Thread(target=worker, args=(i,), daemon=True) for i in range(workers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_start
    return {"results": out, "wall_s": wall}


# -- output checks: index-free brute force ------------------------------------


#: the posting analyzer's header rule: the first HEADER_TOKENS tokens
#: of a document weigh HEADER_WEIGHT, the rest 1
HEADER_TOKENS, HEADER_WEIGHT = 5, 2.0


def token_rows(docs):
    """One row per token occurrence: ``(tenant_id, doc_id, pos, term,
    weight)``.  Text is lowercased, leading whitespace dropped, split on
    whitespace; ``term`` is the token's stem from
    :data:`gen.PORTER_STEMS`."""
    import pandas as pd

    t = docs[["tenant_id", "doc_id"]].assign(raw=docs.clean.str.split(r"\s+", regex=True))
    t = t.assign(pos=t.raw.map(lambda ws: list(range(len(ws))))).explode(["raw", "pos"])
    t = t[t.raw != ""]
    return pd.DataFrame({
        "tenant_id": t.tenant_id, "doc_id": t.doc_id.astype("int64"),
        "pos": t.pos.astype("int64"), "term": t.raw.map(gen.PORTER_STEMS.__getitem__),
        "weight": np.where(t.pos.astype("int64") < HEADER_TOKENS, HEADER_WEIGHT, 1.0),
    })


class BruteForce:
    """Answers every serving mode straight from the generated tables,
    with no index and none of the program's code: numpy cosine for
    vectors, token rows recomputed in pandas (stems from the hand-worked
    table :data:`gen.PORTER_STEMS`) for text scoring, Python string and
    regex scans for substring/regex, pandas for the rollup."""

    def __init__(self, tables: dict) -> None:
        docs = tables["documents"].to_pandas()
        docs["tenant_id"] = "t" + (docs.doc_id % 2).astype(str)
        docs["clean"] = docs.text.str.lower().str.replace(r"^\s+", "", regex=True)
        self.docs = docs
        emb = tables["embeddings"].to_pandas()
        self.vec_ids = emb.vec_id.to_numpy()
        self.labels = emb.label.to_numpy()
        self.vecs = np.stack(emb.embedding.to_numpy()).astype("float64")
        self.vec_tenant = np.where(self.vec_ids % 2 == 0, "t0", "t1")
        self.tokens = token_rows(docs)
        ev = tables["events"].to_pandas()
        ev["date"] = ev.ts.dt.strftime("%Y-%m-%d")
        self.events = ev

    @staticmethod
    def stems(terms) -> list[str]:
        return [gen.PORTER_STEMS[t.lower()] for t in terms]

    def vector(self, req: dict) -> list[tuple]:
        q = np.asarray(req["qvec"], dtype="float64")
        sims = self.vecs @ q / (np.linalg.norm(self.vecs, axis=1) * np.linalg.norm(q))
        keep = self.vec_tenant == req["tenant"]
        if req["mode"] == "filtered_vector":
            keep &= np.isin(self.labels, req["labels"])
        ranked = sorted(
            zip(self.vec_ids[keep].tolist(), np.round(sims[keep], 6).tolist()),
            key=lambda r: (-r[1], r[0]),
        )
        return ranked

    def keyword(self, tenant: str, terms) -> list[tuple]:
        stems = set(self.stems(terms))
        t = self.tokens
        p = t[(t.tenant_id == tenant) & t.term.isin(stems)]
        g = p.groupby("doc_id").agg(s=("weight", "sum"), m=("term", "nunique"))
        ranked = [(int(d), math.floor(r.s * 100 + 0.5) / 100, int(r.m)) for d, r in g.iterrows()]
        return sorted(ranked, key=lambda r: (-r[1], r[0]))

    def bm25(self, tenant: str, terms) -> list[tuple]:
        k1, b = 1.2, 0.75  # the standard Okapi BM25 constants
        stems = set(self.stems(terms))
        t = self.tokens[self.tokens.tenant_id == tenant]
        dl = t.groupby("doc_id").weight.sum()
        n_docs, avgdl = float(len(dl)), float(dl.mean())
        per = t[t.term.isin(stems)].groupby(["doc_id", "term"]).weight.sum().rename("tfw").reset_index()
        per["dl"] = per.doc_id.map(dl)
        per["df"] = per.term.map(per.groupby("term").doc_id.count())
        per["c"] = (
            np.log(1.0 + (n_docs - per.df + 0.5) / (per.df + 0.5))
            * (per.tfw * (k1 + 1.0))
            / (per.tfw + k1 * ((1.0 - b) + b * per.dl / avgdl))
        )
        g = per.groupby("doc_id").agg(c=("c", "sum"), m=("term", "nunique"))
        ranked = [(int(d), math.floor(r.c * 100 + 0.5) / 100, int(r.m)) for d, r in g.iterrows()]
        return sorted(ranked, key=lambda r: (-r[1], r[0]))

    def phrase(self, tenant: str, terms) -> list[tuple]:
        stems = self.stems(terms)
        t = self.tokens
        p = t[(t.tenant_id == tenant) & t.term.isin(set(stems))]
        out = []
        for d, g in p.groupby("doc_id"):
            pos = {s: set() for s in stems}
            for term, at in zip(g.term, g.pos):
                pos[term].add(int(at))
            n = sum(
                all(s + i in pos[stems[i]] for i in range(1, len(stems))) for s in pos[stems[0]]
            )
            if n:
                out.append((int(d), float(n), len(stems)))
        return sorted(out, key=lambda r: (-r[1], r[0]))

    def substring(self, req: dict) -> list[tuple]:
        pat = req["pattern"].lower()
        d = self.docs[self.docs.tenant_id == req["tenant"]]
        out = []
        for doc_id, lang, text in zip(d.doc_id, d.lang, d.clean):
            n = sum(text.startswith(pat, i) for i in range(len(text) - len(pat) + 1))
            if n:
                out.append((int(doc_id), lang, n))
        return sorted(out)

    def regex(self, req: dict) -> list[tuple]:
        rx = re.compile(req["pattern"], re.I)
        d = self.docs[self.docs.tenant_id == req["tenant"]]
        out = []
        for doc_id, lang, text in zip(d.doc_id, d.lang, d.clean):
            n = sum(1 for _ in rx.finditer(text))
            if n:
                out.append((int(doc_id), lang, n))
        return sorted(out)

    def rollup(self, req: dict, group_cols) -> list[tuple]:
        ev = self.events[(self.events.date >= req["start"]) & (self.events.date <= req["end"])]
        bucket = ev.ts.dt.floor("h" if req["grain"] == "hour" else "D")
        g = ev.assign(b=bucket).groupby(["b", *group_cols]).value.agg(["count", "sum", "min", "max"])
        return sorted(
            (b.to_pydatetime(), *keys, int(r["count"]), float(r["sum"]), float(r["sum"]) / r["count"],
             float(r["min"]), float(r["max"]))
            for (b, *keys), r in g.iterrows()
        )

    def hybrid(self, req: dict) -> list[tuple]:
        fetch = 2 * LIMIT
        kw = self.keyword(req["tenant"], req["terms"])[:fetch]
        vec = self.vector({**req, "mode": "vector"})[:fetch]
        kr = {d: i + 1 for i, (d, *_) in enumerate(kw)}
        vr = {d: i + 1 for i, (d, _) in enumerate(vec)}
        fused = []
        for d in set(kr) | set(vr):
            score = (1 / (60 + kr[d]) if d in kr else 0.0) + (1 / (60 + vr[d]) if d in vr else 0.0)
            fused.append((d, round(score, 8), kr.get(d), vr.get(d)))
        return sorted(fused, key=lambda r: (-r[1], r[0]))


def _close(a, b, tol: float) -> bool:
    return abs(float(a) - float(b)) <= tol


def ranked_match(got: list[tuple], full: list[tuple], k: int, tol: float) -> bool:
    """``got`` is a correct top-``k`` of ``full`` (both (id, score, ...),
    ``full`` ranked): right length, right score profile, and every
    returned id carries its true score — ties at the cut may pick
    either id."""
    want = full[:k]
    if len(got) != len(want):
        return False
    truth = {r[0]: r for r in full}
    for g, w in zip(got, want):
        if not _close(g[1], w[1], tol) or g[0] not in truth:
            return False
        if not _close(truth[g[0]][1], g[1], tol) or tuple(truth[g[0]][2:]) != tuple(g[2:]):
            return False
    return True


def check(bf: BruteForce, st: Stores, req: dict, got: list[tuple]) -> str | None:
    """None when ``got`` is right for ``req``, else a one-line reason."""
    m = req["mode"]
    if m in ("vector", "filtered_vector", "pq"):
        ok = ranked_match(got, bf.vector(req), LIMIT, 2e-6)
    elif m == "keyword":
        ok = ranked_match(got, bf.keyword(req["tenant"], req["terms"]), LIMIT, 0.011)
    elif m == "bm25":
        ok = ranked_match(got, bf.bm25(req["tenant"], req["terms"]), LIMIT, 0.011)
    elif m == "phrase":
        ok = ranked_match(got, bf.phrase(req["tenant"], req["terms"]), LIMIT, 0.0)
    elif m == "hybrid":
        want = bf.hybrid(req)[:LIMIT]
        ok = len(got) == len(want) and all(
            g[0] == w[0] and _close(g[1], w[1], 1e-8) for g, w in zip(got, want)
        )
    elif m == "substring":
        ok = sorted(got) == bf.substring(req)
    elif m == "regex":
        ok = sorted(got) == bf.regex(req)
    elif m == "rollup":
        want = bf.rollup(req, st.rollup.group_cols)
        have = sorted(got)
        ok = len(have) == len(want) and all(
            h[:-5] == w[:-5] and all(_close(a, b, 1e-6) for a, b in zip(h[-5:], w[-5:]))
            for h, w in zip(have, want)
        )
    else:
        return f"unknown mode {m}"
    return None if ok else f"{m} request {req['id']} differs from brute force"


# -- the workload --------------------------------------------------------------

#: arrivals per second; the program keeps up with it on 4 cores
RATE = 1.0


def checked(st: Stores, bf: BruteForce, requests: list[dict], results: dict) -> int:
    """Check every request's rows; returns the number that failed."""
    failed = 0
    for req in requests:
        res = results[req["id"]]
        reason = res.get("error") or check(bf, st, req, res["rows"])
        if reason:
            failed += 1
            print(f"# FAILED {reason}", flush=True)
    return failed


#: warm-up rounds of one request per mode: after a single round the
#: first timed block still ran up to 1.5x slower than the second
WARM_ROUNDS = 2


def warm_up(run: Run, st: Stores, tables: dict) -> None:
    """:data:`WARM_ROUNDS` rounds of one request per mode, the requests
    of a round side by side, so the timed requests find the plan paths
    compiled, the JIT warm and the store footers cached."""
    for k in range(WARM_ROUNDS):
        warm = gen.mode_requests(run.seed + 1_000_003 + k, tables, gen.SERVE_MODES)
        concurrently(run, {r["id"]: (lambda r=r: serve_one(run, st, r, "warmup")) for r in warm})


#: blocks of requests (one per mode each) served one at a time after
#: the open loop, for the CPU a request costs alone.  Over the open loop
#: a request's share of the process tree's CPU moved with how the
#: seeded arrivals happened to overlap (0.68-0.98 CPU-s a request
#: across five seeds); a block served alone takes about 10 s on 4 cores.
ALONE_BLOCKS = 1


def alone(run: Run, st: Stores, tables: dict) -> tuple[tuple[list[dict], dict], list[float]]:
    """Serve :data:`ALONE_BLOCKS` blocks of fresh requests one at a
    time, each its own op; returns ``(requests, results)`` for the
    checks and each request's process-tree CPU seconds."""
    reqs = gen.serve_requests(run.seed + 2_000_003, tables, RATE, ALONE_BLOCKS * gen.BLOCK / RATE)
    results, cpu = {}, []
    for req in reqs:
        c0 = tree_cpu_s()
        try:
            results[req["id"]] = {"rows": serve_one(run, st, req, f"a{req['id']}")}
        except Exception as e:  # counted as a failed op
            results[req["id"]] = {"error": repr(e)}
        cpu.append(tree_cpu_s() - c0)
    return (reqs, results), cpu


def api_layers(run: Run, ops: set[str]) -> dict[str, float]:
    out = {}
    for mode in gen.SERVE_MODES:
        for phase in ("plan", "exec"):
            spans = [s for s in run.spans_of(phase, f"api.{mode}") if s["op"] in ops]
            out[f"api.{mode}.{phase}_ms"] = 1000 * median(s["dur_s"] for s in spans)
            out[f"api.{mode}.{phase}_jobs"] = median(s["jobs"] for s in spans)
    return out


def run_workload(run: Run, tables: dict, seconds: int) -> dict:
    """Set-up, then the timed open-loop reads on static stores and their
    checks; the traced run then runs the write stream of :mod:`ingest`
    on the same stores for the maintenance metrics."""
    import ingest

    t0 = time.perf_counter()
    st, build_times = setup(run)
    w0 = time.perf_counter()
    warm_up(run, st, tables)
    setup_s = time.perf_counter() - t0
    warm_s = time.perf_counter() - w0
    requests = gen.serve_requests(run.seed, tables, RATE, seconds)
    loop = open_loop(run, st, requests, workers=run.nproc)
    lone, lone_cpu = alone(run, st, tables)
    floors = [run.job_floor_s() for _ in range(5)]
    results = loop["results"]
    bf = BruteForce(tables)
    failed = checked(st, bf, requests, results) + checked(st, bf, *lone)
    stream = ingest.run_stream(run, st, tables) if run.trace else None
    run.count_jobs()
    ops = {f"r{r['id']}" for r in requests}
    per_layer = {**build_times, **api_layers(run, ops), **(stream["per_layer"] if stream else {})}
    per_layer["serve.lag_p95_ms"] = 1000 * percentile([r["lag_s"] for r in results.values()], 95)
    per_layer["serve.repeat_share"] = gen.repeat_share(requests)
    return {
        "ops": ops,
        "rows_out": sum(len(r.get("rows", ())) for r in results.values()),
        "floors_s": floors,
        "attempted": len(requests) + len(lone[0]) + (stream["attempted"] if stream else 0),
        "failed": failed + (stream["failed"] if stream else 0),
        "setup_extra_s": setup_s,
        "latencies_s": [r["latency_s"] for r in results.values() if "error" not in r],
        "pass_s": loop["wall_s"],
        "cpu_per_op_s": sum(lone_cpu) / len(lone_cpu),
        "per_layer": per_layer,
        "info": {
            "rate_per_s": RATE, "requests": len(requests), "workers": run.nproc,
            "warm_up_s": round(warm_s, 3),
            "alone_cpu_s": [[r["mode"], round(c, 2)] for r, c in zip(lone[0], lone_cpu)],
            "latency_ms": [round(1000 * results[r["id"]]["latency_s"]) for r in requests],
            "mode_latency_ms": {
                m: round(1000 * median(
                    results[r["id"]]["latency_s"] for r in requests if r["mode"] == m
                ))
                for m in gen.SERVE_MODES
            },
            **({"ingest": stream["info"]} if stream else {}),
        },
    }
