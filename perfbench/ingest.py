"""Writes beside reads: seeded micro-batches through the serving stores.

The traced run of the ``serve`` workload runs this stream once its
timed reads are done and checked, on the stores it built, so the reads
it times always see static stores.  One closed-loop stream applies
each batch to every store, the stores side by side — document upserts
and deletes into the porter and trigram posting stores, embedding
upserts into the IVF store, event appends into the rollup store — and
compacts a store whenever its own ``should_compact`` says so.  After
every batch one request per store (keyword, substring, vector, rollup)
reads the maintained stores (the delta/tombstone merge path) and is
checked against a brute force over the updated tables.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa

from harness import Run, concurrently, median

#: store key -> per-layer metric prefix
PREFIX = {
    "porter": "indexing.posting",
    "trigram": "indexing.trigram",
    "ivf": "indexing.ivf",
    "rollup": "rollup_store",
}


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


def live_files(store) -> int:
    """Parquet files a read of the store's current generation opens."""
    from car_etl_spark.operators.indexing import _layout_gen, _layout_root

    return len(_files(_layout_root(store.path, _layout_gen(store.path))))


def updated_tables(tables: dict, batches: list[dict]) -> dict:
    """The documents, embeddings and events tables after every batch."""
    docs = {r["doc_id"]: r for r in tables["documents"].to_pylist()}
    emb = {r["vec_id"]: r for r in tables["embeddings"].to_pylist()}
    events = [tables["events"]]
    for b in batches:
        for d, lang, text in b["docs"]:
            docs[d] = {"doc_id": d, "text": text, "lang": lang, "source": "ingest",
                       "n_chars": len(text)}
        for d in b["deleted"]:
            del docs[d]
        for v, vec, label in zip(b["vec_ids"], b["vecs"], b["labels"]):
            emb[v] = {"vec_id": v, "embedding": vec, "label": label}
        events.append(b["events"])
    return {
        "documents": pa.Table.from_pylist(
            [docs[k] for k in sorted(docs)], schema=tables["documents"].schema
        ),
        "embeddings": pa.Table.from_pylist(
            [emb[k] for k in sorted(emb)], schema=tables["embeddings"].schema
        ),
        "events": pa.concat_tables(events),
    }


#: micro-batches in the stream, and documents per batch.  One batch
#: trips the posting, trigram and IVF compactions; each further batch
#: adds about 18 s to a traced serve run, which must end within 180 s
BATCHES = 1
BATCH_SIZE = 24


def apply_one(run: Run, st, b: dict, acc: dict) -> tuple[float, float]:
    """Apply batch ``b`` to the four stores side by side, then compact,
    side by side, each store whose ``should_compact`` fires.
    Accumulates timings and byte counts in ``acc``; returns the batch's
    freshness (apply start to the last store's commit) and the time
    spent in the stores' calls."""
    from pyspark.sql import functions as F

    spark, n = run.spark, b["batch"]
    docs = spark.createDataFrame(
        [(d, lang, text, f"t{d % 2}") for d, lang, text in b["docs"]],
        "doc_id long, lang string, text string, tenant_id string",
    )
    dead = [(f"t{d % 2}", d) for d in b["deleted"]]
    vecs = spark.createDataFrame(
        [(v, [float(x) for x in vec], label, f"t{v % 2}")
         for v, vec, label in zip(b["vec_ids"], b["vecs"], b["labels"])],
        "vec_id long, embedding array<float>, label int, tenant_id string",
    )
    events = spark.createDataFrame(b["events"].to_pandas()).select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    doc_bytes = sum(len(t.encode()) + 16 for _, _, t in b["docs"]) + 8 * len(dead)
    user = {
        "porter": doc_bytes,
        "trigram": doc_bytes,
        "ivf": 4 * sum(len(v) + 3 for v in b["vecs"]),
        "rollup": b["events"].nbytes,
    }
    stores = {"porter": st.porter, "trigram": st.trigram, "ivf": st.ivf, "rollup": st.rollup}
    apply = {
        "porter": lambda: st.porter.apply_batch(spark, docs, dead, n),
        "trigram": lambda: st.trigram.apply_batch(spark, docs, dead, n),
        "ivf": lambda: st.ivf.apply_batch(spark, vecs, None, n),
        "rollup": lambda: st.rollup.apply_batch(spark, events, n),
    }

    def applied(key: str) -> float:
        with run.span(f"b{n}-{key}", "apply_batch", PREFIX[key]) as s:
            apply[key]()
        return s["dur_s"]

    def compacted(key: str) -> float:
        with run.span(f"b{n}-{key}", "compact", PREFIX[key]) as s:
            stores[key].compact(spark)
        return s["dur_s"]

    before = {k: _files(s.path) for k, s in stores.items()}
    t0 = time.perf_counter()
    for key, dur in concurrently(run, {k: (lambda k=k: applied(k)) for k in stores}).items():
        acc["apply_s"][key].append(dur)
    freshness = time.perf_counter() - t0
    due = [k for k, s in stores.items() if s.should_compact()]
    for key, dur in concurrently(run, {k: (lambda k=k: compacted(k)) for k in due}).items():
        acc["compact_s"][key].append(dur)
    in_stores = time.perf_counter() - t0
    for key, store in stores.items():
        acc["user"][key] += user[key]
        acc["written"][key] += sum(v for p, v in _files(store.path).items() if p not in before[key])
    return freshness, in_stores


#: one read-your-write request per store after every batch
READ_MODES = ("keyword", "substring", "vector", "rollup")


def run_stream(run: Run, st, tables: dict) -> dict:
    """The closed-loop stream over the built stores ``st``: apply a
    batch, then read each store back and check it against the updated
    tables.  Returns the stream's attempted/failed reads and the
    per-layer maintenance metrics; ``ingest.pass_s`` is the stores'
    apply and compact calls plus the reads (the harness's own table
    updates and checks are left out)."""
    import gen
    import serve

    batches = gen.ingest_batches(run.seed, tables, BATCHES, BATCH_SIZE)
    keys = ("porter", "trigram", "ivf", "rollup")
    acc = {"apply_s": {k: [] for k in keys}, "compact_s": {k: [] for k in keys},
           "written": dict.fromkeys(keys, 0), "user": dict.fromkeys(keys, 0)}
    freshness, latencies, failed, attempted = [], [], 0, 0
    wall = 0.0
    for i, b in enumerate(batches):
        fresh, in_stores = apply_one(run, st, b, acc)
        freshness.append(fresh)
        wall += in_stores
        after = updated_tables(tables, batches[: i + 1])
        st.docs = run.spark.createDataFrame(after["documents"].to_pandas()).withColumn(
            "tenant_id", serve._tenant("doc_id")
        )
        reqs = gen.mode_requests(run.seed + 7919 * b["batch"], after, READ_MODES)
        results = {}
        for req in reqs:
            op = run.new_id("ryw")
            r0 = time.perf_counter()
            try:
                results[req["id"]] = {"rows": serve.serve_one(run, st, req, op)}
            except Exception as e:  # counted as a failed op
                results[req["id"]] = {"error": repr(e)}
            results[req["id"]]["latency_s"] = time.perf_counter() - r0
        attempted += len(reqs)
        failed += serve.checked(st, serve.BruteForce(after), reqs, results)
        ok = [r["latency_s"] for r in results.values() if "error" not in r]
        latencies += ok
        wall += sum(ok)
    per_layer = {
        "ingest.pass_s": wall,
        "ingest.freshness_p50_s": median(freshness),
        "ingest.latency_p50_ms": 1000 * median(latencies),
    }
    for key, store in zip(keys, (st.porter, st.trigram, st.ivf, st.rollup)):
        p = PREFIX[key]
        per_layer[f"{p}.apply_batch_s"] = median(acc["apply_s"][key])
        per_layer[f"{p}.compact_s"] = median(acc["compact_s"][key])
        per_layer[f"{p}.bytes_per_user_byte"] = acc["written"][key] / max(1, acc["user"][key])
        per_layer[f"{p}.files"] = live_files(store)
    return {
        "attempted": attempted,
        "failed": failed,
        "per_layer": per_layer,
        "info": {"batches": BATCHES, "batch_size": BATCH_SIZE,
                 "compactions": {k: len(v) for k, v in acc["compact_s"].items()}},
    }
