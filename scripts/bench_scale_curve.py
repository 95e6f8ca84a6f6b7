"""Serving-cost scale curve: the cost-∝-matched-postings evidence.

The 100 TB claim for the posting store is that per-query serving cost
tracks MATCHED postings, not corpus size (bucket partition pruning +
term-sorted row-group pruning).  This script generates synthetic
corpora growing 64x (5k -> 320k docs, ~100 tokens each) with the
vocabulary scaled ∝ corpus so each query term keeps a ~constant match
count, builds a posting store per corpus with the production layout
derivation, and times the same 3-term serving query.  Flat latency
across the curve = the property, measured.  The IVF curve does the
same for vector serving on clustered corpora (k ≈ sqrt(n) derived):
probe fraction and latency vs corpus size.

Corpora and stores land under the repo's gitignored ``.cache/``
scratch; re-runs reuse them.  Usage: python scripts/bench_scale_curve.py
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from car_etl_spark.operators import indexing as IX  # noqa: E402
from car_etl_spark.operators.lsm import _tree_bytes  # noqa: E402
from car_etl_spark.session import get_spark  # noqa: E402

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache", "scalecurve"
)
DOC_SIZES = (5_000, 20_000, 80_000, 320_000)
TOKENS_PER_DOC = 100
PROBE_TERMS = ["w7", "w13", "w29"]
VEC_SIZES = (2_000, 16_000, 128_000)
VEC_DIM = 16
#: chain length for the connected-components curve: every group needs
#: length-1 closure hops, the alternating-star worst-ish case shape
CC_CHAIN = 16
CC_NODE_SIZES = (100_000, 400_000, 1_600_000)

#: run a subset of curve sections, e.g. SCALE_CURVE_SECTIONS=pack,cc
_KNOWN_SECTIONS = ("posting", "substring", "ivf", "pack", "cc")
SECTIONS = tuple(
    s.strip()
    for s in os.environ.get(
        "SCALE_CURVE_SECTIONS", ",".join(_KNOWN_SECTIONS)
    ).split(",")
    if s.strip()
)
# a typo'd subset must fail LOUD, not emit an empty "measured" artifact
_unknown = sorted(set(SECTIONS) - set(_KNOWN_SECTIONS))
if _unknown:
    raise SystemExit(
        f"SCALE_CURVE_SECTIONS: unknown section(s) {_unknown}; "
        f"known: {','.join(_KNOWN_SECTIONS)}"
    )


def _open_cached(open_store, path: str):
    """Open the cached store at ``path``; one the store refuses to open
    (an older layout version, or data without meta) is removed and
    reopened empty, so this run rebuilds it."""
    try:
        return open_store(path)
    except ValueError:
        shutil.rmtree(path)
        return open_store(path)


def timed(fn, runs: int = 3) -> float:
    vals = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        vals.append(time.perf_counter() - t0)
    return round(min(vals), 4)


def make_docs(spark, n: int) -> str:
    """Spark-side corpus generation (no driver materialization): doc i
    holds 100 hash-derived tokens over a vocabulary of n/5 terms, so a
    term's expected match count (~100 * n / vocab = 500 postings) is
    CONSTANT across corpus sizes — the scaling variable is corpus
    volume alone."""
    path = os.path.join(ROOT, f"docs-{n}", "documents.parquet")
    if os.path.isdir(path):
        return path
    vocab = max(1000, n // 5)
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(TOKENS_PER_DOC - 1)),
        lambda j: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("id") * TOKENS_PER_DOC + j), F.lit(vocab)).cast(
                "string"
            ),
        ),
    )
    (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.lit("en").alias("lang"),
            F.array_join(toks, " ").alias("text"),
        )
        .coalesce(max(1, n // 40_000))
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def make_marked_docs(spark, n: int) -> str:
    """The token corpus with a RARE PLANTED MARKER: ~0.1% of docs
    (deterministic id hash) carry the literal 'qzneedle mark' — the
    contamination-canary shape substring serving exists for.  Separate
    path from make_docs so the posting-curve corpora stay untouched."""
    path = os.path.join(ROOT, f"docs-mk-{n}", "documents.parquet")
    if os.path.isdir(path):
        return path
    vocab = max(1000, n // 5)
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(TOKENS_PER_DOC - 1)),
        lambda j: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("id") * TOKENS_PER_DOC + j), F.lit(vocab)).cast(
                "string"
            ),
        ),
    )
    marked = F.when(
        F.pmod(F.xxhash64(F.col("id")), F.lit(1000)) == 7,
        F.concat(F.array_join(toks, " "), F.lit(" qzneedle marker tail")),
    ).otherwise(F.array_join(toks, " "))
    (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.lit("en").alias("lang"),
            marked.alias("text"),
        )
        .coalesce(max(1, n // 40_000))
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def make_vectors(spark, n: int):
    """Clustered embeddings, Spark-side: sqrt(n) natural clusters, unit
    centers on hashed axes, small deterministic jitter."""
    k = int(math.sqrt(n))
    cid = F.pmod(F.col("id"), F.lit(k))
    axis = F.pmod(F.xxhash64(cid), F.lit(VEC_DIM))
    jit = lambda d: (  # noqa: E731
        F.pmod(F.xxhash64(F.col("id") * VEC_DIM + d), F.lit(1000)).cast("double")
        / 1000.0
        - 0.5
    ) * 0.04
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(VEC_DIM - 1)),
        lambda d: F.when(axis == d, F.lit(1.0) + jit(d)).otherwise(jit(d)),
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        cid.cast("int").alias("label"),
        vec.alias("embedding"),
    )


def main() -> None:
    spark = get_spark("car-etl-spark-scale-curve")
    os.makedirs(ROOT, exist_ok=True)
    out: dict = {"metric": "serving_scale_curve", "unit": "sec", "posting": [], "ivf": []}

    for n in DOC_SIZES if "posting" in SECTIONS else ():
        src = make_docs(spark, n)
        est = IX.estimate_posting_rows(src)  # directory-aware footer sum
        nb = IX.derive_num_buckets(est)
        store = _open_cached(
            lambda p: IX.PostingStore(p, num_buckets=nb),
            os.path.join(ROOT, f"store-{n}"),
        )
        build_s = None
        if store.snapshot() is None:
            t0 = time.perf_counter()
            store.build(spark.read.parquet(src))
            build_s = round(time.perf_counter() - t0, 2)

        def q():
            store.term_search(spark, PROBE_TERMS).collect()

        def qb():
            store.bm25_search(spark, PROBE_TERMS).collect()

        def qp():
            store.phrase_search(spark, PROBE_TERMS[:2]).collect()

        q()
        qb()
        qp()
        matched = (
            store.read(spark, buckets=sorted({store.bucket_of(t) for t in PROBE_TERMS}))
            .filter(F.col("term").isin(PROBE_TERMS))
            .count()
        )
        row = {
            "docs": n,
            "est_postings": est,
            "num_buckets": nb,
            "matched_postings": matched,
            "store_mb": round(_tree_bytes(store.base_dir) / 1e6, 1),
            "query_warm_sec": timed(q),
            "bm25_warm_sec": timed(qb),
            "phrase_warm_sec": timed(qp),
        }
        if build_s is not None:
            row["build_sec"] = build_s
        out["posting"].append(row)
        print(f"# posting {row}", file=sys.stderr)

    # trigram substring serving vs the raw contains() scan.  Substring
    # cost is inherently ∝ the pattern's gram posting volume (pg_trgm
    # pays the same); the scan is ∝ corpus text bytes.  Two patterns
    # demonstrate both sides: a RARE planted marker (the grep-for-
    # contamination/PII use case — ~0.1% of docs carry it) whose gram
    # lists stay tiny while the scan grows with the corpus, and a HOT
    # pattern of common grams whose serving cost honestly tracks its
    # own posting volume.
    # 5k/20k/80k — the 320k trigram build is ~6x rows
    for n in DOC_SIZES[:3] if "substring" in SECTIONS else ():
        src = make_marked_docs(spark, n)
        tstore = _open_cached(
            lambda p: IX.PostingStore(p, analyzer="trigram"),
            os.path.join(ROOT, f"tristore-{n}"),
        )
        build_s = None
        if tstore.snapshot() is None:
            t0 = time.perf_counter()
            tstore.build(spark.read.parquet(src))
            build_s = round(time.perf_counter() - t0, 2)
        for tag, pat in (("rare_marker", "qzneedle mark"), ("hot_grams", "w7 w13")):

            def sq():
                tstore.substring_search(spark, pat).collect()

            def sscan():
                spark.read.parquet(src).filter(
                    F.contains(
                        F.regexp_replace(F.lower("text"), r"^\s+", ""), F.lit(pat)
                    )
                ).select("doc_id").collect()

            sq()
            sscan()
            offs = list(range(0, len(pat) - 2, 3))
            if (len(pat) - 3) not in offs:
                offs.append(len(pat) - 3)
            gset = sorted({pat[i : i + 3] for i in offs})
            touched = (
                tstore.read(
                    spark, buckets=sorted({tstore.bucket_of(g) for g in gset})
                )
                .filter(F.col("term").isin(gset))
                .count()
            )
            row = {
                "docs": n,
                "pattern": tag,
                "postings_touched": touched,
                "store_mb": round(_tree_bytes(tstore.base_dir) / 1e6, 1),
                "substring_warm_sec": timed(sq),
                "raw_scan_warm_sec": timed(sscan),
            }
            if build_s is not None:
                row["build_sec"] = build_s
                build_s = None
            out.setdefault("substring", []).append(row)
            print(f"# substring {row}", file=sys.stderr)

    for n in VEC_SIZES if "ivf" in SECTIONS else ():
        k = IX.derive_num_centroids(n)
        ivf_path = os.path.join(ROOT, f"ivf-{n}")
        store = _open_cached(IX.IvfStore, ivf_path)
        build_s = None
        if store.snapshot() is None:
            t0 = time.perf_counter()
            store.build(make_vectors(spark, n), num_centroids=k, refine_iterations=1)
            build_s = round(time.perf_counter() - t0, 2)
        qvec = [1.0 if d == 3 else 0.0 for d in range(VEC_DIM)]
        probes = store.probe_ids_exact(qvec, 20)

        def vq():
            store.probe_topk(spark, qvec, k=20).collect()

        vq()
        row = {
            "vectors": n,
            "num_centroids": k,
            "probes": len(probes),
            "probe_fraction": round(len(probes) / max(1, k), 4),
            "query_warm_sec": timed(vq),
        }
        if build_s is not None:
            row["build_sec"] = build_s
        out["ivf"].append(row)
        print(f"# ivf {row}", file=sys.stderr)

    # sequence-packing curve (r12): both disciplines over the SAME
    # growing corpora as the posting curve.  cut is a per-shard running
    # sum + bounded explode (one shuffle); nextfit is an Arrow fold over
    # chunk METADATA per shard.  Linear wall vs corpus size = the claim;
    # the shard count comes from the production derivation (floor of 4
    # at these sizes, so the fold's limited parallelism is ALSO in the
    # measurement, the honest direction).
    for n in DOC_SIZES if "pack" in SECTIONS else ():
        from car_etl_spark.operators import packing as P
        from car_etl_spark.operators.chunking import chunk_by_tokens
        from car_etl_spark.operators.export import (
            derive_num_shards,
            order_col,
            shard_col,
        )

        src = make_docs(spark, n)
        shards = derive_num_shards(IX.estimate_posting_rows(src))
        docs = spark.read.parquet(src)
        chunks = chunk_by_tokens(
            docs, max_tokens=64, overlap=0, keep=("doc_id",)
        ).select(
            shard_col(F.col("doc_id"), shards).alias("shard"),
            order_col(F.col("doc_id")).alias("ord"),
            "doc_id",
            "chunk_index",
            F.col("token_count").cast("long").alias("token_count"),
        )
        order = ("ord", "doc_id", "chunk_index")

        def pc():
            P.pack_cut(chunks, 256, order_cols=order).count()

        def pn():
            P.pack_nextfit(chunks, 256, order_cols=order).count()

        pc()
        pn()
        n_chunks = chunks.count()
        row = {
            "docs": n,
            "chunks": n_chunks,
            "num_shards": shards,
            "cut_warm_sec": timed(pc),
            "nextfit_warm_sec": timed(pn),
        }
        out.setdefault("pack", []).append(row)
        print(f"# pack {row}", file=sys.stderr)

    # connected-components curve (r12): chains of CC_CHAIN nodes, so
    # every group needs real transitive closure (CC_CHAIN-2 hops); the
    # alternating-star rounds are O(log chain) shuffles with no driver
    # state.  Linear wall vs node count = the claim.
    for n in CC_NODE_SIZES if "cc" in SECTIONS else ():
        from car_etl_spark.operators.components import connected_components

        edges = (
            spark.range(n)
            .filter(F.pmod(F.col("id"), F.lit(CC_CHAIN)) != CC_CHAIN - 1)
            .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        )

        def cc():
            comp = connected_components(edges)
            # force the closure AND validate it: every chain collapses
            # to one component of exactly CC_CHAIN nodes
            sizes = comp.groupBy("component").count()
            assert sizes.filter(F.col("count") != CC_CHAIN).count() == 0

        row = {
            "nodes": n,
            "edges": n - n // CC_CHAIN,
            "chain_len": CC_CHAIN,
            "cc_warm_sec": timed(cc, runs=2),
        }
        out.setdefault("cc", []).append(row)
        print(f"# cc {row}", file=sys.stderr)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
