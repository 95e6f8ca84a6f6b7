#!/usr/bin/env python
"""PQ serving scale curve: the code-column-bytes evidence.

The 100 TB claim for the product-quantized serving mode
(operators/pq.py) is that the shortlist pass's IO is the CODE column
(m bytes + a float32 per row), not the embedding column (dim doubles),
while the exactness certificate keeps the answer equal to brute force.
This script measures, on the same clustered synthetic corpora the IVF
curve uses (dim 16, 2k -> 128k vectors) plus one dim-1536 datapoint at
the reference's production width:

- warm latency: certified `pq_topk` vs certified `probe_topk`;
- survivor fraction (rows whose error band crosses the certified
  threshold -> exact-rescored);
- compressed on-disk bytes: embedding column vs pq_code + pq_err;
- EQUALITY of the two serving modes' results (asserted, not sampled).

Corpora/stores land under .cache/pqcurve; re-runs reuse them.
Usage: python scripts/bench_pq_curve.py   (one JSON line on stdout)
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench_scale_curve import VEC_DIM, make_vectors, timed  # noqa: E402
from car_etl_spark.operators import indexing as IX  # noqa: E402
from car_etl_spark.operators import pq as PQ  # noqa: E402
from car_etl_spark.session import get_spark  # noqa: E402

ROOT = os.path.join(REPO, ".cache", "pqcurve")
VEC_SIZES = (2_000, 16_000, 128_000)


def column_bytes(assign_dir: str) -> dict:
    import pyarrow.parquet as pqt

    sizes: dict = {}
    for f in glob.glob(os.path.join(assign_dir, "**", "*.parquet"), recursive=True):
        md = pqt.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                nm = c.path_in_schema.split(".")[0]
                sizes[nm] = sizes.get(nm, 0) + c.total_compressed_size
    return sizes


def _has_pq(store) -> bool:
    """True when the cached store is built with pq codes."""
    snap = store.snapshot()
    return snap is not None and bool(snap.meta.get("pq"))


def survivor_fraction(spark, store, qvec, k=20) -> float:
    snap = store.snapshot()
    table = PQ.adc_table(qvec, np.asarray(snap.meta["pq"]["codebooks"]))
    probes = store.probe_ids_exact(qvec, k, snap=snap)
    scan = store.read_assignments(spark, probes=probes, snap=snap).filter(
        F.col("pq_code").isNotNull()
    )
    scored = (
        scan.withColumn("adc", PQ.adc_score_col(F.col("pq_code"), table))
        .withColumn("lb", F.col("adc") - F.col("pq_err"))
        .withColumn("ub", F.col("adc") + F.col("pq_err"))
    )
    lbs = [r[0] for r in scored.orderBy(F.desc("lb")).limit(k).select("lb").collect()]
    n_all = scan.count()
    n_sur = scored.filter(F.col("ub") >= min(lbs) - PQ.RERANK_SLACK).count()
    return round(n_sur / max(1, n_all), 4)


def measure(spark, store, emb_dim: int, n: int, qvec, out_rows: list, tag: str):
    got_pq = [tuple(r) for r in store.pq_topk(spark, qvec, k=20).collect()]
    got_ivf = [tuple(r) for r in store.probe_topk(spark, qvec, k=20).collect()]
    assert got_pq == got_ivf, f"{tag} n={n}: pq != ivf serving"
    sizes = column_bytes(store.assign_dir)
    probes = store.probe_ids_exact(qvec, 20)
    row = {
        "corpus": tag,
        "vectors": n,
        "dim": emb_dim,
        "probes": len(probes),
        "probe_fraction": round(len(probes) / len(store.meta()["centroid_ids"]), 4),
        "survivor_fraction": survivor_fraction(spark, store, qvec),
        "emb_col_mb": round(sizes["embedding"] / 1e6, 3),
        "code_col_mb": round((sizes["pq_code"] + sizes["pq_err"]) / 1e6, 3),
        "byte_ratio": round(
            sizes["embedding"] / (sizes["pq_code"] + sizes["pq_err"]), 1
        ),
        "pq_certified_warm_sec": timed(
            lambda: store.pq_topk(spark, qvec, k=20).collect()
        ),
        "ivf_warm_sec": timed(lambda: store.probe_topk(spark, qvec, k=20).collect()),
    }
    out_rows.append(row)
    print(f"# {row}", file=sys.stderr)


def main() -> None:
    spark = get_spark("car-etl-spark-pq-curve")
    os.makedirs(ROOT, exist_ok=True)
    out: dict = {"metric": "pq_scale_curve", "rows": []}

    for n in VEC_SIZES:
        k = IX.derive_num_centroids(n)
        path = os.path.join(ROOT, f"pq-{n}")
        store = IX.IvfStore(path)
        if not _has_pq(store):
            t0 = time.perf_counter()
            store.build(
                make_vectors(spark, n), num_centroids=k, refine_iterations=1, pq_m=8
            )
            print(f"# build n={n}: {time.perf_counter()-t0:.1f}s", file=sys.stderr)
        qvec = [1.0 if d == 3 else 0.0 for d in range(VEC_DIM)]
        measure(spark, store, VEC_DIM, n, qvec, out["rows"], "clustered-dim16")

    # graded-similarity corpus: cosines to the query spread with REAL
    # gaps (alpha_i = 0.999^i mixing toward a fixed direction), the
    # regime where quantization error << similarity gaps — certified
    # survivors collapse to ~k and fixed-budget ADC recall is ~1.
    # (The tight-cluster corpora above are the OPPOSITE regime: all
    # probed members near-identical, top-20 decided in the 4th
    # decimal — no 8-byte code can rank that, ADC recall collapses,
    # and the certificate is what keeps the served answer exact.)
    dim, n = 64, 16_000
    path = os.path.join(ROOT, f"pqgraded-{n}")
    store = IX.IvfStore(path)
    if not _has_pq(store):
        import math
        import random

        rng = random.Random(64)
        u = [1.0 if d == 0 else 0.0 for d in range(dim)]
        rows = []
        for i in range(n):
            a = 0.999 ** i
            w = [rng.gauss(0, 1) for _ in range(dim)]
            w[0] = 0.0
            nw = math.sqrt(sum(x * x for x in w)) or 1.0
            b = math.sqrt(max(0.0, 1 - a * a))
            v = [a * u[d] + b * w[d] / nw for d in range(dim)]
            rows.append((i, i % 8, v))
        emb = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )
        store.build(
            emb, num_centroids=IX.derive_num_centroids(n), refine_iterations=1,
            pq_m=8,
        )
    measure(
        spark, store, dim, n,
        [1.0 if d == 0 else 0.0 for d in range(dim)],
        out["rows"], "graded-dim64",
    )

    # dimensional realism: the reference's 1536-dim embeddings — the
    # regime the code column exists for (12 KB/row vs ~100 B/row)
    dim, n = 1536, 8_000
    import math
    import random

    path = os.path.join(ROOT, f"pq1536-{n}")
    store = IX.IvfStore(path)
    if not _has_pq(store):
        rng = random.Random(1536)
        clusters = 16
        centers = []
        for _c in range(clusters):
            v = [rng.gauss(0, 1) for _ in range(dim)]
            nrm = math.sqrt(sum(x * x for x in v))
            centers.append([x / nrm for x in v])
        rows = []
        for i in range(n):
            c = centers[i % clusters]
            v = [x + rng.gauss(0, 0.02) for x in c]
            nrm = math.sqrt(sum(x * x for x in v))
            rows.append((i, i % clusters, [x / nrm for x in v]))
        emb = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )
        t0 = time.perf_counter()
        store.build(
            emb, num_centroids=IX.derive_num_centroids(n), refine_iterations=1,
            pq_m=96,
        )
        print(f"# build dim1536: {time.perf_counter()-t0:.1f}s", file=sys.stderr)
    meta = store.meta()
    q = meta["centroids"][3]
    measure(spark, store, dim, n, list(q), out["rows"], "clustered-dim1536")

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
