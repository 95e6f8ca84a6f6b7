"""Scale curve for the COMBINED tenant x metadata-filter certified
vector serving (round 8) — the reference's match_document_chunks shape.

Every serving mode carries a measured curve; this one answers: does
the combined walk stay certified-tight (probe fraction) and flat
(latency ∝ the tenant's matching slice, not the corpus) as the corpus
grows 64x?  Corpora are the scale-curve generator's clustered vectors
(sqrt(n) natural clusters, label == cluster) split across two tenants
by id parity; at every size the served result is asserted EQUAL to the
tenant+filter brute force before timing.

Usage: python scripts/bench_tenant_filter_curve.py
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from car_etl_spark import api  # noqa: E402
from car_etl_spark.functions import vectors as V  # noqa: E402
from car_etl_spark.operators import indexing as IX  # noqa: E402
from car_etl_spark.session import get_spark  # noqa: E402

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".cache",
    "tfcurve",
)
SIZES = (2_000, 16_000, 128_000)
VEC_DIM = 16


def make_vectors(spark, n: int):
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
        F.when(F.pmod(F.col("id"), F.lit(2)) == 0, "acme")
        .otherwise("globex")
        .alias("tenant_id"),
        vec.alias("embedding"),
    )


def timed(fn, runs: int = 3) -> float:
    vals = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        vals.append(time.perf_counter() - t0)
    return round(min(vals), 4)


def main() -> None:
    spark = get_spark()
    out = []
    for n in SIZES:
        emb = make_vectors(spark, n)
        path = os.path.join(ROOT, f"emb-{n}.parquet")
        if not os.path.isdir(path):
            emb.write.mode("overwrite").parquet(path)
        emb = spark.read.parquet(path)
        spath = os.path.join(ROOT, f"tivf-{n}")
        store = IX.IvfStore(spath, tenant_col="tenant_id")
        if store.snapshot() is None:
            store.build(
                emb,
                num_centroids=IX.derive_num_centroids(n),
                refine_iterations=1,
                filter_cols=("label",),
            )
        m = store.meta()
        qvec = [float(x) for x in emb.filter(F.col("vec_id") == 4).select("embedding").first()[0]]
        # filter = the query's own cluster + one far one (both tenants hold both)
        labels = [4 % int(math.sqrt(n)), (4 % int(math.sqrt(n)) + 7) % int(math.sqrt(n))]
        probes = store.probe_ids_exact(qvec, 20, tenant="acme", where=("label", labels))
        df = api.tenant_filtered_vector_search(
            spark, store, qvec, "acme", ("label", labels), limit=20,
            extra_cols=("tenant_id",),
        )
        got = [tuple(r) for r in df.collect()]
        brute = [
            tuple(r)
            for r in emb.filter(
                (F.col("tenant_id") == "acme") & F.col("label").isin(labels)
            )
            .select(
                "vec_id", "tenant_id",
                F.round(
                    V.cosine_similarity(F.col("embedding"), V.literal_vector(qvec)), 6
                ).alias("cosine_sim"),
            )
            .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
            .limit(20)
            .collect()
        ]
        assert got == brute, f"combined serving != brute force at n={n}"
        row = {
            "n": n,
            "centroids": int(m["num_centroids"]),
            "probes": len(probes),
            "probe_frac": round(len(probes) / int(m["num_centroids"]), 4),
            "serve_s": timed(lambda d=df: d.count()),
            "exact": True,
        }
        out.append(row)
        print(json.dumps(row))
    print(json.dumps({"rows": out}))


if __name__ == "__main__":
    main()
