"""Vector-search queries over the ``embeddings`` table.

Exact brute-force cosine top-k is the oracle-checkable baseline
(SURVEY.md §4.2.1; reference pgvector scan
``042_match_function.sql:35-46``).  The scale path (LSH bucketing) lives
in ``car_etl_spark.operators.similarity`` and is checked rows-only.

The query vector is taken deterministically from the table itself
(vec_id 0) and broadcast — the production shape for "embed the query,
scan the corpus" where the corpus side is the only large input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from car_etl_spark.functions import vectors as V
from car_etl_spark.queries import QuerySpec
from car_etl_spark.tables import load_tables


#: fetched query vectors keyed by (sf_dir, dataset mtime) — in
#: production the query embedding arrives AS a request parameter (the
#: caller embeds the query string once); reading it back out of the
#: corpus table is test scaffolding, so its one-row job is not re-paid
#: per search call.  The mtime in the key self-invalidates when the
#: table at the same path is regenerated.
_QVEC_CACHE: dict[tuple, list] = {}


def _qvec_cache_key(sf_dir: str):
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        return (sf_dir, os.stat(path).st_mtime_ns)
    except OSError:
        return None  # non-filesystem layout: skip caching rather than serve stale


def _query_vec_literal(emb: DataFrame, cache_key: str | None = None):
    """Fetch the query vector (one-row job) and inline it as a literal —
    the serving shape: the query embedding is a request parameter, not a
    join input.  Cuts the broadcast-exchange sub-job from every
    single-query search (measured ~0.2 s of the per-call latency at
    sf0.1); the corpus scan stays the only real job.  With ``cache_key``
    (the sf_dir) the fetched vector is memoized across calls — the
    analog of the service embedding the query once per request.

    CONTRACT: when ``cache_key`` is passed, ``emb`` must be the raw,
    UNFILTERED embeddings table loaded from that same sf_dir — the cache
    key is (sf_dir, file mtime) and deliberately ignores the frame, so a
    filtered/transformed frame (e.g. a tenant-scoped view) would be
    served the unfiltered table's vector.  Callers with a derived frame
    must pass ``cache_key=None`` (every current caller passes the raw
    table)."""
    return V.literal_vector(_query_vec_list(emb, cache_key))


def _query_vec_list(emb: DataFrame, cache_key: str | None = None) -> list:
    """The query vector as a Python list (same cache + contract as
    :func:`_query_vec_literal`) — for callers that need the raw values
    driver-side (IVF centroid probing)."""
    key = _qvec_cache_key(cache_key) if cache_key is not None else None
    if key is not None and key in _QVEC_CACHE:
        return _QVEC_CACHE[key]
    row = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if row is None or row[0] is None:
        raise ValueError(
            "query vector vec_id=0 not found in embeddings table — "
            "cannot build a literal query vector"
        )
    vals = list(row[0])
    if key is not None:
        _QVEC_CACHE[key] = vals
    return vals


def vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/F22: exact cosine top-k (k=20).  TakeOrderedAndProject after a
    map-only similarity projection — no shuffle beyond the final top-k.
    Plan is prepared once per (session, corpus) — the serving-statement
    shape (see :func:`car_etl_spark.queries.prepared`)."""
    from car_etl_spark.queries import prepared

    def build() -> DataFrame:
        emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
        qlit = _query_vec_literal(emb, cache_key=sf_dir)
        sim = F.round(V.cosine_similarity(F.col("embedding"), qlit), 6)
        return (
            emb.select("vec_id", "label", sim.alias("cosine_sim"))
            .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
            .limit(20)
        )

    return prepared(spark, "vector_topk", sf_dir, ("embeddings.parquet",), build)


VECTOR_TOPK_SQL = """
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       ROUND(list_cosine_similarity(embedding::DOUBLE[], qvec::DOUBLE[]), 6) AS cosine_sim
FROM embeddings, q
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT 20
"""


def vector_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label vote: top-50 neighbors -> votes per label (the
    classification read-path over ANN results)."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    qlit = _query_vec_literal(emb, cache_key=sf_dir)
    sim = F.round(V.cosine_similarity(F.col("embedding"), qlit), 6)
    top = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", sim.alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(50)
    )
    return (
        top.groupBy("label")
        .agg(F.count(F.lit(1)).alias("votes"), F.round(F.avg("s"), 6).alias("avg_sim"))
        .orderBy(F.desc("votes"), F.asc("label"))
    )


VECTOR_KNN_LABEL_VOTE_SQL = """
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
top AS (
  SELECT vec_id, label,
         ROUND(list_cosine_similarity(embedding::DOUBLE[], qvec::DOUBLE[]), 6) AS s
  FROM embeddings, q
  WHERE vec_id <> 0
  ORDER BY s DESC, vec_id ASC
  LIMIT 50
)
SELECT label, COUNT(*) AS votes, ROUND(AVG(s), 6) AS avg_sim
FROM top GROUP BY label ORDER BY votes DESC, label ASC
"""


def vector_label_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label similarity rollup + norm hygiene in ONE corpus pass —
    the consolidated cluster-quality / embedding-hygiene scan (one
    registry slot for round 1's label-similarity and norms queries;
    map-side partial agg, single shuffle on label)."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    qlit = _query_vec_literal(emb, cache_key=sf_dir)
    sim = V.cosine_similarity(F.col("embedding"), qlit)
    nrm = V.norm(F.col("embedding"))
    return (
        emb.select("label", sim.alias("s"), nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("s"), 6).alias("avg_sim"),
            F.round(F.max("s"), 6).alias("max_sim"),
            F.round(F.min("s"), 6).alias("min_sim"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
        .orderBy("label")
    )


VECTOR_LABEL_PROFILE_SQL = """
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
SELECT label, COUNT(*) AS n,
       ROUND(AVG(list_cosine_similarity(embedding::DOUBLE[], qvec::DOUBLE[])), 6) AS avg_sim,
       ROUND(MAX(list_cosine_similarity(embedding::DOUBLE[], qvec::DOUBLE[])), 6) AS max_sim,
       ROUND(MIN(list_cosine_similarity(embedding::DOUBLE[], qvec::DOUBLE[])), 6) AS min_sim,
       ROUND(AVG(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm,
       ROUND(MIN(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS min_norm,
       ROUND(MAX(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS max_norm
FROM embeddings, q
GROUP BY label ORDER BY label
"""


# topk exact/ivf/adaptive -> suites.vector_topk_modes; label profile +
# knn vote -> suites.vector_label_report (r5 consolidation)
QUERIES: dict[str, QuerySpec] = {}


def _vector_topk_batch_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered core of :func:`vector_topk_batch` — the batch-modes
    suite consumes this so the per-arm sort (dead under its union, and
    paying a range-bound sampling job that re-executes the rank-window
    stage) never enters the plan (r13; the r12 lsh-suite pattern)."""
    from pyspark.sql import Window

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    sim = F.round(V.cosine_similarity(F.col("embedding"), F.col("qvec")), 6)
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "vec_id", "cosine_sim")
    )


def vector_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query retrieval: top-5 neighbors for each of 10 query
    vectors in ONE job — the production batch-inference shape (queries
    broadcast, corpus scanned once, per-query rank windows).  At 100 TB
    this replaces 10 corpus scans with one."""
    return _vector_topk_batch_core(spark, sf_dir).orderBy("query_id", "rank")


VECTOR_TOPK_BATCH_SQL = """
WITH queries AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]), 6) AS cosine_sim
  FROM embeddings e CROSS JOIN queries q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cosine_sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""

def vector_ivf_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval from the PERSISTED IVF layout: the certified
    probe sets of all N query vectors UNION into one partition-pruned
    scan, queries broadcast, per-query windows rank — N answers, one
    job over the probed fraction only.

    Exactness composes: each query's certificate is computed for k=6
    (its top-5-excluding-self is contained in its global top-6, since
    the self row occupies at most one slot), non-probed clusters for a
    query cannot hold its top-6 by the triangle bound, and rows scanned
    only because ANOTHER query probed them rescore exactly and rank
    below — extra candidates never change a top-k, so the brute-force
    batch SQL remains the oracle.  The N-row probe collect is the
    request batch itself (control-plane by definition)."""
    from car_etl_spark.queries import prepared

    def build() -> DataFrame:
        return _vector_ivf_topk_batch_core(spark, sf_dir).orderBy(
            "query_id", "rank"
        )

    return prepared(
        spark, "vector_ivf_topk_batch", sf_dir, ("embeddings.parquet",), build
    )


def _vector_ivf_topk_batch_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered core (suite arm — see :func:`_vector_topk_batch_core`).
    prepared() is load-bearing: the probe-set certificate collects the
    query vectors driver-side at plan-build time."""
    from car_etl_spark.queries import prepared

    return prepared(
        spark, "vector_ivf_topk_batch#core", sf_dir, ("embeddings.parquet",),
        lambda: _vector_ivf_topk_batch_build(spark, sf_dir),
    )


def _vector_ivf_topk_batch_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from car_etl_spark.operators.indexing import ensure_ivf_index

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    store = ensure_ivf_index(spark, sf_dir)
    qrows = (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        .collect()
    )
    # one snapshot serves every query's certificate AND the row view
    # (see StoreSnapshot)
    snap = store.snapshot()
    probe_union: set[int] = set()
    for r in qrows:
        probe_union |= set(
            store.probe_ids_exact([float(x) for x in r.qvec], 6, snap=snap)
        )
    queries = spark.createDataFrame(
        [(int(r.query_id), [float(x) for x in r.qvec]) for r in qrows],
        "query_id long, qvec array<double>",
    )
    assigned = store.read_assignments(spark, probes=sorted(probe_union), snap=snap)
    sim = F.round(V.cosine_similarity(F.col("embedding"), F.col("qvec")), 6)
    scored = (
        assigned.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "vec_id", "cosine_sim")
    )


def vector_batch_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry suite: brute-force batch and IVF-serving batch, tagged
    and unioned — like ``vector_topk_modes``, the arms must agree
    row-for-row inside one driver-hashed result."""
    # r13: arms consumed UNSORTED (each per-arm sort was dead under the
    # union AND re-ran its rank-window stage in the range sampler); the
    # union is hash-materialized once below the single declared sort.
    # (mode, query_id, rank) is the unique grain — total order unchanged.
    parts = [
        _vector_topk_batch_core(spark, sf_dir).select(
            F.lit("brute").alias("mode"), "query_id", "rank", "vec_id", "cosine_sim"
        ),
        _vector_ivf_topk_batch_core(spark, sf_dir).select(
            F.lit("ivf").alias("mode"), "query_id", "rank", "vec_id", "cosine_sim"
        ),
    ]
    return (
        parts[0].unionByName(parts[1])
        .repartition("mode", "query_id", "rank")
        .orderBy("mode", "query_id", "rank")
    )


VECTOR_BATCH_MODES_SQL = f"""
SELECT * FROM (
SELECT 'brute' AS mode, query_id, rank, vec_id, cosine_sim FROM ({VECTOR_TOPK_BATCH_SQL})
UNION ALL
SELECT 'ivf' AS mode, query_id, rank, vec_id, cosine_sim FROM ({VECTOR_TOPK_BATCH_SQL})
) ORDER BY mode, query_id, rank
"""

# vector_topk_batch -> vector_batch_modes since r5 (the IVF-serving
# batch arm joined; both arms share the brute-force oracle)
QUERIES["vector_batch_modes"] = QuerySpec(
    vector_batch_modes, VECTOR_BATCH_MODES_SQL, ("vector", "topk", "batch", "suite")
)


def vector_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 SERVING PATH: cosine top-k probing the PERSISTED IVF layout
    (:mod:`car_etl_spark.operators.indexing`) — the HNSW-index-resident
    shape of the reference's published semantic-search latencies
    (``041_vector_index.sql:6-8``).

    Centroid probing is driver-side numpy over meta.json (zero Spark
    jobs); the ONE Spark job scans only the probed ``centroid_id=``
    partitions (PartitionFilters) and rescores them EXACTLY.  The probe
    set is CERTIFIED exact via the cluster-radius triangle bound
    (:meth:`IvfStore.probe_ids_exact`) — on clustered corpora it prunes
    to a few partitions, on near-random data it honestly widens to
    whatever exactness requires — so the result equals
    :func:`vector_topk` by construction and the brute-force SQL is this
    query's oracle.  Fixed-nprobe approximate probing (the latency-
    recall knob at real scale) stays available on
    :meth:`IvfStore.probe_topk`."""
    from car_etl_spark.operators.indexing import ensure_ivf_index
    from car_etl_spark.queries import prepared

    def build() -> DataFrame:
        emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
        qvec = _query_vec_list(emb, cache_key=sf_dir)
        # centroid count derives from the corpus footer (~ sqrt(n))
        store = ensure_ivf_index(spark, sf_dir)
        return store.probe_topk(spark, qvec, k=20)

    return prepared(spark, "vector_ivf_topk", sf_dir, ("embeddings.parquet",), build)





def vector_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 COMPRESSED serving path: certified-exact top-k from the
    product-quantized code column of the SAME persisted IVF store
    (:meth:`IvfStore.pq_topk`, :mod:`car_etl_spark.operators.pq`).

    The shortlist scan reads 8-byte PQ codes instead of 64-double
    embeddings (64x fewer vector bytes at this corpus's dim); per-row
    reconstruction-error bounds turn the ADC scores into a certified
    threshold, and only rows whose error band crosses it are exact-
    rescored — so the result equals :func:`vector_topk` by
    construction and shares the brute-force oracle.  On THIS corpus's
    near-random embeddings the bands are wide and the certificate
    honestly rescores everything probed (same degradation the radius
    walk has); the pruning is measured on clustered fixtures in
    tests/test_indexing.py."""
    from car_etl_spark.operators.indexing import ensure_ivf_index
    from car_etl_spark.queries import prepared

    def build() -> DataFrame:
        emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
        qvec = _query_vec_list(emb, cache_key=sf_dir)
        store = ensure_ivf_index(spark, sf_dir)
        return store.pq_topk(spark, qvec, k=20)

    return prepared(spark, "vector_pq_topk", sf_dir, ("embeddings.parquet",), build)


#: the declared filterable-attribute predicate of the filtered-search
#: registry arm — labels are the embeddings table's metadata column
#: (the reference filters its vector matches by document metadata the
#: same way, ``042_match_function.sql:23-39``)
FILTERED_TOPK_LABELS = (2, 5)


def vector_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 FILTERED serving path: metadata-filtered cosine top-k from
    the persisted IVF layout — the vector-DB "filterable attribute"
    contract (Postgres: a WHERE clause beside the pgvector ``<=>``
    scan, ``042_match_function.sql:35-46``; Lucene/vespa: filter
    queries over doc values).

    The probe set certifies against per-(centroid, label) counts kept
    in index meta (the radius bound holds for any subset of a
    cluster's members, so the certified walk over MATCHING counts is
    still exact — :meth:`IvfStore.probe_ids_exact`), and the label
    IN-predicate pushes into the pruned parquet scan.  Result equals
    the brute-force filtered top-k by construction, so the filtered
    brute SQL is the oracle."""
    from car_etl_spark.operators.indexing import ensure_ivf_index
    from car_etl_spark.queries import prepared

    def build() -> DataFrame:
        emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
        qvec = _query_vec_list(emb, cache_key=sf_dir)
        store = ensure_ivf_index(spark, sf_dir)
        return store.probe_topk(
            spark, qvec, k=20, where=("label", list(FILTERED_TOPK_LABELS))
        )

    return prepared(
        spark, "vector_filtered_topk", sf_dir, ("embeddings.parquet",), build
    )


VECTOR_FILTERED_TOPK_SQL = f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       ROUND(list_cosine_similarity(embedding::DOUBLE[], qvec::DOUBLE[]), 6) AS cosine_sim
FROM embeddings, q
WHERE label IN {FILTERED_TOPK_LABELS}
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT 20
"""


#: the tenant the combined arm serves (vec_id parity split — see
#: :func:`~car_etl_spark.operators.indexing.ensure_tenant_ivf_index`)
TENANT_FILTERED_TENANT = "t1"


def vector_tenant_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/P7 COMBINED serving path: tenant RLS + metadata filter in one
    certified scan — the reference's actual ``match_document_chunks``
    shape (tenant policy AND the optional document filter inside the
    same pgvector scan, ``042_match_function.sql:23-41``).

    The probe walk certifies against the TENANT's per-(centroid, value)
    intersection counts (never the min of the tenant/filter marginals,
    which over-certifies), the scan prunes both partition levels
    ((tenant, centroid_id) directories), and the label IN-predicate
    pushes into the pruned parquet scan.  Exact within the tenant's
    matching rows by construction — the tenant+filter brute force is
    the oracle (the tenant split is vec_id parity, SQL-recomputable)."""
    from car_etl_spark.operators.indexing import ensure_tenant_ivf_index
    from car_etl_spark.queries import prepared

    def build() -> DataFrame:
        emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
        qvec = _query_vec_list(emb, cache_key=sf_dir)
        store = ensure_tenant_ivf_index(spark, sf_dir)
        return store.probe_topk(
            spark,
            qvec,
            k=20,
            tenant=TENANT_FILTERED_TENANT,
            where=("label", list(FILTERED_TOPK_LABELS)),
        )

    return prepared(
        spark, "vector_tenant_filtered_topk", sf_dir, ("embeddings.parquet",), build
    )


VECTOR_TENANT_FILTERED_TOPK_SQL = f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       ROUND(list_cosine_similarity(embedding::DOUBLE[], qvec::DOUBLE[]), 6) AS cosine_sim
FROM embeddings, q
WHERE label IN {FILTERED_TOPK_LABELS}
  AND vec_id % 2 = 1
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT 20
"""


#: corpora below this row count brute-force scan faster than the IVF
#: layout amortizes (index build + probe bookkeeping beat a single
#: map-only scan only once the scan itself dominates); derived from
#: the measured local[32] crossover, deliberately conservative
ADAPTIVE_ANN_MIN_ROWS = 100_000


def _corpus_rowcount(sf_dir: str) -> int:
    """Footer row count of the embeddings table (no Spark job); -1 ->
    unknown -> callers choose the always-correct brute force."""
    from car_etl_spark.tables import parquet_rowcount

    return parquet_rowcount(sf_dir, "embeddings")


def vector_topk_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §7.4's optional strategy: flip exact <-> ANN serving by
    corpus cardinality.  Small corpora brute-force scan (a map-only
    TakeOrderedAndProject beats index bookkeeping); large corpora probe
    the persisted IVF layout (certified exact, so the CHOICE never
    changes results — both arms share the brute-force oracle, and the
    driver's hash check proves the dispatch is value-invisible).

    The decision reads the parquet footer's row count — free
    statistics, no Spark job, the same information a cost-based
    optimizer would use.  The threshold is a measured local crossover;
    at cluster scale the same dispatch holds with a higher floor
    (network amortization moves the break-even up, never down)."""
    n = _corpus_rowcount(sf_dir)
    if n < ADAPTIVE_ANN_MIN_ROWS:  # includes -1: unknown -> brute force
        return vector_topk(spark, sf_dir)
    return vector_ivf_topk(spark, sf_dir)



