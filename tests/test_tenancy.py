"""Tenant-partitioned index stores: the RLS-scoped search analog.

The reference's search functions are row-level-security-scoped per
tenant (``042_match_function.sql:23-39``); the Spark-native equivalent
is a tenant partition LEVEL in the persisted layouts — a tenant-scoped
query can only ever touch that tenant's partition directories, which
these tests pin both by value (no cross-tenant rows, ever) and by plan
(PartitionFilters on the tenant column).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from car_etl_spark.functions.text import stem_py
from car_etl_spark.operators import indexing as IX


def _two_tenant_docs(spark):
    rows = []
    for i in range(40):
        t = "acme" if i % 2 == 0 else "globex"
        secret = "acmesecret" if t == "acme" else "globexsecret"
        rows.append((i, "en", t, f"shared spark windows term {secret} doc{i}"))
    return spark.createDataFrame(
        rows, "doc_id long, lang string, tenant_id string, text string"
    )


@pytest.fixture()
def tenant_store(spark, tmp_path):
    store = IX.PostingStore(str(tmp_path / "tp"), tenant_col="tenant_id")
    store.build(_two_tenant_docs(spark))
    return store


def test_posting_tenant_isolation(spark, tenant_store):
    """'shared' appears in EVERY doc of both tenants; a tenant-scoped
    search must return only that tenant's docs."""
    acme = tenant_store.term_search(spark, [stem_py("shared")], tenant="acme", limit=100)
    ids = {r.doc_id for r in acme.collect()}
    assert ids == {i for i in range(40) if i % 2 == 0}
    # a tenant-private term never leaks into the other tenant's results
    leak = tenant_store.term_search(spark, [stem_py("globexsecret")], tenant="acme", limit=100)
    assert leak.count() == 0


def test_posting_tenant_partition_pruning(spark, tenant_store):
    """The tenant predicate must reach PartitionFilters (directory-level
    pruning), not linger as a post-scan filter."""
    df = tenant_store.term_search(spark, [stem_py("shared")], tenant="acme")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tenant_id" in plan.split("PartitionFilters")[1].split("]")[0]
    assert "term_bucket" in plan  # both levels prune together


def test_posting_tenant_maintenance_isolated(spark, tenant_store):
    """An upsert for one tenant changes only that tenant's view."""
    before_g = {(r.doc_id, r.rank_score) for r in
                tenant_store.term_search(spark, [stem_py("shared")], tenant="globex", limit=100).collect()}
    up = spark.createDataFrame(
        [(0, "en", "acme", "shared shared shared rewritten")],
        "doc_id long, lang string, tenant_id string, text string",
    )
    assert tenant_store.apply_batch(spark, up, None, batch=1)
    after_g = {(r.doc_id, r.rank_score) for r in
               tenant_store.term_search(spark, [stem_py("shared")], tenant="globex", limit=100).collect()}
    assert after_g == before_g
    acme = {r.doc_id: r.rank_score for r in
            tenant_store.term_search(spark, [stem_py("shared")], tenant="acme", limit=100).collect()}
    assert acme[0] == pytest.approx(3 * IX.HEADER_WEIGHT)  # all 3 in the header window


def _two_tenant_emb(spark, n_per=30, clusters=3, dim=6):
    import math
    import random

    rng = random.Random(11)
    rows = []
    for c in range(clusters):
        center = [0.0] * dim
        center[2 * c] = 1.0
        for i in range(n_per):
            vec = [x + rng.gauss(0.0, 0.02) for x in center]
            nrm = math.sqrt(sum(v * v for v in vec))
            vid = c * n_per + i
            rows.append(
                (vid, c, "acme" if vid % 2 == 0 else "globex", [v / nrm for v in vec])
            )
    return spark.createDataFrame(
        rows, "vec_id long, label int, tenant_id string, embedding array<double>"
    )


def test_ivf_tenant_scoped_exact(spark, tmp_path):
    """Tenant-scoped IVF probing: certified exact WITHIN the tenant
    (equals tenant-filtered brute force), never returns cross-tenant
    rows, and prunes both partition levels."""
    from car_etl_spark.functions import vectors as V

    emb = _two_tenant_emb(spark)
    store = IX.IvfStore(str(tmp_path / "tivf"), tenant_col="tenant_id")
    store.build(emb, num_centroids=3, refine_iterations=1)
    qvec = list(emb.filter(F.col("vec_id") == 4).select("embedding").first()[0])

    got_df = store.probe_topk(spark, qvec, k=8, tenant="acme", extra_cols=("label", "tenant_id"))
    got = [tuple(r) for r in got_df.collect()]
    assert all(r[2] == "acme" for r in got)
    brute = [
        tuple(r)
        for r in emb.filter(F.col("tenant_id") == "acme")
        .select(
            "vec_id", "label", "tenant_id",
            F.round(
                V.cosine_similarity(F.col("embedding"), V.literal_vector(qvec)), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(8)
        .collect()
    ]
    assert got == brute
    # the tenant certificate still prunes on this clustered corpus
    probes = store.probe_ids_exact(qvec, 8, tenant="acme")
    assert len(probes) < store.meta()["num_centroids"]
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1].split("]")[0] if "PartitionFilters" in plan else ""
    assert "tenant_id" in pf and "centroid_id" in pf


def test_ivf_tenant_exact_under_maintenance(spark, tmp_path):
    """Tenant-scoped probing stays exact with pending deltas and
    tombstones: stale-low tenant counts + globally-widened radii +
    global tombstone debt are all pessimistic."""
    from car_etl_spark.functions import vectors as V

    emb = _two_tenant_emb(spark)
    store = IX.IvfStore(str(tmp_path / "tivf2"), tenant_col="tenant_id")
    store.build(emb, num_centroids=3, refine_iterations=1)
    # batch: new acme vector near cluster 1's center + delete one acme id
    up = spark.createDataFrame(
        [(1000, 1, "acme", [0.05, 0.0, 0.99, 0.05, 0.0, 0.0])],
        "vec_id long, label int, tenant_id string, embedding array<double>",
    )
    assert store.apply_batch(spark, up, [("acme", 2)], batch=1)
    qvec = [0.0, 0.0, 1.0, 0.0, 0.0, 0.0]
    got = [tuple(r) for r in store.probe_topk(
        spark, qvec, k=6, tenant="acme", extra_cols=("tenant_id",)
    ).collect()]
    assert all(r[1] == "acme" for r in got)
    live = emb.filter((F.col("tenant_id") == "acme") & (F.col("vec_id") != 2)).select(
        "vec_id", "tenant_id", "embedding"
    ).unionByName(up.select("vec_id", "tenant_id", "embedding"))
    brute = [
        tuple(r)
        for r in live.select(
            "vec_id", "tenant_id",
            F.round(
                V.cosine_similarity(F.col("embedding"), V.literal_vector(qvec)), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(6)
        .collect()
    ]
    assert got == brute


def test_api_tenant_search_route(spark, tenant_store):
    """The service-facade tenant route composes stemming + store
    scoping: results match the direct store query and stay in-tenant."""
    from car_etl_spark import api

    got = api.tenant_search(spark, tenant_store, ("shared", "SPARK"), tenant="globex")
    rows = {r.doc_id for r in got.collect()}
    assert rows and all(i % 2 == 1 for i in rows)
    direct = tenant_store.term_search(
        spark, sorted({stem_py("shared"), stem_py("spark")}), tenant="globex"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, direct.collect()))


def test_posting_cross_tenant_id_collision(spark, tmp_path):
    """Doc ids are only unique WITHIN a tenant: tenant A upserting its
    doc 1 must not tombstone tenant B's doc 1 (regression — tombstones
    are keyed (tenant, doc_id) on tenant stores)."""
    store = IX.PostingStore(str(tmp_path / "coll"), tenant_col="tenant_id")
    store.build(
        spark.createDataFrame(
            [
                (1, "en", "acme", "alpha beta"),
                (1, "en", "globex", "alpha gamma"),
            ],
            "doc_id long, lang string, tenant_id string, text string",
        )
    )
    up = spark.createDataFrame(
        [(1, "en", "acme", "rewritten alpha")],
        "doc_id long, lang string, tenant_id string, text string",
    )
    assert store.apply_batch(spark, up, None, batch=1)
    g = store.term_search(spark, [stem_py("alpha")], tenant="globex", limit=10)
    assert {r.doc_id for r in g.collect()} == {1}, "globex's doc 1 must survive"
    # tenant-scoped DELETE takes (tenant, id) pairs and stays scoped
    assert store.apply_batch(spark, None, [("globex", 1)], batch=2)
    assert store.term_search(spark, [stem_py("alpha")], tenant="globex").count() == 0
    assert store.term_search(spark, [stem_py("alpha")], tenant="acme").count() == 1
    # bare ids are rejected on tenant stores rather than mis-keyed
    import pytest

    with pytest.raises(ValueError):
        store.apply_batch(spark, None, [1], batch=3)


def test_ivf_cross_tenant_id_collision(spark, tmp_path):
    """Same invariant for the IVF layout: per-tenant id spaces."""
    from pyspark.sql import functions as F

    rows = [
        (1, 0, "acme", [1.0, 0.0, 0.0, 0.0]),
        (1, 0, "globex", [0.9, 0.1, 0.0, 0.0]),
        (2, 1, "globex", [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, tenant_id string, embedding array<double>"
    )
    store = IX.IvfStore(str(tmp_path / "ivfcoll"), tenant_col="tenant_id")
    store.build(emb, num_centroids=2, refine_iterations=0)
    up = spark.createDataFrame(
        [(1, 0, "acme", [0.8, 0.0, 0.6, 0.0])],
        "vec_id long, label int, tenant_id string, embedding array<double>",
    )
    assert store.apply_batch(spark, up, None, batch=1)
    live_g = store.read_assignments(spark, tenant="globex")
    assert {r.vec_id for r in live_g.select("vec_id").collect()} == {1, 2}
    assert store.apply_batch(spark, None, [("globex", 2)], batch=2)
    assert {r.vec_id for r in store.read_assignments(spark, tenant="globex").select("vec_id").collect()} == {1}
    assert {r.vec_id for r in store.read_assignments(spark, tenant="acme").select("vec_id").collect()} == {1}


@pytest.mark.parametrize("seed", [3, 17])
def test_ivf_tenant_certificate_randomized(spark, tmp_path, seed):
    """Randomized adversary for the tenant-scoped certificate: random
    clustered corpus split over three tenants, then random upsert/
    delete batches — after every batch, tenant-scoped probe_topk must
    equal tenant-filtered brute force for a random query vector."""
    import math
    import random

    from car_etl_spark.functions import vectors as V

    rng = random.Random(seed)
    dim, clusters, n_per = 8, 4, 25
    tenants = ["a", "b", "c"]

    def vec(c):
        center = [0.0] * dim
        center[2 * c] = 1.0
        v = [x + rng.gauss(0, 0.05) for x in center]
        n = math.sqrt(sum(y * y for y in v))
        return [y / n for y in v]

    state = {}  # (tenant, vid) -> embedding
    for c in range(clusters):
        for i in range(n_per):
            vid = c * n_per + i
            state[(rng.choice(tenants), vid)] = vec(c)
    emb0 = spark.createDataFrame(
        [(vid, t, v) for (t, vid), v in state.items()],
        "vec_id long, tenant_id string, embedding array<double>",
    )
    store = IX.IvfStore(str(tmp_path / f"rt{seed}"), tenant_col="tenant_id")
    store.build(emb0, num_centroids=4, refine_iterations=1, keep=())

    def check(batch_no):
        t = rng.choice(tenants)
        q = vec(rng.randrange(clusters))
        got = [
            tuple(r)
            for r in store.probe_topk(
                spark, q, k=7, tenant=t, extra_cols=("tenant_id",)
            ).collect()
        ]
        live = [
            (vid, tt, v) for (tt, vid), v in state.items() if tt == t
        ]
        brute_df = spark.createDataFrame(
            live, "vec_id long, tenant_id string, embedding array<double>"
        )
        brute = [
            tuple(r)
            for r in brute_df.select(
                "vec_id", "tenant_id",
                F.round(
                    V.cosine_similarity(F.col("embedding"), V.literal_vector(q)), 6
                ).alias("cosine_sim"),
            )
            .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
            .limit(7)
            .collect()
        ]
        assert got == brute, f"batch {batch_no}, tenant {t}, seed {seed}"

    check(0)
    next_id = 1000
    for b in range(1, 4):
        ups = []
        for _ in range(rng.randrange(1, 4)):
            t = rng.choice(tenants)
            if rng.random() < 0.5 and any(k[0] == t for k in state):
                vid = rng.choice([k[1] for k in state if k[0] == t])  # update
            else:
                vid = next_id
                next_id += 1
            v = vec(rng.randrange(clusters))
            state[(t, vid)] = v
            ups.append((vid, t, v))
        dels = []
        for _ in range(rng.randrange(0, 2)):
            victims = [k for k in state if (k[0], k[1]) not in {(u[1], u[0]) for u in ups}]
            if victims:
                t, vid = rng.choice(victims)
                del state[(t, vid)]
                dels.append((t, vid))
        up_df = spark.createDataFrame(
            ups, "vec_id long, tenant_id string, embedding array<double>"
        )
        assert store.apply_batch(spark, up_df, dels or None, batch=b, keep=())
        check(b)
    store.compact(spark)
    check("post-compact")


def test_numeric_string_tenant_ids_round_trip(spark, tmp_path):
    """Partition-column type inference must never reinterpret tenant
    values: a STRING tenant id '1001' stays a string through build,
    scoped reads, upsert tombstones, and deletes (the stored build-time
    schema is supplied on every read)."""
    store = IX.PostingStore(str(tmp_path / "numt"), tenant_col="tenant_id")
    store.build(
        spark.createDataFrame(
            [
                (1, "en", "1001", "alpha beta"),
                (1, "en", "2002", "alpha gamma"),
            ],
            "doc_id long, lang string, tenant_id string, text string",
        )
    )
    view = store.read(spark, tenant="1001")
    assert dict(view.dtypes)["tenant_id"] == "string"
    assert view.select("doc_id").distinct().count() == 1
    up = spark.createDataFrame(
        [(1, "en", "1001", "rewritten alpha")],
        "doc_id long, lang string, tenant_id string, text string",
    )
    assert store.apply_batch(spark, up, [("2002", 1)], batch=1)
    assert store.term_search(spark, [stem_py("alpha")], tenant="2002").count() == 0
    got = store.term_search(spark, [stem_py("rewritten")], tenant="1001").collect()
    assert [r.doc_id for r in got] == [1]
    store.compact(spark)
    assert store.term_search(spark, [stem_py("rewritten")], tenant="1001").count() == 1

    emb = spark.createDataFrame(
        [
            (1, "1001", [1.0, 0.0]),
            (1, "2002", [0.0, 1.0]),
        ],
        "vec_id long, tenant_id string, embedding array<double>",
    )
    ivf = IX.IvfStore(str(tmp_path / "numivf"), tenant_col="tenant_id")
    ivf.build(emb, num_centroids=2, refine_iterations=0, keep=())
    live = ivf.read_assignments(spark, tenant="1001")
    assert dict(live.dtypes)["tenant_id"] == "string"
    assert ivf.apply_batch(spark, None, [("2002", 1)], batch=1, keep=())
    assert ivf.read_assignments(spark, tenant="2002").count() == 0
    assert ivf.read_assignments(spark, tenant="1001").count() == 1


def test_pre_v3_store_refuses_silent_defaults(spark, tmp_path):
    """A base layout without meta (pre-v3 store or torn copy) must fail
    loudly at open — silently defaulting the bucket count would make
    every pruned query scan the wrong partition."""
    import pytest

    store = IX.PostingStore(str(tmp_path / "lg"), num_buckets=64)
    store.build(_two_tenant_docs(spark).drop("tenant_id"))
    os.remove(store.meta_path)
    with pytest.raises(ValueError, match="pre-v3"):
        IX.PostingStore(str(tmp_path / "lg"))


def test_api_tenant_vector_search_route(spark, tmp_path):
    """The facade's tenant vector route (the RLS match_document_chunks
    analog): equals tenant-filtered brute force, never crosses tenants,
    and prunes both partition levels."""
    from car_etl_spark import api
    from car_etl_spark.functions import vectors as V

    emb = _two_tenant_emb(spark)
    store = IX.IvfStore(str(tmp_path / "apivf"), tenant_col="tenant_id")
    store.build(emb, num_centroids=3, refine_iterations=1)
    qvec = list(emb.filter(F.col("vec_id") == 7).select("embedding").first()[0])

    got_df = api.tenant_vector_search(
        spark, store, qvec, tenant="globex", limit=8, extra_cols=("tenant_id",)
    )
    got = [tuple(r) for r in got_df.collect()]
    assert got and all(r[1] == "globex" for r in got)
    brute = [
        tuple(r)
        for r in emb.filter(F.col("tenant_id") == "globex")
        .select(
            "vec_id", "tenant_id",
            F.round(
                V.cosine_similarity(F.col("embedding"), V.literal_vector(qvec)), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(8)
        .collect()
    ]
    assert got == brute
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1].split("]")[0] if "PartitionFilters" in plan else ""
    assert "tenant_id" in pf and "centroid_id" in pf


def test_api_tenant_hybrid_route(spark, tmp_path):
    """The facade's tenant hybrid route: both legs serve from
    tenant-partitioned stores over an ALIGNED id space, results stay
    in-tenant, and the RRF fusion equals a driver-side reference fusion
    of the two tenant legs."""
    from car_etl_spark import api
    from car_etl_spark.functions.text import stem_py

    emb = _two_tenant_emb(spark, n_per=20)
    # aligned corpus: doc_id == vec_id, same tenant assignment; give
    # the query terms to a subset so the keyword leg discriminates
    docs = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.lit("en").alias("lang"),
        "tenant_id",
        F.concat(
            F.lit("shared spark term doc"),
            F.col("vec_id").cast("string"),
            F.when(F.col("vec_id") % 3 == 0, F.lit(" windows merge")).otherwise(F.lit("")),
        ).alias("text"),
    )
    pstore = IX.PostingStore(str(tmp_path / "hp"), tenant_col="tenant_id")
    pstore.build(docs)
    vstore = IX.IvfStore(str(tmp_path / "hv"), tenant_col="tenant_id")
    vstore.build(emb, num_centroids=3, refine_iterations=1)
    qvec = list(emb.filter(F.col("vec_id") == 6).select("embedding").first()[0])
    terms = ("shared", "merge")

    got = api.tenant_hybrid_search(
        spark, pstore, vstore, terms, qvec, tenant="acme", limit=10
    ).collect()
    assert got
    acme_ids = {r.vec_id for r in emb.filter(F.col("tenant_id") == "acme").collect()}
    assert all(r.doc_id in acme_ids for r in got)

    # driver-side reference fusion from the two tenant legs
    kw = api.tenant_search(spark, pstore, terms, tenant="acme", limit=20).collect()
    vec = api.tenant_vector_search(spark, vstore, qvec, tenant="acme", limit=20).collect()
    kw_rank = {r.doc_id: i + 1 for i, r in enumerate(kw)}
    vec_rank = {r.vec_id: i + 1 for i, r in enumerate(vec)}
    expect = {}
    for d in set(kw_rank) | set(vec_rank):
        s = (1.0 / (60 + kw_rank[d]) if d in kw_rank else 0.0) + (
            1.0 / (60 + vec_rank[d]) if d in vec_rank else 0.0
        )
        expect[d] = (round(s, 8), kw_rank.get(d), vec_rank.get(d))
    top = sorted(expect.items(), key=lambda kv: (-kv[1][0], kv[0]))[:10]
    assert [(r.doc_id, r.rrf_score, r.kw_rank, r.vec_rank) for r in got] == [
        (d, s, kr, vr) for d, (s, kr, vr) in top
    ]
    # a tenant-private keyword never fuses into the other tenant's page
    leak = api.tenant_hybrid_search(
        spark, pstore, vstore, ("globexsecret",), qvec, tenant="acme", limit=10
    )
    assert all(r.kw_rank is None for r in leak.collect())  # leg miss = NULL rank,
    # the same absent-leg encoding api.search uses (one shared rrf_fuse)


# -- BM25: ranking statistics are RLS-scoped too -------------------------------


def test_bm25_tenant_stats_equal_single_tenant_store(spark, tmp_path, tenant_store):
    """THE statistics-isolation property: tenant-scoped BM25 over the
    shared store == BM25 over a store built from that tenant's corpus
    ALONE.  Global stats here would differ (N and avgdl include the
    other tenant), so equality proves idf/avgdl never see the other
    tenant's corpus shape — the ranking analog of the RLS row guarantee."""
    from car_etl_spark.api import tenant_bm25_search

    docs = _two_tenant_docs(spark)
    solo = IX.PostingStore(str(tmp_path / "solo"))
    solo.build(
        docs.filter(F.col("tenant_id") == "acme").select("doc_id", "lang", "text")
    )
    terms = ("shared", "doc2")
    got = sorted(
        tuple(r)
        for r in tenant_bm25_search(
            spark, tenant_store, terms, tenant="acme", limit=100
        ).collect()
    )
    stems = sorted({stem_py(t) for t in terms})
    want = sorted(tuple(r) for r in solo.bm25_search(spark, stems, limit=100).collect())
    assert got == want
    # the per-tenant stats pair itself matches the solo store's
    assert tenant_store.stats(tenant="acme") == solo.stats()


def test_bm25_tenant_stats_exact_under_maintenance(spark, tenant_store):
    """An upsert for one tenant must not move the OTHER tenant's BM25
    scores (its n_docs/sum_dl/df are untouched), while the upserted
    tenant's stats restamp exactly."""
    stems = [stem_py("shared")]
    before_g = sorted(
        tuple(r)
        for r in tenant_store.bm25_search(spark, stems, tenant="globex", limit=100).collect()
    )
    before_acme_stats = tenant_store.stats(tenant="acme")
    up = spark.createDataFrame(
        [(0, "en", "acme", "shared shared much longer rewritten doc with extra tokens")],
        "doc_id long, lang string, tenant_id string, text string",
    )
    assert tenant_store.apply_batch(spark, up, None, batch=1)
    after_g = sorted(
        tuple(r)
        for r in tenant_store.bm25_search(spark, stems, tenant="globex", limit=100).collect()
    )
    assert after_g == before_g
    after_acme_stats = tenant_store.stats(tenant="acme")
    assert after_acme_stats["n_docs"] == before_acme_stats["n_docs"]  # upsert, not insert
    assert after_acme_stats["sum_dl"] != before_acme_stats["sum_dl"]  # longer doc


def test_bm25_unknown_tenant_refused(spark, tenant_store):
    with pytest.raises(ValueError, match="no corpus stats for tenant"):
        tenant_store.bm25_search(spark, [stem_py("shared")], tenant="initech")


def test_phrase_tenant_isolation(spark, tenant_store):
    """Tenant-scoped phrase search matches only the tenant's docs, and
    a phrase whose words only co-occur in the OTHER tenant's docs never
    matches (positions are tenant-partition-pruned like everything)."""
    from car_etl_spark.api import tenant_phrase_search

    got = tenant_phrase_search(
        spark, tenant_store, ("spark", "windows"), tenant="acme", limit=100
    )
    ids = {r.doc_id for r in got.collect()}
    assert ids and ids == {i for i in range(40) if i % 2 == 0}
    # each tenant's docs embed their own secret AFTER 'term'; the other
    # tenant's phrase ('term globexsecret') must not match under acme
    leak = tenant_phrase_search(
        spark, tenant_store, ("term", "globexsecret"), tenant="acme", limit=100
    )
    assert leak.count() == 0
    own = tenant_phrase_search(
        spark, tenant_store, ("term", "acmesecret"), tenant="acme", limit=100
    )
    assert own.count() == 20


def test_unscoped_serving_refused_on_tenant_store(spark, tenant_store):
    """Doc ids are only unique WITHIN a tenant, so an unscoped serving
    query would merge different tenants' documents (fabricated phrase
    matches, cross-doc BM25 sums) — the store refuses instead."""
    for call in (
        lambda: tenant_store.term_search(spark, [stem_py("shared")]),
        lambda: tenant_store.bm25_search(spark, [stem_py("shared")]),
        lambda: tenant_store.phrase_search(spark, [stem_py("spark"), stem_py("windows")]),
    ):
        with pytest.raises(ValueError, match="require tenant"):
            call()


def test_cross_tenant_phrase_never_fabricated(spark, tmp_path):
    """The concrete failure the guard prevents: acme doc 1 has 'red
    wolf', globex doc 1 has 'cat fox' — no document contains 'red fox',
    and no API path can manufacture one from the two tenants' position
    arrays."""
    from car_etl_spark.functions.porter import porter_py

    rows = [
        (1, "en", "acme", "pad pad pad pad pad red wolf here"),
        (1, "en", "globex", "pad pad pad pad pad cat fox here"),
    ]
    store = IX.PostingStore(str(tmp_path / "xt"), analyzer="porter", tenant_col="tenant_id")
    store.build(spark.createDataFrame(
        rows, "doc_id long, lang string, tenant_id string, text string"
    ))
    terms = [porter_py("red"), porter_py("fox")]
    for t in ("acme", "globex"):
        assert store.phrase_search(spark, terms, tenant=t).count() == 0


def test_api_tenant_pq_search_route(spark, tmp_path):
    """The tenant PQ route: certified compressed-scan serving equals
    tenant-filtered brute force, never crosses tenants, and both its
    scans prune to the tenant's partition directories."""
    from car_etl_spark import api
    from car_etl_spark.functions import vectors as V

    emb = _two_tenant_emb(spark)
    store = IX.IvfStore(str(tmp_path / "pqten"), tenant_col="tenant_id")
    store.build(emb, num_centroids=3, refine_iterations=1, pq_m=4)
    qvec = list(emb.filter(F.col("vec_id") == 7).select("embedding").first()[0])

    got_df = api.tenant_pq_search(
        spark, store, qvec, tenant="globex", limit=8, extra_cols=("tenant_id",)
    )
    got = [tuple(r) for r in got_df.collect()]
    assert got and all(r[1] == "globex" for r in got)
    brute = [
        tuple(r)
        for r in emb.filter(F.col("tenant_id") == "globex")
        .select(
            "vec_id", "tenant_id",
            F.round(
                V.cosine_similarity(F.col("embedding"), V.literal_vector(qvec)), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(8)
        .collect()
    ]
    assert got == brute
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1].split("]")[0] if "PartitionFilters" in plan else ""
    assert "tenant_id" in pf and "centroid_id" in pf


def test_api_tenant_substring_and_regex_routes(spark, tmp_path):
    rows = [
        (1, "en", "alpha quick brown 7", "acme"),
        (1, "en", "beta quick brown 7 quick brown 9", "globex"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, tenant_id string"
    )
    store = IX.PostingStore(
        str(tmp_path / "apitri"), analyzer="trigram", tenant_col="tenant_id"
    )
    store.build(df)
    from car_etl_spark import api

    sub = {
        t: [(r.doc_id, r.n_matches) for r in
            api.tenant_substring_search(spark, store, "quick brown", t).collect()]
        for t in ("acme", "globex")
    }
    assert sub == {"acme": [(1, 1)], "globex": [(1, 2)]}
    rex = [
        (r.doc_id, r.n_matches)
        for r in api.tenant_regex_search(
            spark, store, "quick brown [0-9]", df, "globex"
        ).collect()
    ]
    assert rex == [(1, 2)]


def _brute_tenant_filtered(emb, qvec, tenant, labels, k=8):
    from car_etl_spark.functions import vectors as V

    return [
        tuple(r)
        for r in emb.filter(
            (F.col("tenant_id") == tenant) & F.col("label").isin(labels)
        )
        .select(
            "vec_id", "tenant_id",
            F.round(
                V.cosine_similarity(F.col("embedding"), V.literal_vector(qvec)), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
        .collect()
    ]


def test_tenant_filtered_vector_search_combined(spark, tmp_path):
    """Tenant RLS + metadata filter in ONE certified scan — the
    reference's match_document_chunks shape (042_match_function.sql:
    23-41).  Equality vs tenant+filter brute force for both tenants and
    several label sets, isolation (never another tenant's rows, even
    when the filter matches only the other tenant), partition pruning
    on BOTH levels plus the pushed IN-predicate, and the PQ route
    composing the same filter."""
    from car_etl_spark import api

    emb = _two_tenant_emb(spark)
    store = IX.IvfStore(str(tmp_path / "tfivf"), tenant_col="tenant_id")
    store.build(
        emb, num_centroids=3, refine_iterations=1,
        filter_cols=("label",), pq_m=4,
    )
    qvec = list(emb.filter(F.col("vec_id") == 4).select("embedding").first()[0])

    for t in ("acme", "globex"):
        for labels in ([0], [1, 2], [2]):
            got_df = api.tenant_filtered_vector_search(
                spark, store, qvec, t, ("label", labels),
                limit=8, extra_cols=("tenant_id",),
            )
            got = [tuple(r) for r in got_df.collect()]
            assert got == _brute_tenant_filtered(emb, qvec, t, labels), (t, labels)
            assert got and all(r[1] == t for r in got)
    # plan: both partition levels prune, the label IN-predicate pushes
    got_df = api.tenant_filtered_vector_search(
        spark, store, qvec, "acme", ("label", [1]), limit=8,
        extra_cols=("tenant_id",),
    )
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "tenant_id" in pf and "centroid_id" in pf
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    # single-value IN folds to EqualTo — either way the label predicate
    # reached the parquet scan
    assert "label" in pushed, pushed
    # certified walk over the tenant's INTERSECTION counts prunes: a
    # same-cluster filter should not force scanning every centroid
    probes = store.probe_ids_exact(qvec, 3, tenant="acme", where=("label", [0]))
    assert 0 < len(probes) < 3, probes
    # PQ route composes the same filter (compressed scan, same answer)
    pq = [
        tuple(r)
        for r in api.tenant_pq_search(
            spark, store, qvec, "globex", limit=8,
            extra_cols=("tenant_id",), where=("label", [1, 2]),
        ).collect()
    ]
    assert pq == _brute_tenant_filtered(emb, qvec, "globex", [1, 2])


def test_tenant_filtered_vector_search_under_maintenance(spark, tmp_path):
    """The combined certificate stays exact across apply_batch (new
    matching rows + tombstones fold at the (tenant, centroid, value)
    grain) and compact (per-tenant filter stats restamped tight)."""
    from car_etl_spark import api

    emb = _two_tenant_emb(spark)
    store = IX.IvfStore(str(tmp_path / "tfmivf"), tenant_col="tenant_id")
    store.build(
        emb, num_centroids=3, refine_iterations=1, filter_cols=("label",)
    )
    qvec = list(emb.filter(F.col("vec_id") == 4).select("embedding").first()[0])

    # batch: upsert 6 new acme rows near the query's cluster with label
    # 2, tombstone two existing matching acme ids
    import math

    new_rows = []
    for i in range(6):
        vec = [1.0, 0.001 * i, 0.0, 0.0, 0.0, 0.0]
        nrm = math.sqrt(sum(v * v for v in vec))
        new_rows.append((1000 + i, 2, "acme", [v / nrm for v in vec]))
    ups = spark.createDataFrame(
        new_rows, "vec_id long, label int, tenant_id string, embedding array<double>"
    )
    store.apply_batch(
        spark, ups, [("acme", 0), ("acme", 2)], batch=1, keep=("label",)
    )
    live = emb.filter(~F.col("vec_id").isin([0, 2]) | (F.col("tenant_id") != "acme")).unionByName(ups)
    for labels in ([2], [0, 2]):
        got = [
            tuple(r)
            for r in api.tenant_filtered_vector_search(
                spark, store, qvec, "acme", ("label", labels),
                limit=8, extra_cols=("tenant_id",),
            ).collect()
        ]
        assert got == _brute_tenant_filtered(live, qvec, "acme", labels), labels
    # globex untouched by acme's batch
    got_g = [
        tuple(r)
        for r in api.tenant_filtered_vector_search(
            spark, store, qvec, "globex", ("label", [2]),
            limit=8, extra_cols=("tenant_id",),
        ).collect()
    ]
    assert got_g == _brute_tenant_filtered(emb, qvec, "globex", [2])

    store.compact(spark)
    m = store.meta()
    assert not m["batches"]
    # per-tenant filter stats survived the restamp
    assert all("filters" in e for e in m["tenants"].values())
    got2 = [
        tuple(r)
        for r in api.tenant_filtered_vector_search(
            spark, store, qvec, "acme", ("label", [2]),
            limit=8, extra_cols=("tenant_id",),
        ).collect()
    ]
    assert got2 == _brute_tenant_filtered(live, qvec, "acme", [2])


def test_tenant_filtered_isolation_value_only_in_other_tenant(spark, tmp_path):
    """A filter value present ONLY in tenant B returns zero rows for
    tenant A — never B's rows (the leak the marginal-min certificate
    could have allowed)."""
    from car_etl_spark import api

    emb = _two_tenant_emb(spark)
    # give globex an exclusive label 9 on a few rows
    emb = emb.withColumn(
        "label",
        F.when((F.col("tenant_id") == "globex") & (F.col("vec_id") < 10), 9)
        .otherwise(F.col("label")),
    )
    store = IX.IvfStore(str(tmp_path / "tfiso"), tenant_col="tenant_id")
    store.build(emb, num_centroids=3, refine_iterations=1, filter_cols=("label",))
    qvec = list(emb.filter(F.col("vec_id") == 4).select("embedding").first()[0])
    acme = api.tenant_filtered_vector_search(
        spark, store, qvec, "acme", ("label", [9]), limit=8,
        extra_cols=("tenant_id",),
    ).collect()
    assert acme == []
    globex = [
        tuple(r)
        for r in api.tenant_filtered_vector_search(
            spark, store, qvec, "globex", ("label", [9]), limit=8,
            extra_cols=("tenant_id",),
        ).collect()
    ]
    assert globex == _brute_tenant_filtered(emb, qvec, "globex", [9])
    assert all(r[1] == "globex" for r in globex)


def test_api_tenant_hybrid_route_with_metadata_filter(spark, tmp_path):
    """where= applies the reference's optional metadata filter to the
    hybrid route's VECTOR leg inside the same certified scan: the
    vector ranks come from the tenant+filter leg, the keyword leg
    fuses unfiltered (it has no such column — the reference's keyword
    CTE shape), and nothing crosses tenants."""
    from car_etl_spark import api
    from car_etl_spark.functions.text import stem_py  # noqa: F401

    emb = _two_tenant_emb(spark, n_per=20)
    docs = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.lit("en").alias("lang"),
        "tenant_id",
        F.concat(
            F.lit("shared spark term doc"),
            F.col("vec_id").cast("string"),
            F.when(F.col("vec_id") % 3 == 0, F.lit(" windows merge")).otherwise(F.lit("")),
        ).alias("text"),
    )
    pstore = IX.PostingStore(str(tmp_path / "hpf"), tenant_col="tenant_id")
    pstore.build(docs)
    vstore = IX.IvfStore(str(tmp_path / "hvf"), tenant_col="tenant_id")
    vstore.build(emb, num_centroids=3, refine_iterations=1, filter_cols=("label",))
    qvec = list(emb.filter(F.col("vec_id") == 6).select("embedding").first()[0])
    terms = ("shared", "merge")
    where = ("label", [0, 2])

    got = api.tenant_hybrid_search(
        spark, pstore, vstore, terms, qvec, tenant="acme", limit=10, where=where
    ).collect()
    assert got
    acme = {r.vec_id for r in emb.filter(F.col("tenant_id") == "acme").collect()}
    assert all(r.doc_id in acme for r in got)
    # reference fusion built from the two SCOPED legs
    kw = api.tenant_search(spark, pstore, terms, tenant="acme", limit=20).collect()
    vec = api.tenant_filtered_vector_search(
        spark, vstore, qvec, "acme", where, limit=20
    ).collect()
    assert vec and all(
        r.vec_id in {e.vec_id for e in emb.filter(F.col("label").isin([0, 2])).collect()}
        for r in vec
    )
    kw_rank = {r.doc_id: i + 1 for i, r in enumerate(kw)}
    vec_rank = {r.vec_id: i + 1 for i, r in enumerate(vec)}
    expect = {}
    for d in set(kw_rank) | set(vec_rank):
        s = (1.0 / (60 + kw_rank[d]) if d in kw_rank else 0.0) + (
            1.0 / (60 + vec_rank[d]) if d in vec_rank else 0.0
        )
        expect[d] = (round(s, 8), kw_rank.get(d), vec_rank.get(d))
    top = sorted(expect.items(), key=lambda kv: (-kv[1][0], kv[0]))[:10]
    assert [(r.doc_id, r.rrf_score, r.kw_rank, r.vec_rank) for r in got] == [
        (d, s, kr, vr) for d, (s, kr, vr) in top
    ]


def test_tenant_filtered_pq_under_maintenance(spark, tmp_path):
    """The deepest composition: PRODUCT-QUANTIZED serving x tenant RLS
    x metadata filter x LSM maintenance.  The err ceiling (batch entries
    ride the pessimistic write), the tenant's per-(centroid, value)
    counts, and the frozen-codebook encoding must compose to a result
    equal to the tenant+filter brute force over the live view."""
    import math

    from car_etl_spark import api

    emb = _two_tenant_emb(spark)
    store = IX.IvfStore(str(tmp_path / "tfpq"), tenant_col="tenant_id")
    store.build(
        emb, num_centroids=3, refine_iterations=1,
        filter_cols=("label",), pq_m=3,
    )
    qvec = list(emb.filter(F.col("vec_id") == 4).select("embedding").first()[0])

    rows = []
    for i in range(5):
        vec = [1.0, 0.002 * i, 0.0, 0.0, 0.0, 0.0]
        nrm = math.sqrt(sum(v * v for v in vec))
        rows.append((2000 + i, 0, "acme", [v / nrm for v in vec]))
    ups = spark.createDataFrame(
        rows, "vec_id long, label int, tenant_id string, embedding array<double>"
    )
    store.apply_batch(spark, ups, [("acme", 0)], batch=1, keep=("label",))
    live = emb.filter(
        (F.col("vec_id") != 0) | (F.col("tenant_id") != "acme")
    ).unionByName(ups)

    for labels in ([0], [0, 2]):
        got = [
            tuple(r)
            for r in api.tenant_pq_search(
                spark, store, qvec, "acme", limit=8,
                extra_cols=("tenant_id",), where=("label", labels),
            ).collect()
        ]
        assert got == _brute_tenant_filtered(live, qvec, "acme", labels), labels
    store.compact(spark)
    got2 = [
        tuple(r)
        for r in api.tenant_pq_search(
            spark, store, qvec, "acme", limit=8,
            extra_cols=("tenant_id",), where=("label", [0]),
        ).collect()
    ]
    assert got2 == _brute_tenant_filtered(live, qvec, "acme", [0])
