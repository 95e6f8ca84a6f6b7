"""Service-level facade — the reference's HTTP surface as engine calls.

A user of the reference platform interacts through a handful of routes
(SURVEY.md §3); this module exposes the same operations over DataFrames
so switching is mechanical:

| Reference route | Here |
|---|---|
| ``POST /api/v1/search`` (mode=vector/keyword/hybrid, rerank) | :func:`search` |
| ``POST /api/v1/search`` under tenant RLS context (keyword) | :func:`tenant_search` |
| same, BM25 scoring with tenant-scoped ranking statistics | :func:`tenant_bm25_search` |
| same, positional phrase matching under tenant RLS | :func:`tenant_phrase_search` |
| same, mode=vector (RLS ``match_document_chunks``) | :func:`tenant_vector_search` |
| same, vector + the optional metadata filter in ONE certified scan | :func:`tenant_filtered_vector_search` |
| same, mode=hybrid (both legs tenant-partition-pruned; ``where=`` filters the vector leg) | :func:`tenant_hybrid_search` |
| dashboard rollup read (continuous aggregate, tenant-pruned) | :func:`tenant_rollup` |
| active-users composition (rollup partials ⋈ distinct sketch) | :func:`rollup_with_distinct` |
| ``POST /api/v1/ask`` (RAG with citations) | :func:`ask` |
| ``GET /api/v1/effective-rent/summary`` | :func:`effective_rent_summary` |
| ``GET /api/v1/effective-rent/by-property`` | :func:`effective_rent_by_group` |
| ``GET /api/v1/effective-rent/concentration`` | :func:`concentration` |
| document upload / bulk ZIP | ``operators.multimodal`` / ``operators.ingest`` |
| entity match/merge | ``queries.entity`` / ``operators.resolution`` |

Beyond the reference surface, the training-data-pipeline layer adds:
dedup clustering (``operators.components`` over MinHash/fingerprint
pairs), token-window chunking (``operators.chunking``), as-of and
binned range joins (``operators.asof`` / ``operators.rangejoin``),
porter-analyzed FTS + certified-exact IVF serving
(``operators.indexing``), and the external parser-service boundary
(``operators.parser_service``).

Each function takes already-loaded DataFrames (corpus/embeddings/fields)
— at scale these are the hot tables a service keeps registered — and
returns a DataFrame, so results compose with further dataflow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from car_etl_spark.functions import text as T
from car_etl_spark.functions import vectors as V
from car_etl_spark.operators import rag as R
from car_etl_spark.queries.parity import dsum_raw
from car_etl_spark.queries.search import leg_rank, rrf_fuse
from car_etl_spark.queries.textops import keyword_scores

SEARCH_RESULT_CAP = 100  # reference src/api/routes/search.py:65-70


def _keyword_leg(corpus: DataFrame, terms: tuple[str, ...], fetch: int) -> DataFrame:
    return (
        keyword_scores(corpus, terms, "doc_id")
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(fetch)
        .withColumn("rank", leg_rank("score"))
    )


def _vector_leg(embeddings: DataFrame, query_vec: Column, fetch: int) -> DataFrame:
    q = embeddings.sparkSession.range(1).select(query_vec.alias("qvec"))
    sim = F.round(V.cosine_similarity(F.col("embedding"), F.col("qvec")), 6)
    return (
        embeddings.crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), sim.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(fetch)
        .withColumn("rank", leg_rank("score"))
    )


def search(
    corpus: DataFrame,
    embeddings: DataFrame,
    terms: tuple[str, ...],
    query_vec: Column | None = None,
    mode: str = "hybrid",
    limit: int = 20,
) -> DataFrame:
    """The hybrid-search service (reference ``src/search/hybrid.py:59-96``):
    mode dispatch, 2x over-fetch per leg, RRF fusion at k=60, capped."""
    limit = min(limit, SEARCH_RESULT_CAP)
    fetch = limit * 2  # reference hybrid.py:205-206
    if mode == "keyword":
        return _keyword_leg(corpus, terms, fetch).limit(limit)
    if mode == "vector":
        if query_vec is None:
            raise ValueError("vector mode needs query_vec")
        return _vector_leg(embeddings, query_vec, fetch).limit(limit)
    if mode != "hybrid":
        raise ValueError(f"unknown mode: {mode}")
    kw = _keyword_leg(corpus, terms, fetch).select(
        "doc_id", F.col("rank").alias("kw_rank")
    )
    vec = _vector_leg(embeddings, query_vec, fetch).select(
        "doc_id", F.col("rank").alias("vec_rank")
    )
    return rrf_fuse(kw, vec, limit)


def _stem_fn(posting_store):
    """The driver-side stemmer matching the store's analyzer."""
    if posting_store.analyzer == "porter":
        from car_etl_spark.functions.porter import porter_py

        return porter_py
    from car_etl_spark.functions.text import stem_py

    return stem_py


def tenant_search(
    spark,
    posting_store,
    terms: tuple[str, ...],
    tenant: str,
    limit: int = 20,
) -> DataFrame:
    """Tenant-scoped keyword search over a tenant-partitioned
    :class:`~car_etl_spark.operators.indexing.PostingStore` — the
    RLS-scoped search route (reference ``042_match_function.sql:23-39``
    behind ``src/api/routes/search.py``'s tenant context).  Terms are
    stemmed with the store's analyzer driver-side; the scan prunes to
    the tenant's (tenant, term_bucket) partition directories, so a
    tenant's query can never touch another tenant's data — isolation
    by storage layout, not by post-filter."""
    stem = _stem_fn(posting_store)
    limit = min(limit, SEARCH_RESULT_CAP)
    stems = sorted({stem(t.lower()) for t in terms})
    return posting_store.term_search(spark, stems, tenant=tenant, limit=limit)


def tenant_bm25_search(
    spark,
    posting_store,
    terms: tuple[str, ...],
    tenant: str,
    limit: int = 20,
) -> DataFrame:
    """Tenant-scoped Okapi BM25 over a tenant-partitioned posting
    store.  Beyond row isolation, the RANKING STATISTICS are
    RLS-scoped: idf and avgdl come from the tenant's own (n_docs,
    sum_dl) meta pair and df from the tenant-pruned rows, so scores
    equal a store built from that tenant's corpus alone — another
    tenant's corpus shape can never show through the numbers
    (pinned in ``tests/test_tenancy.py``)."""
    stem = _stem_fn(posting_store)
    limit = min(limit, SEARCH_RESULT_CAP)
    stems = sorted({stem(t.lower()) for t in terms})
    return posting_store.bm25_search(spark, stems, tenant=tenant, limit=limit)


def tenant_phrase_search(
    spark,
    posting_store,
    phrase: tuple[str, ...],
    tenant: str,
    limit: int = 20,
) -> DataFrame:
    """Tenant-scoped positional phrase search — the phrase leg of the
    RLS-scoped search surface: the positional read prunes to the
    tenant's (tenant, term_bucket) directories like every other
    tenant route, so phrase matching can never touch another tenant's
    positions."""
    stem = _stem_fn(posting_store)
    limit = min(limit, SEARCH_RESULT_CAP)
    stems = [stem(t.lower()) for t in phrase]  # ordered, not deduped
    return posting_store.phrase_search(spark, stems, tenant=tenant, limit=limit)


def tenant_substring_search(
    spark,
    trigram_store,
    pattern: str,
    tenant: str,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Tenant-scoped EXACT substring (ILIKE) serving from a
    tenant-partitioned trigram store — the corpus-grep route: both the
    gram-chain verification and the partition pruning stay inside the
    tenant's directories (see ``PostingStore.substring_search``).
    ``docs`` is required when the store carries the positions-less
    layout (the corpus-bytes default above
    ``TRIGRAM_POSITIONS_MAX_CORPUS_BYTES``) — the bounded recheck
    verifies candidates against it, tenant-filtered."""
    return trigram_store.substring_search(spark, pattern, tenant=tenant, docs=docs)


def tenant_regex_search(
    spark,
    trigram_store,
    pattern: str,
    docs: DataFrame,
    tenant: str,
) -> DataFrame:
    """Tenant-scoped regex serving (Cox trigram prefilter): literal
    candidates prune inside the tenant's partitions and the verify
    frame is tenant-filtered too — including the no-literal fallback
    (see ``PostingStore.regex_search``)."""
    return trigram_store.regex_search(spark, pattern, docs, tenant=tenant)


def tenant_rollup(
    spark,
    rollup_store,
    tenant: str,
    grain: str = "day",
    start_date=None,
    end_date=None,
) -> DataFrame:
    """Tenant-scoped continuous-aggregate read — the dashboard route
    over the LSM rollup store: (bucket_start, groups..., n, value_sum,
    value_avg, value_min, value_max) at the requested grain, served
    from persisted minute partials (never raw events), pruned to the
    tenant's ``tenant=<t>/event_date=<d>/`` directories FIRST.  Refuses
    unscoped use on a tenant store, like every facade here."""
    if tenant is None:
        raise ValueError("tenant_rollup requires tenant=")
    return rollup_store.read(
        spark, grain, start_date=start_date, end_date=end_date, tenant=tenant
    )


def rollup_with_distinct(
    spark,
    rollup_store,
    sketch,
    grain: str = "hour",
    bucket_col: str = "bucket_hour",
    tenant=None,
) -> DataFrame:
    """The 'active users per hour' dashboard composition: ADDITIVE
    metrics from the rollup store joined with DISTINCT-count estimates
    from an :class:`~car_etl_spark.streaming.incremental_sketches.
    IncrementalDistinctSketch` keyed on the SAME time bucket — both
    stores LSM-maintained, neither ever rescanning event history.  The
    sketch side is (buckets x groups) grain — control-plane sized — so
    it broadcasts; the rollup side arrives pre-aggregated at the same
    grain.  KMV is exact below k, the estimate elsewhere."""
    metrics = rollup_store.read(spark, grain, tenant=tenant).select(
        F.col("bucket_start").alias(bucket_col),
        *rollup_store.group_cols,
        "n",
        "value_sum",
    )
    users = sketch.estimates()
    keys = [bucket_col, *[c for c in rollup_store.group_cols if c in users.columns]]
    return metrics.join(F.broadcast(users), keys)


def tenant_vector_search(
    spark,
    ivf_store,
    query_vec: list[float],
    tenant: str,
    limit: int = 20,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Tenant-scoped ANN over a tenant-partitioned
    :class:`~car_etl_spark.operators.indexing.IvfStore` — the vector
    half of the reference's RLS-scoped ``match_document_chunks``
    (``042_match_function.sql:23-39``).  The probe set comes from the
    TENANT's certificate stats (per-tenant cluster radii/counts), so
    the scan prunes to the tenant's (tenant, centroid_id) partition
    directories and is certified exact within the tenant: isolation by
    storage layout, not by post-filter."""
    limit = min(limit, SEARCH_RESULT_CAP)
    return ivf_store.probe_topk(
        spark, query_vec, k=limit, tenant=tenant, extra_cols=extra_cols
    )


def tenant_filtered_vector_search(
    spark,
    ivf_store,
    query_vec: list[float],
    tenant: str,
    where: tuple,
    limit: int = 20,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Tenant RLS + metadata filter in ONE certified scan — the
    reference's actual serving shape: ``match_document_chunks`` applies
    the tenant policy AND the optional document-id filter inside the
    same pgvector scan (``042_match_function.sql:23-41``).

    ``where=(col, values)`` must name a filter column DECLARED at index
    build.  The probe walk certifies against the tenant's
    per-(centroid, value) intersection counts (never the min of the two
    marginals, which over-certifies), the scan prunes to the tenant's
    (tenant, centroid_id) partition directories, and the IN-predicate
    pushes into the pruned parquet scan — certified exact within the
    tenant's matching rows, isolation by storage layout."""
    limit = min(limit, SEARCH_RESULT_CAP)
    return ivf_store.probe_topk(
        spark, query_vec, k=limit, tenant=tenant, where=where, extra_cols=extra_cols
    )


def tenant_pq_search(
    spark,
    ivf_store,
    query_vec: list[float],
    tenant: str,
    limit: int = 20,
    extra_cols: tuple[str, ...] = (),
    where: tuple | None = None,
) -> DataFrame:
    """Tenant-scoped CERTIFIED-EXACT product-quantized serving: the
    probe walk certifies against the TENANT's cluster stats, both the
    code-column shortlist scan and the rescore fetch prune to the
    tenant's (tenant, centroid_id) directories, and the error-band
    rescore keeps the result equal to a tenant-scoped brute force —
    the compressed-scan route with the same isolation-by-layout
    guarantee as :func:`tenant_vector_search`.  ``where=(col, values)``
    composes the metadata filter into the same certified walk
    (:func:`tenant_filtered_vector_search`'s contract, compressed)."""
    limit = min(limit, SEARCH_RESULT_CAP)
    return ivf_store.pq_topk(
        spark, query_vec, k=limit, tenant=tenant, where=where, extra_cols=extra_cols
    )


def tenant_hybrid_search(
    spark,
    posting_store,
    ivf_store,
    terms: tuple[str, ...],
    query_vec: list[float],
    tenant: str,
    limit: int = 20,
    where: tuple | None = None,
) -> DataFrame:
    """The full RLS-scoped hybrid route (reference
    ``042_match_function.sql:23-39`` behind ``src/search/hybrid.py``):
    tenant-pruned keyword leg + tenant-certified-exact IVF leg, each
    2x over-fetched and rank-limited, fused with RRF at k=60 — the
    tenant twin of :func:`search`'s hybrid mode, with BOTH legs serving
    from tenant-partitioned index stores so no stage ever reads another
    tenant's bytes.  ``where=(col, values)`` applies the reference's
    optional metadata filter to the VECTOR leg inside the same
    certified scan (``match_document_chunks`` passes its document
    filter into the pgvector scan; the keyword leg has no such column
    — its hits fuse unfiltered, exactly like the reference's keyword
    CTE)."""
    limit = min(limit, SEARCH_RESULT_CAP)
    fetch = limit * 2
    kw = (
        tenant_search(spark, posting_store, terms, tenant, limit=fetch)
        .select("doc_id", F.col("rank_score").alias("kw_score"))
        .withColumn("kw_rank", leg_rank("kw_score"))
        .select("doc_id", "kw_rank")
    )
    vec_leg = (
        tenant_filtered_vector_search(
            spark, ivf_store, query_vec, tenant, where, limit=fetch
        )
        if where is not None
        else tenant_vector_search(spark, ivf_store, query_vec, tenant, limit=fetch)
    )
    vec = (
        vec_leg
        .select(F.col("vec_id").alias("doc_id"), F.col("cosine_sim").alias("vec_score"))
        .withColumn("vec_rank", leg_rank("vec_score"))
        .select("doc_id", "vec_rank")
    )
    return rrf_fuse(kw, vec, limit)


def prepare_serving(
    spark, sf_dir: str, modes: tuple[str, ...] | None = None, passes: int = 2
) -> dict[str, float]:
    """Warm-boot hook: pay the first-request tax at service start, the
    way the reference's service warms its indexes at boot (its GIN/HNSW
    are resident before the first request; our equivalent cold cost is
    plan analysis + whole-stage-codegen compile + first-touch index IO,
    measured 5-6x the warm latency at sf1.0 on the heaviest modes).

    Executes every serving mode (:data:`~car_etl_spark.queries.suites.
    SERVING_MODE_NAMES`, or the ``modes`` subset) ``passes`` times
    (default 2): the FIRST pass builds-if-missing the resident stores
    (content-addressed ensure_*), memoizes the prepared plans, compiles
    their codegen, and pulls the index footers/pages into OS cache; the
    SECOND pass drives the now-compiled warm path so the JVM's JIT has
    promoted it before the first real request (r12 — with one pass the
    first real request was each mode's mere second execution, measured
    up to ~1.5x warm at sf1; the steady state needs one more
    iteration).  Returns {mode: first-pass seconds} so operators see
    the boot cost explicitly (it is the same work the first N user
    requests would otherwise absorb)."""
    import time as _time

    from car_etl_spark.queries.suites import serving_modes

    known = serving_modes()
    if modes is not None:
        # a typo'd subset must fail LOUD: silently skipping it would
        # report the boot tax as paid while the first real request
        # still absorbs the measured 5-6x cold latency
        unknown = sorted(set(modes) - set(known))
        if unknown:
            raise ValueError(
                f"unknown serving mode(s) {unknown} — valid: {sorted(known)}"
            )
    def _drive(fn) -> None:
        # noop-sink write, NOT count(): a real request PRODUCES its
        # result, and Catalyst compiles a smaller plan for count
        # (aggregate exprs and output columns pruned) — warming that
        # plan would leave the first real request paying the full
        # plan's codegen compile (the r12 sink-honesty lesson)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    out: dict[str, float] = {}
    for name, fn in known.items():
        if modes is not None and name not in modes:
            continue
        t0 = _time.perf_counter()
        _drive(fn)
        out[name] = round(_time.perf_counter() - t0, 4)
    for _ in range(max(0, passes - 1)):
        for name, fn in known.items():
            if modes is not None and name not in modes:
                continue
            _drive(fn)
    return out


def ask(
    corpus: DataFrame,
    embeddings: DataFrame,
    terms: tuple[str, ...],
    query_vec: Column,
    top_k: int = 20,
    token_budget: int = R.CONTEXT_TOKEN_BUDGET,
) -> DataFrame:
    """The RAG route (reference ``src/rag/pipeline.py:49-116``):
    retrieve -> token-budget fold -> stub generation -> citation
    validation.  Returns one row: (answer, citation_count, fully_cited,
    confidence) where confidence = mean retrieval similarity
    (``pipeline.py:140-155``)."""
    retrieved = search(corpus, embeddings, terms, query_vec, "hybrid", top_k)
    with_tokens = retrieved.join(
        corpus.select("doc_id", T.token_count(F.col("text")).cast("long").alias("token_count")),
        "doc_id",
    ).withColumn("rank", F.row_number().over(Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))))
    context = R.token_budget_fold(with_tokens, budget=token_budget)
    context = context.withColumn("page", F.lit(1).cast("long"))
    answer = R.generate_stub(context, "doc_id", "page")
    citations = R.extract_citations(answer)
    validated = R.validate_citations(
        citations, context.select("doc_id", "page")
    )
    confidence = context.agg(F.avg("rrf_score").alias("c")).select(
        F.round("c", 6).alias("confidence")
    )
    summary = validated.agg(
        F.first("answer").alias("answer"),
        F.count(F.lit(1)).alias("citation_count"),
        (F.sum(F.when(F.col("is_valid"), 0).otherwise(1)) == 0).alias("fully_cited"),
    )
    return summary.crossJoin(confidence)


def effective_rent_summary(rents: DataFrame, rent_col: str = "revenue_raw") -> DataFrame:
    """GET /effective-rent/summary (reference
    ``effective_rent.py:225-289``): totals, highest/lowest/average."""
    return rents.agg(
        F.count(F.lit(1)).alias("tenant_count"),
        F.round(F.sum(F.col(rent_col).cast("decimal(30,6)")), 2).cast("double").alias("total_monthly"),
        F.round(F.sum((F.col(rent_col) * 12).cast("decimal(30,6)")), 2).cast("double").alias("total_annual"),
        F.round(F.max(rent_col), 2).alias("highest"),
        F.round(F.min(rent_col), 2).alias("lowest"),
        F.round(F.sum(F.col(rent_col).cast("decimal(30,6)")).cast("double") / F.count(F.lit(1)), 2).alias("average"),
    )


def effective_rent_by_group(
    rents: DataFrame, group_col: str, rent_col: str = "revenue_raw"
) -> DataFrame:
    """GET /effective-rent/by-property (``effective_rent.py:311-355``)."""
    return (
        rents.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("tenant_count"),
            F.round(F.sum(F.col(rent_col).cast("decimal(30,6)")), 2).cast("double").alias("total_rent"),
            F.round(
                F.sum(F.col(rent_col).cast("decimal(30,6)")).cast("double") / F.count(F.lit(1)), 2
            ).alias("avg_rent"),
        )
        .orderBy(F.desc("total_rent"), F.asc(group_col))
    )


def concentration(
    rents: DataFrame, key_col: str, rent_col: str = "revenue_raw", top_n: int = 10
) -> DataFrame:
    """GET /effective-rent/concentration (``effective_rent.py:371-428``):
    top-N share with cumulative percentages."""
    total = rents.agg(dsum_raw(F.col(rent_col)).alias("portfolio_total"))
    topk = (
        rents.crossJoin(F.broadcast(total))
        .orderBy(F.desc(rent_col), F.asc(key_col))
        .limit(top_n)
    )
    w = Window.orderBy(F.desc(rent_col), F.asc(key_col))
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return topk.select(
        F.row_number().over(w).cast("long").alias("rank"),
        key_col,
        F.round(rent_col, 2).alias("rent"),
        F.round(F.col(rent_col) / F.col("portfolio_total"), 6).alias("pct_of_total"),
        F.round(F.sum(F.col(rent_col) / F.col("portfolio_total")).over(cum), 6).alias(
            "cumulative_pct"
        ),
    )
