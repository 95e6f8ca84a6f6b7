"""Hybrid search: RRF fusion of a keyword leg and a vector leg.

The reference's flagship read path (SURVEY.md §3.1): two scored scans ->
rank each leg -> full-outer join on id -> RRF score ``Σ 1/(k+rank)``
(k=60, reference ``src/search/hybrid.py:232-258``) -> top-k.  The
reference fused in Python dicts; here the whole thing is one DataFrame
DAG, so at 100 TB both legs scan in parallel and fusion is a join on the
(tiny) candidate sets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from car_etl_spark.functions import text as T
from car_etl_spark.functions import vectors as V
from car_etl_spark.queries import QuerySpec
from car_etl_spark.tables import load_tables

RRF_K = 60  # reference src/search/hybrid.py:45
FETCH_LIMIT = 30  # 2x the final limit, reference hybrid.py:205-206
FINAL_LIMIT = 15
QUERY_TERMS = ("spark", "vector", "merge")


def leg_rank(score_col: str) -> Column:
    """1-based rank of a fusion leg's rows: score desc, doc_id asc."""
    return (
        F.row_number()
        .over(Window.orderBy(F.desc(score_col), F.asc("doc_id")))
        .cast("long")
    )


def rrf_fuse(kw: DataFrame, vec: DataFrame, limit: int, missing_rank=None) -> DataFrame:
    """RRF fusion shared by EVERY hybrid route (reference
    ``src/search/hybrid.py:232-258``): full-outer join of the
    ``(doc_id, kw_rank)`` and ``(doc_id, vec_rank)`` legs, score
    ``Σ 1/(RRF_K + rank)`` rounded to 8 dp, rrf desc / doc_id asc,
    top ``limit``.  A doc missing from a leg reports its rank as NULL,
    or as ``missing_rank`` when given (the registry rows' 0)."""
    fused = kw.join(vec, "doc_id", "full_outer")
    rrf = F.round(
        F.coalesce(1.0 / (RRF_K + F.col("kw_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (RRF_K + F.col("vec_rank")), F.lit(0.0)),
        8,
    )
    ranks = [
        F.coalesce(F.col(c), F.lit(missing_rank)).cast("long").alias(c)
        if missing_rank is not None
        else F.col(c)
        for c in ("kw_rank", "vec_rank")
    ]
    return (
        fused.select("doc_id", rrf.alias("rrf_score"), *ranks)
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(limit)
    )


def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/F23/W1/U1: RRF fusion, k=60, fetch 2x per leg, top-15.

    Keyword leg: tf scoring over documents.  Vector leg: cosine to the
    query embedding (vec_id 0) joined back to doc ids.  Each leg is
    rank-limited before the fusion join, so the full-outer join runs on
    O(limit) rows regardless of corpus size.  Plan prepared once per
    (session, corpus) like the other serving queries.
    """
    from car_etl_spark.queries import prepared

    def build() -> DataFrame:
        return _hybrid_build(spark, sf_dir)

    return prepared(
        spark, "hybrid_rrf_search", sf_dir,
        ("documents.parquet", "embeddings.parquet"), build,
    )


def _hybrid_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]

    # keyword leg SERVES from the persisted posting table (docs with no
    # matching term have no posting rows — the score>0 filter of the
    # scan form is implicit); see queries/textops.doc_keyword_search
    from car_etl_spark.functions.text import stem_py
    from car_etl_spark.operators.indexing import ensure_posting_index

    store = ensure_posting_index(spark, sf_dir)
    buckets = sorted({store.bucket_of(stem_py(t)) for t in QUERY_TERMS})
    kw_leg = (
        store.read(spark, buckets=buckets)
        .filter(F.col("raw_term").isin(list(QUERY_TERMS)))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("kw_score"))
        .orderBy(F.desc("kw_score"), F.asc("doc_id"))
        .limit(FETCH_LIMIT)
        .withColumn("kw_rank", leg_rank("kw_score"))
    )

    from car_etl_spark.queries.vector import _query_vec_literal

    qlit = _query_vec_literal(emb, cache_key=sf_dir)
    sim = F.round(V.cosine_similarity(F.col("embedding"), qlit), 6)
    vec_leg = (
        emb.select(F.col("vec_id").alias("doc_id"), sim.alias("vec_score"))
        .orderBy(F.desc("vec_score"), F.asc("doc_id"))
        .limit(FETCH_LIMIT)
        .withColumn("vec_rank", leg_rank("vec_score"))
    )
    return rrf_fuse(kw_leg, vec_leg, FINAL_LIMIT, missing_rank=0)


def hybrid_porter_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL reference-parity hybrid serving stack: Porter-stemmed
    keyword leg over the persisted porter posting store (english
    tsvector + GIN analog) fused via RRF with a certified-exact IVF
    probe of the persisted vector layout (HNSW analog) — both legs
    index-resident, both bucket/partition-pruned, fusion on O(limit)
    rows (reference ``src/search/hybrid.py:232-258`` over
    ``041_vector_index.sql`` + ``044_keyword_search.sql``).

    The keyword leg ranks by the weighted-tf ts_rank analog over
    PORTER stems, so inflection families fuse ("merge" matches
    merges/merging/merged).  The vector leg's IVF probe is exact by
    the triangle-bound certificate, so the brute-force cosine is its
    oracle — the whole query remains hash-checkable."""
    from car_etl_spark.queries import prepared

    def build() -> DataFrame:
        from car_etl_spark.functions.porter import porter_py
        from car_etl_spark.operators.indexing import (
            ensure_ivf_index,
            ensure_posting_index,
        )
        from car_etl_spark.queries.vector import _query_vec_list

        store = ensure_posting_index(spark, sf_dir, analyzer="porter")
        stems = sorted({porter_py(t) for t in QUERY_TERMS})
        buckets = sorted({store.bucket_of(t) for t in stems})
        kw_leg = (
            store.read(spark, buckets=buckets)
            .filter(F.col("term").isin(stems))
            .groupBy("doc_id")
            .agg(F.round(F.sum(F.col("tf") * F.col("weight")), 2).alias("kw_score"))
            .orderBy(F.desc("kw_score"), F.asc("doc_id"))
            .limit(FETCH_LIMIT)
            .withColumn("kw_rank", leg_rank("kw_score"))
        )

        emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
        qvec = _query_vec_list(emb, cache_key=sf_dir)
        ivf = ensure_ivf_index(spark, sf_dir)
        vec_leg = (
            ivf.probe_topk(spark, qvec, k=FETCH_LIMIT, extra_cols=())
            .select(F.col("vec_id").alias("doc_id"), F.col("cosine_sim").alias("vec_score"))
            .withColumn("vec_rank", leg_rank("vec_score"))
        )
        return rrf_fuse(kw_leg, vec_leg, FINAL_LIMIT, missing_rank=0)

    return prepared(
        spark, "hybrid_porter_ivf_search", sf_dir,
        ("documents.parquet", "embeddings.parquet"), build,
    )


def _hybrid_porter_sql() -> str:
    from car_etl_spark.functions.porter import (
        porter_py,
        porter_sql_guard,
        porter_sql_stages,
    )

    stems = sorted({porter_py(t) for t in QUERY_TERMS})
    in_list = ", ".join(f"'{t}'" for t in stems)
    stages = porter_sql_stages("raw_term")
    chain = "SELECT * FROM rolled"
    for name, expr in stages:
        chain = f"SELECT *, {expr} AS {name} FROM ({chain})"
    guard = porter_sql_guard("raw_term", stages[-1][0])
    return f"""
WITH rolled AS MATERIALIZED (
  SELECT doc_id, raw_term, weight, COUNT(*) AS tf
  FROM (
    SELECT doc_id, unnest(toks) AS raw_term,
           CASE WHEN generate_subscripts(toks, 1) - 1 < 5 THEN 2.0 ELSE 1.0 END AS weight
    FROM (
      SELECT doc_id,
             list_filter(string_split_regex(TRIM(LOWER(text)), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
      FROM documents
    )
  )
  GROUP BY doc_id, raw_term, weight
), stemmed AS MATERIALIZED (
  SELECT doc_id, weight, tf, {guard} AS term FROM ({chain})
), kw_leg AS (
  SELECT doc_id, kw_score,
         ROW_NUMBER() OVER (ORDER BY kw_score DESC, doc_id ASC) AS kw_rank
  FROM (
    SELECT doc_id, ROUND(SUM(tf * weight), 2) AS kw_score
    FROM stemmed WHERE term IN ({in_list})
    GROUP BY doc_id
    ORDER BY kw_score DESC, doc_id ASC LIMIT {FETCH_LIMIT}
  )
), q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
vec_scored AS (
  SELECT vec_id AS doc_id,
         ROUND(list_cosine_similarity(embedding::DOUBLE[], qvec::DOUBLE[]), 6) AS vec_score
  FROM embeddings, q
), vec_leg AS (
  SELECT doc_id, vec_score,
         ROW_NUMBER() OVER (ORDER BY vec_score DESC, doc_id ASC) AS vec_rank
  FROM (SELECT * FROM vec_scored ORDER BY vec_score DESC, doc_id ASC LIMIT {FETCH_LIMIT})
)
SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id,
       ROUND(COALESCE(1.0 / ({RRF_K} + k.kw_rank), 0.0)
             + COALESCE(1.0 / ({RRF_K} + v.vec_rank), 0.0), 8) AS rrf_score,
       COALESCE(k.kw_rank, 0) AS kw_rank,
       COALESCE(v.vec_rank, 0) AS vec_rank
FROM kw_leg k FULL OUTER JOIN vec_leg v ON k.doc_id = v.doc_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {FINAL_LIMIT}
"""


HYBRID_PORTER_IVF_SQL = _hybrid_porter_sql()


HYBRID_RRF_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(TRIM(LOWER(text)), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
  FROM documents
), kw_scored AS (
  SELECT doc_id,
         len(list_filter(toks, x -> x = 'spark'))
         + len(list_filter(toks, x -> x = 'vector'))
         + len(list_filter(toks, x -> x = 'merge')) AS kw_score
  FROM tok
), kw_leg AS (
  SELECT doc_id, kw_score,
         ROW_NUMBER() OVER (ORDER BY kw_score DESC, doc_id ASC) AS kw_rank
  FROM (SELECT * FROM kw_scored WHERE kw_score > 0
        ORDER BY kw_score DESC, doc_id ASC LIMIT {FETCH_LIMIT})
), q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
vec_scored AS (
  SELECT vec_id AS doc_id,
         ROUND(list_cosine_similarity(embedding::DOUBLE[], qvec::DOUBLE[]), 6) AS vec_score
  FROM embeddings, q
), vec_leg AS (
  SELECT doc_id, vec_score,
         ROW_NUMBER() OVER (ORDER BY vec_score DESC, doc_id ASC) AS vec_rank
  FROM (SELECT * FROM vec_scored ORDER BY vec_score DESC, doc_id ASC LIMIT {FETCH_LIMIT})
)
SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id,
       ROUND(COALESCE(1.0 / ({RRF_K} + k.kw_rank), 0.0)
             + COALESCE(1.0 / ({RRF_K} + v.vec_rank), 0.0), 8) AS rrf_score,
       COALESCE(k.kw_rank, 0) AS kw_rank,
       COALESCE(v.vec_rank, 0) AS vec_rank
FROM kw_leg k FULL OUTER JOIN vec_leg v ON k.doc_id = v.doc_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {FINAL_LIMIT}
"""


#: deterministic cross-encoder STUB parameters (LCG over the doc id) —
#: a pure integer function both engines compute exactly, standing in
#: for the model score with the real operator shape around it.  The
#: pre-mod keeps the multiply inside int64 for any id space (DuckDB
#: raises on BIGINT overflow rather than wrapping).
_RERANK_PREMOD = 100_003
_RERANK_A = 1_103_515_245
_RERANK_C = 12_345
_RERANK_M = 2_147_483_647
RERANK_TOP_K = 5


def hybrid_rerank_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 as an oracle-checked result page: the index-resident hybrid's
    candidates re-scored by a cross-encoder on ONLY the top-k slice,
    tail passed through in retrieval order (reference
    ``src/search/reranker.py:99-131`` — the model scores k rows, never
    the corpus; :func:`operators.resolution.rerank_top_slice` is the
    operator).  The stub scorer is a deterministic pure function of the
    doc id, so DuckDB replays the identical page and the slice/
    passthrough mechanics get a hard-signal hash row."""
    from car_etl_spark.operators.resolution import rerank_top_slice
    from car_etl_spark.queries import prepared

    def build() -> DataFrame:
        base = hybrid_porter_ivf_search(spark, sf_dir)

        def stub_score(c):
            lcg = ((c % _RERANK_PREMOD) * _RERANK_A + _RERANK_C) % _RERANK_M
            return lcg / F.lit(float(_RERANK_M))

        page = rerank_top_slice(
            base, stub_score, text_col="doc_id",
            base_score_col="rrf_score", top_k=RERANK_TOP_K, id_col="doc_id",
            pure_expr=True,  # LCG stub is a pure Column — fused path
        )
        # the page is a single partition (post-TakeOrdered window), so
        # sortWithinPartitions is a total order WITHOUT the range
        # exchange a global orderBy would add — a plain orderBy costs a
        # range-boundary sampling job on every serve
        return page.select(
            F.col("final_rank").cast("long").alias("final_rank"),
            "doc_id",
            F.when(F.col("rerank_score").isNotNull(), F.lit("reranked"))
            .otherwise(F.lit("passthrough"))
            .alias("stage"),
            "rrf_score",
            "rerank_score",
        ).sortWithinPartitions("final_rank")

    return prepared(
        spark, "hybrid_rerank_page", sf_dir,
        ("documents.parquet", "embeddings.parquet"), build,
    )


HYBRID_RERANK_PAGE_SQL = f"""
WITH hybrid AS ({HYBRID_PORTER_IVF_SQL}),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS base_rank
  FROM hybrid
), scored AS (
  SELECT *,
         CASE WHEN base_rank <= {RERANK_TOP_K}
              THEN (((doc_id % {_RERANK_PREMOD}) * {_RERANK_A} + {_RERANK_C})
                    % {_RERANK_M}) / {_RERANK_M}.0
         END AS rerank_score
  FROM ranked
)
SELECT CAST(ROW_NUMBER() OVER (
         ORDER BY CASE WHEN rerank_score IS NOT NULL THEN 0 ELSE 1 END,
                  rerank_score DESC NULLS LAST, base_rank ASC
       ) AS BIGINT) AS final_rank,
       doc_id,
       CASE WHEN rerank_score IS NOT NULL THEN 'reranked' ELSE 'passthrough' END AS stage,
       rrf_score, rerank_score
FROM scored
ORDER BY final_rank
"""


QUERIES: dict[str, QuerySpec] = {
    "hybrid_rerank_page": QuerySpec(
        hybrid_rerank_page, HYBRID_RERANK_PAGE_SQL, ("search", "rerank", "serving")
    ),
}
