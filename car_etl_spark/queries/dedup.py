"""Near-dup dedup queries over ``documents``/``embeddings``.

Two hash families serve these semantics: the seeded-xxhash64 production
family (fast JVM intrinsics — benched fine-grained) and, since round 6,
the PORTABLE family (``operators/portable.py``) whose DuckDB twins make
the LSH registry rows full oracle rows.  The exact blocked companion
queries remain the brute-force ground truth for the similarity math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from car_etl_spark.functions import text as T
from car_etl_spark.operators import similarity as S
from car_etl_spark.queries import QuerySpec
from car_etl_spark.tables import load_tables


def _pair_sorted(pairs: DataFrame, *keys: str) -> DataFrame:
    """Hash-materialize skinny pair rows below a declared global sort.

    Every pair arm's ``orderBy`` sat DIRECTLY on its verify/scoring
    stage, and a range sort's bound-sampling job re-executes the child
    plan above the last shuffle — i.e. the per-pair scoring ran TWICE
    per run (the r12 §2 sampling tax, third appearance this round).
    Hash-repartitioning the (id, id, score) rows first materializes the
    scoring once; the sampler re-reads shuffle files.  Measured at sf1:
    ``token_jaccard_blocked`` 15.4 -> 7.5 s (**−51 %**), output parity
    asserted.  Same rows, same declared order; the extra exchange moves
    only the already-tiny pair rows."""
    return pairs.repartition(*keys).orderBy(*keys)


def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(48) + LSH(12 bands) near-dup with exact-Jaccard verify at
    0.5 — the scale path for text dedup (SURVEY.md §7.3.9)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return _pair_sorted(
        S.minhash_near_duplicates(docs, "text", "doc_id", threshold=0.5),
        "id_a", "id_b",
    )


def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup at Hamming <= 6 with SCALE-AWARE subset
    blocking: (segments, subset_size) come from
    :func:`car_etl_spark.operators.similarity.simhash_blocking_plan`
    for the actual corpus size, so key width tracks log2(n) and
    candidate volume stays O(n·keys) — the fixed 8x8-bit config this
    replaces degenerates to O(n^2/256) pairs at large n.  The corpus
    statistic comes from the parquet FOOTER (no Spark job — the
    pg_class.reltuples analog); a full count() runs only when the
    footer is unreadable."""
    from car_etl_spark.tables import parquet_rowcount

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    n = parquet_rowcount(sf_dir, "documents")
    if n < 0:
        n = docs.count()
    return _pair_sorted(
        S.simhash_near_duplicates(docs, "text", "doc_id", max_hamming=6, expected_docs=n),
        "id_a", "id_b",
    )


def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity pairs via banded random-hyperplane LSH + exact
    verify, with the banding PLANNED for the corpus size
    (:func:`similarity.embedding_lsh_plan`): bits_per_band tracks
    log2(n) so per-band buckets hold O(1) vectors, and the band count
    solves for 0.95 recall at the threshold (capped at 64 — the cap
    binds here because 0.3 is a deliberately LOW threshold for this
    corpus, whose max pairwise cosine is ~0.47; the plan reports the
    achieved recall instead of letting bands explode).  The
    0.9-threshold strict-dedup configuration is exercised with planted
    duplicates in tests/test_similarity.py."""
    from car_etl_spark.tables import parquet_rowcount

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    n = parquet_rowcount(sf_dir, "embeddings")
    if n < 0:
        n = emb.count()
    bands, bits, _recall = S.embedding_lsh_plan(n, threshold=0.3)
    return _pair_sorted(
        S.embedding_near_duplicates(
            emb, "vec_id", "embedding", threshold=0.3, bands=bands, bits_per_band=bits
        ),
        "id_a", "id_b",
    )


#: block sizing for the modulo-blocked Jaccard ground truth: the
#: historical 25 blocks at the correctness scales, growing with the
#: corpus above ~5k docs so each block holds ~DOCS_PER_BLOCK documents
_JACCARD_BASE_BLOCKS = 25
_JACCARD_DOCS_PER_BLOCK = 200


def jaccard_block_count(sf_dir: str) -> int:
    """Scale-derived modulo-block count for the blocked-Jaccard ground
    truth — parquet footer stat only, so Spark and the DuckDB twin
    derive the SAME number and the arm stays a full oracle row.

    Mod-B blocking compares ~n^2/B pairs: a FIXED B is quadratic in
    disguise (measured on the sf1 Heaps-vocabulary corpus: 50k docs at
    B=25 put 2000 docs in every block — 50M evaluated pairs, 81 s for
    15 emitted rows).  Growing B to keep ~200 docs per block makes
    compared pairs ~linear in n, the same footer-stat scale derivation
    as the SimHash/embedding-LSH plans above.  At the correctness
    scales (<= 5k docs) this resolves to the historical 25, so the
    driver's oracle rows are value-identical."""
    import os

    from car_etl_spark.tables import parquet_rowcount

    n = parquet_rowcount(sf_dir, "documents")
    if n < 0:
        # UNKNOWN (-1: unreadable footer / non-filesystem layout) must
        # read as LARGE, never small (tables.parquet_rowcount's
        # documented contract — the _gated_hot_keys lesson): falling
        # back to the 25-block floor would silently restore the n^2/25
        # pair space this derivation exists to eliminate.  Estimate
        # rows from on-disk bytes with a conservative (low) bytes/row,
        # which OVERestimates the block count — fewer pairs compared,
        # scale-safe; both engines call this same function, so the
        # fallback cannot desync the oracle.
        from car_etl_spark.operators.indexing import _source_bytes

        n = max(1, _source_bytes(os.path.join(sf_dir, "documents.parquet")) // 100)
    if n == 0:
        return _JACCARD_BASE_BLOCKS
    return max(_JACCARD_BASE_BLOCKS, -(-n // _JACCARD_DOCS_PER_BLOCK))


def token_jaccard_blocked(
    spark: SparkSession, sf_dir: str, ordered: bool = True
) -> DataFrame:
    """Exact token-set Jaccard within modulo blocks — the oracle-checked
    ground truth for the LSH text-dedup math (n-gram Jaccard dedup,
    1-gram form).  Blocking bounds the quadratic pair space exactly like
    the entity similarity join (J4); the block count is scale-derived
    (:func:`jaccard_block_count`) so the bound is ~linear, not n^2/25."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toked = docs.select(
        "doc_id",
        (F.col("doc_id") % jaccard_block_count(sf_dir)).alias("block"),
        F.array_distinct(T.tokenize(F.lower(F.col("text")))).alias("tokset"),
    )
    par = spark.sparkContext.defaultParallelism * 2
    a = toked.repartition(par, "doc_id").alias("a")
    b = toked.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    jac = S.exact_jaccard(F.col("a.tokset"), F.col("b.tokset"))
    scored = pairs.select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.round(jac, 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= 0.8)
    # ordered=False: suite consumers re-sort the tagged union once —
    # a per-arm sort there is dead AND pays the sampling tax again
    return _pair_sorted(scored, "id_a", "id_b") if ordered else scored


_TOKEN_JACCARD_SQL_T = """
WITH tok AS (
  SELECT doc_id, doc_id % {B} AS block,
         list_distinct(list_filter(string_split_regex(TRIM(LOWER(text)), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> ''))
           AS tokset
  FROM documents
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CASE WHEN len(list_distinct(a.tokset || b.tokset)) > 0
              THEN CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                   / len(list_distinct(a.tokset || b.tokset))
              ELSE 1.0 END AS jaccard
  FROM tok a JOIN tok b ON a.block = b.block AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard
FROM pairs WHERE ROUND(jaccard, 6) >= 0.8
ORDER BY id_a, id_b
"""


def token_jaccard_sql(sf_dir: str) -> str:
    """Oracle builder: the same scale-derived block count as the Spark
    side (both read the parquet footer, so they cannot desync)."""
    return _TOKEN_JACCARD_SQL_T.format(B=jaccard_block_count(sf_dir))


#: shingle width for the prefix-filtered n-gram arm.  3-token shingles
#: (not unigrams) because prefix filtering prunes by element RARITY:
#: this corpus has a 31-word vocabulary (every unigram is hot — df ~
#: 0.75n, measured), while its 3-gram shingle space is ~16k elements at
#: sf0.01 with a long rare tail — the shape real text has.  Same lesson
#: as the LSH banding knee: the candidate unit must be rare relative to
#: the corpus's background similarity.
_SHINGLE_N = 3


def _token_shingle_sets(text: F.Column, n: int = _SHINGLE_N) -> F.Column:
    """Distinct n-token shingles of whitespace-tokenized lowercased
    text as an array-set Column; whole-remainder fallback for texts
    shorter than n tokens.  Delegates to the staged slice builder
    (:func:`~car_etl_spark.functions.text.shingles_from_tokens`) —
    the original 3x ``F.get`` per index re-evaluated the inline
    tokenize through every get (no CSE across HOF slices, the module
    staging rule), measured 17.6 s vs 5.8 s for the corpus pass at
    sf1.  NOTE the staging caveat still applies to the ARGUMENT:
    prefer passing a pre-projected token column via
    :func:`_staged_shingle_sets`; this wrapper exists for callers
    (tests) that hand in raw text.  Zero-token docs now yield an EMPTY
    set (was: the [''] singleton) — both shapes are excluded by every
    caller's non-empty filter, so pair output is unchanged."""
    return T.shingles_from_tokens(T.tokenize(F.lower(text)), n)


def shingle_prefix_neardup(
    spark: SparkSession, sf_dir: str, ordered: bool = True
) -> DataFrame:
    """n-gram Jaccard near-dup, EXACT and UNBLOCKED, via the All-Pairs
    prefix filter (:func:`~car_etl_spark.operators.similarity.
    prefix_filtered_jaccard_pairs`): every document pair with 3-token-
    shingle Jaccard >= 0.8 — no blocking recall loss (the mod-block
    ground-truth arm misses cross-block pairs BY DESIGN; this arm's
    guarantee is corpus-wide)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # STAGE tokens into a projected column before shingling (the module
    # staging rule: Catalyst does not CSE an inline tokenize referenced
    # from every HOF slice, so the unstaged form re-splits the document
    # per shingle).  Zero-token docs yield an EMPTY shingle set and are
    # excluded — every pair of empties would otherwise come back as a
    # Jaccard-1.0 candidate, the quadratic all-pairs-of-empties block
    # the prefix filter's non-empty-set contract exists to keep out.
    toked = docs.select(
        "doc_id", T.tokenize(F.lower(F.col("text"))).alias("__toks")
    )
    sets = toked.select(
        "doc_id",
        T.shingles_from_tokens(F.col("__toks"), _SHINGLE_N).alias("shset"),
    ).filter(F.size("shset") > 0)
    pairs = S.prefix_filtered_jaccard_pairs(sets, "doc_id", "shset", 4, 5)
    scored = pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    return _pair_sorted(scored, "id_a", "id_b") if ordered else scored


SHINGLE_PREFIX_SQL = """
WITH raw AS (
  SELECT doc_id,
         list_filter(string_split_regex(TRIM(LOWER(text)), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')
           AS toks
  FROM documents
), sized AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, GREATEST(len(toks) - 2, 1)),
           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shset
  FROM raw
  WHERE len(toks) > 0
), expl AS (
  SELECT doc_id, len(shset) AS sz, unnest(shset) AS tok FROM sized
), df AS (
  SELECT tok, COUNT(*) AS df FROM expl GROUP BY tok
), ranked AS (
  SELECT e.doc_id, e.sz, e.tok,
         ROW_NUMBER() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.tok) AS rn
  FROM expl e JOIN df d USING (tok)
), pref AS MATERIALIZED (
  SELECT doc_id, sz, tok FROM ranked WHERE rn <= sz - ((4*sz + 4) // 5) + 1
), cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b
    ON a.tok = b.tok AND a.doc_id < b.doc_id
   AND 4*a.sz <= 5*b.sz AND 4*b.sz <= 5*a.sz
), verified AS (
  SELECT c.id_a, c.id_b,
         CASE WHEN len(list_distinct(ta.shset || tb.shset)) > 0
              THEN CAST(len(list_intersect(ta.shset, tb.shset)) AS DOUBLE)
                   / len(list_distinct(ta.shset || tb.shset))
              ELSE 1.0 END AS jaccard
  FROM cand c JOIN sized ta ON ta.doc_id = c.id_a
              JOIN sized tb ON tb.doc_id = c.id_b
)
SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard
FROM verified WHERE jaccard >= 0.8
ORDER BY id_a, id_b
"""


#: embedding sub-block sizing: identity (B=1, the historical label-only
#: blocking) at and below the correctness/bench scales (<= 5k vectors),
#: growing with the corpus above
_EMB_SUBBLOCK_DIVISOR = 5_000


def embedding_subblock_count(sf_dir: str) -> int:
    """Scale-derived secondary modulo block for the embedding-cosine
    ground truth — the :func:`jaccard_block_count` treatment for the
    last quadratic-in-disguise companion arm: label-only blocking
    compares n^2/|labels| pairs (~20M cosine evaluations at the sf1
    soak's 20k replicated vectors — 59 s for a ground-truth arm).
    Adding a (vec_id % B) key with B ~ n/5000 keeps ~500·n compared
    pairs — linear.  Footer-stat derived on BOTH engines; B=1 at every
    correctness and bench scale (<= 5k vectors), so those answers are
    untouched.  Unknown rowcount reads as LARGE (bytes-derived), never
    small."""
    import os

    from car_etl_spark.tables import parquet_rowcount

    n = parquet_rowcount(sf_dir, "embeddings")
    if n < 0:
        from car_etl_spark.operators.indexing import _source_bytes

        n = max(1, _source_bytes(os.path.join(sf_dir, "embeddings.parquet")) // 200)
    return max(1, n // _EMB_SUBBLOCK_DIVISOR)


def embedding_neardup_exact_block(
    spark: SparkSession, sf_dir: str, ordered: bool = True
) -> DataFrame:
    """Exact cosine near-dup within label blocks — oracle ground truth
    for the hyperplane-LSH variant.  Above ~20k vectors a scale-derived
    (vec_id % B) sub-block joins the label key
    (:func:`embedding_subblock_count`), bounding compared pairs
    ~linearly in n."""
    from car_etl_spark.functions import vectors as V

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # STAGE each row's norm as a column BEFORE the self-join: the
    # >= threshold filter gets pushed into the join condition, and an
    # inline cosine there evaluates FIVE zip_with/aggregate HOF trees
    # per candidate pair (dot + both norms twice: guard + divisor) —
    # measured 80% of the sf1 exact_neardup_companions wall
    # (ARCHITECTURE.md §dedup attribution).  With norms staged per ROW
    # (n, not n^2) the pair condition runs ONE HOF (the dot).  The
    # arithmetic shape is unchanged — sqrt(self-dot) per side, then
    # dot/(na*nb) — so values stay bit-identical to the DuckDB twin.
    emb = emb.withColumn("__nrm", V.norm(F.col("embedding")))
    B = embedding_subblock_count(sf_dir)
    par = spark.sparkContext.defaultParallelism * 2
    a = emb.repartition(par, "vec_id").alias("a")
    b = emb.alias("b")
    cond = (F.col("a.label") == F.col("b.label")) & (
        F.col("a.vec_id") < F.col("b.vec_id")
    )
    if B > 1:
        cond = cond & (
            F.pmod(F.col("a.vec_id"), F.lit(B)) == F.pmod(F.col("b.vec_id"), F.lit(B))
        )
    pairs = a.join(b, cond)
    denom = F.col("a.__nrm") * F.col("b.__nrm")
    sim = F.round(
        F.when(
            denom > 0,
            V.dot(F.col("a.embedding"), F.col("b.embedding")) / denom,
        ),
        6,
    )
    scored = pairs.select(
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        F.col("a.label").alias("label"),
        sim.alias("cosine_sim"),
    ).filter(F.col("cosine_sim") >= 0.3)
    return _pair_sorted(scored, "id_a", "id_b") if ordered else scored


_EMB_NEARDUP_SQL_T = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id{SUB}
WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3
ORDER BY id_a, id_b
"""


def embedding_neardup_exact_sql(sf_dir: str) -> str:
    """Oracle builder: same scale-derived sub-block as the Spark side
    (both read the parquet footer, so they cannot desync)."""
    B = embedding_subblock_count(sf_dir)
    sub = f" AND a.vec_id % {B} = b.vec_id % {B}" if B > 1 else ""
    return _EMB_NEARDUP_SQL_T.format(SUB=sub)


# ---------------------------------------------------------------------------
# Portable-family arms (round 6): the registry's LSH suite serves from
# the cross-engine-reproducible hash family (operators/portable.py), so
# the driver's DuckDB gate checks the FULL LSH pipeline value-for-value
# — signatures, banding, candidate join, verification.  The xxhash64
# production family above stays the hot path (benched fine-grained);
# family recall equivalence is pinned in tests/test_portable.py.


def portable_plan_rowcount(sf_dir: str, table: str) -> int:
    """Corpus size for the portable-family blocking plans — footer
    stats first, DuckDB count fallback.  BOTH the Spark arms and the
    SQL builders resolve n through this one function: if the Spark
    side counted while the SQL side planned from the -1 sentinel, the
    two would derive DIFFERENT blocking layouts and the oracle gate
    would fail on a plan skew, not a real drift."""
    import os

    from car_etl_spark.tables import parquet_rowcount

    n = parquet_rowcount(sf_dir, table)
    if n >= 0:
        return n
    import duckdb

    path = os.path.join(sf_dir, f"{table}.parquet")
    glob = os.path.join(path, "**", "*.parquet") if os.path.isdir(path) else path
    return duckdb.sql(f"SELECT COUNT(*) FROM read_parquet('{glob}')").fetchone()[0]


def minhash_portable_neardup(
    spark: SparkSession, sf_dir: str, ordered: bool = True
) -> DataFrame:
    """MinHash(48) + LSH(12 bands) near-dup at Jaccard >= 0.5 on the
    portable family — exact DuckDB twin."""
    from car_etl_spark.operators import portable as P

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    scored = P.portable_minhash_pairs(docs, threshold=0.5)
    return _pair_sorted(scored, "id_a", "id_b") if ordered else scored


def simhash_portable_neardup(
    spark: SparkSession, sf_dir: str, ordered: bool = True
) -> DataFrame:
    """SimHash-60 near-dup at Hamming <= 6, scale-derived subset
    blocking, portable family — exact DuckDB twin (plan n resolved via
    :func:`portable_plan_rowcount`, same as the SQL builder)."""
    from car_etl_spark.operators import portable as P

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    n = portable_plan_rowcount(sf_dir, "documents")
    scored = P.portable_simhash_pairs(docs, expected_docs=n)
    return _pair_sorted(scored, "id_a", "id_b") if ordered else scored


def embedding_portable_neardup(
    spark: SparkSession, sf_dir: str, ordered: bool = True
) -> DataFrame:
    """Integer-quantized hyperplane LSH + exact-cosine verify at 0.3,
    plan from the corpus size, portable family — exact DuckDB twin
    (plan n resolved via :func:`portable_plan_rowcount`, same as the
    SQL builder)."""
    from car_etl_spark.operators import portable as P

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    n = portable_plan_rowcount(sf_dir, "embeddings")
    scored = P.portable_embedding_pairs(emb, threshold=0.3, expected_n=n)
    return _pair_sorted(scored, "id_a", "id_b") if ordered else scored


# all production-family arms registered through suites.lsh_neardup_suite
# (now oracle-checked via the portable family) and
# suites.exact_neardup_companions (exact ground truth) — functions
# remain the per-method API
QUERIES: dict[str, QuerySpec] = {}
