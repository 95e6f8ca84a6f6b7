"""Entity-resolution queries: canonicalization, blocked similarity join,
merge repointing (SURVEY.md §2.3 J4/J5, §2.8 F10-F13).

The reference compares entity pairs in Python with difflib
(``src/entities/matching.py:67-110``); at scale that is a blocked
similarity self-join: block on a cheap key (here segment + canonical-
name prefix; in the real schema ``(tenant_id, entity_type)`` + the same
prefix), generate pairs inside blocks only, score with JVM-side
expressions, classify with the 0.80/0.95 thresholds
(``matching.py:104-110``)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from car_etl_spark.functions import normalizers as N
from car_etl_spark.queries import QuerySpec
from car_etl_spark.tables import load_tables, parquet_rowcount


def entity_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 over synthesized corporate names: suffix/punctuation variants
    collapse to one canonical form (reference
    ``src/entities/canonicalize.py:11-18``)."""
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    suffixes = ["", " LLC", " Inc.", " CORP", " ltd", ", LP"]
    name = F.concat(
        F.col("c_name"),
        F.element_at(F.array(*[F.lit(s) for s in suffixes]), (F.col("c_custkey") % 6 + 1).cast("int")),
    )
    return (
        cust.select(
            "c_custkey",
            name.alias("raw_name"),
            N.canonicalize(name).alias("canonical_name"),
            N.normalize_text(name).alias("match_text"),
        )
        # hash-materialize below the sort: the range sampler otherwise
        # re-runs the whole canonicalize/normalize regex chain (§2
        # sampling tax — no shuffle existed anywhere below the sort)
        .repartition("c_custkey")
        .orderBy("c_custkey")
    )


ENTITY_CANONICALIZE_SQL = """
WITH src AS (
  SELECT c_custkey,
         c_name || (['',' LLC',' Inc.',' CORP',' ltd',', LP'])[CAST(c_custkey % 6 AS INT) + 1]
           AS raw_name
  FROM customer
), canon AS (
  SELECT c_custkey, raw_name,
         TRIM(regexp_replace(
           regexp_replace(
             TRIM(regexp_replace(regexp_replace(LOWER(raw_name), '[^a-z0-9 \t]', '', 'g'),
                                 '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')),
             '\\b(llc|inc|corp|ltd|lp)\\b', '', 'g'),
           '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS canonical_name,
         TRIM(regexp_replace(regexp_replace(LOWER(raw_name), '[^a-z0-9]+', ' ', 'g'),
                             '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS match_text
  FROM src
)
SELECT c_custkey, raw_name, canonical_name, match_text FROM canon
ORDER BY c_custkey
"""


def entity_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/F12/F13: blocked similarity self-join with decision buckets.

    DUAL blocking keys, unioned: (mktsegment, all-but-last-2 name
    prefix) and (mktsegment, FIXED last-6-chars tail).  A
    variable-length affix key only ever pairs SAME-LENGTH names (string
    equality between a 7- and an 8-char prefix is impossible), so the
    prefix key alone never compared indel-similar names; the
    fixed-length tail CAN match across different lengths, covering
    head-edits and insertions/deletions anywhere before the last 6
    characters.  Candidates are the deduped union of both equi-joins
    (each hash-joinable — an OR'd join predicate would degrade to a
    per-segment nested loop).

    Block-size scaling: prefix blocks are bounded by the names sharing
    an all-but-2-chars prefix at any corpus size; tail blocks hold
    ~|corpus| / alphabet^6 names, so the tail WIDTH is the knob that
    must grow with the corpus (6 chars bounds blocks to ~10^3 at 10^9
    entities over a digit-heavy alphabet).  Edits inside BOTH affixes
    escape exact blocking by design — :func:`entity_match_lsh_extended`
    unions MinHash/LSH candidates in for that recall class.
    Aggregated to per-(segment, decision) counts.

    Skew hardening: when the corpus is large enough that a
    ``SKEW_BLOCK_THRESHOLD``-row block could even exist (footer-stat
    gate, no Spark job), blocks are profiled and hot ones take the
    salted pair plan — see :func:`affix_pairs`."""
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    # canon materialized ONCE (r12): the normalize chain sits below two
    # differently-keyed self-join exchanges (prefix, suffix) — exchange
    # reuse fires within each join but not across them, so un-staged it
    # regex-normalizes the customer table once per block key.  Bounded
    # (customer grain, same class as flagship's checkpointed aggregate);
    # won all 8 interleaved profile pairs (scripts/profile_entity_canon.py
    # at commit d864714,
    # median 1.79 -> 1.66 s, value hash asserted equal).
    canon = canonical_frame(cust).localCheckpoint(eager=True)
    pairs = affix_pairs(canon, hot_keys=_gated_hot_keys(canon, sf_dir))
    return score_pair_rollup(pairs)


def _gated_hot_keys(
    canon: DataFrame, sf_dir: str
) -> tuple[DataFrame | None, DataFrame | None]:
    """The production skew guard: when the customer corpus is large
    enough to possibly CONTAIN a ``SKEW_BLOCK_THRESHOLD``-row block
    (footer-stat gate, no Spark job), consult the memoized hot-block
    profile; otherwise ``(None, None)`` — the plan stays the bare
    dual-key self-join, and warm runs never re-profile.

    ``parquet_rowcount`` returns -1 for UNKNOWN (unreadable footer /
    non-filesystem layout); unknown must take the PROFILE branch — the
    profile costs one corpus pass, while wrongly skipping it costs the
    m^2 straggler the guard exists to prevent."""
    n = parquet_rowcount(sf_dir, "customer")
    if 0 <= n < SKEW_BLOCK_THRESHOLD:
        return None, None
    return _cached_hot_affix_keys(canon, sf_dir, SKEW_BLOCK_THRESHOLD)


def canonical_frame(cust: DataFrame) -> DataFrame:
    """The normalized match-prep frame shared by every candidate
    generator (F10/F11 + precomputed lengths and affix keys)."""
    norm = N.normalize_text(F.col("c_name"))
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        norm.alias("norm_name"),
        # Precompute lengths: keeps the fused per-pair loop lean (string
        # length() per pair measured 4x slower end-to-end).
        F.length(norm).alias("nlen"),
        F.substring(norm, 1, F.greatest(F.length(norm) - 2, F.lit(1))).alias("name_prefix"),
        # right(norm, 6) spelled as substring so Spark and DuckDB share
        # one formula (shorter names keep their whole string)
        F.substring(norm, F.greatest(F.length(norm) - 5, F.lit(1)), F.lit(6)).alias(
            "name_suffix"
        ),
        F.round("c_acctbal", 0).alias("bal_bucket"),
    )


def _pair_attrs(canon: DataFrame, join_cond) -> DataFrame:
    a = canon.alias("a")
    b = canon.alias("b")
    return a.join(b, join_cond).select(
        F.col("a.c_custkey").alias("ka"),
        F.col("b.c_custkey").alias("kb"),
        F.col("a.c_mktsegment").alias("segment"),
        F.col("a.norm_name").alias("na"),
        F.col("b.norm_name").alias("nb"),
        F.col("a.nlen").alias("la"),
        F.col("b.nlen").alias("lb"),
        F.col("a.bal_bucket").alias("ba"),
        F.col("b.bal_bucket").alias("bb"),
    )


def _enrich_pairs(cand: DataFrame, canon: DataFrame) -> DataFrame:
    """Attach both sides' scoring attributes to an ALREADY-GENERATED
    candidate pair frame: two key-equi joins against ``canon`` (each
    linear in candidates — canon's side hashes on its primary key),
    with the segment-block and key-order predicates applied AFTER.

    This is NOT the same plan as ``cand.join(_pair_attrs(canon, ...))``
    even though it is the same relational algebra: Catalyst does not
    reorder a user-specified join tree without CBO statistics, so the
    prebuilt pair-attr frame MATERIALIZES its per-segment self-join —
    n^2/segments rows before the candidate keys ever restrict it.
    Harmless at 15k customers (~22M intermediate rows); at the 150k
    soak it was 2.25B rows and spilled past the disk.  Candidate
    enrichment must stay candidate-shaped."""
    a = canon.alias("a")
    b = canon.alias("b")
    return (
        cand.join(a, F.col("ka") == F.col("a.c_custkey"))
        .join(b, F.col("kb") == F.col("b.c_custkey"))
        .filter(
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            & (F.col("ka") < F.col("kb"))
        )
        .select(
            "ka",
            "kb",
            F.col("a.c_mktsegment").alias("segment"),
            F.col("a.norm_name").alias("na"),
            F.col("b.norm_name").alias("nb"),
            F.col("a.nlen").alias("la"),
            F.col("b.nlen").alias("lb"),
            F.col("a.bal_bucket").alias("ba"),
            F.col("b.bal_bucket").alias("bb"),
        )
    )


#: blocks at or above this many rows get the salted pair plan.  A
#: 10^4-row block is ~10^8 candidate pairs — one task's worth of work
#: nothing else in the stage can match, the exact single-hot-key case
#: AQE's skew splitting cannot fix for a self-join (splitting the probe
#: side of one block still recomputes against the whole block).
SKEW_BLOCK_THRESHOLD = 10_000


def _block_cond(key: str):
    return (
        (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        & (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey"))
    )


def _hot_affix_profile(canon: DataFrame, threshold: int) -> DataFrame:
    """ONE corpus pass profiling BOTH affix block keys — the generic
    grouping-sets skew-detection operator
    (:func:`car_etl_spark.operators.scale.hot_block_profile`) over the
    two block-key sets.  Hot blocks are rare by definition, so the
    filtered result is tiny.  ``__set`` 0 = prefix key, 1 = suffix."""
    from car_etl_spark.operators.scale import hot_block_profile

    return hot_block_profile(
        canon,
        (("c_mktsegment", "name_prefix"), ("c_mktsegment", "name_suffix")),
        threshold,
    )


def _hot_affix_keys(canon: DataFrame, threshold: int) -> tuple[DataFrame, DataFrame]:
    """The profile split into two tiny hot-key frames."""
    prof = _hot_affix_profile(canon, threshold)
    hot_prefix = prof.filter(F.col("__set") == 0).select("c_mktsegment", "name_prefix")
    hot_suffix = prof.filter(F.col("__set") == 1).select("c_mktsegment", "name_suffix")
    return hot_prefix, hot_suffix


#: (source digest, threshold) -> collected hot-key tuples.  Hot-block
#: keys are a CORPUS STATISTIC, not per-query state — same discipline
#: as the footer-derived index layouts (operators/indexing.py): profile
#: once per corpus version, reuse across queries.  The digest is
#: path + mtime_ns (the content-addressing key every index store uses),
#: so a REGENERATED same-rowcount corpus invalidates the entry —
#: rowcount alone would serve stale hot keys for same-size rewrites.
_HOT_KEY_CACHE: dict[tuple[str, int], tuple[tuple, tuple]] = {}

#: bound on the driver-side hot-key collect (control-plane grain; the
#: LARGEST blocks win).  More than this many >=10k-row blocks means
#: skew is pervasive, not a hot-key problem — the cap keeps the
#: broadcast and the collect bounded regardless.
_HOT_KEY_CAP = 1000


def _cached_hot_affix_keys(
    canon: DataFrame, sf_dir: str, threshold: int
) -> tuple[DataFrame | None, DataFrame | None]:
    """Hot-key frames for both affix keys, from the memoized corpus
    profile — ``None`` where the corpus has no hot blocks for that key,
    so the common no-skew case keeps the bare self-join plan (and warm
    runs skip the profile pass entirely)."""
    from car_etl_spark.operators.lsm import _source_digest

    ck = (
        _source_digest("hotkeys", 1, os.path.join(sf_dir, "customer.parquet"), ""),
        threshold,
    )
    if ck not in _HOT_KEY_CACHE:
        prof = _hot_affix_profile(canon, threshold)
        top = prof.orderBy(F.col("__n").desc()).limit(_HOT_KEY_CAP).collect()
        _HOT_KEY_CACHE[ck] = (
            tuple((r["c_mktsegment"], r["name_prefix"]) for r in top if r["__set"] == 0),
            tuple((r["c_mktsegment"], r["name_suffix"]) for r in top if r["__set"] == 1),
        )
    spark = canon.sparkSession
    out = []
    for rows, key in zip(_HOT_KEY_CACHE[ck], ("name_prefix", "name_suffix")):
        out.append(
            spark.createDataFrame(list(rows), f"c_mktsegment string, {key} string")
            if rows
            else None
        )
    return out[0], out[1]


def _skew_tagged_pairs(
    canon: DataFrame, key: str, hot: DataFrame, num_salts: int
) -> DataFrame:
    """Quadratic self-join balancer, single-join form: rows are tagged
    hot/cold by a broadcast join against the hot-key set, then the A
    side carries a content-derived salt (0 for cold rows) and the B
    side replicates once per salt for HOT rows only (cold rows keep the
    single salt-0 replica).  ``__salt`` joins equal, so it lands in the
    shuffle key: an m-row hot block spreads over ``num_salts``
    partitions at m^2/num_salts pair work each instead of one m^2 task
    — the single-hot-key self-join case AQE's skew splitting cannot fix
    (splitting the probe side of one block still recomputes against the
    whole block).  Every (a < b) pair joins exactly once: cold pairs on
    salt 0, hot pairs on b's replica matching a's content salt."""
    from car_etl_spark.operators.scale import content_salt

    tagged = canon.join(
        F.broadcast(hot.withColumn("__hot", F.lit(True))),
        ["c_mktsegment", key],
        "left",
    )
    a = tagged.withColumn(
        "__salt",
        F.when(
            F.col("__hot"), content_salt(tagged, num_salts, ("c_custkey",))
        ).otherwise(F.lit(0)),
    ).alias("a")
    b = tagged.select(
        F.col("*"),
        F.explode(
            F.sequence(
                F.lit(0),
                F.when(F.col("__hot"), F.lit(num_salts - 1)).otherwise(F.lit(0)),
            )
        ).alias("__salt"),
    ).alias("b")
    return a.join(b, _block_cond(key) & (F.col("a.__salt") == F.col("b.__salt"))).select(
        F.col("a.c_custkey").alias("ka"),
        F.col("b.c_custkey").alias("kb"),
        F.col("a.c_mktsegment").alias("segment"),
        F.col("a.norm_name").alias("na"),
        F.col("b.norm_name").alias("nb"),
        F.col("a.nlen").alias("la"),
        F.col("b.nlen").alias("lb"),
        F.col("a.bal_bucket").alias("ba"),
        F.col("b.bal_bucket").alias("bb"),
    )


def affix_pairs(
    canon: DataFrame,
    skew_threshold: int | None = None,
    num_salts: int = 8,
    hot_keys: tuple[DataFrame | None, DataFrame | None] | None = None,
) -> DataFrame:
    """The dual affix-key candidate union (see
    :func:`entity_match_blocked`'s docstring).

    With ``skew_threshold`` set, both block keys are profiled in ONE
    extra corpus pass (:func:`_hot_affix_keys`) and blocks at or above
    the threshold take the salted pair plan
    (:func:`_skew_tagged_pairs`) — cold blocks ride the same join on
    salt 0, so the plan stays one self-join per key and the output is
    exactly the full pair set.  ``hot_keys`` supplies precomputed
    (hot_prefix, hot_suffix) frames instead (the memoized corpus-
    statistic path, :func:`_cached_hot_affix_keys`); a ``None`` entry
    keeps that key's bare self-join."""
    if hot_keys is not None:
        hot_prefix, hot_suffix = hot_keys
    elif skew_threshold is not None:
        hot_prefix, hot_suffix = _hot_affix_keys(canon, skew_threshold)
    else:
        hot_prefix = hot_suffix = None

    def block_pairs(key: str, hot: DataFrame | None):
        # Pair generation is quadratic per block; the shuffle join on
        # the block key spreads blocks across the cluster.
        if hot is None:
            return _pair_attrs(canon, _block_cond(key))
        return _skew_tagged_pairs(canon, key, hot, num_salts)

    return (
        block_pairs("name_prefix", hot_prefix)
        .unionByName(block_pairs("name_suffix", hot_suffix))
        .dropDuplicates(["ka", "kb"])  # a pair may match both keys
    )


def char_shingles(c, n: int = 3):
    """Character n-grams of a (short) string as an array Column — the
    name-scale shingle unit (token shingles are useless on 2-4 token
    names).  Names are tens of chars, so the HOF array build stays
    cheap; whole-string fallback for names shorter than n."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.substr(c, i, F.lit(n)))


def portable_lsh_name_pairs(
    canon: DataFrame, num_hashes: int = 48, bands: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """:func:`lsh_name_pairs` on the PORTABLE hash family
    (operators/portable.py) — value-identical to the DuckDB twin inside
    ``ENTITY_MATCH_LSH_EXTENDED_SQL``, which is what lets the extended
    query be a full oracle row.  Same banding economics as the
    production form below; the xxhash64 form keeps the hot path."""
    from car_etl_spark.operators import portable as P

    exploded = canon.select(
        "c_custkey", F.explode(char_shingles(F.col("norm_name"))).alias("sh")
    )
    sigs = P.portable_minhash_sigs(exploded, num_hashes, "c_custkey")
    cand = P.portable_band_pairs(
        sigs, "c_custkey", bands, num_hashes, bucket_cap=bucket_cap
    ).select(F.col("id_a").alias("ka"), F.col("id_b").alias("kb"))
    return _enrich_pairs(cand, canon)


def lsh_name_pairs(
    canon: DataFrame, num_hashes: int = 24, bands: int = 12
) -> DataFrame:
    """MinHash/LSH candidates over character-shingled names — the
    recall extension for edits inside BOTH affixes, which exact
    affix blocking provably misses (see the planted middle-edit test).
    12 bands x 2 rows puts the collision knee near shingle-Jaccard
    ~0.3, comfortably below any pair the 0.80 decision threshold could
    accept.  Same shape as the document dedup: signatures map-side,
    ONE uniform band-key shuffle, candidates scale with true
    near-dups.  Segment scoping (the reference's (tenant, entity_type)
    block) applies at the attr join."""
    from car_etl_spark.operators.similarity import (
        lsh_candidate_pairs,
        minhash_from_exploded,
    )

    exploded = canon.select(
        "c_custkey", F.explode(char_shingles(F.col("norm_name"))).alias("sh")
    )
    sigs = minhash_from_exploded(exploded, num_hashes, "c_custkey")
    cand = lsh_candidate_pairs(sigs, "c_custkey", bands, num_hashes).select(
        F.col("id_a").alias("ka"), F.col("id_b").alias("kb")
    )
    # candidate enrichment must stay candidate-shaped (see
    # _enrich_pairs: the prebuilt pair-attr frame materializes the
    # per-segment self-join before the candidate keys restrict it)
    return _enrich_pairs(cand, canon)


def scored_pairs(pairs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """F12/F13: similarity scoring + decision thresholds on a candidate
    frame — ONE expression set shared by every candidate generator.
    ``keep`` passes extra columns through (the fused suite threads its
    candidate-origin flag)."""
    la, lb = F.col("la"), F.col("lb")
    name_sim = (
        F.when((la == 0) & (lb == 0), F.lit(1.0))
        .when((la == 0) | (lb == 0), F.lit(0.0))
        .otherwise(1.0 - F.levenshtein(F.col("na"), F.col("nb")) / F.greatest(la, lb))
    )
    bal_sim = F.when(F.col("ba") == F.col("bb"), 1.0).otherwise(0.0)
    weighted = F.round((0.5 * name_sim + 0.3 * bal_sim) / 0.8, 6)
    return pairs.select(
        "ka",
        "kb",
        F.col("segment"),
        N.match_decision(weighted).alias("decision"),
        weighted.alias("weighted_score"),
        *keep,
    )


#: exact partial-sum type for avg_score: weighted_score is a 6dp value
#: (rounded), so the DECIMAL cast recovers it exactly and the sum is
#: ASSOCIATIVE — which is what lets the fused suite recombine per-arm
#: averages from subgroup partials bit-identically (double sums are
#: not associative; the rollup-store last-ulp lesson)
_SCORE_DEC = "decimal(18,6)"


def _finish_rollup(grouped: DataFrame) -> DataFrame:
    """(segment, decision, pair_count, exact decimal sum) -> the report
    row; the division runs once on the exact sum, identically on both
    engines."""
    return grouped.select(
        "segment",
        "decision",
        "pair_count",
        F.round(F.col("__s").cast("double") / F.col("pair_count"), 6).alias(
            "avg_score"
        ),
    )


def score_pair_rollup(pairs: DataFrame) -> DataFrame:
    return _finish_rollup(
        scored_pairs(pairs)
        .groupBy("segment", "decision")
        .agg(
            F.count(F.lit(1)).alias("pair_count"),
            F.sum(F.col("weighted_score").cast(_SCORE_DEC)).alias("__s"),
        )
    ).orderBy("segment", "decision")


def entity_match_lsh_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 recall extension: candidates = affix-key union ∪ MinHash/LSH
    over character-shingled names, scored with the SAME F12/F13
    expressions and rolled up like :func:`entity_match_blocked`.

    Union can only ADD candidate pairs, so recall is a superset of the
    affix query's; precision is unchanged (the decision thresholds do
    the filtering).  Since round 6 the LSH leg runs on the PORTABLE
    hash family (operators/portable.py), whose DuckDB twin makes this a
    FULL oracle row (``ENTITY_MATCH_LSH_EXTENDED_SQL``); the planted
    middle-edit recall test pins what the LSH leg adds over affix
    blocking, for both families.

    Banding note: this corpus's names are TEMPLATE-generated
    ("customer 000000123"), so ANY two same-segment names share ~0.75
    char-shingle Jaccard — a knee below that degenerates to all-pairs
    (measured: 15x the affix candidate volume at 12x2 banding).  The
    registry configuration therefore pins the knee ABOVE the template
    similarity (3 bands x 16 rows -> knee ~0.93), trading sub-0.93
    recall for bounded candidates; on realistic name distributions
    (the planted-twin tests) the operator default 12x2 applies.  The
    general scale lesson: the LSH knee must sit above the corpus's
    BACKGROUND similarity, or candidates are O(n^2) no matter how the
    buckets are sized."""
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    # canon checkpointed once — consumed by BOTH affix self-joins, the
    # LSH shingle explode AND _enrich_pairs (see entity_match_blocked)
    canon = canonical_frame(cust).localCheckpoint(eager=True)
    pairs = (
        affix_pairs(canon, hot_keys=_gated_hot_keys(canon, sf_dir))
        .unionByName(
            portable_lsh_name_pairs(
                canon, num_hashes=_LSH_NAME_HASHES, bands=_LSH_NAME_BANDS,
                bucket_cap=_LSH_NAME_BUCKET_CAP,
            )
        )
        .dropDuplicates(["ka", "kb"])
    )
    return score_pair_rollup(pairs)


# shared SQL fragments: canon/keyed prep, the dual affix candidate arms,
# and the scoring/rollup tail — composed by both the blocked SQL and the
# LSH-extended SQL so the formulas cannot drift
_CANON_KEYED_SQL = """canon AS (
  SELECT c_custkey, c_mktsegment,
         TRIM(regexp_replace(regexp_replace(LOWER(c_name), '[^a-z0-9]+', ' ', 'g'),
                             '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS norm_name,
         ROUND(c_acctbal, 0) AS bal_bucket
  FROM customer
), keyed AS (
  SELECT *,
         SUBSTRING(norm_name, 1, GREATEST(LENGTH(norm_name) - 2, 1)) AS name_prefix,
         SUBSTRING(norm_name, GREATEST(LENGTH(norm_name) - 5, 1), 6) AS name_suffix
  FROM canon
)"""

_AFFIX_CAND_ARMS_SQL = """SELECT a.c_custkey AS ka, b.c_custkey AS kb, a.c_mktsegment AS segment,
         a.norm_name AS na, b.norm_name AS nb,
         a.bal_bucket AS ba, b.bal_bucket AS bb
  FROM keyed a JOIN keyed b
    ON a.c_mktsegment = b.c_mktsegment
   AND a.name_prefix = b.name_prefix
   AND a.c_custkey < b.c_custkey
  UNION
  SELECT a.c_custkey, b.c_custkey, a.c_mktsegment,
         a.norm_name, b.norm_name,
         a.bal_bucket, b.bal_bucket
  FROM keyed a JOIN keyed b
    ON a.c_mktsegment = b.c_mktsegment
   AND a.name_suffix = b.name_suffix
   AND a.c_custkey < b.c_custkey"""

_SCORE_TAIL_SQL = """, pairs AS (
  SELECT segment,
         CASE WHEN LENGTH(na) = 0 AND LENGTH(nb) = 0 THEN 1.0
              WHEN LENGTH(na) = 0 OR LENGTH(nb) = 0 THEN 0.0
              ELSE 1.0 - CAST(levenshtein(na, nb) AS DOUBLE)
                         / GREATEST(LENGTH(na), LENGTH(nb)) END AS name_sim,
         CASE WHEN ba = bb THEN 1.0 ELSE 0.0 END AS bal_sim
  FROM cand
), scored AS (
  SELECT segment,
         ROUND((0.5 * name_sim + 0.3 * bal_sim) / 0.8, 6) AS weighted_score
  FROM pairs
)
SELECT segment,
       CASE WHEN weighted_score >= 0.95 THEN 'auto_merge'
            WHEN weighted_score >= 0.80 THEN 'suggest_merge'
            ELSE 'different' END AS decision,
       COUNT(*) AS pair_count,
       -- exact DECIMAL partial sum, one double division at the end:
       -- associative, so it matches the Spark side's fused/standalone
       -- rollups bit-identically (see _SCORE_DEC)
       ROUND(CAST(SUM(CAST(weighted_score AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS avg_score
FROM scored
GROUP BY 1, 2
ORDER BY segment, decision"""

ENTITY_MATCH_BLOCKED_SQL = f"""
WITH {_CANON_KEYED_SQL}, cand AS (
  {_AFFIX_CAND_ARMS_SQL}
){_SCORE_TAIL_SQL}
"""


#: the registry configuration for the name-LSH leg — ONE definition
#: consumed by both the Spark call site (entity_match_lsh_extended) and
#: the SQL builder, so the two sides cannot desync.  3 bands x 16 rows:
#: the knee sits above this corpus's template background similarity
#: (see entity_match_lsh_extended's docstring).
_LSH_NAME_HASHES = 48
_LSH_NAME_BANDS = 3
#: hot-bucket guard for the name-LSH leg: at corpus scale, template
#: names saturate the char-3-gram space and whole signature-collision
#: classes (identical gram SETS) form — one band bucket then holds
#: thousands of members whose pairs are the all-pairs degeneration the
#: 0.93 knee was sized against (measured at the 150k-name soak: the
#: uncapped join spilled past the disk).  Buckets past the cap are
#: non-discriminative and excluded, on BOTH engines (the SQL twin
#: carries the identical HAVING), so the row stays a full oracle row.
_LSH_NAME_BUCKET_CAP = 200


def _entity_match_lsh_extended_sql(sf_dir: str) -> str:
    """Oracle builder for the LSH-extended match: the affix arms plus
    the portable MinHash candidate arm over char-3-gram shingled names
    (the shared :func:`~car_etl_spark.operators.portable.minhash_cand_ctes`
    generator), all through the same scoring tail.  ``sf_dir`` is
    unused (no corpus-derived plan) but keeps the callable-oracle
    signature."""
    from car_etl_spark.operators.portable import minhash_cand_ctes

    cand_ctes = minhash_cand_ctes(
        "nsh", "c_custkey", _LSH_NAME_HASHES, _LSH_NAME_BANDS, prefix="n",
        bucket_cap=_LSH_NAME_BUCKET_CAP,
    )
    return f"""
WITH {_CANON_KEYED_SQL}, nsh AS MATERIALIZED (
  SELECT DISTINCT c_custkey, substr(norm_name, i, 3) AS gram
  FROM (SELECT c_custkey, norm_name,
               unnest(generate_series(1, GREATEST(LENGTH(norm_name) - 2, 1))) AS i
        FROM keyed)
), {cand_ctes}, cand AS (
  {_AFFIX_CAND_ARMS_SQL}
  UNION
  SELECT a.c_custkey, b.c_custkey, a.c_mktsegment,
         a.norm_name, b.norm_name,
         a.bal_bucket, b.bal_bucket
  FROM ncand p JOIN keyed a ON a.c_custkey = p.id_a
               JOIN keyed b ON b.c_custkey = p.id_b
  WHERE a.c_mktsegment = b.c_mktsegment
){_SCORE_TAIL_SQL}
"""


def entity_merge_repoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: merge repointing — references held by merged duplicates are
    rewritten to the canonical entity, then recounted (reference
    ``src/entities/resolution.py:218-234``).

    Duplicate rule here: customers sharing (nationkey, mktsegment,
    round(acctbal, -2)) form a duplicate group; canonical = lowest key
    (the reference keeps the most-referenced entity — same dataflow)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    groups = t["customer"].select(
        "c_custkey",
        F.concat_ws(
            "|",
            F.col("c_nationkey").cast("string"),
            F.col("c_mktsegment"),
            F.floor(F.col("c_acctbal") / 100).cast("string"),
        ).alias("dup_key"),
    )
    canonical = groups.groupBy("dup_key").agg(F.min("c_custkey").alias("canonical_key"))
    mapping = groups.join(F.broadcast(canonical), "dup_key").select("c_custkey", "canonical_key")
    return (
        t["orders"]
        .join(mapping, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("canonical_key")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.countDistinct("o_custkey").alias("merged_members"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("canonical_key")
    )


ENTITY_MERGE_REPOINT_SQL = """
WITH groups AS (
  SELECT c_custkey,
         CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment || '|' ||
           CAST(CAST(FLOOR(c_acctbal / 100) AS BIGINT) AS VARCHAR) AS dup_key
  FROM customer
), canonical AS (
  SELECT dup_key, MIN(c_custkey) AS canonical_key FROM groups GROUP BY dup_key
), mapping AS (
  SELECT g.c_custkey, c.canonical_key FROM groups g JOIN canonical c USING (dup_key)
)
SELECT canonical_key,
       COUNT(*) AS order_count,
       COUNT(DISTINCT o_custkey) AS merged_members,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders JOIN mapping ON o_custkey = c_custkey
GROUP BY canonical_key
ORDER BY canonical_key
"""


def entity_match_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated J4/F12/F13 suite (round-9 registry headroom, the
    r2/r5 same-grain merge playbook): the affix-blocked match and its
    LSH-extended recall variant share the (segment, decision) rollup
    grain, so one registry row serves both, tagged by ``arm``.  Each
    arm keeps its own full oracle twin — the merged SQL is their
    tagged union, so the correctness surface is unchanged.

    FUSED since r11 (sf1 attribution, ARCHITECTURE.md §"entity match
    at sf1"): the naive two-arm union scored the ~1.5M shared affix
    pairs TWICE — Catalyst's ReuseExchange already deduped the
    candidate JOINS across the arms, but each arm ran its own
    levenshtein + rollup pass (the two largest plan nodes at sf1).
    Now candidates carry a ``from_affix`` origin flag through ONE
    dedup + ONE scoring pass into a tiny
    (segment, decision, from_affix) partial aggregate; the affix arm
    filters the partial, the lsh arm re-aggregates over the flag.
    Exactness: pair counts are integers and the score sums are
    DECIMAL(18,6) (associative — see ``_SCORE_DEC``), so both arms
    recombine bit-identically to the standalone queries and their
    oracles.  At 100 TB this is the difference between paying the
    verify math once vs once per derived report."""
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    # canon checkpointed once — five consumers below (two affix
    # self-joins, LSH explode, both _enrich_pairs sides)
    canon = canonical_frame(cust).localCheckpoint(eager=True)
    affix = affix_pairs(canon, hot_keys=_gated_hot_keys(canon, sf_dir)).withColumn(
        "from_affix", F.lit(1)
    )
    lsh = portable_lsh_name_pairs(
        canon, num_hashes=_LSH_NAME_HASHES, bands=_LSH_NAME_BANDS,
        bucket_cap=_LSH_NAME_BUCKET_CAP,
    ).withColumn("from_affix", F.lit(0))
    attrs = ("segment", "na", "nb", "la", "lb", "ba", "bb")
    cand = (
        affix.unionByName(lsh)
        .groupBy("ka", "kb")  # the arms' shared dedup, flag-preserving
        .agg(
            F.max("from_affix").alias("from_affix"),
            *[F.max(c).alias(c) for c in attrs],
        )
    )
    # ONE aggregate carries both arms (conditional sums), then each
    # group row EXPLODES into its two arm rows — a two-branch plan off
    # a shared partial would instead push each branch's filter below
    # the aggregate and recompute dedup+scoring per arm (measured:
    # both scoring stages reappeared at sf1)
    is_affix = F.col("from_affix") == 1
    ws = F.col("weighted_score").cast(_SCORE_DEC)
    wide = (
        scored_pairs(cand, keep=("from_affix",))
        .groupBy("segment", "decision")
        .agg(
            F.sum(F.when(is_affix, 1).otherwise(0)).alias("a_n"),
            F.sum(F.when(is_affix, ws)).alias("a_s"),
            F.count(F.lit(1)).alias("l_n"),
            F.sum(ws).alias("l_s"),
        )
    )
    arm = F.explode(
        F.array(
            F.struct(
                F.lit("affix").alias("arm"),
                F.col("a_n").alias("pair_count"),
                F.col("a_s").cast(_SCORE_DEC).alias("__s"),
            ),
            F.struct(
                F.lit("lsh_extended").alias("arm"),
                F.col("l_n").alias("pair_count"),
                F.col("l_s").cast(_SCORE_DEC).alias("__s"),
            ),
        )
    )
    return (
        wide.select("segment", "decision", arm.alias("r"))
        .select("r.arm", "segment", "decision", "r.pair_count", "r.__s")
        # a (segment, decision) group with no affix pairs has no affix
        # row (matches the standalone rollup's grain exactly)
        .filter(F.col("pair_count") > 0)
        .select(
            "arm",
            "segment",
            "decision",
            "pair_count",
            F.round(F.col("__s").cast("double") / F.col("pair_count"), 6).alias(
                "avg_score"
            ),
        )
        .orderBy("arm", "segment", "decision")
    )


def _entity_match_modes_sql(sf_dir: str) -> str:
    """Oracle builder for the consolidated suite: the two arms' own
    oracle statements, tagged and unioned."""
    return f"""
SELECT 'affix' AS arm, * FROM ({ENTITY_MATCH_BLOCKED_SQL})
UNION ALL
SELECT 'lsh_extended' AS arm, * FROM ({_entity_match_lsh_extended_sql(sf_dir)})
ORDER BY arm, segment, decision
"""


QUERIES: dict[str, QuerySpec] = {
    "entity_canonicalize": QuerySpec(entity_canonicalize, ENTITY_CANONICALIZE_SQL, ("entity",)),
    "entity_match_modes": QuerySpec(
        entity_match_modes,
        _entity_match_modes_sql,
        ("entity", "similarity-join", "lsh", "portable"),
    ),
    "entity_merge_repoint": QuerySpec(entity_merge_repoint, ENTITY_MERGE_REPOINT_SQL, ("entity", "merge")),
}
