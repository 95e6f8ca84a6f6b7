"""Cross-engine-reproducible (portable) LSH family: Spark + SQL twins.

A training-data pipeline's dedup decisions must be REPRODUCIBLE outside
the engine that made them — audits, incremental reruns on a different
stack, and contamination forensics all need "which pairs were near-dups"
to be a pure function of the data, not of one engine's private hash.
The production family (`operators/similarity.py`) uses seeded xxhash64 —
the right choice for the hot path (one JVM intrinsic per hash) but
JVM-only.  This module provides a drop-in family built ONLY from
primitives Spark and DuckDB evaluate bit-identically, so the full LSH
pipeline — signatures, banding, candidate join, verification — produces
value-identical results in both engines (and therefore turns the LSH
registry rows into full oracle-checked rows in the driver gate):

- **h0**: the top 60 bits of md5 — ``conv(substr(md5(s),1,15),16,10)``
  in Spark, ``('0x' || substr(md5(s),1,15))::BIGINT`` in DuckDB.  md5
  is bytes-defined (UTF-8 both sides), 60 bits fit signed BIGINT.
- **MinHash members**: affine universal hashing
  ``(A_i * (h0 % 2^31) + B_i) % 2^32`` — products < 2^62, exact BIGINT
  arithmetic everywhere (the ``queries/mix.py`` discipline).
- **Band keys**: the member values concatenated as STRINGS — exact
  equality, no second hash to reproduce.
- **SimHash**: 60-bit fingerprints from per-bit votes of h0.
- **Embedding LSH**: vectors quantized ``floor(x*1000 + 0.5)`` (IEEE
  double ops, bit-identical in both engines) against integer
  hyperplanes derived from an affine formula — integer dot products,
  so the bucket bits are exact, never at the mercy of float summation
  order.  Verification reuses the ``list_cosine_similarity`` /
  ``vectors.cosine_similarity`` round-6 pair whose parity the exact
  companions row already proves.

Every Spark expression here has an SQL generator IN THIS MODULE reading
the same constants and the same Python-derived plan (blocking layout,
bands/bits), so the two sides cannot drift.  The xxhash64 family stays
the production default (faster); recall equivalence of the two families
on planted duplicates is pinned in ``tests/test_portable.py``.

**Agreement domain.**  Portability is exact over the primitives above;
the one residual divergence lives UPSTREAM of hashing, in Unicode case
mapping: Spark's ``lower()`` applies full case mapping (Turkish İ
U+0130 → ``i`` + combining dot, 2 codepoints) while DuckDB applies
simple mapping (→ ``i``), so text containing the handful of
full-mapping specials (İ, ligature expansions) tokenizes differently
before either engine hashes anything.  This is an engine property, not
a family property — it affects every lower()-based oracle in the repo
equally — and is pinned by a canary test
(``test_unicode_case_mapping_divergence_canary``) so we notice if the
engines ever converge.  Whitespace, by contrast, IS unified: the
tokenizing SQL uses the explicit ``[ \\t\\n\\x0B\\f\\r]`` class because
RE2's ``\\s`` excludes vertical tab while Java's includes it.

Reference behavior covered: the dedup semantics of
``src/documents/dedup.py`` (near-duplicate detection before indexing),
re-expressed as engine-portable LSH rather than difflib loops.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MOD31 = 2_147_483_648  # 2^31
MOD32 = 4_294_967_296  # 2^32
AFF_MULT = 2_654_435_761  # Knuth multiplicative constant
AFF_INC = 1_013_904_223  # Numerical Recipes LCG increment

SIMHASH_BITS = 60  # md5 gives us 60 portable bits (15 hex chars)

PLANE_STRIDE = 1_000_003
PLANE_RANGE = 2_001  # components uniform in [-1000, 1000]
QUANT_SCALE = 1000.0


def affine_consts(n: int) -> tuple[list[int], list[int]]:
    """The (A_i, B_i) member constants — ONE derivation for both the
    Spark expressions and the SQL literals.  A_i forced odd (full-period
    multiplier mod 2^32)."""
    a = [((AFF_MULT * (i + 1)) % MOD31) | 1 for i in range(n)]
    b = [(AFF_INC * (i + 1)) % MOD32 for i in range(n)]
    return a, b


def plane_component(p: int, j: int) -> int:
    """Integer hyperplane component for plane ``p``, dimension ``j`` —
    the same closed form the SQL twin evaluates inline."""
    return ((AFF_MULT * (p * PLANE_STRIDE + j) + AFF_INC) % PLANE_RANGE) - 1000


def h0(c: Column) -> Column:
    """Portable 60-bit hash of a string column."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


H0_SQL = "('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def h0_py(s: str) -> int:
    """Driver-side twin of :func:`h0` — identical 60-bit value for the
    same string (UTF-8 md5, first 15 hex chars), so probe/lookup keys
    can be precomputed as literals on BOTH engine sides with no
    in-engine hashing (the count-min probe path)."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# MinHash


def portable_minhash_sigs(
    exploded: DataFrame, num_hashes: int, id_col: str = "doc_id"
) -> DataFrame:
    """Wide (id, __m0..__m{n-1}) signature frame from (id, sh) rows —
    same plan shape as ``minhash_from_exploded`` (min-aggregates in
    codegen, one shuffle on the id), portable arithmetic."""
    a, b = affine_consts(num_hashes)
    staged = exploded.select(id_col, (h0(F.col("sh")) % F.lit(MOD31)).alias("__hm"))
    aggs = [
        F.min((F.lit(a[i]) * F.col("__hm") + F.lit(b[i])) % F.lit(MOD32)).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    return staged.groupBy(id_col).agg(*aggs)


def _check_banding(num_hashes: int, bands: int) -> int:
    """Bands must divide the signature evenly — a remainder would be
    silently dropped by the Spark structs but grouped into an extra
    partial band by the SQL's ``i // rpb``, breaking the
    value-identical contract.  Checked in BOTH generators."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"portable banding requires bands | num_hashes, got {num_hashes}/{bands}"
        )
    return num_hashes // bands


def portable_banded_signatures(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = 12, num_hashes: int = 48
) -> DataFrame:
    """(id, band, bucket) rows from ARRAY-form portable signatures —
    drop-in for ``similarity.banded_signatures`` with string bucket
    keys (member values concatenated; no second hash to reproduce)."""
    rpb = _check_banding(num_hashes, bands)
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            F.concat_ws(
                "_",
                *[
                    F.col("sig").getItem(bi * rpb + j).cast("string")
                    for j in range(rpb)
                ],
            ).alias("bucket"),
        )
        for bi in range(bands)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def portable_band_pairs(
    sigs: DataFrame, id_col: str, bands: int, num_hashes: int,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a < b) from string band keys — the
    band-key expression itself lives ONLY in
    :func:`portable_banded_signatures` (wide sigs are arrayed and routed
    through it).

    ``bucket_cap`` is the HOT-BUCKET guard: a band bucket holding more
    than this many members is NON-DISCRIMINATIVE — the corpus's
    background similarity sits at or above the banding knee there (on
    template-keyed corpora whole signature-collision classes form), and
    generating its members^2/2 pairs is the all-pairs degeneration the
    knee was sized to prevent, not recall.  Buckets past the cap are
    excluded from pair generation (the stop-gram/maxDocFreq policy
    Lucene and pg_trgm apply to the same failure); the SQL twin
    (:func:`minhash_cand_ctes`) implements the identical cap, so capped
    queries stay value-identical across engines.  ``None`` (default)
    keeps every bucket."""
    arr = sigs.select(
        id_col, F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("sig")
    )
    banded = portable_banded_signatures(arr, id_col, bands, num_hashes)
    if bucket_cap is not None:
        ok = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= bucket_cap)
            .select("band", "bucket")
        )
        banded = banded.join(ok, ["band", "bucket"])
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def portable_minhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    num_hashes: int = 48,
    bands: int = 12,
) -> DataFrame:
    """Full portable MinHash dedup: (id_a, id_b, jaccard) — the same
    candidate/verify discipline as ``minhash_near_duplicates`` (shingle
    sets built only for docs in a candidate pair; r12: built ONCE —
    checkpointed, broadcast-gated semi-join — see that function's
    docstring for the doubled-subtree defect this removes)."""
    from car_etl_spark.operators.similarity import (
        candidate_id_frame,
        exact_jaccard,
        exploded_shingle_rows,
        with_shingles,
    )

    sigs = portable_minhash_sigs(
        exploded_shingle_rows(docs, text_col, shingle_n, id_col), num_hashes, id_col
    )
    candidates = portable_band_pairs(sigs, id_col, bands, num_hashes).localCheckpoint(
        eager=True
    )
    cand_ids = candidate_id_frame(candidates, id_col, candidates.count())
    shingled = with_shingles(
        docs.join(cand_ids, id_col, "left_semi"), text_col, shingle_n, id_col
    ).localCheckpoint(eager=True)
    sh_a = shingled.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = shingled.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(exact_jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _shingle_ctes(table: str, id_col: str, text_col: str) -> str:
    """Shared tokenize + 3-gram shingle CTEs (``toks``, ``sh``) — the
    SQL twin of ``exploded_shingle_rows``/``with_shingles`` semantics:
    whitespace tokens, empties dropped, whole-doc shingle for docs
    shorter than 3 tokens, zero-token docs excluded."""
    return f"""
toks AS MATERIALIZED (
  SELECT {id_col},
         list_filter(string_split_regex(TRIM(LOWER({text_col})), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS w
  FROM {table}
), sh AS MATERIALIZED (
  SELECT DISTINCT {id_col}, gram FROM (
    SELECT {id_col}, array_to_string(w[i:i+2], ' ') AS gram
    FROM (SELECT {id_col}, w, unnest(generate_series(1, len(w) - 2)) AS i
          FROM toks WHERE len(w) >= 3)
    UNION ALL
    SELECT {id_col}, array_to_string(w, ' ') FROM toks WHERE len(w) BETWEEN 1 AND 2
  )
)"""


def minhash_cand_ctes(
    shingle_cte: str, id_col: str, num_hashes: int, bands: int, prefix: str = "",
    bucket_cap: int | None = None,
) -> str:
    """The hm → members → bandkeys → cand CTE chain over an existing
    (id, gram) CTE — the ONE SQL generator for the portable MinHash
    candidate pipeline, shared by the document-dedup twin below and the
    entity name-LSH twin (queries/entity.py), so the family's SQL
    cannot fork.  ``prefix`` namespaces the CTEs (``ncand`` etc.).
    ``bucket_cap`` mirrors :func:`portable_band_pairs`'s hot-bucket
    guard exactly (HAVING on the bucket group before the self-join), so
    a capped query stays value-identical across engines."""
    rpb = _check_banding(num_hashes, bands)
    a, b = affine_consts(num_hashes)
    consts = ", ".join(f"({i}, {a[i]}, {b[i]})" for i in range(num_hashes))
    p = prefix
    pair_src = f"{p}bandkeys"
    cap_cte = ""
    if bucket_cap is not None:
        cap_cte = f""", {p}okkeys AS MATERIALIZED (
  SELECT band, key FROM {p}bandkeys GROUP BY band, key HAVING COUNT(*) <= {int(bucket_cap)}
), {p}kept AS MATERIALIZED (
  SELECT bk.* FROM {p}bandkeys bk JOIN {p}okkeys k ON bk.band = k.band AND bk.key = k.key
)"""
        pair_src = f"{p}kept"
    return f"""{p}hm AS MATERIALIZED (
  SELECT {id_col}, {H0_SQL.format(expr='gram')} % {MOD31} AS hm FROM {shingle_cte}
), {p}members AS MATERIALIZED (
  SELECT {id_col}, c.i, MIN((c.a * hm + c.b) % {MOD32}) AS m
  FROM {p}hm CROSS JOIN (VALUES {consts}) AS c(i, a, b)
  GROUP BY {id_col}, c.i
), {p}bandkeys AS MATERIALIZED (
  SELECT {id_col}, i // {rpb} AS band,
         string_agg(CAST(m AS VARCHAR), '_' ORDER BY i) AS key
  FROM {p}members GROUP BY {id_col}, i // {rpb}
){cap_cte}, {p}cand AS MATERIALIZED (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM {pair_src} a JOIN {pair_src} b
    ON a.band = b.band AND a.key = b.key AND a.{id_col} < b.{id_col}
)"""


def portable_minhash_sql(
    threshold: float = 0.5,
    num_hashes: int = 48,
    bands: int = 12,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`portable_minhash_pairs` (value-identical)."""
    return f"""
WITH {_shingle_ctes(table, id_col, text_col)}, {minhash_cand_ctes('sh', id_col, num_hashes, bands)}, shsets AS MATERIALIZED (
  SELECT {id_col}, list(DISTINCT gram) AS s FROM sh GROUP BY {id_col}
)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
         ROUND(CASE WHEN len(list_distinct(x.s || y.s)) > 0
                    THEN CAST(len(list_distinct(list_intersect(x.s, y.s))) AS DOUBLE)
                         / len(list_distinct(x.s || y.s))
                    ELSE 1.0 END, 6) AS jaccard
  FROM cand JOIN shsets x ON x.{id_col} = cand.id_a
            JOIN shsets y ON y.{id_col} = cand.id_b
) WHERE jaccard >= {threshold}
"""


# ---------------------------------------------------------------------------
# SimHash (60-bit)


def portable_simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash fingerprints over DISTINCT shingles (set
    semantics, mirrored exactly by the SQL twin)."""
    from car_etl_spark.operators.similarity import with_shingles

    shingled = with_shingles(docs, text_col, 3, id_col)
    exploded = shingled.select(id_col, F.explode("shingles").alias("sh")).distinct()
    # STAGE the hash into a projected column before the 60-way vote
    # aggregate: each aggregate expression is compiled independently
    # (no cross-aggregate subexpression elimination), so an inline
    # h0(sh) would re-run md5+conv 60x per row — measured 80% of the
    # sf1 lsh_neardup_suite wall (ARCHITECTURE.md §dedup attribution).
    # Same staging discipline as portable_minhash_sigs' __hm.
    staged = exploded.select(id_col, h0(F.col("sh")).alias("__h"))
    h = F.col("__h")
    votes = [
        F.sum(
            F.when(F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{bit}")
        for bit in range(SIMHASH_BITS)
    ]
    voted = staged.groupBy(id_col).agg(*votes)
    sim = None
    for bit in range(SIMHASH_BITS):
        col = F.when(
            F.col(f"v{bit}") > 0, F.shiftleft(F.lit(1).cast("long"), bit)
        ).otherwise(F.lit(0).cast("long"))
        sim = col if sim is None else sim.bitwiseOR(col)
    return voted.select(id_col, sim.alias("simhash"))


def _segment_layout(num_segments: int) -> list[tuple[int, int, int]]:
    """(segment, start_bit, width) splits of the 60-bit fingerprint —
    shared by the Spark expressions and the SQL bit map."""
    base, extra = divmod(SIMHASH_BITS, num_segments)
    out, off = [], 0
    for i in range(num_segments):
        width = base + (1 if i < extra else 0)
        out.append((i, off, width))
        off += width
    return out


def portable_simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
    expected_docs: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) at hamming <= ``max_hamming`` via the same
    scale-derived subset blocking as the production operator
    (``simhash_blocking_plan``), on portable 60-bit fingerprints."""
    from car_etl_spark.operators.similarity import simhash_blocking_plan

    n = expected_docs if expected_docs is not None else docs.count()
    segments, subset = simhash_blocking_plan(n, max_hamming)
    fp = portable_simhash_fingerprints(docs, text_col, id_col)
    seg_vals = [
        F.shiftrightunsigned(F.col("simhash"), start).bitwiseAND(F.lit((1 << width) - 1))
        for _seg, start, width in _segment_layout(segments)
    ]
    key_structs = [
        F.struct(
            F.lit(ki).alias("k"),
            F.concat_ws("_", *[seg_vals[i].cast("string") for i in sub]).alias("key"),
        )
        for ki, sub in enumerate(combinations(range(segments), subset))
    ]
    blocked = fp.select(
        id_col, "simhash", F.explode(F.array(*key_structs)).alias("s")
    ).select(id_col, "simhash", F.col("s.k").alias("k"), F.col("s.key").alias("key"))
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def portable_simhash_sql(
    expected_docs: int,
    max_hamming: int = 6,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`portable_simhash_pairs` — the blocking plan
    comes from the SAME ``simhash_blocking_plan(n)`` call."""
    from car_etl_spark.operators.similarity import simhash_blocking_plan

    segments, subset = simhash_blocking_plan(expected_docs, max_hamming)
    bit_map = ", ".join(
        f"({start + pos}, {seg}, {pos})"
        for seg, start, width in _segment_layout(segments)
        for pos in range(width)
    )
    key_selects = []
    for ki, sub in enumerate(combinations(range(segments), subset)):
        joins = "".join(
            f" JOIN segs g{i} ON g{i}.{id_col} = g0.{id_col} AND g{i}.seg = {s}"
            for i, s in enumerate(sub)
            if i > 0
        )
        key_expr = " || '_' || ".join(f"CAST(g{i}.segval AS VARCHAR)" for i in range(len(sub)))
        key_selects.append(
            f"SELECT g0.{id_col}, {ki} AS k, {key_expr} AS key FROM segs g0{joins} "
            f"WHERE g0.seg = {sub[0]}"
        )
    keys_sql = "\n  UNION ALL\n  ".join(key_selects)
    return f"""
WITH {_shingle_ctes(table, id_col, text_col)}, h AS MATERIALIZED (
  SELECT {id_col}, {H0_SQL.format(expr='gram')} AS h FROM sh
), bits AS MATERIALIZED (
  SELECT {id_col}, t.b,
         CASE WHEN SUM(CASE WHEN (h >> t.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
              THEN 1::BIGINT ELSE 0::BIGINT END AS bit
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b) t
  GROUP BY {id_col}, t.b
), segs AS MATERIALIZED (
  SELECT bits.{id_col}, mp.seg, SUM(bit << mp.pos) AS segval
  FROM bits JOIN (VALUES {bit_map}) AS mp(b, seg, pos) ON bits.b = mp.b
  GROUP BY bits.{id_col}, mp.seg
), fp AS MATERIALIZED (
  SELECT {id_col}, SUM(bit << b) AS sim FROM bits GROUP BY {id_col}
), keys AS MATERIALIZED (
  {keys_sql}
), cand AS MATERIALIZED (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM keys a JOIN keys b ON a.k = b.k AND a.key = b.key AND a.{id_col} < b.{id_col}
)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b, bit_count(xor(fa.sim, fb.sim)) AS hamming
  FROM cand JOIN fp fa ON fa.{id_col} = cand.id_a JOIN fp fb ON fb.{id_col} = cand.id_b
) WHERE hamming <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# Embedding LSH (integer-quantized hyperplanes)


def portable_embedding_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    dim: int = 64,
    expected_n: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cosine_sim) via integer-quantized hyperplane LSH +
    exact-cosine verify at round 6.  The (bands, bits) plan comes from
    ``embedding_lsh_plan(n, threshold)`` — same call as the SQL twin.

    Quantization (``floor(x*1000 + 0.5)`` in IEEE doubles) makes the
    bucket bits EXACT integer arithmetic — immune to float summation
    order, the one thing a cross-engine dot-product sign can disagree
    on.  Projections run as one int64 matmul per Arrow batch (exact in
    numpy too)."""
    from pyspark.sql.functions import pandas_udf

    from car_etl_spark.functions import vectors as V
    from car_etl_spark.operators.similarity import embedding_lsh_plan

    n = expected_n if expected_n is not None else emb.count()
    bands, bits, _recall = embedding_lsh_plan(n, threshold)
    planes = np.array(
        [[plane_component(p, j) for j in range(dim)] for p in range(bands * bits)],
        dtype=np.int64,
    ).T  # (dim, P)

    @pandas_udf("array<string>")
    def band_buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack(vecs.to_numpy())  # (n, dim) float32
        vq = np.floor(mat.astype(np.float64) * QUANT_SCALE + 0.5).astype(np.int64)
        signs = (vq @ planes) >= 0  # (n, P) exact int64 matmul
        chars = np.where(signs, "1", "0")
        out = [
            ["".join(row[bi * bits : (bi + 1) * bits]) for bi in range(bands)]
            for row in chars
        ]
        return pd.Series(out)

    src = emb.filter(F.col(vec_col).isNotNull())
    banded = src.select(
        id_col, F.posexplode(band_buckets(F.col(vec_col))).alias("band", "bucket")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # norms STAGED per row (n evaluations) before the verify join: the
    # threshold filter is pushed into the join condition, where an
    # inline cosine_similarity evaluates five zip_with/aggregate HOF
    # trees per CANDIDATE pair (dot + both norms in the guard + both in
    # the divisor) — measured as the dominant node of the sf1
    # lsh_neardup_suite (ARCHITECTURE.md §dedup attribution).  Staged,
    # the per-pair work is one HOF (the dot); arithmetic shape (sqrt of
    # self-dot, then dot/(na*nb)) is unchanged, so values stay
    # bit-identical to the DuckDB twin.
    # r12: vectors+norms built ONCE for the candidate-bounded id set
    # and checkpointed (see embedding_near_duplicates) instead of
    # joining the full source per pair side.
    from car_etl_spark.operators.similarity import candidate_id_frame

    cand_ids = candidate_id_frame(cand, id_col, cand.count())
    needed = (
        src.join(cand_ids, id_col, "left_semi")
        .select(id_col, vec_col, V.norm(F.col(vec_col)).alias("__n"))
        .localCheckpoint(eager=True)
    )
    va = needed.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("__n").alias("__na"),
    )
    vb = needed.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("__n").alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    sim = F.round(
        F.when(denom > 0, V.dot(F.col("va"), F.col("vb")) / denom), 6
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def portable_embedding_sql(
    expected_n: int,
    threshold: float = 0.3,
    dim: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`portable_embedding_pairs` — hyperplane
    components evaluated inline from the same closed form."""
    from car_etl_spark.operators.similarity import embedding_lsh_plan

    bands, bits, _recall = embedding_lsh_plan(expected_n, threshold)
    num_planes = bands * bits
    comp = (
        f"((({AFF_MULT} * (t.p * {PLANE_STRIDE} + (j - 1)) + {AFF_INC}) % {PLANE_RANGE}) - 1000)"
    )
    return f"""
WITH q AS MATERIALIZED (
  SELECT {id_col},
         list_transform({vec_col},
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * {QUANT_SCALE} + 0.5) AS BIGINT)) AS vq
  FROM {table} WHERE {vec_col} IS NOT NULL
), proj AS MATERIALIZED (
  SELECT {id_col}, t.p // {bits} AS band, t.p AS p,
         CASE WHEN list_sum(list_transform(generate_series(1, {dim}),
                                           j -> vq[j] * {comp})) >= 0
              THEN '1' ELSE '0' END AS bitchar
  FROM q CROSS JOIN (SELECT unnest(generate_series(0, {num_planes - 1})) AS p) t
), buckets AS MATERIALIZED (
  SELECT {id_col}, band, string_agg(bitchar, '' ORDER BY p) AS bucket
  FROM proj GROUP BY {id_col}, band
), cand AS MATERIALIZED (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.{id_col} < b.{id_col}
)
SELECT id_a, id_b, cosine_sim FROM (
  SELECT id_a, id_b,
         ROUND(list_cosine_similarity(x.{vec_col}::DOUBLE[], y.{vec_col}::DOUBLE[]), 6)
           AS cosine_sim
  FROM cand JOIN {table} x ON x.{id_col} = cand.id_a
            JOIN {table} y ON y.{id_col} = cand.id_b
) WHERE cosine_sim >= {threshold}
"""
