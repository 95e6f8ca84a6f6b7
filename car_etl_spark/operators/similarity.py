"""Near-duplicate detection and similarity search at scale.

The LLM-training-data dedup stack (BASELINE.json north star), all
Spark-native:

- **MinHash + LSH** for text near-dup: per-row signature (no shuffle),
  band-bucket join (the only shuffle), exact-Jaccard verification on
  candidates only.  The 100 TB path — candidate count scales with the
  number of true near-dups, not |corpus|^2.
- **SimHash** 64-bit fingerprints + Hamming-distance candidate pairs.
- **Exact n-gram / token-set Jaccard** within blocks — the oracle-checkable
  ground truth used to validate LSH recall.
- **Embedding near-dup**: random-hyperplane (signed projection) buckets +
  exact cosine verification — ANN-style scale path for dense vectors.

Everything is deterministic: hash functions are seeded ``xxhash64``;
hyperplanes come from a fixed-seed generator, so results are stable
across runs and cluster sizes.
"""

from __future__ import annotations

import random

import pandas as pd  # annotation target for pandas_udf type inference
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from car_etl_spark.functions import text as T
from car_etl_spark.functions import vectors as V

DEFAULT_NUM_HASHES = 48
DEFAULT_BANDS = 12  # 12 bands x 4 rows: ~0.5 jaccard threshold knee


def with_shingles(docs: DataFrame, text_col: str = "text", n: int = 3, *keep: str) -> DataFrame:
    """Two-stage projection: tokenize once, THEN shingle the token
    column.  Inlining tokenize into the shingle transform re-splits the
    document once per shingle (no CSE across HOF slices) — measured 7x
    slower at sf0.1."""
    toked = docs.select(*keep, T.tokenize(F.lower(F.col(text_col))).alias("__toks"))
    return toked.select(*keep, T.shingles_from_tokens(F.col("__toks"), n).alias("shingles"))


def exploded_shingle_rows(
    docs: DataFrame, text_col: str = "text", n: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """One row per (id, shingle) via posexplode + in-array lookups — the
    fast exploded form, SHUFFLE-FREE.

    Exploding a deep higher-order shingle ARRAY costs ~5x the array's own
    evaluation (the generator input is interpreted HOF); building the
    rows relationally — posexplode tokens, successors read straight out
    of the retained token array with ``get(__toks, pos + j)`` (0-based,
    NULL past the end: exactly ``lead``'s contract), concat — stays in
    codegen AND needs no exchange at all.  The r11 form got the
    successors from ``lead(tok, j)`` over a per-doc window instead,
    which shuffled the ENTIRE token stream (one row per token) and
    sorted it per doc just to see j rows ahead; with the lookups
    in-array, the only shuffle left in a signature build is the
    downstream min-agg's own — and that one now does PARTIAL
    aggregation first, so 48 longs per doc cross the wire instead of
    every token (r12: sigs 1.43 -> 1.15 s at sf0.1, and the shuffled
    bytes drop from O(corpus tokens) to O(docs) at any scale;
    scripts/profile_minhash_shingles.py at commit d864714, multiset
    parity asserted).
    The array is never copied per exploded row: Generate and the gram
    projection fuse into one whole-stage-codegen span.

    Emits NON-distinct shingles (a doc repeating an n-gram yields
    duplicate rows) — identical MinHash signatures (min-agg is
    duplicate-insensitive) for less work; use :func:`with_shingles` when
    set semantics matter (SimHash votes, exact Jaccard).
    """
    toked = docs.select(id_col, T.tokenize(F.lower(F.col(text_col))).alias("__toks"))
    pos = toked.select(
        id_col,
        "__toks",
        F.size("__toks").alias("__k"),
        F.posexplode("__toks").alias("pos", "tok"),
    )
    # concat_ws skips NULLs, so the pos==0 short-document case (k < n)
    # degrades to the whole-doc shingle exactly like the array form.
    gram = F.concat_ws(
        " ", "tok", *[F.get("__toks", F.col("pos") + j) for j in range(1, n)]
    )
    valid = (F.col("pos") <= F.col("__k") - n) | ((F.col("pos") == 0) & (F.col("__k") < n))
    return pos.filter(valid).select(id_col, gram.alias("sh"))


def minhash_from_exploded(
    exploded: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures (array<long>) from (id, sh) rows: groupBy(id)
    with ``num_hashes`` min-aggregates — every expression inside
    whole-stage codegen, one shuffle on the id.  (The per-row form —
    48 ``array_min(transform(...))`` HOFs — is interpreted, measured
    ~50x slower at sf0.1.)

    The shingle STRING is hashed once, then the ``num_hashes`` family
    members re-hash that 8-byte long with per-member seeds — hashing a
    fixed-width long is far cheaper than re-walking a ~20-char string
    48 times, and the generated aggregate method is small enough to JIT
    instantly.  Measured at sf0.1 (interleaved, same session): cold
    5.1 s -> 1.0 s, warm 0.83 s -> 0.77 s vs the per-seed string form.
    Signature quality is unchanged: members collide only if the 64-bit
    string hashes collide (~2^-64 per pair).
    """
    staged = exploded.select(id_col, F.xxhash64(F.col("sh")).alias("__h0"))
    aggs = [
        F.min(F.xxhash64(F.col("__h0"), F.lit(seed + i))).alias(f"__h{i}")
        for i in range(num_hashes)
    ]
    sigs = staged.groupBy(id_col).agg(*aggs)
    return sigs.select(
        id_col,
        F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def with_minhash(
    shingled: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures from an array-form shingled frame (see
    :func:`minhash_from_exploded` for the plan shape)."""
    return minhash_from_exploded(
        shingled.select(id_col, F.explode("shingles").alias("sh")), num_hashes, id_col, seed
    )


def banded_signatures(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """(id, band, bucket) rows from MinHash signatures — the banding
    half of :func:`lsh_candidate_pairs`, shared with the incremental
    dedup so both sides of any band join are guaranteed to hash buckets
    identically (the incremental==batch candidate-set invariant depends
    on there being exactly ONE copy of this expression)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        segment = F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.xxhash64(F.concat_ws("_", *[
                segment.getItem(i).cast("string") for i in range(rows_per_band)
            ])).alias("bucket"))
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Band the signatures and self-join on (band_index, band_hash).

    The band join is the single shuffle of the whole dedup; its key space
    (band hash) is uniform, so no skew at scale.  Returns distinct
    candidate id pairs (a < b).
    """
    banded = banded_signatures(sigs, id_col, bands, num_hashes)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


#: candidate-id broadcast gate: ids are 8-byte longs, so 4M ids build a
#: ~32 MB hashed relation — far below the broadcast cap, trivially held
#: by every executor.  Above the gate the planner's SMJ is the right
#: call anyway (the id set is no longer "metadata-sized").
CAND_ID_BROADCAST_MAX = 4_000_000


def candidate_id_frame(
    candidates: DataFrame, id_col: str, n_pairs: int | None = None
) -> DataFrame:
    """Distinct ids appearing on either side of an ``(id_a, id_b)``
    candidate frame, broadcast-hinted when ``n_pairs`` proves the set
    small.

    The frame feeds the left-semi join that prunes the corpus down to
    the documents a verify stage must re-process.  Catalyst cannot size
    a ``localCheckpoint`` RDD (ExistingRDD stats default to "huge"), so
    without the hint that semi-join plans as a SortMergeJoin that
    shuffles AND sorts the ENTIRE corpus — a full-corpus exchange spent
    keeping a candidate-bounded subset.  The caller just checkpointed
    the pairs, so counting them is a near-free cached-RDD job, and
    ``2 * n_pairs`` bounds the id count — the hint is applied exactly
    when it is provably safe (guide §3.2's semi-join-the-big-side,
    sized from data, not from the local core count)."""
    ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    if n_pairs is not None and 2 * n_pairs <= CAND_ID_BROADCAST_MAX:
        ids = F.broadcast(ids)
    return ids


def exact_jaccard(a_set: Column, b_set: Column) -> Column:
    """Exact Jaccard over two array-sets (assumed distinct elements).

    r12: the union size comes from the inclusion-exclusion identity
    ``|A ∪ B| = |A| + |B| - |A ∩ B|`` (exact integer arithmetic on
    distinct-element arrays) instead of a second ``array_union`` pass —
    each pair previously built TWO hash sets (intersect + union); now
    one.  ``size()`` is O(1) on the array header, and codegen
    subexpression elimination evaluates the repeated
    ``array_intersect`` once — measured on an isolated 3M-pair scoring
    stage (noop sink, interleaved): 5.31 -> 3.30 s median, -38%, which
    could not happen if the intersect ran twice.  Values are
    bit-identical, so every DuckDB twin (which keeps the literal union
    form) stays green."""
    inter = F.size(F.array_intersect(a_set, b_set))
    union = F.size(a_set) + F.size(b_set) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(1.0))


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    set_col: str,
    tau_num: int = 4,
    tau_den: int = 5,
) -> DataFrame:
    """EXACT, UNBLOCKED set-similarity self-join at Jaccard >= tau via
    global-frequency-ordered prefix filtering — the All-Pairs / PPJoin
    candidate scheme (Bayardo et al. WWW'07; Xiao et al. WWW'08),
    complementing LSH with a zero-recall-loss guarantee:

    1. one corpus pass computes per-element document frequency;
    2. each set orders its elements rarest-first (total order:
       ``(df, element)``) and keeps only its PREFIX of length
       ``|S| - ceil(tau*|S|) + 1`` — any two sets with J >= tau MUST
       share an element inside both prefixes (prefix-filter lemma),
       so the equi-join on prefix elements loses nothing;
    3. the join carries the length filter ``tau*|A| <= |B| <= |A|/tau``
       (J >= tau forces near-equal sizes), pruning cross-size pairs
       before they materialize;
    4. candidates (tiny — they scale with TRUE near-dups, not n^2) are
       verified with exact Jaccard on the full sets.

    Scale shape: prefix explode is ``(1-tau)`` of the full explode; the
    shuffle key is the prefix element, and rarest-first ordering is the
    built-in skew answer — high-df elements (stop-shingles) land in a
    prefix only when a set has almost nothing rarer, so hot join keys
    are structurally suppressed rather than salted after the fact.

    ``tau = tau_num/tau_den`` is kept in EXACT INTEGER arithmetic
    (``ceil(tau*n) == (tau_num*n + tau_den - 1) div tau_den``) so the
    DuckDB oracle twin computes bit-identical prefix lengths.  The
    final output is the exact ``{(a, b): J(a, b) >= tau}`` set OVER
    NON-EMPTY SETS and is independent of df tie-breaking (any
    consistent total order yields the same verified result).  Empty
    sets are EXCLUDED up front: they produce no prefix rows (so they
    could never appear as candidates anyway — silently violating the
    contract), and the degenerate all-pairs-of-empties block
    (J(∅, ∅) = 1 by the usual convention) is quadratic garbage no
    dedup caller wants; handle genuinely-empty rows separately.

    Reference parity: the reference scores candidate pairs all-pairs in
    Python (``src/entities/matching.py:67-110``); this is the exact-
    recall scale path for the same >= threshold semantics.
    """
    sized, pref = prefix_frames(df, id_col, set_col, tau_num, tau_den)
    cand = prefix_candidate_pairs(pref, id_col, tau_num, tau_den)
    sa = sized.select(F.col(id_col).alias("id_a"), F.col(set_col).alias("__set_a"))
    sb = sized.select(F.col(id_col).alias("id_b"), F.col(set_col).alias("__set_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", exact_jaccard(F.col("__set_a"), F.col("__set_b")))
        .filter(F.col("jaccard") >= F.lit(tau_num) / F.lit(tau_den))
        .select("id_a", "id_b", "jaccard")
    )


def prefix_frames(
    df: DataFrame, id_col: str, set_col: str, tau_num: int, tau_den: int
) -> tuple[DataFrame, DataFrame]:
    """The two MATERIALIZED frames of the All-Pairs scheme: ``sized``
    (non-empty sets with their sizes) and ``pref`` (the rarest-first
    prefix rows ``(id, __sz, __tok)``).

    Both are localCheckpointed ONCE: the candidate self-join reads the
    prefix frame from BOTH sides and the verify step joins the full
    sets TWICE more, so without this the upstream lineage — typically
    an interpreted shingle-HOF over every document — executes 4-5x.
    Invisible at output-bound scales; on the sf1 Heaps-vocabulary
    corpus (where the set build dominates and output is tiny) it was
    the whole cost: 54.5 s -> ~20 s for 8 candidate pairs.  The prefix
    frame is (1-tau) of the full explode with skinny columns — cheap
    to hold."""
    sized = (
        df.select(id_col, set_col)
        .withColumn("__sz", F.size(F.col(set_col)))
        .filter(F.col("__sz") > 0)  # the documented non-empty contract
        .localCheckpoint(eager=True)
    )
    expl = sized.select(id_col, "__sz", F.explode(set_col).alias("__tok"))
    plen = (
        F.col("__sz")
        - F.expr(f"(__sz * {tau_num} + {tau_den - 1}) div {tau_den}")
        + F.lit(1)
    )
    # r12: per-element document frequency via count().over(partitionBy
    # (__tok)) instead of groupBy(__tok) + join-back — the same
    # agg+self-join -> window rewrite as span-dedup's occurrence count.
    # The join form sorted the whole token stream by the ~20-char
    # element string on BOTH SMJ sides; the window attaches __df with
    # one exchange + one sort.  Measured on the sf1 shingle corpus
    # (scripts/profile_prefix_frames.py at commit d864714, parity
    # asserted): pref build
    # 2.91 -> 0.83 s (-72 %).  __df values are identical (set_col
    # elements are distinct per id, so the per-token row count IS the
    # document frequency), hence prefix contents and every downstream
    # candidate/verify result are unchanged.
    with_df = expl.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("__tok"))
    )
    w = Window.partitionBy(id_col).orderBy("__df", "__tok")
    pref = (
        with_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= plen)
        .select(id_col, "__sz", "__tok")
        .localCheckpoint(eager=True)
    )
    return sized, pref


def prefix_candidate_pairs(
    pref: DataFrame, id_col: str, tau_num: int, tau_den: int
) -> DataFrame:
    """The candidate stage of the All-Pairs scheme, exposed so the
    scale-curve harness can count candidates the exact frame the
    verify step consumes (``pref`` is the materialized
    ``(id, __sz, __tok)`` prefix frame): prefix-element equi-join +
    the length filter, distinct pair ids."""
    a, b = pref.alias("a"), pref.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__tok") == F.col("b.__tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (tau_num * F.col("a.__sz") <= tau_den * F.col("b.__sz"))
            & (tau_num * F.col("b.__sz") <= tau_den * F.col("a.__sz")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Full MinHash-LSH dedup: signatures -> band join -> exact verify.

    Output: (id_a, id_b, jaccard) for candidate pairs whose *exact*
    shingle Jaccard clears the threshold — LSH chooses candidates,
    verification keeps precision at 1.0 (recall is the LSH knob).

    Verification cost discipline: shingle SETS (the interpreted-HOF
    array build) are computed only for documents that appear in a
    candidate pair — a semi-join against the materialized candidate ids
    first — not for the whole corpus.  Candidates scale with true
    near-dups, so at 100 TB this is the difference between re-shingling
    petabytes and re-shingling the duplicates.

    r12: the per-candidate shingled frame is localCheckpointed ONCE —
    it feeds BOTH pair sides, and without the checkpoint the whole
    scan -> semi-join -> shingle subtree executed twice (the dumped
    plan carried two disjoint parquet scans of the corpus, one per
    side).  The semi-join's id frame is broadcast-gated by the known
    candidate count (:func:`candidate_id_frame`): below the gate the
    corpus is pruned with a broadcast semi-join instead of a full
    corpus shuffle+sort.  Both frames are bounded by true near-dups.
    """
    sigs = minhash_from_exploded(
        exploded_shingle_rows(docs, text_col, shingle_n, id_col), num_hashes, id_col
    )
    # materialize the (tiny) candidate set once — it feeds BOTH the
    # verify join and the shingle semi-join below, and without this the
    # signature+band-join subtree would execute twice
    candidates = lsh_candidate_pairs(sigs, id_col, bands, num_hashes).localCheckpoint(
        eager=True
    )
    cand_ids = candidate_id_frame(candidates, id_col, candidates.count())
    docs_needed = docs.join(cand_ids, id_col, "left_semi")
    shingled = with_shingles(docs_needed, text_col, shingle_n, id_col).localCheckpoint(
        eager=True
    )
    sh_a = shingled.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sh_b = shingled.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
    )
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


def simhash_fingerprints(docs: DataFrame, text_col: str = "text", *keep: str) -> DataFrame:
    """64-bit SimHash per document: explode shingles -> bit-vote agg
    (one shuffle on the id key)."""
    shingled = with_shingles(docs, text_col, 3, *keep)
    exploded = shingled.select(*keep, F.explode("shingles").alias("shingle"))
    return T.simhash64_agg(exploded, list(keep), "shingle")


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_blocking_plan(
    expected_docs: int, max_hamming: int, load_margin_bits: int = 2
) -> tuple[int, int]:
    """Choose ``(num_segments m, subset_size s)`` for SimHash blocking
    from the expected corpus size — the scale-aware replacement for a
    fixed 8x8-bit split whose 256-value key space degenerates to
    O(n^2/256) candidate pairs at large n.

    Blocking on every ``s``-subset of ``m`` segments (Manku et al.'s
    permuted-table scheme expressed as subset keys) guarantees recall
    for Hamming <= ``max_hamming``: <= k flipped bits touch <= k
    segments, so >= m-k segments are clean and any s <= m-k of them
    form an unflipped key both twins share.  Key width is ~``s * 64/m``
    bits; the plan picks the FEASIBLE (key space >= n * 2^margin, so
    expected bucket load stays O(1) on hash-uniform corpora) pair with
    the fewest blocking keys C(m, s); when no plan is feasible (huge n
    with loose k — the regime where SimHash blocking fundamentally
    cannot prune) it returns the widest-key plan and the candidate
    guard tests catch the degradation.

    Examples: (n=5e3, k=3) -> (4, 1): 16-bit segments, 65k buckets;
    (n=1e9, k=3) -> (7, 4): ~36-bit keys, 35 keys/doc.
    """
    import math
    from math import comb

    need = math.log2(max(2, expected_docs)) + load_margin_bits
    feasible: list[tuple[int, int, int]] = []  # (keys, m, s)
    fallback: list[tuple[float, int, int, int]] = []  # (-key_bits, keys, m, s)
    for m in range(max_hamming + 1, 33):  # s >= 1 needs m >= k + 1
        for s in range(1, m - max_hamming + 1):
            key_bits = s * (64 // m)  # conservative: s narrowest segments
            if key_bits <= 0:
                continue
            keys = comb(m, s)
            if key_bits >= need:
                feasible.append((keys, m, s))
            fallback.append((-key_bits, keys, m, s))
    if feasible:
        _keys, m, s = min(feasible)
        return m, s
    _nb, _keys, m, s = min(fallback)
    return m, s


def _segment_value_cols(simhash: Column, num_segments: int) -> list[Column]:
    """Split a 64-bit hash into ``num_segments`` near-equal pieces
    (widths 64//m or 64//m+1 — uneven splits let m be any value, not
    just divisors of 64)."""
    base, extra = divmod(64, num_segments)
    cols, offset = [], 0
    for i in range(num_segments):
        width = base + (1 if i < extra else 0)
        mask = (1 << width) - 1
        cols.append(
            F.shiftrightunsigned(simhash, offset).bitwiseAND(F.lit(mask))
        )
        offset += width
    return cols


def simhash_blocked_candidates(
    fp: DataFrame,
    id_col: str = "doc_id",
    num_segments: int = 8,
    subset_size: int = 1,
) -> DataFrame:
    """Candidate pairs (id_a < id_b, hamming) from subset-key blocking
    over a fingerprint frame ``(id, simhash)``.  Exposed separately so
    the candidate-volume guard tests measure exactly what the dedup
    joins."""
    from itertools import combinations

    seg_vals = _segment_value_cols(F.col("simhash"), num_segments)
    key_structs = [
        F.struct(
            F.lit(ki).alias("k"),
            F.concat_ws("_", *[seg_vals[i].cast("string") for i in subset]).alias("key"),
        )
        for ki, subset in enumerate(combinations(range(num_segments), subset_size))
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
            hamming_distance(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
    )


def simhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    segments: int | None = None,
    subset_size: int = 1,
    expected_docs: int | None = None,
) -> DataFrame:
    """SimHash near-dup via pigeonhole subset blocking.

    With ``expected_docs`` the (segments, subset_size) pair comes from
    :func:`simhash_blocking_plan` — key width scales with log2(n) so
    candidate volume stays O(n · keys) instead of O(n^2 / key_space).
    Explicit ``segments`` (optionally with ``subset_size``) overrides;
    the legacy fixed default is 8x8-bit single-segment keys.  Recall is
    GUARANTEED for Hamming <= segments - subset_size by pigeonhole;
    exact Hamming verify keeps precision at 1.0 either way.
    """
    if expected_docs is not None and segments is None:
        segments, subset_size = simhash_blocking_plan(expected_docs, max_hamming)
    elif segments is None:
        segments = 8
    fp = simhash_fingerprints(docs, text_col, id_col)
    cands = simhash_blocked_candidates(fp, id_col, segments, subset_size)
    return cands.filter(F.col("hamming") <= max_hamming)


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_rows: list | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid, MAP-ONLY.  Output: (id, vec, centroid_id).

    Centroids are the coarse quantizer — control-plane small by
    definition (10^1-10^3 rows) — so they are materialized once on the
    driver and inlined into a per-row argmax.  The previous form
    (crossJoin x num_centroids + row_number window) replicated every
    fact row ``num_centroids`` times AND paid a full shuffle for the
    per-id argmax; this computes the same assignment (ties -> lowest
    centroid_id) with zero shuffle and zero row amplification, which is
    the only shape that survives 100 TB.  Low dim stays in codegen via
    an array-of-structs argmax; high dim (> :data:`EXPR_PROJECTION_MAX_DIM`)
    runs one BLAS matmul per Arrow batch.

    At 100 TB the assignment is written once as a bucketed layout;
    queries then scan only the probed buckets.
    """
    rows = (
        centroid_rows
        if centroid_rows is not None
        else centroids.select("centroid_id", "centroid_vec").collect()
    )
    # NULL embeddings are an acknowledged input class (failed embedding
    # calls); a NULL cannot act as a quantizer cell, so it is skipped
    # rather than crashing the driver-side materialization
    cents = sorted(
        (r.centroid_id, list(r.centroid_vec)) for r in rows if r.centroid_vec is not None
    )
    if not cents:
        raise ValueError("ivf_assign: empty centroid set (or all centroid vectors NULL)")
    dim = len(cents[0][1])
    if dim <= EXPR_PROJECTION_MAX_DIM:
        structs = [
            F.struct(
                V.cosine_similarity(F.col(vec_col), V.literal_vector(vec)).alias("s"),
                F.lit(-cid).alias("nid"),  # max(-id) == min(id) on sim ties
            )
            for cid, vec in cents
        ]
        best = F.array_max(F.array(*structs))
        return emb.select(id_col, *keep, vec_col).withColumn(
            "centroid_id", (-best["nid"]).cast("long")
        )

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray([v for _, v in cents], dtype="float64")  # (m, dim), id-sorted
    cnorm = np.linalg.norm(cmat, axis=1)
    cids = np.asarray([cid for cid, _ in cents], dtype="int64")

    @pandas_udf("long")
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        raw = vecs.to_numpy()
        null_mask = vecs.isna().to_numpy()
        mat = np.vstack(
            [np.zeros(cmat.shape[1]) if m else v for m, v in zip(null_mask, raw)]
        ).astype("float64")
        denom = np.linalg.norm(mat, axis=1)[:, None] * cnorm[None, :]
        sims = np.divide(mat @ cmat.T, denom, out=np.full((len(mat), len(cids)), -2.0),
                         where=denom > 0)
        # argmax returns the FIRST max -> lowest centroid_id wins ties;
        # NULL/zero-norm vectors score -2 everywhere and land on the
        # lowest id, same as the expression twin's null-struct ordering
        return pd.Series(cids[np.argmax(sims, axis=1)])

    return emb.select(id_col, *keep, vec_col).withColumn("centroid_id", assign(F.col(vec_col)))


def kmeans_refine(
    emb: DataFrame,
    centroids: DataFrame,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd refinement of the IVF coarse quantizer: assign -> per-
    cluster mean -> repeat.  Returns (centroid_id, centroid_vec).

    The seed centroids (first-N table vectors) give a correct but
    unbalanced quantizer; a few Lloyd steps equalize cluster sizes so
    nprobe buckets carry comparable candidate counts — better
    recall-per-scanned-vector.  Each iteration is one map-only
    assignment (:func:`ivf_assign`) plus ONE aggregation: the per-
    cluster mean is computed with ``posexplode`` + groupBy on
    (centroid, dimension index) — partial aggregation does the heavy
    sum map-side, so the shuffle carries num_centroids x dim rows, not
    vectors.  Iteration count is a fixed small constant (driver loop,
    no convergence collect) — the standard shape for iterative
    algorithms on Spark.  Empty clusters keep their previous centroid
    (the classic Lloyd guard).
    """
    current = centroids
    for _ in range(iterations):
        assigned = ivf_assign(emb, current, id_col, vec_col)
        dims = assigned.select(
            "centroid_id", F.posexplode(vec_col).alias("d", "x")
        )
        means = (
            dims.groupBy("centroid_id", "d")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("dm"))
            .select(
                "centroid_id",
                F.transform(F.col("dm"), lambda s: s["m"]).alias("centroid_vec"),
            )
        )
        # empty clusters: fall back to the previous centroid
        prev = current.select(
            "centroid_id", F.col("centroid_vec").alias("__prev_vec")
        )
        current = (
            prev.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("centroid_vec"), F.col("__prev_vec")).alias("centroid_vec"),
            )
        )
        # each iteration's assignment depends on the materialized previous
        # centroids; they are tiny — cut lineage growth across iterations
        current = current.localCheckpoint(eager=True)
    return current


def ivf_topk(
    emb: DataFrame,
    query_vec,
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 0,
) -> DataFrame:
    """IVF-style ANN top-k: probe the ``nprobe`` centroids nearest the
    query and scan only their buckets.

    Centroids are deterministic: the first ``num_centroids`` vectors of
    the table act as coarse seeds; ``refine_iterations`` > 0 runs that
    many Lloyd steps (:func:`kmeans_refine`) to balance the buckets
    before assignment.  Recall vs brute force is validated in tests; at
    nprobe=num_centroids this degrades gracefully to exact search.
    """
    centroids = emb.filter(F.col(id_col) < num_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid_vec")
    )
    if refine_iterations > 0:
        centroids = kmeans_refine(emb, centroids, refine_iterations, id_col, vec_col)
    # ONE centroid collect serves the assignment kernel AND the dim
    # probe for the scoring-path choice — no separate emb.first() job
    centroid_rows = centroids.select("centroid_id", "centroid_vec").collect()
    assigned = ivf_assign(emb, centroids, id_col, vec_col, centroid_rows=centroid_rows)

    spark = emb.sparkSession
    qdf = spark.range(1).select(query_vec.alias("qvec"))
    probe = (
        centroids.crossJoin(F.broadcast(qdf))
        .select(
            "centroid_id",
            V.cosine_similarity(F.col("centroid_vec"), F.col("qvec")).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("centroid_id"))
        .limit(nprobe)
        .select("centroid_id")
    )
    candidates = assigned.join(F.broadcast(probe), "centroid_id").crossJoin(
        F.broadcast(qdf)
    )
    # dim-aware exact scoring over the probed buckets (same split as the
    # banding/verify paths: codegen HOF at low dim, Arrow kernel above).
    # The branch must be STATIC — a `when` would still ship every row
    # through the extracted Python-UDF projection node.  Dim comes from
    # the already-collected centroids (same table), not an extra job.
    dim = next(
        (len(r.centroid_vec) for r in centroid_rows if r.centroid_vec is not None), 0
    )
    if dim <= EXPR_PROJECTION_MAX_DIM:
        sim = V.cosine_similarity(F.col(vec_col), F.col("qvec"))
    else:
        sim = _cosine_pairs_pandas(F.col(vec_col), F.col("qvec"))
    return (
        candidates.select(id_col, F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]


#: Above this dimensionality the projection moves from Column
#: expressions to an Arrow-batched numpy matmul.  The expression form
#: embeds bands*bits*dim literal nodes in the plan — measured 167 s of
#: ANALYSIS time alone at dim=1536 (8x4 bands) vs ~0.1 s for the
#: pandas_udf plan, and the interpreted HOF evaluation loses to BLAS by
#: orders of magnitude at that width.  At <=128 dims the expression
#: form stays (codegen-friendly, no Python worker in the plan).
EXPR_PROJECTION_MAX_DIM = 128

#: the expression path's cost is planes x dim PER ROW (every hyperplane
#: dot is an interpreted HOF over the vector); past this product the
#: Arrow/BLAS kernel wins even at low dim — e.g. the scale-planned
#: 64-band x 7-bit banding is 448 planes, 28k multiply-adds/row as
#: expressions (measured 34 s at sf0.01) vs one (n x dim)@(dim x 448)
#: matmul per batch.
EXPR_PROJECTION_BUDGET = 4096


def _lsh_bands_pandas(
    emb: DataFrame,
    vec_col: str,
    dim: int,
    bands: int,
    bits_per_band: int,
    seed: int,
    keep: tuple[str, ...],
) -> DataFrame:
    """High-dim banded projection: one vectorized matmul per Arrow batch.

    Bit semantics match the expression path (bit j of band bi set when
    planes[bi*bits+j] . v >= 0), pinned by a parity test — identical
    (band, bucket) assignments on all tested inputs.  Caveat: numpy's
    matmul sums in a different order than the Column-expression fold,
    so a projection within an ulp of 0.0 could sign differently between
    the paths.  Harmless while the path is selected statically by dim
    for a whole call; if band assignments are ever PERSISTED and mixed
    across paths, quantize the dots before the sign test.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = np.asarray(_hyperplanes(dim, bands * bits_per_band, seed))  # (P, dim)
    weights = (1 << np.arange(bits_per_band)).astype("int64")  # bit j -> 2^j

    @pandas_udf("array<long>")
    def band_buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        raw = vecs.to_numpy()
        null_mask = vecs.isna().to_numpy()
        mat = np.vstack(
            [np.zeros(dim) if m else v for m, v in zip(null_mask, raw)]
        ).astype("float64")  # (n, dim)
        signs = (mat @ planes.T) >= 0.0  # (n, bands*bits)
        per_band = signs.reshape(len(mat), bands, bits_per_band)
        buckets = (per_band * weights).sum(axis=2).astype("int64")  # (n, bands)
        # NULL vector -> all-zero buckets, matching the expression twin
        # (null projection falls through when()'s otherwise(0) per bit)
        buckets[null_mask] = 0
        return pd.Series(list(buckets))

    return emb.select(
        *keep, vec_col, F.posexplode(band_buckets(F.col(vec_col))).alias("band", "bucket")
    )


def _cosine_pairs_pandas(a, b):
    """Exact pairwise cosine as an Arrow-batched numpy kernel — the
    high-dim twin of :func:`car_etl_spark.functions.vectors.cosine_similarity`
    (same double-precision math; row-wise dot / norms per batch).

    NULL semantics match the expression twin exactly: a zero-norm or
    NULL vector yields SQL NULL, never NaN — Spark orders NaN ABOVE
    every number and `NaN >= t` is true, so a NaN here would push
    garbage rows into top-k results and threshold filters (the
    expression form's `when(denom > 0, ...)` falls through to NULL,
    which drops out of both)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_cosine(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        null_mask = va.isna().to_numpy() | vb.isna().to_numpy()
        dim = len(next(v for v in va.to_numpy() if v is not None)) if (~null_mask).any() else 1
        zero = np.zeros(dim)
        ma = np.vstack([zero if m else v for m, v in zip(null_mask, va.to_numpy())]).astype("float64")
        mb = np.vstack([zero if m else v for m, v in zip(null_mask, vb.to_numpy())]).astype("float64")
        dots = (ma * mb).sum(axis=1)
        denom = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        ok = (denom > 0) & ~null_mask
        vals = np.divide(dots, denom, out=np.zeros(len(ma)), where=ok)
        # nullable Float64 so masked entries arrive as SQL NULL through Arrow
        return pd.Series(vals).astype("Float64").mask(~ok, pd.NA)

    return pair_cosine(a, b)


def embedding_lsh_bands(
    emb: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    bands: int = 8,
    bits_per_band: int = 4,
    seed: int = 42,
    *keep: str,
) -> DataFrame:
    """Banded random-hyperplane LSH: one (band, bucket) row per band.

    Per-band collision prob for cosine s is ``(1 - acos(s)/pi)^bits``;
    recall is ``1 - (1 - p)^bands``.  Tune bits_per_band UP for
    high-threshold dedup (0.9 -> 8 bands x 4 bits ~ 0.998 recall) and
    DOWN for low-threshold similarity joins.  Output explodes |emb| x
    bands rows — the band join downstream is the only shuffle.

    Projection strategy is dim-aware: pure Column expressions up to
    :data:`EXPR_PROJECTION_MAX_DIM` (whole-stage codegen, no Python in
    the plan), Arrow-batched numpy matmul above it (at the reference's
    1536-dim embeddings the expression plan alone takes minutes to
    analyze; a batched BLAS matmul is the only shape that survives).
    """
    if dim > EXPR_PROJECTION_MAX_DIM or dim * bands * bits_per_band > EXPR_PROJECTION_BUDGET:
        return _lsh_bands_pandas(emb, vec_col, dim, bands, bits_per_band, seed, keep)
    planes = _hyperplanes(dim, bands * bits_per_band, seed)
    band_structs = []
    for bi in range(bands):
        bits = []
        for j in range(bits_per_band):
            plane = planes[bi * bits_per_band + j]
            proj = V.dot(F.col(vec_col), F.array(*[F.lit(x) for x in plane]))
            bits.append(
                F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                    F.lit(0).cast("long")
                )
            )
        bucket = bits[0]
        for c in bits[1:]:
            bucket = bucket.bitwiseOR(c)
        band_structs.append(
            F.struct(F.lit(bi).alias("band"), bucket.alias("bucket"))
        )
    return emb.select(
        *keep, vec_col, F.explode(F.array(*band_structs)).alias("bb")
    ).select(*keep, vec_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def embedding_lsh_plan(
    expected_n: int,
    threshold: float,
    target_recall: float = 0.95,
    bucket_load: int = 4,
    max_bands: int = 64,
) -> tuple[int, int, float]:
    """Choose ``(bands, bits_per_band, achieved_recall)`` from the
    expected corpus size — the scale-aware replacement for a fixed
    4-bit band whose 16-value key space degenerates to O(n^2/16)
    candidates at large n.

    ``bits_per_band = ceil(log2(n / bucket_load))`` keeps expected
    bucket occupancy ~``bucket_load`` on direction-uniform corpora, so
    per-band candidate volume stays O(n · load) instead of O(n^2).
    Bands then solve ``1 - (1 - p^bits)^bands >= target_recall`` with
    ``p = 1 - acos(threshold)/pi`` (per-bit collision probability at
    the threshold similarity), capped at ``max_bands`` — the cap binds
    exactly when the threshold is too LOW for LSH to be efficient
    (p^bits vanishes), in which case the achieved recall in the return
    value says so instead of the band count exploding.  The returned
    recall is the guarantee AT the threshold; higher-similarity pairs
    always collide more.
    """
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    bits = max(4, math.ceil(math.log2(max(2.0, expected_n / bucket_load))))
    pb = p**bits
    if pb >= 1.0:
        bands = 1
    else:
        want = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pb)))
        bands = min(max_bands, want)
    achieved = 1.0 - (1.0 - pb) ** bands
    return bands, bits, achieved


def embedding_near_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    bands: int = 8,
    bits_per_band: int = 4,
) -> DataFrame:
    """Embedding near-dup: banded hyperplane bucket join, then exact
    cosine verification of candidates (precision 1.0; recall set by the
    band/bits configuration).

    Shuffle discipline: the band join and pair dedup move ONLY
    (id, band, bucket) — at the reference's 1536-dim embeddings a
    vector is ~12 KB, and carrying (va, vb) through the join + distinct
    (the previous form) shuffled two payload vectors per candidate pair;
    measured 398 s for 2k vectors / ~10^5 candidates vs ~9 s for the
    id-only form.  Vectors re-attach afterwards via two joins against
    the (narrow) source — at scale those co-partition on id.

    The verify step is dim-aware like the banding: HOF cosine inside
    codegen at low dim, Arrow-batched numpy above
    :data:`EXPR_PROJECTION_MAX_DIM` (interpreted HOF evaluation is the
    dominant cost at 1536 dims)."""
    banded = embedding_lsh_bands(emb, vec_col, dim, bands, bits_per_band, 42, id_col)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # norms STAGED per row before the pair join: the threshold filter
    # lands in the join condition, where an inline cosine would run
    # five HOF aggregates per candidate (dot + norms twice) — staging
    # leaves one (the dot), with bit-identical arithmetic (sqrt of
    # self-dot per side, then dot/(na*nb)).
    # r12: vectors+norms are built ONCE for the candidate-bounded id
    # set and localCheckpointed — the previous form joined the FULL
    # source table per pair side, re-scanning it (and at scale
    # shuffling every vector by id) twice to attach a handful of
    # candidate payloads.  Same values, one bounded materialization.
    cand_ids = candidate_id_frame(cand, id_col, cand.count())
    needed = (
        emb.join(cand_ids, id_col, "left_semi")
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
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    if dim > EXPR_PROJECTION_MAX_DIM:
        sim = _cosine_pairs_pandas(F.col("va"), F.col("vb"))
    else:
        denom = F.col("__na") * F.col("__nb")
        sim = F.when(
            denom > 0, V.dot(F.col("va"), F.col("vb")) / denom
        )
    return (
        pairs.select("id_a", "id_b", F.round(sim, 6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document sketch)


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """MOSS-style winnowing sketch: per document, the DISTINCT minima of
    k-token rolling hashes over every ``window``-length hash window.

    Guarantee (the winnowing theorem): any shared token run of length
    >= k + window - 1 between two documents contributes at least one
    common fingerprint — the content-local min selection makes the
    sketch robust to where the shared run sits in each document, which
    positional/tiled sampling is not.

    Plan shape (100 TB-safe, zero Python): posexplode tokens -> one
    window sort per doc reused twice — ``lead`` chains assemble each
    k-shingle in codegen (no per-row array slicing) and a rows-between
    running ``min`` selects the winnowed hash — then DISTINCT collapses
    to the sketch.  One shuffle (the per-doc sort); sketch size is
    ~2/(window+1) of the shingle count.  Output: (id, fp).
    """
    from pyspark.sql import Window as W

    toked = docs.select(id_col, T.tokenize(F.lower(F.col(text_col))).alias("__toks"))
    posed = toked.select(id_col, F.posexplode("__toks").alias("pos", "tok"))
    worder = W.partitionBy(id_col).orderBy("pos")
    parts = [F.lead("tok", i).over(worder) for i in range(1, k)]
    shingled = posed.select(
        id_col,
        "pos",
        F.xxhash64(F.concat_ws(" ", F.col("tok"), *parts)).alias("h"),
        F.lead("tok", k - 1).over(worder).alias("__last"),
    ).filter(F.col("__last").isNotNull())  # positions with a full k-shingle
    wmin = W.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    wdoc = W.partitionBy(id_col)
    # select minima of FULL windows only — partial trailing windows would
    # emit tail-biased extra fingerprints beyond the winnowing spec; a
    # document with fewer than `window` shingles keeps its single
    # whole-document minimum (pos 0) so short docs still sketch
    sel = shingled.select(
        id_col,
        "pos",
        F.min("h").over(wmin).alias("fp"),
        F.max("pos").over(wdoc).alias("__maxpos"),
    )
    full = F.col("pos") <= F.col("__maxpos") - (window - 1)
    short_doc = (F.col("__maxpos") < window - 1) & (F.col("pos") == 0)
    return sel.filter(full | short_doc).select(id_col, "fp").distinct()


def winnow_match_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Cross-document content-overlap candidates from winnowing sketches
    (the plagiarism/boilerplate-detection read path): self-join the
    sketch table on fp, count shared fingerprints per pair.

    Same scale discipline as the LSH paths: the join moves (id, fp)
    only, pair volume is bounded by real shared content (not corpus^2),
    and a downstream exact check can verify candidates.
    """
    fps = winnow_fingerprints(docs, text_col, id_col, k, window)
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
