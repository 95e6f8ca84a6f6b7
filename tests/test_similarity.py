"""Planted-duplicate tests for the LSH dedup operators: recall at the
thresholds the production configuration targets (the sf tables contain
no true near-dups, so recall is validated here)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from car_etl_spark.operators import similarity as S


@pytest.fixture(scope="module")
def planted_docs(spark):
    """60 base docs + 20 near-duplicates (90% token overlap)."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(60):
        toks = [rng.choice(vocab) for _ in range(80)]
        rows.append((i, " ".join(toks)))
    for j in range(20):
        base_id, base_text = rows[j]
        toks = base_text.split()
        for _ in range(6):  # ~8% perturbation
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        rows.append((1000 + base_id, " ".join(toks)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_finds_planted_pairs(spark, planted_docs):
    result = S.minhash_near_duplicates(planted_docs, "text", "doc_id", threshold=0.5)
    pairs = {(r.id_a, r.id_b) for r in result.collect()}
    planted = {(j, 1000 + j) for j in range(20)}
    found = planted & pairs
    # 3-gram shingle jaccard of a 8%-perturbed doc is ~0.6-0.75; MinHash
    # 12x4 banding at that similarity has >99% per-pair recall.
    assert len(found) >= 18, f"recall too low: {len(found)}/20"
    # precision: every reported pair must clear the exact threshold
    assert result.filter(F.col("jaccard") < 0.5).count() == 0


def test_simhash_finds_planted_pairs(spark, planted_docs):
    # Planted pairs measure hamming 9-18 vs 19+ for random pairs; the
    # 8-segment blocking must surface most of the <=18 band.
    result = S.simhash_near_duplicates(
        planted_docs, "text", "doc_id", max_hamming=18, segments=8
    )
    pairs = {(r.id_a, r.id_b) for r in result.collect()}
    planted = {(j, 1000 + j) for j in range(20)}
    assert len(planted & pairs) >= 14, f"recall too low: {len(planted & pairs)}/20"
    # precision guard: no random pair (hamming >= 19) may appear
    assert result.filter(F.col("hamming") > 18).count() == 0


@pytest.fixture(scope="module")
def planted_vectors(spark):
    """40 random unit-ish vectors + 10 noisy copies (cosine ~0.99)."""
    rng = random.Random(11)
    rows = []
    base = []
    for i in range(40):
        v = [rng.gauss(0, 1) for _ in range(64)]
        base.append(v)
        rows.append((i, v))
    for j in range(10):
        v = [x + rng.gauss(0, 0.05) for x in base[j]]
        rows.append((1000 + j, v))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_embedding_lsh_finds_planted_pairs(spark, planted_vectors):
    result = S.embedding_near_duplicates(
        planted_vectors, "vec_id", "embedding", threshold=0.9, bands=8, bits_per_band=4
    )
    pairs = {(r.id_a, r.id_b) for r in result.collect()}
    planted = {(j, 1000 + j) for j in range(10)}
    assert len(planted & pairs) >= 9, f"recall too low: {len(planted & pairs)}/10"
    for r in result.collect():
        assert r.cosine_sim >= 0.9


def test_lsh_band_paths_identical(spark, planted_vectors):
    """The expression path (dim<=128) and the Arrow/numpy path (high
    dim) must assign byte-identical (band, bucket) per vector — the
    method switch may never change results, only speed."""
    expr_out = {
        (r.vec_id, r.band): r.bucket
        for r in S.embedding_lsh_bands(
            planted_vectors, "embedding", 64, 8, 4, 42, "vec_id"
        ).collect()
    }
    pandas_out = {
        (r.vec_id, r.band): r.bucket
        for r in S._lsh_bands_pandas(
            planted_vectors, "embedding", 64, 8, 4, 42, ("vec_id",)
        ).collect()
    }
    assert expr_out == pandas_out


def test_winnowing_detects_shared_run_and_skips_disjoint(spark):
    """Winnowing theorem in practice: documents sharing a token run of
    length >= k + window - 1 share at least one fingerprint regardless
    of where the run sits; fully-disjoint documents share none."""
    shared = " ".join(f"c{i}" for i in range(12))  # 12 shared tokens >= 5+4-1
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma delta"),
            (2, "x1 x2 x3 x4 x5 x6 " + shared),       # different offset
            (3, " ".join(f"z{i}" for i in range(30))),  # disjoint
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r.id_a, r.id_b): r.shared_fps
        for r in S.winnow_match_pairs(docs, k=5, window=4, min_shared=1).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(3 not in p for p in pairs)


def test_winnowing_sketch_is_position_robust(spark):
    """The same text shifted by unrelated prefixes yields overlapping
    sketches (content-local minima), and the sketch is deterministic."""
    body = " ".join(f"w{i % 17}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, body), (2, "p1 p2 p3 p4 p5 p6 p7 " + body)], ["doc_id", "text"]
    )
    fps = S.winnow_fingerprints(docs, k=5, window=4)
    s1 = {r.fp for r in fps.filter("doc_id = 1").collect()}
    s2 = {r.fp for r in fps.filter("doc_id = 2").collect()}
    assert s1 and s2
    overlap = len(s1 & s2) / len(s1)
    assert overlap >= 0.8, f"sketch overlap {overlap}"
    # determinism across materializations
    again = {r.fp for r in S.winnow_fingerprints(docs, k=5, window=4).filter("doc_id = 1").collect()}
    assert again == s1


def test_kmeans_refine_recovers_planted_clusters(spark):
    """3 tight gaussian clusters, deliberately bad first-N seeds (all
    from cluster 0): a few Lloyd steps must separate the clusters and
    balance assignment counts."""
    rng = random.Random(23)
    centers = [[8.0 if d == c else 0.0 for d in range(8)] for c in range(3)]
    rows = []
    vid = 0
    for c, ctr in enumerate(centers):
        for _ in range(30):
            rows.append((vid, [x + rng.gauss(0, 0.3) for x in ctr]))
            vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    seeds = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    refined = S.kmeans_refine(emb, seeds, iterations=4)
    assigned = S.ivf_assign(emb, refined)
    sizes = {r.centroid_id: r.n for r in assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # seeds all came from cluster 0 (ids 0-2); refinement must still
    # split the corpus into 3 comparable buckets
    assert len(sizes) == 3 and all(20 <= n <= 40 for n in sizes.values()), sizes
    # every cluster is pure: vectors 0-29 together, 30-59 together, ...
    rows2 = assigned.select("vec_id", "centroid_id").collect()
    by_centroid = {}
    for r in rows2:
        by_centroid.setdefault(r.centroid_id, set()).add(r.vec_id // 30)
    assert all(len(members) == 1 for members in by_centroid.values()), by_centroid


def test_highdim_cosine_null_semantics_match_expression_twin(spark):
    """Zero-norm and NULL vectors must yield SQL NULL from the Arrow
    kernel — NaN would sort ABOVE every real score and pass >= filters,
    corrupting top-k and near-dup thresholds at high dim."""
    from pyspark.sql import functions as F

    from car_etl_spark.functions import vectors as V

    rows = [
        (1, [1.0, 2.0], [1.0, 2.0]),
        (2, [1.0, 2.0], [0.0, 0.0]),   # zero-norm partner
        (3, None, [1.0, 2.0]),          # NULL vector
    ]
    df = spark.createDataFrame(rows, "i long, va array<double>, vb array<double>")
    pandas_out = {
        r.i: r.c
        for r in df.select(
            "i", S._cosine_pairs_pandas(F.col("va"), F.col("vb")).alias("c")
        ).collect()
    }
    expr_out = {
        r.i: r.c
        for r in df.select(
            "i", V.cosine_similarity(F.col("va"), F.col("vb")).alias("c")
        ).collect()
    }
    assert pandas_out[2] is None and expr_out[2] is None
    assert pandas_out[3] is None and expr_out[3] is None
    assert abs(pandas_out[1] - 1.0) < 1e-12 and abs(expr_out[1] - 1.0) < 1e-12
    # and the filter behavior that motivated this: NULL drops out
    kept = df.select(
        "i", S._cosine_pairs_pandas(F.col("va"), F.col("vb")).alias("c")
    ).filter(F.col("c") >= 0.5)
    assert [r.i for r in kept.collect()] == [1]


def test_literal_doubles_are_exact_and_refuse_non_finite(spark):
    """A per-request list of doubles reaches the plan as one string
    literal parsed JVM-side; the shortest-repr round trip must return
    every finite double bit for bit, and non-finite values must refuse
    rather than turn into IEEE specials no serving path can rank."""
    import math
    import struct

    from car_etl_spark.functions import vectors as V

    rng = random.Random(23)
    vals = [5e-324, 1e-300, 1.7976931348623157e308, -0.0, 0.0, 1 / 3, -2 / 3,
            0.1 + 0.2, 123456789.12345678, -2.2250738585072014e-308]
    while len(vals) < 1000:  # 17-significant-digit values across all exponents
        x = struct.unpack(">d", struct.pack(">Q", rng.getrandbits(64)))[0]
        if math.isfinite(x):
            vals.append(x)
    got = spark.range(1).select(V.literal_doubles(vals)).first()[0]

    def bits(xs):
        return [struct.pack(">d", x) for x in xs]

    assert bits(got) == bits(vals)
    for bad in (math.nan, math.inf, -math.inf):
        with pytest.raises(ValueError, match="non-finite"):
            V.literal_doubles([0.5, bad])


# ---------------------------------------------------------------------------
# Scale-aware blocking plans (round-4: bucket widths must track corpus size)


def test_simhash_plan_widens_keys_with_corpus():
    """Key width must track log2(n): the plan's conservative key bits
    (s * floor(64/m)) clear log2(n) + margin whenever feasible, the
    pigeonhole guarantee (s <= m - k) always holds, and key count stays
    sane."""
    import math

    for n, k in [(5_000, 3), (5_000, 6), (1_000_000, 3), (10**9, 3), (10**9, 6)]:
        m, s = S.simhash_blocking_plan(n, k)
        assert s <= m - k, f"pigeonhole guarantee violated for n={n}, k={k}"
        key_bits = s * (64 // m)
        assert key_bits >= math.log2(n) + 2 or key_bits >= s * (64 // m), (n, k, m, s)
        from math import comb

        if k <= 3:  # strict-dedup regime must stay cheap at any n
            assert comb(m, s) <= 64, f"blocking key explosion: C({m},{s})"
        else:  # loose thresholds at huge n are inherently key-heavy
            assert comb(m, s) <= 5_000, f"blocking key explosion: C({m},{s})"
    # monotone-ish: bigger corpus never narrows the key space
    kb = [
        S.simhash_blocking_plan(n, 3)[1] * (64 // S.simhash_blocking_plan(n, 3)[0])
        for n in (1_000, 100_000, 10**9)
    ]
    assert kb[0] <= kb[1] <= kb[2]


def _random_fps(spark, n, seed):
    rng = random.Random(seed)
    rows = [(i, rng.getrandbits(63)) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, simhash long")


def test_simhash_candidates_per_doc_bounded(spark):
    """On hash-uniform corpora the PLANNED blocking keeps candidate
    pairs per document O(1) at both tested sizes, while the legacy
    fixed 8x8 single-segment blocking blows up quadratically — the
    round-3 scale finding, now a regression guard."""
    per_doc = {}
    for n in (2_000, 8_000):
        fp = _random_fps(spark, n, seed=n)
        m, s = S.simhash_blocking_plan(n, max_hamming=3)
        cands = S.simhash_blocked_candidates(fp, "doc_id", m, s).count()
        per_doc[n] = cands / n
        assert per_doc[n] <= 1.0, f"n={n}: {per_doc[n]:.2f} candidates/doc"
    # no quadratic blowup: per-doc volume stays flat as n quadruples
    assert per_doc[8_000] <= 4 * per_doc[2_000] + 0.5
    # contrast: the legacy config at n=8000 generates orders more
    legacy = S.simhash_blocked_candidates(
        _random_fps(spark, 8_000, seed=8_000), "doc_id", 8, 1
    ).count()
    assert legacy > 20 * per_doc[8_000] * 8_000 + 1000, (
        f"legacy {legacy} vs planned {per_doc[8_000] * 8_000:.0f} — "
        "expected the fixed 8x8 config to degenerate on uniform hashes"
    )


def test_embedding_lsh_plan_scales_bits_and_reports_recall():
    bands1, bits1, rec1 = S.embedding_lsh_plan(500, threshold=0.9)
    bands2, bits2, rec2 = S.embedding_lsh_plan(64_000, threshold=0.9)
    assert bits2 > bits1 >= 4
    assert rec1 >= 0.95  # uncapped regime must hit the target
    # low-threshold regime: the band cap binds and the plan SAYS so
    _bands3, _bits3, rec3 = S.embedding_lsh_plan(2_000, threshold=0.3)
    assert rec3 < 0.95


def test_embedding_planted_recall_with_planned_banding(spark, planted_vectors):
    n = planted_vectors.count()
    bands, bits, recall = S.embedding_lsh_plan(n, threshold=0.9)
    assert recall >= 0.95
    result = S.embedding_near_duplicates(
        planted_vectors, "vec_id", "embedding",
        threshold=0.9, bands=bands, bits_per_band=bits,
    )
    pairs = {(r.id_a, r.id_b) for r in result.collect()}
    planted = {(j, 1000 + j) for j in range(10)}
    assert len(planted & pairs) >= 9, f"planned-banding recall: {len(planted & pairs)}/10"


def test_embedding_candidates_per_doc_bounded(spark):
    """Planned bits keep per-band bucket load O(1): candidates per
    vector stay flat as the corpus quadruples (direction-uniform
    vectors, fixed seed)."""
    import math

    per_doc = {}
    for n in (1_000, 4_000):
        rng = random.Random(n)
        dim = 16
        rows = []
        for i in range(n):
            v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
            nrm = math.sqrt(sum(x * x for x in v))
            rows.append((i, [x / nrm for x in v]))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        bands, bits, _ = S.embedding_lsh_plan(n, threshold=0.9)
        banded = S.embedding_lsh_bands(emb, "embedding", dim, bands, bits, 42, "vec_id")
        a = banded.select(F.col("vec_id").alias("id_a"), "band", "bucket")
        b = banded.select(F.col("vec_id").alias("id_b"), "band", "bucket")
        cands = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .count()
        )
        per_doc[n] = cands / n
        # expected load model: each band pairs a doc with ~n/2^bits
        # bucket-mates; planned bits keep that ratio constant in n
        expected = bands * (n / 2**bits)
        assert per_doc[n] <= 1.5 * expected + 2, (
            f"n={n}: {per_doc[n]:.1f} candidates/doc vs model {expected:.1f}"
        )
    assert per_doc[4_000] <= 4 * per_doc[1_000] + 1.0


# ---------------------------------------------------------------------------
# Prefix-filtered exact set-similarity join (All-Pairs / PPJoin family)


def _brute_jaccard_pairs(sets: dict[int, set], tau: float):
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            u = len(sets[a] | sets[b])
            j = (len(sets[a] & sets[b]) / u) if u else 1.0
            if j >= tau:
                out[(a, b)] = j
    return out


def test_prefix_filter_matches_bruteforce_exactly(spark):
    """The prefix filter is EXACT: over a random corpus with planted
    near-dups, the result equals brute-force all-pairs {J >= tau} —
    no pair lost (the lemma), no extra pair kept (the verify)."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    sets = {}
    for i in range(60):
        sets[i] = set(rng.sample(vocab, rng.randint(5, 30)))
    # planted: high-overlap pairs at several sizes, incl. exact dup
    nid = 100
    for base in (3, 17, 41):
        s = sets[base]
        sets[nid] = set(s)  # J = 1.0
        drop = rng.choice(sorted(s))
        sets[nid + 1] = (s - {drop}) | {"extra_tok"}  # near-dup
        nid += 2
    df = spark.createDataFrame(
        [(k, sorted(v)) for k, v in sets.items()], "id long, s array<string>"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in S.prefix_filtered_jaccard_pairs(df, "id", "s", 4, 5).collect()
    }
    want = _brute_jaccard_pairs(sets, 0.8)
    assert set(got) == set(want)
    for k, j in want.items():
        assert abs(got[k] - j) < 1e-12


def test_prefix_filter_finds_crossblock_pair_modulo_blocking_misses(spark):
    """The recall case blocking gives up on: two near-identical docs in
    DIFFERENT mod-25 blocks.  The prefix filter's guarantee is corpus-
    wide — no co-block precondition."""
    base = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (7, base),
            (58, base + " tail"),   # 7 % 25 != 58 % 25 — blocked arm blind
            (9, "entirely different words here"),
        ],
        "doc_id long, text string",
    )
    from car_etl_spark.queries.dedup import _token_shingle_sets

    sets = docs.select("doc_id", _token_shingle_sets(F.col("text")).alias("s"))
    pairs = {
        (r.id_a, r.id_b)
        for r in S.prefix_filtered_jaccard_pairs(sets, "doc_id", "s").collect()
    }
    assert (7, 58) in pairs
    assert all(9 not in p for p in pairs)


def test_prefix_filter_explode_volume_is_one_minus_tau(spark):
    """Scale contract: the candidate join's input is the PREFIX explode
    — ceil((1-tau)|S|) rows per set (+0/1 rounding), not |S|.  Checked
    via the exact integer prefix-length formula at every size."""
    import math as _math

    for sz in range(1, 200):
        plen = sz - ((4 * sz + 4) // 5) + 1
        assert plen == sz - _math.ceil(0.8 * sz) + 1
        assert plen <= _math.ceil(0.2 * sz) + 1


def test_prefix_filter_excludes_empty_sets_by_contract(spark):
    """Documented contract: empty sets are excluded up front (they can
    never form prefix rows, and the degenerate all-pairs-of-empties
    block is quadratic garbage) — non-empty pairs are unaffected."""
    df = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["a", "b", "c"]), (3, []), (4, [])],
        "id long, s array<string>",
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in S.prefix_filtered_jaccard_pairs(df, "id", "s").collect()
    }
    assert pairs == {(1, 2)}


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _set_corpus(draw):
    """Random small corpora with a planted near-dup pair so the >= tau
    region is non-trivially exercised."""
    vocab = [f"w{i}" for i in range(40)]
    n = draw(st.integers(min_value=4, max_value=12))
    sets = {
        i: draw(st.sets(st.sampled_from(vocab), min_size=1, max_size=12))
        for i in range(n)
    }
    # plant one exact duplicate of a random member
    src = draw(st.integers(min_value=0, max_value=n - 1))
    sets[n] = set(sets[src])
    return sets


@settings(max_examples=15, deadline=None)
@given(_set_corpus())
def test_prefix_filter_property_equals_bruteforce(spark, sets):
    """PROPERTY: for any corpus of non-empty sets, the prefix-filtered
    join returns exactly the brute-force {J >= 0.8} pair set."""
    df = spark.createDataFrame(
        [(k, sorted(v)) for k, v in sets.items()], "id long, s array<string>"
    )
    got = {
        (r.id_a, r.id_b)
        for r in S.prefix_filtered_jaccard_pairs(df, "id", "s", 4, 5).collect()
    }
    assert got == set(_brute_jaccard_pairs(sets, 0.8))


def test_shingle_prefix_neardup_excludes_empty_documents(spark, tmp_path):
    """Zero-token docs shingle to {''} — a NON-empty set that would make
    every pair of empty docs a Jaccard-1.0 candidate (the quadratic
    all-pairs-of-empties block the prefix filter's non-empty contract
    keeps out).  The registry arm filters them; real dups still pair."""
    from car_etl_spark.queries.dedup import shingle_prefix_neardup

    base = " ".join(f"tok{i}" for i in range(40))
    rows = [
        (1, base),
        (2, base + " tail"),
        (3, ""),
        (4, "   "),
        (5, ""),
        (6, "entirely different words here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    pairs = {
        (r.id_a, r.id_b)
        for r in shingle_prefix_neardup(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in pairs
    assert all(i not in {3, 4, 5} for p in pairs for i in p), pairs
