"""Materialized-index contracts: posting store + IVF layout.

Three invariant families:

1. **Serving == scan**: every serving-path query (persisted index) is
   value-identical to its build-path twin (per-call derivation from raw
   text / raw vectors) — the indexes change latency, never answers.
2. **Incremental == rebuild**: the LSM maintenance path (delta appends +
   tombstones) converges to exactly the posting table a full rebuild of
   the final corpus state produces, through mixed upsert/delete
   sequences, replays, and compaction.
3. **Exact probing prunes where it can**: the cluster-radius triangle
   bound certifies exactness everywhere (equality with brute force) and
   actually prunes partitions on clustered corpora.
"""

from __future__ import annotations

import os
import zlib

import pytest
from pyspark.sql import functions as F

from car_etl_spark.operators import indexing as IX
from car_etl_spark.queries import build_registry
from tests.conftest import SF_ORACLE, SF_SMALL


@pytest.fixture(scope="module")
def registry():
    return build_registry()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# -- 1. serving == scan ------------------------------------------------------


@pytest.mark.parametrize("sf", [SF_SMALL, SF_ORACLE])
def test_fts_serving_equals_scan(spark, registry, sf):
    from car_etl_spark.queries.fts import fts_posting_scan, fts_posting_search

    serve = fts_posting_search(spark, sf)
    scan = fts_posting_scan(spark, sf)
    assert _rows(serve) == _rows(scan)


@pytest.mark.parametrize("sf", [SF_SMALL, SF_ORACLE])
def test_keyword_serving_equals_scan(spark, registry, sf):
    from car_etl_spark.queries.textops import doc_keyword_scan, doc_keyword_search

    serve = doc_keyword_search(spark, sf)
    scan = doc_keyword_scan(spark, sf)
    assert _rows(serve) == _rows(scan)


@pytest.mark.parametrize("sf", [SF_SMALL, SF_ORACLE])
def test_ivf_serving_equals_bruteforce(spark, registry, sf):
    from car_etl_spark.queries.vector import vector_ivf_topk, vector_topk

    serve = vector_ivf_topk(spark, sf)
    brute = vector_topk(spark, sf)
    # ORDERED equality: the serving path must reproduce the exact ranking
    assert [tuple(r) for r in serve.collect()] == [tuple(r) for r in brute.collect()]


def test_term_bucket_python_spark_parity(spark):
    """The query side prunes with zlib.crc32; the store partitions with
    Spark's crc32 — one disagreement silently empties every search."""
    terms = ["spark", "window", "merge", "a", "zzz", "étude", "123", "class"]
    df = spark.createDataFrame([(t,) for t in terms], "term string").select(
        "term", IX.term_bucket_col(F.col("term")).alias("b")
    )
    got = {r.term: r.b for r in df.collect()}
    for t in terms:
        assert got[t] == IX.term_bucket_py(t) == zlib.crc32(t.encode()) % IX.DEFAULT_NUM_BUCKETS


# -- 2. incremental == rebuild ----------------------------------------------


DOCS_V0 = [
    (1, "en", "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "en", "spark joins windows merge merges merged classes"),
    (3, "de", "der schnelle braune fuchs springt"),
    (4, "en", "alpha alpha beta beta alpha repeated tokens here"),
]
# batch 1: doc 2 changes, doc 5 is new; batch 2: doc 3 deleted, doc 1 changes
DOCS_B1 = [
    (2, "en", "spark streaming state store checkpoint replay"),
    (5, "en", "entirely new document with fresh vocabulary"),
]
DOCS_B2 = [(1, "en", "alpha beta rewritten shorter")]
FINAL_DOCS = [DOCS_B2[0], DOCS_B1[0], DOCS_B1[1], DOCS_V0[3]]  # doc 3 gone


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def _live_postings(store, spark):
    df = store.read(spark).select(
        "doc_id", "lang", "raw_term", "term", "weight", "tf", "term_bucket"
    )
    return _rows(df)


@pytest.fixture()
def inc_store(spark, tmp_path):
    store = IX.PostingStore(str(tmp_path / "postings"))
    store.build(_docs_df(spark, DOCS_V0))
    return store


def _expected_final(spark, tmp_path):
    fresh = IX.PostingStore(str(tmp_path / "rebuild"))
    fresh.build(_docs_df(spark, FINAL_DOCS))
    return _live_postings(fresh, spark)


def test_incremental_equals_rebuild(spark, tmp_path, inc_store):
    assert inc_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    assert inc_store.apply_batch(spark, _docs_df(spark, DOCS_B2), [3], batch=2)
    assert _live_postings(inc_store, spark) == _expected_final(spark, tmp_path)


def test_incremental_replay_is_noop(spark, tmp_path, inc_store):
    inc_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    inc_store.apply_batch(spark, _docs_df(spark, DOCS_B2), [3], batch=2)
    before = _live_postings(inc_store, spark)
    # replayed batches short-circuit on the sentinel
    assert inc_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1) is False
    assert inc_store.apply_batch(spark, _docs_df(spark, DOCS_B2), [3], batch=2) is False
    assert _live_postings(inc_store, spark) == before


def test_half_applied_replay_does_not_double_tf(spark, tmp_path, inc_store):
    """A crash between the delta write and the sentinel leaves duplicate
    delta rows on replay; the read path's exact-duplicate drop makes the
    view identical anyway."""
    inc_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    os.remove(inc_store._sentinel(1))  # simulate crash-before-sentinel
    assert inc_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    once = IX.PostingStore(str(tmp_path / "once"))
    once.build(_docs_df(spark, DOCS_V0))
    once.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    assert _live_postings(inc_store, spark) == _live_postings(once, spark)


def test_compaction_preserves_view(spark, tmp_path, inc_store):
    inc_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    inc_store.apply_batch(spark, _docs_df(spark, DOCS_B2), [3], batch=2)
    before = _live_postings(inc_store, spark)
    inc_store.compact(spark)
    assert _live_postings(inc_store, spark) == before
    assert not store_has_files(inc_store.delta_dir)
    assert not store_has_files(inc_store.tomb_dir)


def store_has_files(d: str) -> bool:
    return os.path.isdir(d) and any(
        f.endswith(".parquet") for _r, _d, fs in os.walk(d) for f in fs
    )


def test_delete_then_readd(spark, tmp_path, inc_store):
    """Tombstone at batch b kills only rows with batch < b — a doc
    re-added in a LATER batch comes back."""
    inc_store.apply_batch(spark, None, [2], batch=1)
    gone = {r[0] for r in _live_postings(inc_store, spark)}
    assert 2 not in gone
    inc_store.apply_batch(spark, _docs_df(spark, [DOCS_V0[1]]), None, batch=2)
    back = {r[0] for r in _live_postings(inc_store, spark)}
    assert 2 in back


# -- 3. exact probing --------------------------------------------------------


def _clustered_emb(spark, n_per=40, clusters=4, dim=8):
    """Tight planted clusters: members = centroid + small orthogonal
    jitter, so cluster radii are small and the triangle bound can prune."""
    import math
    import random

    rng = random.Random(7)
    base = []
    for c in range(clusters):
        center = [0.0] * dim
        center[2 * c] = 1.0
        center[2 * c + 1] = 0.3
        for i in range(n_per):
            vec = [x + rng.gauss(0.0, 0.02) for x in center]
            nrm = math.sqrt(sum(v * v for v in vec))
            base.append((c * n_per + i, c, [v / nrm for v in vec]))
    return spark.createDataFrame(base, "vec_id long, label int, embedding array<double>")


def test_exact_probe_prunes_clustered_corpus(spark, tmp_path):
    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "ivf"))
    store.build(emb, num_centroids=4, refine_iterations=2)
    qvec = emb.filter(F.col("vec_id") == 5).select("embedding").first()[0]
    probes = store.probe_ids_exact(list(qvec), k=10)
    assert 0 < len(probes) < 4, f"bound failed to prune: {probes}"
    # certified exactness: probed top-k == brute-force top-k
    got = [tuple(r) for r in store.probe_topk(spark, list(qvec), k=10).collect()]
    from car_etl_spark.functions import vectors as V

    brute = [
        tuple(r)
        for r in emb.select(
            "vec_id",
            "label",
            F.round(
                V.cosine_similarity(F.col("embedding"), V.literal_vector(list(qvec))), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
        .collect()
    ]
    assert got == brute


def test_exact_probe_scans_all_when_unclusterable(spark):
    """On the near-random synthetic corpus the radii approach pi/2, the
    bound cannot certify pruning, and the probe set honestly widens to
    the full layout — exactness is never traded silently."""
    store = IX.ensure_ivf_index(spark, SF_SMALL)
    from car_etl_spark.queries.vector import _query_vec_list
    from car_etl_spark.tables import load_tables

    emb = load_tables(spark, SF_SMALL, ("embeddings",))["embeddings"]
    q = _query_vec_list(emb, cache_key=SF_SMALL)
    probes = store.probe_ids_exact(q, 20)
    assert len(probes) == store.meta()["num_centroids"]


def test_posting_store_matches_build_postings_rollup(spark):
    """The persisted store (grouped by raw_term) aggregates to exactly
    the stemmed posting table ``queries.fts.build_postings`` derives —
    the F20 materialization and the store are the same index."""
    from car_etl_spark.queries.fts import build_postings
    from car_etl_spark.tables import load_tables

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    store = IX.ensure_posting_index(spark, SF_SMALL)
    rolled = (
        store.read(spark)
        .groupBy("doc_id", "term", "weight")
        .agg(F.sum("tf").alias("tf"))
    )
    assert _rows(rolled) == _rows(build_postings(docs))


# -- 4. scale-derived layout constants ---------------------------------------


def test_derive_num_buckets_formula():
    """Bucket count tracks posting volume: power-of-2 steps between the
    floor (tiny corpora) and the cap (object-store fan-out bound)."""
    assert IX.derive_num_buckets(-1) == IX.DEFAULT_NUM_BUCKETS
    assert IX.derive_num_buckets(1) == IX.MIN_BUCKETS
    assert IX.derive_num_buckets(IX.TARGET_POSTINGS_PER_BUCKET * 100) == 128
    assert IX.derive_num_buckets(IX.TARGET_POSTINGS_PER_BUCKET * 129) == 256
    # 100 TB-ish: hits the cap, row-group pruning carries the rest
    assert IX.derive_num_buckets(15_000_000_000_000) == IX.MAX_BUCKETS


def test_derive_num_centroids_formula():
    assert IX.derive_num_centroids(-1) == 16  # unknown -> legacy default
    assert IX.derive_num_centroids(4) == IX.MIN_CENTROIDS
    assert IX.derive_num_centroids(10_000) == 100
    assert IX.derive_num_centroids(10_000_000_000) == IX.MAX_CENTROIDS


def test_estimate_posting_rows_footer_only():
    import os

    est = IX.estimate_posting_rows(os.path.join(SF_SMALL, "documents.parquet"))
    assert est > 0
    # sanity: within ~4x of the true token count (500 docs * ~100 toks)
    assert 10_000 < est < 400_000
    assert IX.estimate_posting_rows("/nonexistent.parquet") == -1


def test_posting_store_meta_roundtrip(spark, tmp_path):
    """A store built with a derived bucket count records it in meta.json
    and a reopened handle (no explicit count) binds to it, so the
    query-side pruning hash can never disagree with the layout."""
    store = IX.PostingStore(str(tmp_path / "p"), num_buckets=64)
    store.build(_docs_df(spark, DOCS_V0))
    reopened = IX.PostingStore(str(tmp_path / "p"))
    assert reopened.num_buckets == 64
    term = "alpha"
    b = reopened.bucket_of(term)
    got = (
        reopened.read(spark, buckets=[b])
        .filter(F.col("term") == term)
        .select("doc_id")
        .collect()
    )
    assert {r.doc_id for r in got} == {1, 4}


def _synthetic_vocab_docs(spark, n_docs=1500, vocab=4000, words_per_doc=24):
    """Deterministic many-term corpus: doc i draws words by a hash mix,
    vocabulary is digit-suffixed (stemmer-neutral)."""
    rows = []
    for i in range(n_docs):
        toks = [f"w{(i * 37 + j * 101) % vocab:05d}x" for j in range(words_per_doc)]
        rows.append((i, "en", " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_term_sorted_row_groups_prune_within_bucket(spark, tmp_path):
    """The GIN cost-∝-matched-postings property: with rows term-sorted
    inside each bucket, parquet row-group min/max statistics on ``term``
    confine a 1-term query to a small fraction of the bucket's row
    groups — the scan cost tracks matched postings, not bucket size.
    (Small row_group_bytes stands in for the default 128 MB groups a
    real corpus would produce.)"""
    import pyarrow.parquet as pq

    store = IX.PostingStore(
        str(tmp_path / "big"), num_buckets=4, row_group_bytes=8192
    )
    store.build(_synthetic_vocab_docs(spark))
    term = "w00123x"
    bucket = store.bucket_of(term)
    bucket_dir = os.path.join(store.base_dir, f"term_bucket={bucket}")
    total, overlapping = 0, 0
    for root, _dirs, files in os.walk(bucket_dir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, fn)).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            ti = names.index("term")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ti).statistics
                assert st is not None and st.has_min_max, "term stats missing"
                total += 1
                if st.min <= term <= st.max:
                    overlapping += 1
    assert total >= 10, f"corpus too small to exercise row groups ({total})"
    assert overlapping / total <= 0.2, (
        f"row-group pruning ineffective: {overlapping}/{total} groups overlap"
    )
    # and the pruned serving read still finds exactly the right docs
    expect = {
        r.doc_id
        for r in _synthetic_vocab_docs(spark)
        .filter(F.col("text").contains(term))
        .select("doc_id")
        .collect()
    }
    got = {
        r.doc_id
        for r in store.read(spark, buckets=[bucket])
        .filter(F.col("term") == term)
        .select("doc_id")
        .collect()
    }
    assert got == expect and got


@pytest.mark.parametrize("n_per,clusters", [(30, 3), (60, 6)])
def test_ivf_derived_k_exact_at_two_sizes(spark, tmp_path, n_per, clusters):
    """Derived sqrt(n) centroid counts + sampled seeds keep the probe
    certificate exact at multiple corpus sizes (verdict r4 item 2)."""
    emb = _clustered_emb(spark, n_per=n_per, clusters=clusters, dim=2 * clusters)
    n = emb.count()
    k = IX.derive_num_centroids(n)
    store = IX.IvfStore(str(tmp_path / f"ivf{n}"))
    store.build(emb, num_centroids=k, refine_iterations=2)
    assert store.meta()["num_centroids"] == k
    qvec = list(emb.filter(F.col("vec_id") == 3).select("embedding").first()[0])
    probes = store.probe_ids_exact(qvec, k=10)
    assert len(probes) < k, "derived-k layout failed to prune a clustered corpus"
    got = [tuple(r) for r in store.probe_topk(spark, qvec, k=10).collect()]
    from car_etl_spark.functions import vectors as V

    brute = [
        tuple(r)
        for r in emb.select(
            "vec_id", "label",
            F.round(
                V.cosine_similarity(F.col("embedding"), V.literal_vector(qvec)), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
        .collect()
    ]
    assert got == brute


def test_serving_search_equals_rebuild_under_maintenance(spark, tmp_path, inc_store):
    """The SERVING query form (bucket-pruned term_search) over a store
    with pending deltas+tombstones equals the same query over a full
    rebuild of the final corpus — the steady-state LSM read is
    value-invisible, not just the raw posting view."""
    from car_etl_spark.functions.text import stem_py

    inc_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    inc_store.apply_batch(spark, _docs_df(spark, DOCS_B2), [3], batch=2)
    rebuilt = IX.PostingStore(str(tmp_path / "rb"))
    rebuilt.build(_docs_df(spark, FINAL_DOCS))
    terms = [stem_py(t) for t in ("spark", "alpha", "vocabulary")]
    assert _rows(inc_store.term_search(spark, terms)) == _rows(
        rebuilt.term_search(spark, terms)
    )


def test_should_compact_policy(spark, tmp_path, inc_store):
    """Size-tiered compact policy: fresh store says no; enough delta
    volume flips it; compaction resets it."""
    assert inc_store.should_compact() is False
    # pile up delta batches until the fraction trips (small corpus, so
    # a few re-writes of the whole doc set suffice)
    b = 1
    while not inc_store.should_compact() and b < 20:
        inc_store.apply_batch(spark, _docs_df(spark, DOCS_V0), None, batch=b)
        b += 1
    assert inc_store.should_compact() is True
    inc_store.compact(spark)
    assert inc_store.should_compact() is False


def test_rebuild_clears_sentinels_and_meta_swaps_atomically(spark, tmp_path, inc_store):
    """A full rebuild must clear _applied_<batch> sentinels (a
    maintenance job restarting its batch numbering cannot be silently
    replay-no-op'ed) and the meta travels INSIDE base/ so layout and
    bucket count swap together."""
    inc_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    inc_store.build(_docs_df(spark, DOCS_V0))
    assert not os.path.exists(inc_store._sentinel(1))
    # batch 1 applies cleanly after the rebuild
    assert inc_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    assert os.path.exists(os.path.join(inc_store.base_dir, "_meta.json"))
    # a reopened handle binds to the swapped-in meta
    assert IX.PostingStore(inc_store.path).num_buckets == inc_store.num_buckets


# -- 4. BM25 serving (dl norms + exact corpus stats) --------------------------


def _py_bm25(docs, query_terms, k1=IX.BM25_K1, b=IX.BM25_B):
    """Independent literal-Python BM25 over raw doc rows — weighted tf
    and dl derived the same way the store derives them (header boost on
    the first HEADER_TOKENS positions), scores rounded HALF-UP 2 dp."""
    import math

    from car_etl_spark.functions.porter import porter_py

    tfw, dl = {}, {}
    for doc_id, _lang, text in docs:
        toks = text.lower().split()
        dl[doc_id] = 0.0
        for pos, raw in enumerate(toks):
            w = IX.HEADER_WEIGHT if pos < IX.HEADER_TOKENS else IX.BODY_WEIGHT
            dl[doc_id] += w
            t = porter_py(raw)
            if t in query_terms:
                tfw[(doc_id, t)] = tfw.get((doc_id, t), 0.0) + w
    n = len(dl)
    avgdl = sum(dl.values()) / n
    df = {}
    for (d, t) in tfw:
        df[t] = df.get(t, 0) + 1
    scores, matched = {}, {}
    for (d, t), f_ in tfw.items():
        idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
        contrib = idf * (f_ * (k1 + 1.0)) / (f_ + k1 * ((1.0 - b) + b * dl[d] / avgdl))
        scores[d] = scores.get(d, 0.0) + contrib
        matched[d] = matched.get(d, 0) + 1
    import math as m

    return {
        d: (m.floor(s * 100 + 0.5) / 100, matched[d]) for d, s in scores.items()
    }


def test_bm25_matches_literal_python(spark, tmp_path):
    """Store-served BM25 == a from-scratch literal-Python Okapi
    computation on the same corpus (norms, idf, saturation, rounding)."""
    from car_etl_spark.functions.porter import porter_py

    store = IX.PostingStore(str(tmp_path / "p"), analyzer="porter")
    store.build(_docs_df(spark, DOCS_V0))
    terms = sorted({porter_py(t) for t in ("alpha", "merges", "spark")})
    got = {
        r.doc_id: (r.rank_score, r.terms_matched)
        for r in store.bm25_search(spark, terms).collect()
    }
    assert got == _py_bm25(DOCS_V0, set(terms))
    # the hot-term df shape (tiny broadcast re-aggregate, no
    # single-partition concentration) is value-identical
    got_b = {
        r.doc_id: (r.rank_score, r.terms_matched)
        for r in store.bm25_search(spark, terms, df_via="broadcast").collect()
    }
    assert got_b == got
    with pytest.raises(ValueError, match="df_via"):
        store.bm25_search(spark, terms, df_via="nope")


def test_bm25_stats_and_scores_exact_under_maintenance(spark, tmp_path):
    """(N, Σdl) and the served BM25 scores stay EXACT through upserts,
    deletes, and compaction — equal to a fresh rebuild of the final
    corpus state (Lucene serves stale stats between merges; this store
    restamps them per batch from the doc-grain sidecar)."""
    from car_etl_spark.functions.porter import porter_py

    inc = IX.PostingStore(str(tmp_path / "porter"), analyzer="porter")
    inc.build(_docs_df(spark, DOCS_V0))
    inc.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    inc.apply_batch(spark, _docs_df(spark, DOCS_B2), [3], batch=2)
    rebuilt = IX.PostingStore(str(tmp_path / "rb-porter"), analyzer="porter")
    rebuilt.build(_docs_df(spark, FINAL_DOCS))
    assert inc.stats() == rebuilt.stats()
    terms = sorted({porter_py(t) for t in ("spark", "alpha", "vocabulary")})
    assert _rows(inc.bm25_search(spark, terms)) == _rows(
        rebuilt.bm25_search(spark, terms)
    )
    # compaction folds the sidecar and restamps identical stats
    inc.compact(spark)
    assert inc.stats() == rebuilt.stats()
    assert _rows(inc.bm25_search(spark, terms)) == _rows(
        rebuilt.bm25_search(spark, terms)
    )
    assert not store_has_files(inc.doclen_delta)


def test_bm25_rare_term_outranks_common(spark, tmp_path):
    """idf sanity: a doc matching only a RARE term outscores a doc
    matching only a COMMON term at equal tf and length."""
    docs = [
        (1, "en", "filler filler filler filler filler rare token pad pad"),
        (2, "en", "filler filler filler filler filler common token pad pad"),
        (3, "en", "filler filler filler filler filler common other pad pad"),
        (4, "en", "filler filler filler filler filler common more pad pad"),
    ]
    store = IX.PostingStore(str(tmp_path / "idf"), analyzer="porter")
    store.build(_docs_df(spark, docs))
    from car_etl_spark.functions.porter import porter_py

    got = {
        r.doc_id: r.rank_score
        for r in store.bm25_search(
            spark, sorted({porter_py("rare"), porter_py("common")})
        ).collect()
    }
    assert got[1] > got[2] == got[3] == got[4]


# -- 5. phrase search (positional postings) ------------------------------------


def test_phrase_search_counts_and_boundary_crossing(spark, tmp_path):
    """Planted phrases: occurrence counts are exact, a phrase whose only
    occurrence CROSSES the header/body weight boundary (positions 4-5)
    still matches (positions flatten across the weight split), and
    near-misses (reversed order, gap) do not match."""
    docs = [
        # two occurrences of "red fox" (positions 5-6 and 8-9, body)
        (1, "en", "pad pad pad pad pad red fox then red fox"),
        # boundary crossing: "red" at pos 4 (header), "fox" at pos 5 (body)
        (2, "en", "pad pad pad pad red fox pad pad"),
        # reversed order — no match
        (3, "en", "pad pad pad pad pad fox red pad"),
        # gap — no match
        (4, "en", "pad pad pad pad pad red pad fox"),
        # header-only occurrence (positions 0-1)
        (5, "en", "red fox pad pad pad pad pad pad"),
    ]
    store = IX.PostingStore(str(tmp_path / "ph"), analyzer="porter")
    store.build(_docs_df(spark, docs))
    from car_etl_spark.functions.porter import porter_py

    terms = [porter_py("red"), porter_py("fox")]
    got = {r.doc_id: r.rank_score for r in store.phrase_search(spark, terms).collect()}
    assert got == {1: 2.0, 2: 1.0, 5: 1.0}


def test_phrase_search_repeated_term(spark, tmp_path):
    """A phrase with a repeated term ('batch batch') matches only true
    consecutive repeats, counted once per starting position."""
    docs = [
        (1, "en", "pad pad pad pad pad batch batch batch pad"),  # 2 starts
        (2, "en", "pad pad pad pad pad batch pad batch pad"),    # none
    ]
    store = IX.PostingStore(str(tmp_path / "ph2"), analyzer="porter")
    store.build(_docs_df(spark, docs))
    from car_etl_spark.functions.porter import porter_py

    t = porter_py("batch")
    got = {r.doc_id: r.rank_score for r in store.phrase_search(spark, [t, t]).collect()}
    assert got == {1: 2.0}


def test_phrase_search_survives_maintenance(spark, tmp_path):
    """Positions ride the LSM path: delta rows carry their own arrays,
    tombstones drop stale ones — phrase results equal a fresh rebuild."""
    from car_etl_spark.functions.porter import porter_py

    inc = IX.PostingStore(str(tmp_path / "ph3"), analyzer="porter")
    inc.build(_docs_df(spark, DOCS_V0))
    inc.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    inc.apply_batch(spark, _docs_df(spark, DOCS_B2), [3], batch=2)
    rebuilt = IX.PostingStore(str(tmp_path / "ph3-rb"), analyzer="porter")
    rebuilt.build(_docs_df(spark, FINAL_DOCS))
    terms = [porter_py("alpha"), porter_py("beta")]
    assert _rows(inc.phrase_search(spark, terms)) == _rows(
        rebuilt.phrase_search(spark, terms)
    )
    inc.compact(spark)
    assert _rows(inc.phrase_search(spark, terms)) == _rows(
        rebuilt.phrase_search(spark, terms)
    )


def test_phrase_needs_two_terms(spark, tmp_path):
    store = IX.PostingStore(str(tmp_path / "ph4"))
    with pytest.raises(ValueError, match="at least 2 terms"):
        store.phrase_search(spark, ["solo"])


def test_apply_batch_refuses_older_layout_version(spark, tmp_path, inc_store):
    """Maintenance on a store from an older layout version must fail
    BEFORE any write (a half-applied delta without the doclens sidecar
    would crash later in the stats refresh with a raw path error)."""
    import json

    meta = inc_store._meta()
    meta["version"] = IX.POSTING_VERSION - 1
    with open(inc_store.meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="rebuild it before applying"):
        inc_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    assert not store_has_files(inc_store.delta_dir)
    assert not store_has_files(inc_store.doclen_delta)


def test_compact_refuses_older_layout_version(spark, tmp_path, inc_store):
    """compact() mirrors apply_batch's layout-version guard: a pre-v5
    store fails with the explicit rebuild message BEFORE any tmp write
    (previously it wrote the full tmp base, crashed in read_doclens,
    and left an orphan base.tmp behind)."""
    import json
    import os

    meta = inc_store._meta()
    meta["version"] = IX.POSTING_VERSION - 1
    with open(inc_store.meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="rebuild it before applying"):
        inc_store.compact(spark)
    assert not os.path.exists(inc_store.base_dir + ".tmp")


# -- filtered vector search (r7: declared filterable attributes) ------------


def _brute_filtered(emb, qvec, labels, k=10):
    from car_etl_spark.functions import vectors as V

    return [
        tuple(r)
        for r in emb.filter(F.col("label").isin(labels))
        .select(
            "vec_id", "label",
            F.round(
                V.cosine_similarity(F.col("embedding"), V.literal_vector(qvec)), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
        .collect()
    ]


def test_filtered_probe_certified_exact_on_clusters(spark, tmp_path):
    """Metadata-filtered top-k from the IVF store equals the filtered
    brute force (the certificate walks MATCHING counts), both when the
    filter matches the query's own cluster and when it names a far one;
    same-cluster filters still prune the probe set."""
    emb = _clustered_emb(spark)  # label == planted cluster
    store = IX.IvfStore(str(tmp_path / "fivf"))
    store.build(emb, num_centroids=4, refine_iterations=2, filter_cols=("label",))
    qvec = list(emb.filter(F.col("vec_id") == 45).select("embedding").first()[0])  # cluster 1
    # filter == query's own cluster: certified with a pruned probe set
    probes = store.probe_ids_exact(qvec, k=10, where=("label", [1]))
    assert 0 < len(probes) < 4, probes
    got = [
        tuple(r)
        for r in store.probe_topk(spark, qvec, k=10, where=("label", [1])).collect()
    ]
    assert got == _brute_filtered(emb, qvec, [1])
    # filter names a FAR cluster: still exact (walk extends to it)
    got_far = [
        tuple(r)
        for r in store.probe_topk(spark, qvec, k=10, where=("label", [3])).collect()
    ]
    assert got_far == _brute_filtered(emb, qvec, [3])
    # multi-value filter
    got_multi = [
        tuple(r)
        for r in store.probe_topk(spark, qvec, k=10, where=("label", [0, 3])).collect()
    ]
    assert got_multi == _brute_filtered(emb, qvec, [0, 3])


def test_filtered_probe_refusals(spark, tmp_path):
    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "rivf"))
    store.build(emb, num_centroids=4, filter_cols=("label",))
    q = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    with pytest.raises(ValueError, match="not a declared filter column"):
        store.probe_ids_exact(q, 10, where=("vec_id", [1]))
    # tenant scope (combined or not) refuses on a tenant-BLIND store
    with pytest.raises(ValueError, match="not built with a tenant_col"):
        store.probe_ids_exact(q, 10, tenant="t0", where=("label", [1]))
    with pytest.raises(ValueError, match="not built with a tenant_col"):
        store.probe_ids_exact(q, 10, tenant="t0")
    # a tenant store whose meta predates the (tenant, centroid, value)
    # grain must refuse the combined walk, not over-certify from marginals
    emb_t = emb.withColumn("tenant_id", F.lit("t0"))
    pre = IX.IvfStore(str(tmp_path / "pivf"), tenant_col="tenant_id")
    pre.build(emb_t, num_centroids=4, filter_cols=("label",))
    import json as _json

    with open(pre.meta_path) as f:
        mraw = _json.load(f)
    for entry in mraw.get("tenants", {}).values():
        entry.pop("filters", None)
    mraw["version"] = 5  # the pre-grain layout never wrote the stats
    pre._write_meta(mraw)
    with pytest.raises(ValueError, match="rebuild or compact"):
        pre.probe_ids_exact(q, 10, tenant="t0", where=("label", [1]))
    # on the CURRENT layout, a tenant with zero non-NULL rows in the
    # filter column legitimately has no stats entry: the combined walk
    # serves the correct EMPTY result, never the rebuild error
    two = emb.withColumn(
        "tenant_id",
        F.when(F.col("vec_id") % 2 == 0, "ta").otherwise("tb"),
    ).withColumn(
        "label",
        F.when(F.col("tenant_id") == "tb", F.lit(None).cast("int")).otherwise(
            F.col("label")
        ),
    )
    nl = IX.IvfStore(str(tmp_path / "nivf"), tenant_col="tenant_id")
    nl.build(two, num_centroids=4, filter_cols=("label",))
    got = nl.probe_topk(spark, q, k=5, tenant="tb", where=("label", [1]))
    assert got.collect() == []
    # duplicate where-values never double-count the certificate: the
    # probe set (and so the answer) matches the deduplicated query
    assert nl.probe_ids_exact(q, 5, tenant="ta", where=("label", [1, 1, 1])) == \
        nl.probe_ids_exact(q, 5, tenant="ta", where=("label", [1]))
    # high-cardinality columns refuse at build (index metadata budget)
    big = IX.IvfStore(str(tmp_path / "bivf"))
    import unittest.mock as mock

    with mock.patch.object(IX, "FILTER_VALUE_CAP", 3):
        with pytest.raises(ValueError, match="too high-cardinality"):
            big.build(emb, num_centroids=4, filter_cols=("vec_id",))


def test_filtered_exact_under_maintenance_and_compact(spark, tmp_path):
    """apply_batch keeps the filtered certificate exact: new matching
    vectors (with per-batch filter counts) and tombstoned matching ids
    both land in the filtered top-k correctly, and compact restamps
    tight filter stats."""
    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "mivf"))
    store.build(emb, num_centroids=4, refine_iterations=2, filter_cols=("label",))
    qvec = list(emb.filter(F.col("vec_id") == 45).select("embedding").first()[0])
    # batch 1: upsert near-duplicates of the query INTO label 3 (far
    # cluster by geometry, matching by label) + delete a label-1 vector
    import math

    jit = [x + 0.01 for x in qvec]
    nrm = math.sqrt(sum(v * v for v in jit))
    newv = [v / nrm for v in jit]
    ups = spark.createDataFrame(
        [(1000, 3, newv), (1001, 3, [-v for v in newv])],
        "vec_id long, label int, embedding array<double>",
    )
    store.apply_batch(spark, ups, [45], batch=1)
    live = emb.filter(~F.col("vec_id").isin([45])).unionByName(ups)
    for labels in ([1], [3], [1, 3]):
        got = [
            tuple(r)
            for r in store.probe_topk(spark, qvec, k=10, where=("label", labels)).collect()
        ]
        assert got == _brute_filtered(live, qvec, labels), labels
    store.compact(spark)
    m = store.meta()
    assert m["batches"] == {} and "label" in m["filters"]
    got = [
        tuple(r)
        for r in store.probe_topk(spark, qvec, k=10, where=("label", [3])).collect()
    ]
    assert got == _brute_filtered(live, qvec, [3])


# ---------------------------------------------------------------------------
# Product quantization: certified-exact ADC serving (operators/pq.py)


def _brute_all(emb, qvec, k=10):
    from car_etl_spark.functions import vectors as V

    return [
        tuple(r)
        for r in emb.select(
            "vec_id", "label",
            F.round(
                V.cosine_similarity(F.col("embedding"), V.literal_vector(qvec)), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
        .collect()
    ]


def _pq_survivor_fraction(spark, store, qvec, k=10):
    """Fraction of probed live rows the certified threshold sends to
    exact rescoring (the pruning metric of the pq serving mode)."""
    import numpy as np

    from car_etl_spark.operators import pq as PQ

    meta = store.meta()
    table = PQ.adc_table(qvec, np.asarray(meta["pq"]["codebooks"]))
    probes = store.probe_ids_exact(qvec, k)
    scan = store.read_assignments(spark, probes=probes).filter(
        F.col("pq_code").isNotNull()
    )
    scored = (
        scan.withColumn("adc", PQ.adc_score_col(F.col("pq_code"), table))
        .withColumn("lb", F.col("adc") - F.col("pq_err"))
        .withColumn("ub", F.col("adc") + F.col("pq_err"))
    )
    lbs = [r[0] for r in scored.orderBy(F.desc("lb")).limit(k).select("lb").collect()]
    n_all = scan.count()
    n_sur = scored.filter(F.col("ub") >= lbs[-1] - PQ.RERANK_SLACK).count()
    return n_sur / n_all


def test_pq_topk_exact_and_pruning_on_clustered(spark, tmp_path):
    """pq_topk == brute force on a clustered corpus, AND the error-band
    certificate actually prunes: most probed rows are settled from the
    8-byte codes without touching their embeddings."""
    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "pq1"))
    store.build(emb, num_centroids=4, refine_iterations=2, pq_m=4)
    qvec = list(emb.filter(F.col("vec_id") == 45).select("embedding").first()[0])
    got = [tuple(r) for r in store.pq_topk(spark, qvec, k=10).collect()]
    assert got == _brute_all(emb, qvec, k=10)
    frac = _pq_survivor_fraction(spark, store, qvec, k=10)
    assert frac < 0.5, f"certificate failed to prune: {frac:.1%} rescored"


def test_pq_topk_exact_on_unclusterable(spark):
    """Near-random vectors: reconstruction errors swamp the cosine
    spread, the certificate degrades to a full rescore of the probed
    partitions — and the answer STAYS exact (the honesty property the
    IVF radius walk has)."""
    import math
    import random
    import tempfile

    rng = random.Random(11)
    rows = []
    for i in range(150):
        v = [rng.gauss(0.0, 1.0) for _ in range(16)]
        nrm = math.sqrt(sum(x * x for x in v))
        rows.append((i, i % 3, [x / nrm for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    store = IX.IvfStore(tempfile.mkdtemp() + "/pqr")
    store.build(emb, num_centroids=4, pq_m=4)
    qvec = rows[7][2]
    got = [tuple(r) for r in store.pq_topk(spark, qvec, k=10).collect()]
    assert got == _brute_all(emb, qvec, k=10)


def test_pq_refuses_store_without_codes(spark, tmp_path):
    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "nopq"))
    store.build(emb, num_centroids=4)  # pq_m defaults off at build
    q = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    with pytest.raises(ValueError, match="pq_m"):
        store.pq_topk(spark, q, k=5)


def test_pq_exact_under_maintenance_and_compact(spark, tmp_path):
    """Delta batches are encoded with the FROZEN codebooks and the
    certificate stays exact through upserts, deletes, and compaction —
    including a planted new top-1 that only exists in the delta."""
    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "pqm"))
    store.build(emb, num_centroids=4, refine_iterations=2, pq_m=4)
    qvec = list(emb.filter(F.col("vec_id") == 45).select("embedding").first()[0])
    import math

    jit = [x + 0.0005 for x in qvec]
    nrm = math.sqrt(sum(v * v for v in jit))
    newv = [v / nrm for v in jit]  # near-duplicate of the query
    ups = spark.createDataFrame(
        [(1000, 9, newv), (1001, 9, [-v for v in newv])],
        "vec_id long, label int, embedding array<double>",
    )
    store.apply_batch(spark, ups, [44], batch=1)
    live = emb.filter(~F.col("vec_id").isin([44])).unionByName(ups)
    got = [tuple(r) for r in store.pq_topk(spark, qvec, k=10).collect()]
    assert got == _brute_all(live, qvec, k=10)
    # the delta-only near-duplicate ranks right behind the query's own
    # vector (vec 45, sim 1.0) — it can only be served if the batch was
    # PQ-encoded and survives the certificate
    assert got[1][0] == 1000
    store.compact(spark)
    assert store.meta().get("pq"), "compact must preserve the codebooks"
    got2 = [tuple(r) for r in store.pq_topk(spark, qvec, k=10).collect()]
    assert got2 == got


def test_pq_codebooks_deterministic_and_encoding_edges(spark):
    import numpy as np

    from car_etl_spark.operators import pq as PQ

    rng = np.random.default_rng(3)
    sample = rng.normal(size=(400, 16))
    b1 = PQ.train_codebooks(sample, 4, k=32, iters=4)
    b2 = PQ.train_codebooks(sample.copy(), 4, k=32, iters=4)
    assert np.array_equal(b1, b2)
    assert b1.shape == (4, 32, 4)
    # subspace derivation: largest divisor <= ask
    assert PQ.pq_subspaces(64, 8) == 8
    assert PQ.pq_subspaces(20, 8) == 5
    assert PQ.pq_subspaces(7, 4) == 1
    # encoding edges: NULL vector -> NULL code; zero vector -> the
    # always-rescore bound 2.0 (never pruned, so exact kernels decide)
    df = spark.createDataFrame(
        [(0, [1.0] * 16), (1, None), (2, [0.0] * 16)],
        "vec_id long, embedding array<double>",
    )
    enc = {r.vec_id: (r.pq_code, r.pq_err) for r in
           PQ.encode_with_err(df, "embedding", b1).collect()}
    assert enc[1] == (None, None)
    assert enc[2][1] == 2.0
    assert len(enc[0][0]) == 4 and enc[0][1] < 2.0


def test_pq_approximate_mode_shape_and_wide_shortlist_equals_exact(spark, tmp_path):
    """certified=False is the fixed-budget production shape: k rows
    out, exact cosines on whatever the shortlist caught; with a
    shortlist covering the whole probed set it equals brute force."""
    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "pqa"))
    store.build(emb, num_centroids=4, refine_iterations=2, pq_m=4)
    qvec = list(emb.filter(F.col("vec_id") == 45).select("embedding").first()[0])
    approx = [
        tuple(r)
        for r in store.pq_topk(spark, qvec, k=10, certified=False).collect()
    ]
    assert len(approx) == 10
    # scores are EXACT cosines (rescored), descending
    sims = [r[2] for r in approx]
    assert sims == sorted(sims, reverse=True)
    # rerank_factor covering the corpus -> equals brute force
    wide = [
        tuple(r)
        for r in store.pq_topk(
            spark, qvec, k=10, certified=False, rerank_factor=1000
        ).collect()
    ]
    assert wide == _brute_all(emb, qvec, k=10)


# ---------------------------------------------------------------------------
# Trigram store: exact substring (ILIKE) serving


def _sub_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def _brute_substr(docs_rows, pat):
    pat = pat.lower()
    out = []
    for doc_id, lang, text in sorted(docs_rows):
        t = text.lower().lstrip()
        n = sum(1 for i in range(len(t) - len(pat) + 1) if t[i:i + len(pat)] == pat)
        if n:
            out.append((doc_id, lang, n))
    return out


SUB_DOCS = [
    (1, "en", "the quick brown fox jumps over the lazy dog"),
    (2, "en", "Quick Brown shoes; QUICK BROWN boots"),      # case + 2 matches
    (3, "en", "ababababa repetition torture"),              # overlapping
    (4, "en", "quick-brown hyphen does not match the space form"),
    (5, "de", "   leading space quick brown stripped"),
    # near-miss for the covering-subset chain: differs from
    # "quick brown" at ONE character mid-pattern
    (6, "en", "quick crown near miss"),
]


def test_substring_search_matches_character_scan(spark, tmp_path):
    store = IX.PostingStore(str(tmp_path / "tri"), analyzer="trigram")
    store.build(_sub_docs(spark, SUB_DOCS))
    for pat in ("quick brown", "aba", "ABABA", "lazy dog", "zzz"):
        got = [
            (r.doc_id, r.lang, r.n_matches)
            for r in store.substring_search(spark, pat).collect()
        ]
        assert got == _brute_substr(SUB_DOCS, pat), pat
    # overlapping occurrences counted: 'aba' in 'ababababa' = 4 starts
    got = {r.doc_id: r.n_matches for r in store.substring_search(spark, "aba").collect()}
    assert got[3] == 4


def test_substring_search_refusals(spark, tmp_path):
    tri = IX.PostingStore(str(tmp_path / "tri2"), analyzer="trigram")
    tri.build(_sub_docs(spark, SUB_DOCS[:2]))
    with pytest.raises(ValueError, match="at least 3"):
        tri.substring_search(spark, "ab")
    tok = IX.PostingStore(str(tmp_path / "tok"), analyzer="suffix")
    tok.build(_sub_docs(spark, SUB_DOCS[:2]))
    with pytest.raises(ValueError, match="trigram store"):
        tok.substring_search(spark, "quick brown")


def test_substring_search_under_maintenance(spark, tmp_path):
    """The trigram store rides the same LSM path: an upserted doc's
    matches appear, a tombstoned doc's disappear, compact preserves."""
    store = IX.PostingStore(str(tmp_path / "trim"), analyzer="trigram")
    store.build(_sub_docs(spark, SUB_DOCS))
    store.apply_batch(
        spark,
        _sub_docs(spark, [(7, "en", "a fresh quick brown delta document")]),
        [1],
        batch=1,
    )
    live = [r for r in SUB_DOCS if r[0] != 1] + [
        (7, "en", "a fresh quick brown delta document")
    ]
    got = [
        (r.doc_id, r.lang, r.n_matches)
        for r in store.substring_search(spark, "quick brown").collect()
    ]
    assert got == _brute_substr(live, "quick brown")
    store.compact(spark)
    got2 = [
        (r.doc_id, r.lang, r.n_matches)
        for r in store.substring_search(spark, "quick brown").collect()
    ]
    assert got2 == got


def test_substring_search_tenant_scoped(spark, tmp_path):
    rows = [
        (1, "en", "tenant alpha quick brown", "acme"),
        (1, "en", "tenant beta quick brown quick brown", "globex"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, tenant_id string"
    )
    store = IX.PostingStore(
        str(tmp_path / "trit"), analyzer="trigram", tenant_col="tenant_id"
    )
    store.build(df)
    with pytest.raises(ValueError, match="tenant"):
        store.substring_search(spark, "quick brown")
    got = {
        t: [
            (r.doc_id, r.n_matches)
            for r in store.substring_search(spark, "quick brown", tenant=t).collect()
        ]
        for t in ("acme", "globex")
    }
    assert got == {"acme": [(1, 1)], "globex": [(1, 2)]}


def test_regex_required_literals_extraction():
    """Conservative literal extraction: every returned string must
    appear in EVERY match of the pattern."""
    cases = {
        "fast [a-z]+ batch": ["fast ", " batch"],
        "colou?r table": ["colo", "r table"],   # 'u' optional, 'r table' required
        "ab*c": [],                             # survivors < 3 chars
        "value.*table": ["value", "table"],
        "a|b": [],                              # alternation bails
        "(group)xyz": [],                       # groups bail
        r"needle\d+tail": ["needle", "tail"],
        "plain literal": ["plain literal"],
        "x{2,3}yyy": ["yyy"],
        "[0-9]+": [],                           # no literal: scan fallback
        r"\Qabc\E*": [],                       # quoting mode bails (quantifier
                                                # would bind the quoted run's tail)
    }
    for pat, want in cases.items():
        assert IX.regex_required_literals(pat) == want, pat


def test_regex_search_matches_and_fallback(spark, tmp_path):
    """Prefiltered regex == python re over the cleaned text, including
    the no-literal Cox fallback path (full verify scan, same answer)."""
    import re as _re

    store = IX.PostingStore(str(tmp_path / "trir"), analyzer="trigram")
    docs = _sub_docs(spark, SUB_DOCS)
    store.build(docs)
    for pat in ("qu[a-z]+k brown", "the .*dog", "ab+a", "[xyz]q"):
        got = [
            (r.doc_id, r.lang, r.n_matches)
            for r in store.regex_search(spark, pat, docs).collect()
        ]
        want = []
        for doc_id, lang, text in sorted(SUB_DOCS):
            n = len(_re.findall(pat, text.lower().lstrip()))
            if n:
                want.append((doc_id, lang, n))
        assert got == want, pat
    tok = IX.PostingStore(str(tmp_path / "tokr"), analyzer="suffix")
    tok.build(docs)
    with pytest.raises(ValueError, match="trigram store"):
        tok.regex_search(spark, "quick", docs)


def test_regex_prefilter_skips_substring_sort(spark, tmp_path, monkeypatch):
    """The literal prefilter only collects candidate ids up to the cap,
    which does not depend on row order — so it must ask
    substring_search for the unordered form (an ordered one pays a
    range exchange and its bound-sampling job per literal)."""
    store = IX.PostingStore(str(tmp_path / "trio"), analyzer="trigram")
    docs = _sub_docs(spark, SUB_DOCS)
    store.build(docs)
    seen = []
    orig = IX.PostingStore.substring_search

    def recording(self, *args, **kwargs):
        seen.append(kwargs.get("ordered", True))
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(IX.PostingStore, "substring_search", recording)
    got = [tuple(r) for r in store.regex_search(spark, "quick [a-z]+ fox", docs).collect()]
    assert seen == [False, False]
    assert got == [(1, "en", 1)]


# ---------------------------------------------------------------------------
# Compaction-epoch crash window: stranded delta/tombstone files after a
# crash between compact's base swap and its cleanup must be ignored
# (meta's compacted_through rides the atomic swap)


def test_posting_compact_crash_leaves_view_intact(spark, tmp_path, inc_store):
    import shutil

    inc_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    inc_store.apply_batch(spark, _docs_df(spark, DOCS_B2), [3], batch=2)
    before = _live_postings(inc_store, spark)
    # snapshot the LSM state a crashed cleanup would strand
    aside = str(tmp_path / "aside")
    for d, name in ((inc_store.delta_dir, "delta"), (inc_store.tomb_dir, "tomb")):
        if os.path.isdir(d):
            shutil.copytree(d, os.path.join(aside, name))
    inc_store.compact(spark)
    # "crash": the folded base is live but the old delta/tombstones are back
    for d, name in ((inc_store.delta_dir, "delta"), (inc_store.tomb_dir, "tomb")):
        src = os.path.join(aside, name)
        if os.path.isdir(src):
            shutil.copytree(src, d, dirs_exist_ok=True)
    assert _live_postings(inc_store, spark) == before
    # a stale tombstone must NOT kill fresh batch-0 base rows
    assert {r[0] for r in _live_postings(inc_store, spark)} == {1, 2, 4, 5}


def test_posting_stale_batch_replay_refused_after_compact(spark, tmp_path, inc_store):
    inc_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    before_rows = _live_postings(inc_store, spark)
    inc_store.compact(spark)
    # replay of the already-folded batch: refused, view unchanged
    assert inc_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1) is False
    assert _live_postings(inc_store, spark) == before_rows
    # later batch ids still apply
    assert inc_store.apply_batch(spark, _docs_df(spark, DOCS_B2), [3], batch=2)


def test_ivf_compact_crash_leaves_view_intact(spark, tmp_path):
    import shutil

    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "civf"))
    store.build(emb, num_centroids=4, refine_iterations=1)
    ups = spark.createDataFrame(
        [(900, 9, [1.0] + [0.0] * 7)], "vec_id long, label int, embedding array<double>"
    )
    store.apply_batch(spark, ups, [0], batch=1)
    qvec = list(emb.filter(F.col("vec_id") == 45).select("embedding").first()[0])
    before = [tuple(r) for r in store.probe_topk(spark, qvec, k=10).collect()]
    aside = str(tmp_path / "civf-aside")
    for d, name in ((store.delta_dir, "delta"), (store.tomb_dir, "tomb")):
        if os.path.isdir(d):
            shutil.copytree(d, os.path.join(aside, name))
    store.compact(spark)
    for d, name in ((store.delta_dir, "delta"), (store.tomb_dir, "tomb")):
        src = os.path.join(aside, name)
        if os.path.isdir(src):
            shutil.copytree(src, d, dirs_exist_ok=True)
    after = [tuple(r) for r in store.probe_topk(spark, qvec, k=10).collect()]
    assert after == before
    # vec 0 was tombstoned pre-compact; the stranded tombstone must not
    # hide it twice nor resurrect it
    ids = {r[0] for r in store.read_assignments(spark).select("vec_id").collect()}
    assert 0 not in ids and 900 in ids
    # stale-batch replay refused
    assert store.apply_batch(spark, ups, None, batch=1) is False


def test_regex_search_tenant_scoped_including_fallback(spark, tmp_path):
    """Tenant regex serving: candidates AND the verify frame prune to
    the tenant — including the no-literal fallback path, which would
    otherwise scan every tenant."""
    rows = [
        (1, "en", "alpha quick brown 7", "acme"),
        (1, "en", "beta quick brown 7 and quick brown 9", "globex"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, tenant_id string"
    )
    store = IX.PostingStore(
        str(tmp_path / "trig"), analyzer="trigram", tenant_col="tenant_id"
    )
    store.build(df)
    with pytest.raises(ValueError, match="tenant"):
        store.regex_search(spark, "quick brown [0-9]", df)
    got = {
        t: [(r.doc_id, r.n_matches) for r in
            store.regex_search(spark, "quick brown [0-9]", df, tenant=t).collect()]
        for t in ("acme", "globex")
    }
    assert got == {"acme": [(1, 1)], "globex": [(1, 2)]}
    # no-literal fallback ("[0-9]+" extracts nothing) stays scoped
    fb = store.regex_search(spark, "[0-9]+", df, tenant="acme").collect()
    assert [(r.doc_id, r.n_matches) for r in fb] == [(1, 1)]


def test_pq_topk_filtered_matches_filtered_brute(spark, tmp_path):
    """pq_topk composes with metadata-filtered search: the certified
    walk runs over matching counts, both scans carry the IN-predicate,
    and the error-band rescore keeps the filtered result exact."""
    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "pqf"))
    store.build(emb, num_centroids=4, refine_iterations=2,
                filter_cols=("label",), pq_m=4)
    qvec = list(emb.filter(F.col("vec_id") == 45).select("embedding").first()[0])
    for labels in ([1], [0, 3]):
        got = [
            tuple(r)
            for r in store.pq_topk(spark, qvec, k=10, where=("label", labels)).collect()
        ]
        assert got == _brute_filtered(emb, qvec, labels), labels


def test_regex_search_is_case_insensitive(spark, tmp_path):
    """Uppercase literals in the pattern must match the (lowercased)
    indexed text — the serving contract is pg_trgm-style ILIKE
    insensitivity ((?i) prepended), not silent zero matches."""
    import re as _re

    store = IX.PostingStore(str(tmp_path / "trici"), analyzer="trigram")
    docs = _sub_docs(spark, SUB_DOCS)
    store.build(docs)
    for pat in ("Quick Brown", "QUICK [a-z]+", "The .*Dog"):
        got = [
            (r.doc_id, r.lang, r.n_matches)
            for r in store.regex_search(spark, pat, docs).collect()
        ]
        want = []
        for doc_id, lang, text in sorted(SUB_DOCS):
            n = len(_re.findall(pat, text.lower().lstrip(), _re.IGNORECASE))
            if n:
                want.append((doc_id, lang, n))
        assert got == want, pat


def test_substring_search_nonascii_pattern_uses_jvm_lowercase(spark, tmp_path):
    """Case folding of the pattern must agree with the JVM F.lower the
    index build used; Python str.lower() diverges on e.g. 'İ' (one code
    point -> two), which would desync prefilter grams from indexed
    grams.  Both the divergent and plain-non-ASCII cases must match the
    store's own notion of the lowercased text."""
    rows = [
        (1, "tr", "İstanbul kebab İstanbul"),
        (2, "de", "straße münchen grüße"),
        (3, "en", "plain ascii only"),
    ]
    store = IX.PostingStore(str(tmp_path / "trinon"), analyzer="trigram")
    store.build(_sub_docs(spark, rows))
    jvm_low = {
        r.doc_id: r.t
        for r in _sub_docs(spark, rows)
        .select("doc_id", F.regexp_replace(F.lower(F.col("text")), r"^\s+", "").alias("t"))
        .collect()
    }
    for pat in ("İstanbul", "MÜNCHEN", "grüße"):
        got = {r.doc_id: r.n_matches for r in store.substring_search(spark, pat).collect()}
        low = IX._jvm_lower(spark, pat)
        want = {}
        for doc_id, t in jvm_low.items():
            n = sum(1 for i in range(len(t) - len(low) + 1) if t[i:i + len(low)] == low)
            if n:
                want[doc_id] = n
        assert got == want, pat


def test_pq_fused_fast_path_and_fallback_agree(spark, tmp_path):
    """The r8 fused serving shape: when the err ceiling certifies that
    no row outside the collected shortlist can reach L, the survivor
    ids are PUSHED into the embedding fetch (no join, no second code
    pass) — and when the ceiling is unknown (pre-ceiling layout), the
    fallback survivor-scan join serves the identical exact answer."""
    import json as _json

    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "pqfuse"))
    store.build(emb, num_centroids=4, refine_iterations=2, pq_m=4)
    qvec = list(emb.filter(F.col("vec_id") == 45).select("embedding").first()[0])

    # ceiling present -> the fast path engages: id-pushed scan, no code
    # scan in the served plan
    df = store.pq_topk(spark, qvec, k=10)
    got = [tuple(r) for r in df.collect()]
    assert got == _brute_all(emb, qvec, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert all("pq_code" not in ln for ln in scans), plan
    assert any(
        "PushedFilters" in ln and "vec_id" in ln.split("PushedFilters")[1].split("]")[0]
        for ln in scans
    ), plan

    # strip the ceiling (pre-r8 layout) -> the CAPPED survivor collect
    # still serves an id-pushed scan (no join), same exact answer
    with open(store.meta_path) as f:
        mraw = _json.load(f)
    assert store._pq_err_ceiling(mraw) is not None
    mraw["pq"].pop("max_err")
    store._write_meta(mraw)
    assert store._pq_err_ceiling(store.meta()) is None
    df2 = store.pq_topk(spark, qvec, k=10)
    got2 = [tuple(r) for r in df2.collect()]
    assert got2 == got
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    scans2 = [ln for ln in plan2.splitlines() if "FileScan" in ln]
    assert all("pq_code" not in ln for ln in scans2), plan2
    assert any(
        "PushedFilters" in ln and "vec_id" in ln.split("PushedFilters")[1].split("]")[0]
        for ln in scans2
    ), plan2

    # survivor set past the cap -> the distributed join fallback, same
    # exact answer (the only shape left when ids exceed control-plane)
    import unittest.mock as mock

    with mock.patch.object(IX, "REGEX_CANDIDATE_CAP", 2):
        df3 = store.pq_topk(spark, qvec, k=10)
        got3 = [tuple(r) for r in df3.collect()]
        assert got3 == got
        plan3 = df3._jdf.queryExecution().executedPlan().toString()
        assert any(
            "FileScan" in ln and "pq_code" in ln for ln in plan3.splitlines()
        ), "expected the survivor-scan join past the id cap"

    # an upsert-bearing batch without its own ceiling also forces the
    # fallback (unknown err direction must never certify)
    mraw = store.meta()
    mraw["pq"]["max_err"] = 0.25
    mraw.setdefault("batches", {})["9"] = {"counts": {"0": 1}, "radii": {}, "tombs": 0}
    store._write_meta(mraw)
    assert store._pq_err_ceiling(store.meta()) is None
    mraw["batches"]["9"]["max_err"] = 0.5
    store._write_meta(mraw)
    assert store._pq_err_ceiling(store.meta()) == 0.5


def test_positionsless_trigram_store_serves_same_answers(spark, tmp_path):
    """The positions-less pg_trgm layout (positions=False): substring
    serving via candidate intersection + bounded text recheck equals
    the positional store's in-index verification on every pattern;
    phrase search refuses; regex serving works through the recheck;
    and the layout is strictly smaller on disk."""
    docs = _sub_docs(spark, SUB_DOCS)
    full = IX.PostingStore(str(tmp_path / "tripos"), analyzer="trigram")
    full.build(docs)
    lean = IX.PostingStore(
        str(tmp_path / "trilean"), analyzer="trigram", positions=False
    )
    lean.build(docs)
    assert "positions" not in [f.name for f in lean._stored_schema().fields]
    # reopened handle restores the knob from meta
    assert IX.PostingStore(str(tmp_path / "trilean")).positions is False

    for pat in ("quick brown", "aba", "ABABA", "lazy dog", "zzz"):
        a = [tuple(r) for r in full.substring_search(spark, pat).collect()]
        b = [
            tuple(r)
            for r in lean.substring_search(spark, pat, docs=docs).collect()
        ]
        assert a == b, pat
    # overlapping occurrences counted identically ('aba' x4 in doc 3)
    got = {r.doc_id: r.n_matches for r in lean.substring_search(spark, "aba", docs=docs).collect()}
    assert got[3] == 4
    # the recheck path REQUIRES the corpus frame
    with pytest.raises(ValueError, match="pass docs="):
        lean.substring_search(spark, "quick brown")
    # phrase adjacency needs offsets
    with pytest.raises(ValueError, match="positions=False"):
        lean.phrase_search(spark, ["qui", "uic"])
    # regex prefilter runs through the recheck candidates
    import re as _re

    for pat in ("qu[a-z]+k brown", "ab+a"):
        got = [
            (r.doc_id, r.lang, r.n_matches)
            for r in lean.regex_search(spark, pat, docs).collect()
        ]
        want = []
        for doc_id, lang, text in sorted(SUB_DOCS):
            n = len(_re.findall(pat, text.lower().lstrip()))
            if n:
                want.append((doc_id, lang, n))
        assert got == want, pat
    # the storage claim: dropping offsets shrinks the layout
    assert IX._tree_bytes(str(tmp_path / "trilean")) < IX._tree_bytes(
        str(tmp_path / "tripos")
    )


def test_positionsless_trigram_maintenance(spark, tmp_path):
    """LSM maintenance on the positions-less layout: upserts and
    tombstones serve correctly through the recheck, compact preserves."""
    lean = IX.PostingStore(
        str(tmp_path / "trilm"), analyzer="trigram", positions=False
    )
    lean.build(_sub_docs(spark, SUB_DOCS[:3]))
    docs_v2 = [
        (1, "en", "the quick brown fox jumps over the lazy dog"),
        (3, "en", "rewritten entirely no repetition"),
        (7, "en", "fresh quick brown arrival"),
    ]
    ups = _sub_docs(spark, [docs_v2[1], docs_v2[2]])
    lean.apply_batch(spark, ups, [2], batch=1)
    live_docs = _sub_docs(spark, docs_v2)
    got = [
        tuple(r)
        for r in lean.substring_search(spark, "quick brown", docs=live_docs).collect()
    ]
    assert got == _brute_substr(docs_v2, "quick brown")
    assert (
        lean.substring_search(spark, "aba", docs=live_docs).collect() == []
    )
    lean.compact(spark)
    got2 = [
        tuple(r)
        for r in lean.substring_search(spark, "quick brown", docs=live_docs).collect()
    ]
    assert got2 == got


def test_positionsless_recheck_short_text_yields_no_offsets(spark, tmp_path, monkeypatch):
    """A rechecked doc SHORTER than the pattern must generate zero
    candidate offsets: sequence(1, 0) steps DOWN to [1, 0] (Spark
    defaults to step -1 when start > stop) and would probe substr at
    position 0 — no false match is possible, but the guard pins the
    intended empty-offset semantics (ADVICE r8).  Exercised through the
    over-cap branch, the only path where non-candidate (hence possibly
    short) docs reach the recheck expression."""
    monkeypatch.setattr(IX, "REGEX_CANDIDATE_CAP", 0)
    docs = _sub_docs(
        spark,
        [
            (1, "en", "the quick brown fox"),
            (2, "en", "qk"),  # shorter than the padded pattern
            (3, "en", ""),  # degenerate: empty after strip
        ],
    )
    lean = IX.PostingStore(
        str(tmp_path / "trishort"), analyzer="trigram", positions=False
    )
    lean.build(docs)
    got = [
        tuple(r)
        for r in lean.substring_search(spark, "quick brown", docs=docs).collect()
    ]
    assert got == [(1, "en", 1)]


def test_pq_retrain_infers_id_col_on_legacy_meta(spark, tmp_path):
    """Stores built before ``id_col`` was recorded in meta: an explicit
    compact(retrain=True) with a NON-default id column must derive the
    id column from the live schema instead of assuming vec_id (which
    would die with an unresolved-column error; ADVICE r8)."""
    import math
    import random

    rng = random.Random(7)
    rows = []
    for i in range(80):
        vec = [rng.gauss(0.0, 1.0) for _ in range(8)]
        nrm = math.sqrt(sum(v * v for v in vec)) or 1.0
        rows.append((i, [v / nrm for v in vec]))
    df = spark.createDataFrame(rows, "chunk_id long, embedding array<double>")
    store = IX.IvfStore(str(tmp_path / "legacy"))
    store.build(
        df, num_centroids=2, refine_iterations=2, pq_m=4,
        id_col="chunk_id", keep=(),
    )
    # simulate the pre-id_col meta layout
    m = store.meta()
    m.pop("id_col")
    store._write_meta(m)
    q = rows[5][1]
    want = [
        tuple(r)
        for r in store.pq_topk(
            spark, q, k=5, id_col="chunk_id", extra_cols=()
        ).collect()
    ]
    store.compact(spark, retrain=True)  # must not raise unresolved vec_id
    got = [
        tuple(r)
        for r in store.pq_topk(
            spark, q, k=5, id_col="chunk_id", extra_cols=()
        ).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]


def test_pq_drift_signal_and_retrain_at_compact(spark, tmp_path):
    """Codebook drift policy: delta batches encoding a DRIFTED corpus
    against the frozen codebooks raise the count-weighted batch err
    mean past the baseline -> should_retrain() trips -> compact
    retrains the codebooks (it rewrites every row anyway), the err
    stats restamp as the new baseline, and the measured rescore
    fraction recovers.  Correctness holds throughout (the error band
    absorbs drift as rescore volume, never wrong answers)."""
    import math
    import random

    def corpus(ids, centers, dim=8, sigma=0.02, seed=3):
        rng = random.Random(seed)
        rows = []
        for i, vid in enumerate(ids):
            center = centers[i % len(centers)]
            vec = [x + rng.gauss(0.0, sigma) for x in center]
            nrm = math.sqrt(sum(v * v for v in vec))
            rows.append((vid, i % len(centers), [v / nrm for v in vec]))
        return spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )

    axes = [[1.0 if j == 2 * c else 0.0 for j in range(8)] for c in range(2)]
    base = corpus(range(160), axes)
    store = IX.IvfStore(str(tmp_path / "drift"))
    store.build(base, num_centroids=2, refine_iterations=2, pq_m=4)
    m0 = store.meta()
    assert m0["pq"]["err_mean"] is not None and m0["pq"]["n_enc"] == 160
    assert store.should_retrain() is False  # no batches yet

    # drifted upserts: a rotated far-off direction the codebooks never
    # saw — batch err mean spikes
    drifted_axes = [
        [0.7071 if j in (1, 3) else 0.0 for j in range(8)],
        [0.7071 if j in (5, 7) else 0.0 for j in range(8)],
    ]
    ups = corpus(range(1000, 1160), drifted_axes, seed=9)
    store.apply_batch(spark, ups, None, batch=1, keep=("label",))
    m1 = store.meta()
    b1 = m1["batches"]["1"]
    assert b1["err_mean"] > IX.PQ_RETRAIN_FACTOR * m1["pq"]["err_mean"]
    assert store.should_retrain() is True

    qvec = drifted_axes[0]
    want = _brute_all(store.read_assignments(spark), qvec, k=10)
    got_pre = [tuple(r) for r in store.pq_topk(spark, qvec, k=10).collect()]
    assert got_pre == want  # exact even under heavy drift
    frac_pre = _pq_survivor_fraction(spark, store, qvec, k=10)

    store.compact(spark)  # retrain=None -> consults the signal
    m2 = store.meta()
    assert m2["pq"]["codebooks"] != m0["pq"]["codebooks"], "retrain did not run"
    assert store.should_retrain() is False  # fresh baseline, no batches
    assert m2["pq"]["err_mean"] < b1["err_mean"]
    got_post = [tuple(r) for r in store.pq_topk(spark, qvec, k=10).collect()]
    assert got_post == want
    frac_post = _pq_survivor_fraction(spark, store, qvec, k=10)
    assert frac_post < frac_pre, (frac_pre, frac_post)

    # retrain=False pins the frozen-codebook compact (old behavior)
    store2 = IX.IvfStore(str(tmp_path / "drift2"))
    store2.build(base, num_centroids=2, refine_iterations=2, pq_m=4)
    store2.apply_batch(spark, ups, None, batch=1, keep=("label",))
    store2.compact(spark, retrain=False)
    assert store2.meta()["pq"]["codebooks"] == m0["pq"]["codebooks"]


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _random_corpus(draw):
    """Adversarially random unit vectors — the near-tie regime where
    blind PQ recall collapses and only the certificate keeps exactness
    — plus a random query drawn from or near the corpus."""
    import math

    dim = draw(st.sampled_from([4, 8]))
    n = draw(st.integers(min_value=8, max_value=40))
    vecs = []
    for i in range(n):
        raw = [
            draw(st.floats(min_value=-1.0, max_value=1.0, allow_nan=False))
            for _ in range(dim)
        ]
        nrm = math.sqrt(sum(x * x for x in raw)) or 1.0
        vecs.append([x / nrm for x in raw])
    qi = draw(st.integers(min_value=0, max_value=n - 1))
    return vecs, vecs[qi], draw(st.integers(min_value=1, max_value=8))


@settings(max_examples=8, deadline=None)
@given(_random_corpus())
def test_pq_certified_property_equals_bruteforce(spark, corpus):
    """PROPERTY: on arbitrary random corpora (worst case for 8-bit
    codes — pairwise cosines cluster tightly), the fused certified PQ
    serve equals brute force for any k.  Exactness must come from the
    certificate, never from codebook luck."""
    import tempfile

    vecs, qvec, k = corpus
    emb = spark.createDataFrame(
        [(i, i % 3, v) for i, v in enumerate(vecs)],
        "vec_id long, label int, embedding array<double>",
    )
    with tempfile.TemporaryDirectory() as d:
        store = IX.IvfStore(d + "/pqprop")
        store.build(emb, num_centroids=3, refine_iterations=1, pq_m=2)
        got = [tuple(r) for r in store.pq_topk(spark, qvec, k=k).collect()]
        assert got == _brute_all(emb, qvec, k=k)


# -- trigram positions default policy (round 9) -------------------------------


def test_trigram_positions_policy_rule():
    """The build-knob default is a corpus-bytes RULE (measured storage
    table in ARCHITECTURE.md): positional at or under the threshold,
    positions-less above — never caller knowledge."""
    assert IX.default_trigram_positions(0) is True
    assert IX.default_trigram_positions(IX.TRIGRAM_POSITIONS_MAX_CORPUS_BYTES) is True
    assert (
        IX.default_trigram_positions(IX.TRIGRAM_POSITIONS_MAX_CORPUS_BYTES + 1)
        is False
    )


def test_ensure_trigram_store_applies_policy(spark, monkeypatch):
    """ensure_posting_index derives the trigram positions default from
    corpus bytes; the choice is content-addressed into the store path so
    a corpus crossing the threshold rebuilds instead of serving from a
    mismatched layout."""
    from tests.conftest import SF_SMALL as _SF

    s_pos = IX.ensure_posting_index(spark, _SF, analyzer="trigram")
    assert s_pos.positions is True  # sf0.001 is far below the threshold
    monkeypatch.setattr(IX, "TRIGRAM_POSITIONS_MAX_CORPUS_BYTES", 0)
    s_lean = IX.ensure_posting_index(spark, _SF, analyzer="trigram")
    assert s_lean.positions is False
    assert s_lean.path != s_pos.path
    # word-grain analyzers are exempt (phrase search needs offsets)
    assert IX.ensure_posting_index(spark, _SF).positions is True


def test_substring_serving_handles_policy_lean_store(spark, monkeypatch):
    """doc_substring_search's serving build adapts to the policy: on a
    positions-less store it supplies the corpus frame for the bounded
    recheck, and the answers equal the positional store's."""
    from car_etl_spark.queries.textops import SUBSTRING_PATTERN
    from car_etl_spark.tables import load_tables
    from tests.conftest import SF_SMALL as _SF

    monkeypatch.setattr(IX, "TRIGRAM_POSITIONS_MAX_CORPUS_BYTES", 0)
    lean = IX.ensure_posting_index(spark, _SF, analyzer="trigram")
    assert lean.positions is False
    docs = load_tables(spark, _SF, ("documents",))["documents"]
    got = sorted(
        tuple(r)
        for r in lean.substring_search(spark, SUBSTRING_PATTERN, docs=docs).collect()
    )
    monkeypatch.undo()
    pos = IX.ensure_posting_index(spark, _SF, analyzer="trigram", positions=True)
    want = sorted(
        tuple(r) for r in pos.substring_search(spark, SUBSTRING_PATTERN).collect()
    )
    assert got == want
