"""Portable (cross-engine-reproducible) LSH family tests.

Three claims: (1) every Spark arm is VALUE-identical to its DuckDB SQL
twin on real testdata, (2) the portable family's recall matches the
xxhash64 production family on planted near-dups, (3) the arithmetic
foundations (md5-60bit parse, integer quantization) are exact."""

from __future__ import annotations

import hashlib
import math
import random

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from car_etl_spark.operators import portable as P
from car_etl_spark.operators import similarity as S
from car_etl_spark.tables import parquet_rowcount
from tests.conftest import SF_SMALL


def _oracle(sf_dir):
    con = duckdb.connect()
    for t in ("documents", "embeddings", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_h0_matches_python_md5(spark):
    """The portable 60-bit hash is the top 15 md5 hex chars — pinned
    against hashlib so BOTH engine twins are anchored to the spec."""
    samples = ["hello world", "", "a b c", "Ünïcode ☃", "x" * 500]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r.s: r.h for r in df.select("s", P.h0(F.col("s")).alias("h")).collect()}
    for s in samples:
        expect = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
        assert got[s] == expect, s


def test_quantization_is_exact_integer_arithmetic():
    """floor(x*1000 + 0.5) on float32-origin doubles must be the same
    integer in numpy (the Spark batch path) and pure Python (the IEEE
    reference) — including the exact-tie cases like 0.0625*1000."""
    vals = np.array([0.0625, -0.5, 0.1234567, 1.0, -1.0, 0.0015, 62.4999], dtype=np.float32)
    via_numpy = np.floor(vals.astype(np.float64) * 1000.0 + 0.5).astype(np.int64)
    via_python = [int(math.floor(float(v) * 1000.0 + 0.5)) for v in vals]
    assert via_numpy.tolist() == via_python


def test_portable_minhash_matches_duckdb(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    got = _rows(
        P.portable_minhash_pairs(docs).select("id_a", "id_b", "jaccard")
    )
    want = sorted(
        tuple(r) for r in _oracle(SF_SMALL).execute(P.portable_minhash_sql()).fetchall()
    )
    assert got == want and len(got) > 0


def test_portable_simhash_matches_duckdb(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    n = parquet_rowcount(SF_SMALL, "documents")
    got = _rows(
        P.portable_simhash_pairs(docs, expected_docs=n).select("id_a", "id_b", "hamming")
    )
    want = sorted(
        tuple(r) for r in _oracle(SF_SMALL).execute(P.portable_simhash_sql(n)).fetchall()
    )
    assert got == want and len(got) > 0


def test_portable_embedding_matches_duckdb(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    n = parquet_rowcount(SF_SMALL, "embeddings")
    got = _rows(
        P.portable_embedding_pairs(emb, expected_n=n).select("id_a", "id_b", "cosine_sim")
    )
    want = sorted(
        tuple(r)
        for r in _oracle(SF_SMALL).execute(P.portable_embedding_sql(n)).fetchall()
    )
    assert got == want and len(got) > 0


@pytest.fixture(scope="module")
def planted_docs(spark):
    """Same construction as tests/test_similarity.py: 60 base docs + 20
    near-duplicates at ~90% token overlap."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(60):
        toks = [rng.choice(vocab) for _ in range(80)]
        rows.append((i, " ".join(toks)))
    for j in range(20):
        base_id, base_text = rows[j]
        toks = base_text.split()
        for _ in range(6):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        rows.append((1000 + base_id, " ".join(toks)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_portable_family_recall_matches_production(spark, planted_docs):
    """Family swap must not change the recall class: both the xxhash64
    production MinHash and the portable MinHash recover the planted
    pairs (hash values differ; banding statistics do not)."""
    planted = {(j, 1000 + j) for j in range(20)}
    prod = {
        (r.id_a, r.id_b): r.jaccard
        for r in S.minhash_near_duplicates(
            planted_docs, "text", "doc_id", threshold=0.5
        ).collect()
    }
    port = {
        (r.id_a, r.id_b): r.jaccard
        for r in P.portable_minhash_pairs(planted_docs, threshold=0.5).collect()
    }
    assert len(planted & set(prod)) >= 18
    assert len(planted & set(port)) >= 18
    # verification is exact in both families: any pair BOTH families
    # surface must carry the identical exact-Jaccard score (the hash
    # family only chooses candidates, never the verdict)
    shared = set(prod) & set(port)
    assert shared and all(prod[k] == port[k] for k in shared)


def test_portable_lsh_name_pairs_adds_middle_edit_recall(spark):
    """The entity LSH leg on the portable family still catches the
    double-affix-edit class that exact affix blocking provably misses
    (same planted twins as tests/test_resolution.py, same 12x2 knee)."""
    from car_etl_spark.queries.entity import (
        affix_pairs,
        canonical_frame,
        portable_lsh_name_pairs,
    )

    rows = [
        (1, "BUILDING", "acme holdings international corporation", 100.0),
        (2, "BUILDING", "acme holdngs international corporaton", 100.0),
        (3, "MACHINERY", "pacific northwest property management", 200.0),
        (4, "MACHINERY", "pacific nrthwest property managment", 200.0),
        (5, "BUILDING", "completely unrelated enterprises", 300.0),
        (6, "MACHINERY", "zenith industrial logistics partners", 400.0),
    ]
    cust = spark.createDataFrame(
        rows, "c_custkey long, c_mktsegment string, c_name string, c_acctbal double"
    )
    canon = canonical_frame(cust)
    affix = {(r.ka, r.kb) for r in affix_pairs(canon).collect()}
    assert (1, 2) not in affix and (3, 4) not in affix
    lsh = {
        (r.ka, r.kb)
        for r in portable_lsh_name_pairs(canon, num_hashes=24, bands=12).collect()
    }
    assert (1, 2) in lsh and (3, 4) in lsh


def test_tokenizer_class_matches_java_whitespace(spark, tmp_path):
    """The oracle SQL tokenizes with the explicit class
    [ \\t\\n\\x0B\\f\\r]+ because RE2's \\s EXCLUDES vertical tab while
    Java's \\s includes it — adversarial text containing \\x0B used to
    tokenize differently across engines.  Full-pipeline pin: a corpus
    with \\x0B-separated near-dup twins stays value-identical."""
    rows = [
        (1, "alpha\x0bbeta gamma delta shared tail tokens here"),
        (2, "alpha beta gamma delta shared tail tokens here"),
        (3, "one\ttwo\nthree\ffour\rfive six seven eight nine"),
        (4, "completely different text with no overlap at all ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "documents.parquet")
    docs.write.parquet(path)
    got = _rows(P.portable_minhash_pairs(docs, threshold=0.3).select("id_a", "id_b", "jaccard"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")
    want = sorted(tuple(r) for r in con.execute(P.portable_minhash_sql(threshold=0.3)).fetchall())
    assert got == want
    assert (1, 2) in {(a, b) for a, b, _ in got}  # the \x0B twin pair survives


def test_unicode_case_mapping_divergence_canary(spark):
    """KNOWN cross-engine boundary (see operators/portable.py docstring):
    Spark lower() applies FULL Unicode case mapping, DuckDB SIMPLE —
    U+0130 is the witness.  This canary pins the divergence so a future
    engine upgrade that converges (or widens) the gap is noticed and the
    agreement-domain docs updated."""
    s = "İSTANBUL"
    spark_lower = (
        spark.createDataFrame([(s,)], "s string").select(F.lower("s")).first()[0]
    )
    duck_lower = duckdb.connect().execute("SELECT lower(?)", [s]).fetchone()[0]
    assert spark_lower == "i̇stanbul"  # full mapping: i + combining dot
    assert duck_lower == "istanbul"  # simple mapping
    assert spark_lower != duck_lower


from hypothesis import given, settings, strategies as st

_doc_text = st.text(
    alphabet=st.sampled_from(list("ab c.!\t\n\x0b\f\r-'0")), min_size=0, max_size=60
)


@settings(max_examples=5, deadline=None)
@given(st.lists(_doc_text, min_size=1, max_size=12))
def test_portable_minhash_parity_fuzz(spark, texts):
    """Randomized corpora (short/empty/duplicate docs, punctuation, every
    Java whitespace char) must stay value-identical across engines —
    the fuzz net under the fixed-corpus parity tests."""
    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = _rows(
        P.portable_minhash_pairs(docs, threshold=0.2).select("id_a", "id_b", "jaccard")
    )
    con = duckdb.connect()
    con.register("documents_src", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
    con.execute("CREATE VIEW documents AS SELECT * FROM documents_src")
    want = sorted(
        tuple(r) for r in con.execute(P.portable_minhash_sql(threshold=0.2)).fetchall()
    )
    assert got == want


def test_store_meta_written_before_first_signature_append(spark, tmp_path, monkeypatch):
    """Crash-ordering: if the first batch dies right after the signature
    append, the sidecar must already be on disk — otherwise a resume
    mis-reads the store as the pre-versioning family and refuses."""
    import os

    from car_etl_spark.streaming import incremental_dedup as inc

    dd = inc.IncrementalDeduper(spark, str(tmp_path / "state"), threshold=0.5)
    seen = {}
    real_meta = inc.IncrementalDeduper._write_store_meta

    def spying_meta(self):
        seen["sig_exists_at_meta_write"] = os.path.exists(self.sig_path)
        real_meta(self)

    monkeypatch.setattr(inc.IncrementalDeduper, "_write_store_meta", spying_meta)
    docs = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
    dd.process_batch(docs)
    assert seen["sig_exists_at_meta_write"] is False  # meta landed first
    # and the store resumes cleanly under the same family
    assert inc.IncrementalDeduper(
        spark, str(tmp_path / "state"), threshold=0.5
    ).signatures().count() == 1


def test_band_pair_bucket_cap_spark_sql_identical(spark):
    """The hot-bucket guard: a non-discriminative band bucket (member
    count past the cap) is excluded from pair generation on BOTH
    engines, so a capped query stays a full oracle row; discriminative
    buckets are untouched."""
    import duckdb

    from car_etl_spark.operators import portable as P

    # 12 ids sharing one shingle set (a signature-collision class — the
    # template-name failure) + two planted near-dup pairs
    rows = []
    for i in range(12):
        for g in ("aaa", "bbb", "ccc"):
            rows.append((i, g))
    for i, grams in ((100, ("xxx", "yyy", "zzz")), (101, ("xxx", "yyy", "zzz")),
                     (200, ("ppp", "qqq", "rrr")), (201, ("ppp", "qqq", "rrr"))):
        rows.extend((i, g) for g in grams)
    exploded = spark.createDataFrame(rows, "doc_id long, gram string")
    sigs = P.portable_minhash_sigs(
        exploded.withColumnRenamed("gram", "sh"), 8, "doc_id"
    )

    def pairs(cap):
        return sorted(
            tuple(r)
            for r in P.portable_band_pairs(sigs, "doc_id", 2, 8, bucket_cap=cap)
            .collect()
        )

    uncapped = pairs(None)
    capped = pairs(4)
    assert (100, 101) in capped and (200, 201) in capped
    # the 12-member collision class is gone from the capped set
    assert all(a >= 100 for a, _b in capped), capped
    assert len(uncapped) == len(capped) + 66  # 12*11/2 collision pairs

    # SQL twin with the same cap agrees exactly
    con = duckdb.connect()
    con.register(
        "nsh",
        exploded.toPandas().rename(columns={"gram": "gram", "doc_id": "doc_id"}),
    )
    sql = "WITH nsh2 AS (SELECT doc_id, gram FROM nsh), " + P.minhash_cand_ctes(
        "nsh2", "doc_id", 8, 2, prefix="n", bucket_cap=4
    ) + " SELECT id_a, id_b FROM ncand ORDER BY id_a, id_b"
    got_sql = [tuple(map(int, r)) for r in con.sql(sql).fetchall()]
    assert got_sql == capped
