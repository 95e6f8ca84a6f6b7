"""Trigram store storage curve: bytes vs corpus, positional vs
positions-less, at 1x and 64x.

The trigram analyzer's latency story is measured (bench_scale_curve's
substring rows); this script measures the STORAGE story it was missing:
store bytes vs corpus parquet bytes for the v5 positional layout
(char-offset arrays on every gram row — the in-index-verification
superpower) against the positions-less pg_trgm layout
(``positions=False`` — gram -> doc lists only, serving rechecks a
bounded candidate set against the text).  Both layouts also get a
serving sanity check (rare planted marker: identical answers, warm
latency) so the bytes/latency trade is one table.

Corpora reuse bench_scale_curve's generator shape (100 hash tokens per
doc, ~0.6 KB text) under the gitignored ``.cache/`` scratch.
Usage: python scripts/bench_trigram_bytes.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from car_etl_spark.operators import indexing as IX  # noqa: E402
from car_etl_spark.session import get_spark  # noqa: E402

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".cache",
    "tribytes",
)
DOC_SIZES = (5_000, 320_000)  # 1x and 64x
TOKENS_PER_DOC = 100
PATTERN = "qzneedle mark"


def make_marked_docs(spark, n: int) -> str:
    path = os.path.join(ROOT, f"docs-{n}", "documents.parquet")
    if os.path.isdir(path):
        return path
    vocab = max(1000, n // 5)
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(TOKENS_PER_DOC - 1)),
        lambda j: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("id") * TOKENS_PER_DOC + j), F.lit(vocab)).cast(
                "string"
            ),
        ),
    )
    marked = F.when(
        F.pmod(F.xxhash64(F.col("id")), F.lit(1000)) == 7,
        F.concat(F.array_join(toks, " "), F.lit(" qzneedle marker tail")),
    ).otherwise(F.array_join(toks, " "))
    (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.lit("en").alias("lang"),
            marked.alias("text"),
        )
        .coalesce(max(1, n // 40_000))
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def timed(fn, runs: int = 3) -> float:
    vals = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        vals.append(time.perf_counter() - t0)
    return round(min(vals), 4)


def tree_bytes(d: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> None:
    spark = get_spark()
    out = []
    for n in DOC_SIZES:
        corpus_path = make_marked_docs(spark, n)
        docs = spark.read.parquet(corpus_path)
        corpus_b = tree_bytes(os.path.dirname(corpus_path))
        text_chars = docs.agg(F.sum(F.length("text"))).collect()[0][0]
        row = {"n_docs": n, "corpus_mb": round(corpus_b / 1e6, 1),
               "text_mchars": round(text_chars / 1e6, 1)}
        answers = {}
        for tag, positions in (("pos", True), ("nopos", False)):
            spath = os.path.join(ROOT, f"tri-{tag}-{n}")
            store = IX.PostingStore(spath, analyzer="trigram", positions=positions)
            if store.snapshot() is None:
                t0 = time.perf_counter()
                store.build(docs)
                row[f"{tag}_build_s"] = round(time.perf_counter() - t0, 1)
            b = tree_bytes(spath)
            row[f"{tag}_mb"] = round(b / 1e6, 1)
            row[f"{tag}_x_corpus"] = round(b / corpus_b, 2)
            kwargs = {} if positions else {"docs": docs}
            df = store.substring_search(spark, PATTERN, **kwargs)
            answers[tag] = sorted(tuple(r) for r in df.collect())
            row[f"{tag}_serve_s"] = timed(lambda d=df: d.count())
        assert answers["pos"] == answers["nopos"], "layouts disagree!"
        row["n_matches"] = len(answers["pos"])
        out.append(row)
        print(json.dumps(row))
    print(json.dumps({"rows": out}))


if __name__ == "__main__":
    main()
