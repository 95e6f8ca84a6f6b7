"""Persisted learned-BPE merge store — content-addressed beside the
posting/IVF stores.

The reference budgets RAG context with a real trained-vocabulary BPE
tokenizer (tiktoken, ``src/rag/context_builder.py:7-19``); this store
gives the engine's own corpus-trained tokenizer
(:mod:`car_etl_spark.functions.bpe`, Sennrich et al. 2016) the same
operational shape as the other index artifacts:

- **merges.parquet** ``(rank, left, right)`` — the learned merge table,
  the ONLY artifact production serving needs.  Training collects the
  CAPPED word-frequency table (min-count filter + deterministic top-N,
  pruned in the Spark job — see ``functions/bpe.word_frequencies``),
  learns merges driver-side, and persists them once; every subsequent
  query loads ~``num_merges`` rows.  Content-addressed on the corpus
  file identity + training parameters, so a regenerated corpus or a
  changed cap retrains automatically (same discipline as
  ``ensure_posting_index``).

- **vocab_counts.parquet** ``(word, n_tokens)`` — the ORACLE twin:
  learned-BPE token count for every distinct corpus word, built by a
  pure-Python pass (pyarrow read, shared tokenizer + trainer +
  segmenter) so a DuckDB oracle can verify the distributed counting
  pipeline with a plain join+sum.  This is verification scaffolding at
  correctness-gate scale (sf<=0.01); production never materializes a
  full-vocabulary table — the serving path segments per distinct word
  inside the Arrow-batched pandas_udf.

Both builders must produce identical artifacts (same trainer, same
deterministic tie-breaks, same caps); ``tests/test_bpe.py`` pins
Spark-built == Python-built on the real corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from car_etl_spark.functions.bpe import (
    DEFAULT_MIN_COUNT,
    DEFAULT_TOP_N,
    bpe_segment,
    tokenize_py,
    train_bpe,
    word_frequencies,
)
from car_etl_spark.operators.lsm import _source_digest, index_root

BPE_VERSION = 1
DEFAULT_NUM_MERGES = 200


def bpe_store_path(
    sf_dir: str,
    num_merges: int = DEFAULT_NUM_MERGES,
    min_count: int = DEFAULT_MIN_COUNT,
    top_n: int | None = DEFAULT_TOP_N,
) -> str:
    """Content-addressed store directory for a corpus + parameter set."""
    source = os.path.join(sf_dir, "documents.parquet")
    params = f"m{num_merges}|c{min_count}|t{top_n}"
    digest = _source_digest("bpe", BPE_VERSION, source, params)
    return os.path.join(index_root(), f"bpe-{digest}")


def _merges_file(store: str) -> str:
    return os.path.join(store, "merges.parquet")


def _vocab_file(store: str) -> str:
    return os.path.join(store, "vocab_counts.parquet")


def _write_parquet_atomic(path: str, table) -> None:
    """Single-file atomic write (tmp + rename) — these artifacts are
    control-plane-sized (merge table ~num_merges rows; vocab twin is
    gate-scale only), so a driver-side single file keeps the layout
    identical across the Spark and pure-Python builders."""
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _write_merges(store: str, merges: list[tuple[str, str]]) -> None:
    import pyarrow as pa

    table = pa.table(
        {
            "rank": pa.array(range(len(merges)), pa.int32()),
            "left": pa.array([m[0] for m in merges], pa.string()),
            "right": pa.array([m[1] for m in merges], pa.string()),
        }
    )
    _write_parquet_atomic(_merges_file(store), table)


def load_merges(store: str) -> list[tuple[str, str]] | None:
    """Load the persisted merge table (rank order), or None if absent."""
    path = _merges_file(store)
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq

    t = pq.read_table(path).sort_by("rank")
    return list(zip(t.column("left").to_pylist(), t.column("right").to_pylist()))


def ensure_bpe_merges(
    spark: SparkSession,
    sf_dir: str,
    num_merges: int = DEFAULT_NUM_MERGES,
    min_count: int = DEFAULT_MIN_COUNT,
    top_n: int | None = DEFAULT_TOP_N,
) -> list[tuple[str, str]]:
    """Build-if-missing (Spark word-frequency job, capped in-job) and
    return the merge table for a corpus dir — the production entry
    point, mirroring ``ensure_posting_index``."""
    store = bpe_store_path(sf_dir, num_merges, min_count, top_n)
    merges = load_merges(store)
    if merges is not None:
        return merges
    from car_etl_spark.tables import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    freqs = word_frequencies(docs, "text", min_count=min_count, top_n=top_n)
    merges = train_bpe(freqs, num_merges)
    _write_merges(store, merges)
    return merges


def _py_word_lists(source: str) -> "tuple[dict[str, int], list[str]]":
    """Pure-Python corpus pass: (raw word-frequency table, full
    distinct word list) via pyarrow — no Spark session.  Used only by
    the oracle-artifact builder at gate scale."""
    import pyarrow.parquet as pq

    freqs: dict[str, int] = {}
    pf = pq.ParquetFile(source)
    for batch in pf.iter_batches(columns=["text"]):
        for text in batch.column("text").to_pylist():
            for w in tokenize_py(text):
                freqs[w] = freqs.get(w, 0) + 1
    return freqs, sorted(freqs)


def _apply_caps(
    freqs: dict[str, int], min_count: int, top_n: int | None
) -> dict[str, int]:
    """Python twin of the in-job caps: min-count filter + deterministic
    top-N (count desc, word asc) — identical cut to the Spark
    ``orderBy(desc(n), asc(w)).limit(top_n)``."""
    items = [(w, n) for w, n in freqs.items() if n >= min_count]
    if top_n is not None:
        items.sort(key=lambda x: (-x[1], x[0]))
        items = items[:top_n]
    return dict(items)


def ensure_bpe_oracle_artifacts(
    sf_dir: str,
    num_merges: int = DEFAULT_NUM_MERGES,
    min_count: int = DEFAULT_MIN_COUNT,
    top_n: int | None = DEFAULT_TOP_N,
) -> str:
    """Build-if-missing the oracle twin of the store — merges (if the
    Spark build hasn't run yet) plus the full per-word token-count
    table — WITHOUT a Spark session, so a DuckDB oracle string can be
    constructed before any query executes.  Returns the store dir.

    The vocabulary table covers EVERY distinct corpus word (learned
    merges apply to rare words too), which is exactly why it is a
    gate-scale verification artifact and not a production one."""
    store = bpe_store_path(sf_dir, num_merges, min_count, top_n)
    if os.path.exists(_vocab_file(store)) and os.path.exists(_merges_file(store)):
        return store
    source = os.path.join(sf_dir, "documents.parquet")
    freqs, all_words = _py_word_lists(source)
    merges = load_merges(store)
    if merges is None:
        merges = train_bpe(_apply_caps(freqs, min_count, top_n), num_merges)
        _write_merges(store, merges)
    ranks = {pair: i for i, pair in enumerate(merges)}
    import pyarrow as pa

    counts = [len(bpe_segment(w, ranks)) for w in all_words]
    table = pa.table(
        {
            "word": pa.array(all_words, pa.string()),
            "n_tokens": pa.array(counts, pa.int64()),
        }
    )
    _write_parquet_atomic(_vocab_file(store), table)
    return store


def vocab_counts_path(store: str) -> str:
    """Absolute path of the oracle vocabulary table, for read_parquet."""
    return _vocab_file(store)
