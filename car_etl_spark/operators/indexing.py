"""Materialized search indexes: the persisted posting table and IVF layout.

The reference serves keyword search from a trigger-maintained GIN index
(``supabase/migrations/044_keyword_search.sql:10-12,37-43``) and vector
search from an HNSW index (``041_vector_index.sql:6-8``); its published
latencies are index-resident numbers.  This module is the Spark-native
equivalent: the posting list and the IVF coarse-quantized layout are
WRITTEN ONCE as partitioned parquet, and queries join/probe the
persisted layout instead of re-tokenizing / re-scanning the corpus per
call.

Layout contracts (the 100 TB design):

- **PostingStore** — ``(doc_id, lang, raw_term, term, weight, tf, batch)``
  partitioned by ``term_bucket = crc32(term) % num_buckets``, where the
  bucket count is DERIVED from corpus footer statistics at build time
  (:func:`derive_num_buckets`; recorded in the store's ``meta.json``)
  and rows are SORTED by ``(term, doc_id)`` within each partition.  A
  k-term query prunes to <= k partitions (``PartitionFilters`` in the
  plan), the term predicate pushes into the parquet scan, and the
  within-bucket term sort gives parquet row-group min/max statistics
  that skip every row group not containing the term — per-query cost
  ∝ matched postings (the GIN property), at ANY corpus size.  CRC32 is
  the bucket hash because Spark's ``crc32`` and Python's ``zlib.crc32``
  agree, so the query side computes its pruning buckets without a
  Spark job.
  Incremental maintenance (the tsv-trigger analog,
  ``044_keyword_search.sql:37-43``) is LSM-shaped: upserts/deletes
  append batch-tagged delta rows + per-doc tombstones; the read path
  merges base+delta and drops rows older than their doc's newest
  tombstone; ``compact()`` folds everything back into the base.
  Partition-level rewrite is NOT used because one changed document
  touches nearly every term bucket — appends scale with the batch,
  not the store.

- **IvfStore** — embeddings assigned to Lloyd-refined centroids
  (:func:`car_etl_spark.operators.similarity.kmeans_refine`), written
  partitioned by ``centroid_id``; the (tiny) centroid table lands in
  ``meta.json`` so probing is a driver-side numpy argsort with ZERO
  Spark jobs.  A top-k query scans only the partitions its cluster-
  radius certificate cannot rule out and rescores them exactly.

Index builds are content-addressed: the store path embeds a digest of
(source path, source mtime, layout version, parameters), so a
regenerated source table self-invalidates and concurrent builders
converge on the same directory (tmp-build + atomic rename).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import threading
import time
import uuid
import zlib
from contextlib import contextmanager
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from car_etl_spark.functions import text as T
from car_etl_spark.functions import vectors as V

# v2: bucket count derived from corpus stats (meta.json) + term-sorted
#     partitions so parquet row-group min/max stats prune within a bucket
# v3: meta rides INSIDE base/ (atomic with the layout swap); tombstones
#     carry the tenant key on tenant-partitioned stores
# v4: posting rows carry the weighted document length ``dl`` (the BM25
#     norm, denormalized Lucene-style so a pruned read serves scores
#     with zero extra join) + a doc-grain ``_doclens`` sidecar inside
#     base/ and exact corpus stats (n_docs, sum_dl) in meta
# v5: posting rows carry token ``positions`` (sorted int array per
#     (doc, term, weight) — Lucene's DOCS_AND_FREQS_AND_POSITIONS
#     default), enabling phrase/proximity queries; column-pruned away
#     by every non-positional query, so only phrase reads pay for it
POSTING_VERSION = 5
ANALYZER_VERSION = 2
# v2: meta carries per-cluster radii/counts for exact probing
# v3: batch-tagged assignments + LSM delta/tombstone maintenance
# v4: centroid count ~ sqrt(n) derived from footer stats; seeds sampled
#     by id hash (arbitrary id spaces, not dense-id test corpora)
# v5: meta rides INSIDE assignments/ (atomic with the layout swap);
#     tombstones carry the tenant key on tenant-partitioned stores
# v6: tenant stores keep per-(tenant, centroid, value) filter counts
#     (tenant x metadata-filter combined certified serving)
IVF_VERSION = 6

#: cardinality ceiling for DECLARED filterable attributes (per-
#: (centroid, value) counts live in meta — centroids x values entries;
#: beyond this a column belongs in scan-time predicate pushdown, not
#: index metadata)
FILTER_VALUE_CAP = 1024

#: fallback bucket count for stores built without corpus statistics
DEFAULT_NUM_BUCKETS = 16
#: bucket-count derivation bounds.  The floor keeps tiny corpora from
#: degenerating to one partition; the cap bounds directory fan-out on
#: object stores — beyond it, the term-sorted layout's row-group
#: pruning (not partition count) carries the cost ∝ matched postings
#: property, exactly like a GIN page tree under one index relation.
MIN_BUCKETS = 16
MAX_BUCKETS = 4096
#: target live posting rows per bucket (~45 B/row with the v5
#: positions array -> ~180 MB partitions, still a comfortable
#: single-task scan unit; non-positional queries column-prune to ~30 B)
TARGET_POSTINGS_PER_BUCKET = 4_000_000
#: crude tokens-per-text-byte estimate (avg english token ~5 chars + 1
#: separator) — only feeds a power-of-2 clamp, so 2x error moves the
#: derived bucket count by at most one step
AVG_TOKEN_BYTES = 6

#: first N token positions score as the "header" (weight A vs B,
#: reference ``044_keyword_search.sql:22-34``) — MUST match
#: car_etl_spark.queries.fts, pinned by test_indexing.
HEADER_TOKENS = 5
HEADER_WEIGHT = 2.0
BODY_WEIGHT = 1.0

#: BM25 shape parameters (Robertson/Sparck Jones defaults — the values
#: Lucene/Elasticsearch ship).  Pinned here so the serving method and
#: the oracle twins in queries/fts.py cannot drift.
BM25_K1 = 1.2
BM25_B = 0.75


def index_root() -> str:
    """Where persisted indexes live: ``$CAR_ETL_INDEX_DIR`` or
    ``<repo>/.cache/indexes`` (gitignored scratch, like a warehouse dir)."""
    env = os.environ.get("CAR_ETL_INDEX_DIR")
    if env:
        return env
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(os.path.dirname(pkg_dir), ".cache", "indexes")


def _source_digest(kind: str, version: int, source_path: str, params: str) -> str:
    try:
        mtime = os.stat(source_path).st_mtime_ns
    except OSError:
        mtime = -1
    key = f"{kind}|v{version}|{os.path.realpath(source_path)}|{mtime}|{params}"
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def term_bucket_col(term_col, num_buckets: int = DEFAULT_NUM_BUCKETS):
    """Spark-side bucket id for a (stemmed) term column."""
    return F.pmod(F.crc32(term_col.cast("string")), F.lit(num_buckets)).cast("int")


def term_bucket_py(term: str, num_buckets: int = DEFAULT_NUM_BUCKETS) -> int:
    """Python twin of :func:`term_bucket_col` — same CRC32, same mod, so
    query-side pruning needs no Spark job.  Callers serving a persisted
    store should use :meth:`PostingStore.bucket_of`, which binds the
    store's OWN bucket count (derived at build time from corpus stats)."""
    return zlib.crc32(term.encode("utf-8")) % num_buckets


def derive_num_buckets(est_posting_rows: int) -> int:
    """Bucket count from an estimated posting volume: the next power of
    two that keeps buckets under :data:`TARGET_POSTINGS_PER_BUCKET`,
    clamped to [:data:`MIN_BUCKETS`, :data:`MAX_BUCKETS`].  Power-of-2
    keeps rehash boundaries predictable across estimate jitter (a 2x
    volume error moves the result at most one step)."""
    if est_posting_rows <= 0:
        return DEFAULT_NUM_BUCKETS
    need = max(1, -(-est_posting_rows // TARGET_POSTINGS_PER_BUCKET))
    nb = 1
    while nb < need:
        nb *= 2
    return max(MIN_BUCKETS, min(MAX_BUCKETS, nb))


def estimate_posting_rows(source_path: str, text_col: str = "text") -> int:
    """Posting-volume estimate from parquet FOOTER statistics — zero
    Spark jobs, zero data scan (the free statistics a cost-based layout
    decision is allowed).  Total uncompressed bytes of the text column
    divided by :data:`AVG_TOKEN_BYTES` ~= total token occurrences ~=
    posting rows (posting rows roll up per (doc, raw_term, weight), so
    this over-estimates — which only errs toward more buckets).
    ``source_path`` may be a single parquet file or a directory dataset
    (part files summed; footer reads only)."""
    try:
        import pyarrow.parquet as pq

        files = []
        if os.path.isdir(source_path):
            for root, _dirs, fns in os.walk(source_path):
                files.extend(
                    os.path.join(root, fn) for fn in fns if fn.endswith(".parquet")
                )
        else:
            files = [source_path]
        if not files:
            return -1
        total = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            if text_col not in names:
                return -1
            ci = names.index(text_col)
            total += sum(
                md.row_group(rg).column(ci).total_uncompressed_size
                for rg in range(md.num_row_groups)
            )
        return max(1, total // AVG_TOKEN_BYTES)
    except Exception:
        return -1  # unknown: caller falls back to the default layout


def build_posting_rows(
    docs: DataFrame,
    analyzer: str = "suffix",
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    tenant_col: str | None = None,
    positions: bool = True,
) -> DataFrame:
    """Tokenize the corpus ONCE into posting rows
    ``(doc_id, lang, raw_term, term, weight, tf, term_bucket)``.

    Token semantics are pinned to the query-side scan twins
    (``queries/fts.py``/``queries/textops.py``): lowercase, strip
    LEADING whitespace, split on ``\\s+`` (so positions match
    ``tokenize()``), drop empty tokens, weight the first
    :data:`HEADER_TOKENS` positions :data:`HEADER_WEIGHT`.  ``term`` is
    the suffix-strip stem (:func:`car_etl_spark.functions.text.stem`);
    ``raw_term`` is kept so unstemmed scoring
    (``doc_keyword_search``-style term frequency) reads the same store.
    The bucket is derived from the STEMMED term, so a raw-term query
    prunes via ``store.bucket_of(stem_py(t))``.

    ``analyzer`` picks the stemmer: ``"suffix"`` is the 3-rule
    suffix-strip (:func:`car_etl_spark.functions.text.stem`);
    ``"porter"`` is the full Porter (1980) algorithm
    (:mod:`car_etl_spark.functions.porter`), the parity analyzer for
    the reference's english tsvector stemming
    (``044_keyword_search.sql:22-34``).  Both are pure Column
    expressions; Porter stages one column per algorithm step.

    ``"trigram"`` is the SUBSTRING-search analyzer (the pg_trgm GIN
    shape): terms are character 3-grams of the whole cleaned text —
    spaces included, so patterns cross token boundaries — with CHAR
    start offsets in ``positions``.  No stemming (term == gram), one
    weight class (no header split: a substring is positional, not
    relevance-weighted), bucket on the gram.  Index rows ~= text
    chars, the storage price pg_trgm pays for substring pruning.

    ``positions=False`` builds the POSITIONS-LESS layout (the literal
    pg_trgm GIN shape: gram -> doc list, no offsets): the dominant
    storage term — one int per character of text on trigram stores —
    is dropped, and serving verifies candidates with a bounded text
    recheck instead of in-index adjacency (see
    :meth:`PostingStore.substring_search`).  Phrase search needs the
    offsets and refuses on a positions-less store.
    """
    extra = [tenant_col] if tenant_col else []
    cleaned = F.regexp_replace(F.lower(F.col("text")), r"^\s+", "")
    if analyzer == "trigram":
        # explode char offsets FIRST, then one substr per row — plain
        # codegen expressions, no interpreted per-element HOF array
        grams = (
            docs.select("doc_id", "lang", *extra, cleaned.alias("__t"))
            .select(
                "doc_id",
                "lang",
                *extra,
                "__t",
                F.explode(
                    F.sequence(
                        F.lit(0), F.greatest(F.length("__t") - 3, F.lit(0))
                    )
                ).alias("pos"),
            )
            .select(
                "doc_id",
                "lang",
                *extra,
                "pos",
                F.col("__t").substr(F.col("pos") + 1, F.lit(3)).alias("raw_term"),
            )
            .filter(F.length("raw_term") == 3)
            .withColumn("weight", F.lit(BODY_WEIGHT))
        )
        aggs = [F.count(F.lit(1)).alias("tf")]
        if positions:
            aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
        rolled = grams.groupBy("doc_id", "lang", *extra, "raw_term", "weight").agg(
            *aggs
        )
        stemmed = rolled.withColumn("term", F.col("raw_term"))
        wdoc = Window.partitionBy(*extra, "doc_id")
        return stemmed.withColumn(
            "dl", F.sum(F.col("tf") * F.col("weight")).over(wdoc)
        ).withColumn("term_bucket", term_bucket_col(F.col("term"), num_buckets))
    posted = (
        docs.select(
            "doc_id",
            "lang",
            *extra,
            F.posexplode(F.split(cleaned, r"\s+")).alias("pos", "raw_term"),
        )
        .filter(F.col("raw_term") != "")
        .withColumn(
            "weight",
            F.when(F.col("pos") < HEADER_TOKENS, F.lit(HEADER_WEIGHT)).otherwise(
                F.lit(BODY_WEIGHT)
            ),
        )
    )
    aggs = [F.count(F.lit(1)).alias("tf")]
    if positions:
        # token positions (sorted for determinism — collect_list order
        # is not): phrase adjacency = position arithmetic at query time
        aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
    rolled = posted.groupBy("doc_id", "lang", *extra, "raw_term", "weight").agg(
        *aggs
    )
    if analyzer == "porter":
        from car_etl_spark.functions.porter import with_porter

        # stem the DISTINCT vocabulary and broadcast it back: posting
        # rows outnumber vocabulary by orders of magnitude (Heaps' law),
        # and Porter's staged when-chains are ~1 ms/token under Java's
        # backtracking regex engine — paying that per distinct term
        # instead of per posting row is the difference between seconds
        # and hours at corpus scale
        vocab = with_porter(rolled.select("raw_term").distinct(), "raw_term", "term")
        stemmed = rolled.join(F.broadcast(vocab), "raw_term")
    elif analyzer == "suffix":
        stemmed = rolled.withColumn("term", T.stem(F.col("raw_term")))
    else:
        raise ValueError(f"unknown analyzer: {analyzer!r}")
    # weighted document length (the BM25 norm): one window sum at build
    # time, denormalized onto every posting row — weights are small
    # integers in double, so dl is exact and engine-order-independent
    wdoc = Window.partitionBy(*extra, "doc_id")
    return stemmed.withColumn(
        "dl", F.sum(F.col("tf") * F.col("weight")).over(wdoc)
    ).withColumn("term_bucket", term_bucket_col(F.col("term"), num_buckets))


#: regex serving collects candidate doc ids and pushes them into the
#: verify scan as an IN-predicate (see PostingStore.regex_search); a
#: candidate set past this cap means the pattern's literals are not
#: selective and the full verify scan is the honest plan
REGEX_CANDIDATE_CAP = 10_000

#: pq serving: survivor ids are pushed into the embedding fetch only
#: while they are a MINORITY of the probed rows — past this fraction
#: the predicate saves less compute than its per-action optimizer +
#: per-row set-probe cost, and the plain probed rescore (exact: a
#: superset of the survivors) is the honest plan
PQ_PUSH_MAX_FRACTION = 0.5

#: pq serving: the certified shortlist collects this many x k rows by
#: raw ADC in its one TakeOrdered pass — a bounded, control-plane-grain
#: collect; the error-band certificate decides whether it closes
PQ_SHORTLIST_FACTOR = 4

#: pq codebook drift: when the delta batches' count-weighted mean
#: reconstruction error exceeds this factor x the base codebooks' mean,
#: should_retrain() trips and the next compact retrains (drift is never
#: a correctness risk — the error band absorbs it as rescore volume —
#: this bounds the latency decay instead of letting it grow silently)
PQ_RETRAIN_FACTOR = 1.5

#: absolute drift floor (unit-sphere reconstruction-error units, max
#: 2.0): batch mean err below this never trips retraining even against
#: a zero baseline — memorized-corpus codebooks would otherwise flap on
#: noise, and errs this small cost negligible rescore volume anyway
PQ_RETRAIN_ERR_FLOOR = 0.05


def regex_required_literals(pattern: str, min_len: int = 3) -> list[str]:
    """Literal substrings EVERY match of ``pattern`` must contain —
    the trigram-prefilter extraction of Cox's code-search design,
    deliberately conservative (dropping a literal can only weaken the
    prefilter, never lose a match):

    - a run of plain characters accumulates into a literal;
    - ``*``, ``?``, ``{`` make their preceding atom optional/repeated —
      the run's LAST char is dropped, then the run flushes;
    - ``+`` keeps its atom (one-or-more) but breaks the run after it;
    - character classes ``[...]``, ``.``, anchors, and escapes break
      the run (an escaped char may be literal, but \\d/\\s are not —
      skipping them all is the safe uniform rule);
    - alternation or groups anywhere bail to [] (a branch literal is
      not REQUIRED; distributing literals over branches is the full
      Cox query algebra, out of scope) — the caller falls back to an
      unfiltered scan.

    Only literals of at least ``min_len`` chars survive (shorter ones
    have no trigram)."""
    if any(c in pattern for c in "(|") or "\\Q" in pattern:
        # \Q..\E quoting changes what a following quantifier binds to
        # (the quoted run's LAST char), which would make a kept literal
        # unsound — bail like groups/alternation
        return []
    out: list[str] = []
    run = ""

    def flush():
        nonlocal run
        if run:
            out.append(run)
        run = ""

    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            flush()
            i += 2
            continue
        if c == "[":
            flush()
            i += 1
            while i < len(pattern) and pattern[i] != "]":
                i += 2 if pattern[i] == "\\" else 1
            i += 1
            continue
        if c in "*?{":
            run = run[:-1]
            flush()
            if c == "{":
                while i < len(pattern) and pattern[i] != "}":
                    i += 1
            i += 1
            continue
        if c == "+":
            flush()
            i += 1
            continue
        if c in ".^$":
            flush()
            i += 1
            continue
        run += c
        i += 1
    flush()
    return [r for r in out if len(r) >= min_len]


def _pq_err_stats(df: DataFrame) -> dict:
    """(max_err, err_mean, err_p95, n_enc) of a frame's ``pq_err``
    column — one aggregate over encoded rows, the codebook-quality
    telemetry every pq layer (base, batch, compact) stamps into meta."""
    row = df.filter(F.col("pq_err").isNotNull()).agg(
        F.max("pq_err").alias("mx"),
        F.avg("pq_err").alias("mean"),
        F.expr("percentile(pq_err, 0.95)").alias("p95"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if row["n"] == 0 or row["mx"] is None:
        return {"max_err": None, "err_mean": None, "err_p95": None, "n_enc": 0}
    return {
        "max_err": float(row["mx"]),
        "err_mean": float(row["mean"]),
        "err_p95": float(row["p95"]),
        "n_enc": int(row["n"]),
    }


def _jvm_lower(spark: SparkSession, s: str) -> str:
    """Lowercase ``s`` with the SAME semantics the index build used
    (JVM ``F.lower``).  Python ``str.lower()`` diverges on a handful of
    code points ('İ' lowercases to 'i̇' — two code points — in Python
    but differently on the JVM), which would desync prefilter grams
    from indexed grams and silently lose matches.  ASCII is identical
    on both sides, so the (overwhelmingly common) ASCII pattern costs
    nothing; only a non-ASCII pattern pays one local 1-row job."""
    if s.isascii():
        return s.lower()
    row = spark.range(1).select(F.lower(F.lit(s)).alias("s")).collect()
    return row[0]["s"]


def doclens_from_rows(rows: DataFrame, tenant_col: str | None = None) -> DataFrame:
    """Doc-grain length sidecar rows ``([tenant,] doc_id, dl)`` from
    posting rows — the corpus-stat maintenance grain (one row per doc,
    orders of magnitude smaller than the posting table)."""
    keys = ([tenant_col] if tenant_col else []) + ["doc_id"]
    return rows.groupBy(*keys).agg(
        F.sum(F.col("tf") * F.col("weight")).alias("dl")
    )



def _tree_bytes(d: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(d):
        for fn in files:
            if fn.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
    return total


#: compact when the delta layer exceeds this fraction of the base —
#: below it, the merged read's extra union/anti-join cost is noise;
#: above it, read amplification grows linearly with delta volume while
#: a compaction is a one-time O(live) rewrite.  The LSM analog of a
#: size-tiered merge policy; measured serving-under-maintenance numbers
#: are in ARCHITECTURE.md.
COMPACT_DELTA_FRACTION = 0.2


def _layout_gen(store_path: str) -> int:
    """Current generation of a generation-numbered store layout — the
    ``_current.json`` pointer at the store root.  0 = nothing published
    yet (the first build publishes ``layout-1/``)."""
    try:
        with open(os.path.join(store_path, "_current.json")) as f:
            return int(json.load(f)["gen"])
    except (OSError, ValueError, KeyError, TypeError):
        return 0


def _layout_root(store_path: str, gen: int) -> str:
    return os.path.join(store_path, f"layout-{gen}")


def _current_dir(store_path: str, name: str) -> str:
    """``name`` under the CURRENT generation, resolved per call — for
    inspection and path probes outside a read; a read resolves its
    paths once, through a :class:`StoreSnapshot`."""
    return os.path.join(_layout_root(store_path, _layout_gen(store_path)), name)


def _fresh_layout(store_path: str, gen: int | None = None) -> tuple[int, str]:
    """The generation after ``gen`` (default: the current pointer) and
    its emptied root — the unpublished staging area a build, compact or
    refresh writes before its publish flips the pointer."""
    new_gen = (_layout_gen(store_path) if gen is None else gen) + 1
    root = _layout_root(store_path, new_gen)
    shutil.rmtree(root, ignore_errors=True)
    return new_gen, root


@dataclass(frozen=True)
class StoreSnapshot:
    """One committed state of a generation-numbered LSM store: the
    generation ``gen``, its layout ``root``, its parsed ``meta``, the
    stored dataset ``schema``, and the visible batch window
    ``epoch < batch <= upper`` (:func:`_live_window`).

    All mutable directories of a store live under ``layout-<gen>/``; a
    build, compact or refresh writes the next generation and PUBLISHES
    it by flipping the ``_current.json`` pointer.  The previous
    generation stays on disk for one more publish (deferred GC, longer
    under a pin), so a serve that resolved its paths before a flip keeps
    reading files that still exist.  Meta rides INSIDE its generation
    (``base/`` or ``assignments/``), so layout, schema, compaction epoch
    and statistics publish together; within a generation
    ``apply_batch`` replaces meta in place, and that replace is the
    batch's commit point.

    A read therefore resolves ONE snapshot — one pointer read, one meta
    parse — and builds every path, schema and bound from it.  Resolving
    them per access lets a publish land in between: the old
    generation's base paired with the new meta's epoch hides deltas
    that were never folded into that base (the maintenance soak caught
    exactly this); two meta reads inside one generation can pair
    batch-(B-1) rows with batch-B BM25 statistics, or an IVF
    certificate and codebooks with tombstones and codes they never
    covered.  The bounds are fixed before the delta and tombstone dirs
    are listed, so a batch promoted in between is hidden by ``upper``.

    ``upper`` is meta's committed ``applied_through`` on the posting
    and IVF stores.  The rollup store commits a batch by its applied
    sentinel instead, so its ``upper`` is the highest sentinel, read
    BEFORE the pointer: a publish flips the pointer before it clears
    the sentinels, so (sentinel bound, then generation) is consistent
    in every interleaving.  ``as_of`` overrides ``upper``: maintenance
    reads its own in-flight batch, and an MVCC read sees the state
    after batches ``<= as_of`` (down to the epoch, below which batches
    are folded into base).

    A snapshot is taken per call and never shared across calls;
    maintenance, which holds the store's lease for its whole run, takes
    one at entry and may rewrite the ``meta`` dict it owns."""

    gen: int
    root: str
    meta: dict
    schema: StructType
    epoch: int
    upper: int

    @classmethod
    def take(cls, store_path: str, read_meta, upper=None, gen=None):
        """The snapshot of generation ``gen`` (default: the current
        one) with meta from ``read_meta(root)``, the store's one meta
        reader; None when that generation holds no meta (unbuilt)."""
        g = _layout_gen(store_path) if gen is None else int(gen)
        root = _layout_root(store_path, g)
        meta = read_meta(root)
        if meta is None:
            return None
        return cls(
            g, root, meta, StructType.fromJson(meta["schema"]),
            int(meta.get("compacted_through") or 0),
            int(meta["applied_through"] if upper is None else upper),
        )

    def dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def as_of(self, upper: int) -> "StoreSnapshot":
        """The same generation and meta with the window's upper bound
        moved to ``upper``."""
        return replace(self, upper=int(upper))


def _built(snap: StoreSnapshot | None, store_path: str, error=ValueError) -> StoreSnapshot:
    """``snap``, refusing a store with nothing built (no meta)."""
    if snap is None:
        raise error(f"no store at {store_path} — build() it first")
    return snap


# -- maintenance writer lease + fencing (round 10) ----------------------
#
# Every generation-publishing store assumed a SINGLE maintainer through
# round 9 — two compactors racing the pointer flip would both publish
# and one generation's work would silently vanish (or GC would delete a
# just-published layout).  At 100 TB compaction runs from a scheduler
# and double-start is routine, so maintenance now runs under a writer
# LEASE with a FENCING TOKEN (the Chubby/ZooKeeper discipline, on the
# same coordination substrate the stores already use: atomic filesystem
# renames — the trade Delta Lake documents for file-only stores):
#
# - acquire = O_CREAT|O_EXCL on ``_maint_lease.json``; a held lease
#   makes a second maintainer REFUSE loudly (MaintenanceLeaseHeldError)
#   instead of racing.
# - the token is monotone across acquisitions (``_maint_fence.json``,
#   bumped only while holding the exclusive-create) and is stamped into
#   ``_current.json`` at every flip; a flip whose token is LOWER than
#   the pointer's refuses (MaintenanceFencedError) — a maintainer that
#   stalled past its TTL and lost the lease to a steal can never
#   clobber the new owner's published generation.
# - expiry: a crashed owner's lease is stealable after ``ttl_sec``;
#   exactly one stealer wins (rename of the expired file), then
#   re-runs the exclusive create.  Expiry is only checked when
#   CONTESTED — an uncontested owner past its TTL still publishes,
#   which is safe because fencing, not the clock, protects the pointer.
#
# Residual window (documented, detection added r11): the lease check
# and the pointer flip are two filesystem ops, so a steal landing in
# the microseconds between them can produce one last same-token flip;
# the monotone token bounds the damage to a single already-built layout
# and the next publish self-heals.  Closing it needs a CAS primitive
# the filesystem does not offer — but DETECTION does not:
# ``_flip_layout`` re-reads the pointer after its os.replace and
# raises MaintenanceFencedError on a mismatch (the loser learns its
# layout was orphaned instead of exiting believing it published), and
# re-reads the fence counter to catch the reverse interleaving (our
# replace clobbered a newer owner's flip — their next publish
# self-heals, ours raises so the clobber is never silent).
#
# Second TOCTOU of the same shape (renew/release): both are
# read-check-then-write, so a TTL steal landing between the ownership
# check and the os.replace/os.remove would clobber (or delete) the new
# owner's lease file — mutual exclusion still holds (the stamped fence
# decides every publish), but it inverts WHO wins: the legitimate
# stealer gets fenced at its commit while the stalled owner proceeds.
# Mitigations: ``renew`` re-reads the fence counter after its replace
# and self-reverts an accidental clobber (deletes the stale file it
# just wrote and stops heartbeating); ``release`` captures the lease
# atomically by rename and renames it BACK if the captured content
# turns out not to be ours.

_LEASE_FILE = "_maint_lease.json"
_FENCE_FILE = "_maint_fence.json"
MAINT_LEASE_TTL_SEC = 600.0


class MaintenanceLeaseError(RuntimeError):
    """Base for maintenance mutual-exclusion violations."""


class MaintenanceLeaseHeldError(MaintenanceLeaseError):
    """Another maintainer holds this store's writer lease."""


class MaintenanceFencedError(MaintenanceLeaseError):
    """This maintainer's lease was lost (stolen after TTL expiry or
    released); its publish was refused to protect the new owner's
    work."""


@dataclass(frozen=True)
class MaintenanceLease:
    store_path: str
    owner: str
    fence: int
    # the TTL this lease was ACQUIRED with — heartbeats and renewals
    # default to it, so a short-TTL lease never silently stretches back
    # to the global default on its first beat (and a heartbeat period
    # derived from the global constant can never exceed a shorter
    # acquired TTL and let the lease expire between beats)
    ttl_sec: float = MAINT_LEASE_TTL_SEC


def _read_json_file(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def acquire_maintenance_lease(
    store_path: str, owner: str | None = None, ttl_sec: float = MAINT_LEASE_TTL_SEC
) -> MaintenanceLease:
    """Take the store's maintenance writer lease or raise
    :class:`MaintenanceLeaseHeldError`.  Never blocks."""
    os.makedirs(store_path, exist_ok=True)
    owner = owner or uuid.uuid4().hex
    lease_path = os.path.join(store_path, _LEASE_FILE)
    # the lease must appear WITH its content in one atomic step — an
    # O_EXCL create followed by a write leaves an empty-file window a
    # concurrent acquirer would misread as an expired (stealable)
    # lease.  os.link of a fully-written unique temp file is atomic
    # create-with-content and fails EEXIST like O_EXCL.
    tmp = os.path.join(store_path, f".{_LEASE_FILE}.{owner}")
    with open(tmp, "w") as f:
        json.dump(
            {"owner": owner, "fence": 0, "expires": time.time() + ttl_sec}, f
        )
    won = False
    try:
        for _attempt in (1, 2):
            try:
                os.link(tmp, lease_path)
                won = True
                break
            except FileExistsError:
                cur = _read_json_file(lease_path)
                if time.time() <= float(cur.get("expires", 0.0)):
                    raise MaintenanceLeaseHeldError(
                        f"maintenance lease on {store_path} held by "
                        f"{cur.get('owner')} (fence {cur.get('fence')}, "
                        f"expires {cur.get('expires')}) — a second concurrent "
                        "maintainer must not run; wait for it or its TTL"
                    )
                # expired: exactly one stealer wins the rename of the
                # stale file; the loser sees ENOENT (mid-steal elsewhere)
                grave = lease_path + f".expired-{owner}"
                try:
                    os.rename(lease_path, grave)
                except OSError:
                    raise MaintenanceLeaseHeldError(
                        f"maintenance lease on {store_path}: lost the steal "
                        "race for the expired lease — another maintainer is "
                        "taking over"
                    )
                try:
                    os.remove(grave)
                except OSError:
                    pass
        if not won:  # both create attempts lost
            raise MaintenanceLeaseHeldError(
                f"maintenance lease on {store_path}: could not acquire"
            )
        # we hold the lease: the token bump below is single-writer by
        # construction.  max() with the pointer's stamped fence heals a
        # deleted counter file; the final lease content (with the real
        # fence) replaces the placeholder atomically.
        last = int(
            _read_json_file(os.path.join(store_path, _FENCE_FILE)).get("fence", 0)
        )
        cur_ptr = _read_json_file(os.path.join(store_path, "_current.json"))
        fence = max(last, int(cur_ptr.get("fence", 0))) + 1
        ftmp = os.path.join(store_path, f".{_FENCE_FILE}.{owner}")
        with open(ftmp, "w") as f:
            json.dump({"fence": fence}, f)
        os.replace(ftmp, os.path.join(store_path, _FENCE_FILE))
        # final content goes through a FRESH temp file: ``tmp`` shares
        # the lease's inode after the link, so rewriting it would
        # truncate the live lease in place — the same empty-file window
        # the link dance exists to close
        tmp2 = tmp + ".final"
        with open(tmp2, "w") as f:
            json.dump(
                {"owner": owner, "fence": fence, "expires": time.time() + ttl_sec},
                f,
            )
        os.replace(tmp2, lease_path)
    finally:
        if tmp is not None:
            try:
                os.remove(tmp)
            except OSError:
                pass
    return MaintenanceLease(
        store_path=store_path, owner=owner, fence=fence, ttl_sec=ttl_sec
    )


def renew_maintenance_lease(
    lease: MaintenanceLease, ttl_sec: float | None = None
) -> bool:
    """Extend a held lease's expiry (heartbeat).  Returns False if the
    lease is no longer ours (stolen after a stall) — the caller keeps
    working and gets fenced at its commit point, which is the correct
    outcome; renewing is only an optimization that prevents a LIVE
    long-running maintainer from ever looking expired.

    The default extension is the TTL the lease was ACQUIRED with (not
    the global constant): a short-TTL lease must never be silently
    stretched back to 600 s by its own heartbeat.

    Check-then-replace TOCTOU (see the module's residual-window note):
    a steal landing between the ownership check and the os.replace
    would overwrite the new owner's lease with ours.  A steal always
    bumps the monotone fence counter, so after the replace we re-read
    the counter — if it advanced past our fence, the write was a
    clobber: self-revert (remove the stale file we just wrote, leaving
    the steal path open again) and report the lease lost."""
    if ttl_sec is None:
        ttl_sec = lease.ttl_sec
    lease_path = os.path.join(lease.store_path, _LEASE_FILE)
    cur = _read_json_file(lease_path)
    if cur.get("owner") != lease.owner or int(cur.get("fence", -1)) != lease.fence:
        return False
    tmp = os.path.join(lease.store_path, f".{_LEASE_FILE}.renew-{lease.owner}")
    with open(tmp, "w") as f:
        json.dump(
            {
                "owner": lease.owner,
                "fence": lease.fence,
                "expires": time.time() + ttl_sec,
            },
            f,
        )
    os.replace(tmp, lease_path)
    counter = int(
        _read_json_file(os.path.join(lease.store_path, _FENCE_FILE)).get("fence", 0)
    )
    if counter > lease.fence:
        # someone acquired after us while we were mid-renew: our replace
        # clobbered their lease file.  Self-revert by CAPTURE (rename,
        # then inspect) — a plain check-then-remove would repeat the
        # TOCTOU one level down: the new owner's heartbeat can re-renew
        # between our re-read and the remove, and we would delete THEIR
        # fresh lease.  Captured content that is not our clobber is put
        # back via os.link (never overwrites an even newer acquire).
        grave = lease_path + f".unclobber-{lease.owner}"
        try:
            os.rename(lease_path, grave)
        except OSError:
            return False  # already replaced/removed: nothing to revert
        took = _read_json_file(grave)
        if took.get("owner") == lease.owner and int(took.get("fence", -1)) == lease.fence:
            try:
                os.remove(grave)  # our clobber: gone for good
            except OSError:
                pass
        else:
            _restore_captured_lease(grave, lease_path)
        return False
    return True


def _restore_captured_lease(grave: str, lease_path: str) -> None:
    """Put a captured (renamed-away) lease back in place.  os.link
    first — it fails EEXIST instead of overwriting, so a fresh
    (higher-fence) acquire that landed during the capture window is
    never clobbered.  Any OTHER link failure (hardlink-less or flaky
    filesystem) falls back to rename: restoring with a small overwrite
    risk beats silently DESTROYING the captured owner's lease (the
    fence ordering still decides every publish either way)."""
    try:
        os.link(grave, lease_path)
    except FileExistsError:
        pass  # newer acquire present: keep it, drop the grave
    except OSError:
        try:
            os.rename(grave, lease_path)
        except OSError:
            return  # grave itself gone: nothing left to restore
        return
    try:
        os.remove(grave)
    except OSError:
        pass


class _LeaseHeartbeat(threading.Thread):
    """Background renewal while a long build/campaign holds a lease —
    without it, any maintenance outlasting the TTL looks expired to a
    contending acquirer and gets stolen MID-BUILD (two builders then
    write the same unpublished generation directory)."""

    def __init__(self, lease: MaintenanceLease, ttl_sec: float | None = None):
        super().__init__(daemon=True)
        self.lease = lease
        # default to the TTL the lease was acquired with — a period
        # derived from the global constant would exceed a shorter
        # acquired TTL (200 s beats vs a 60 s lease) and let the lease
        # expire between beats, then silently stretch it back to 600 s
        self.ttl_sec = lease.ttl_sec if ttl_sec is None else ttl_sec
        self.stop_evt = threading.Event()

    def run(self) -> None:
        # ttl/3 keeps two missed beats of margin; the old max(1.0, ...)
        # floor made the period LONGER than any sub-3s TTL — the lease
        # then looked expired for most of every beat interval (burned a
        # short-TTL test; a production 600 s TTL never hit it).  The
        # 20 ms absolute floor only guards a pathological ~0 TTL.
        period = max(0.02, self.ttl_sec / 3.0)
        while not self.stop_evt.wait(period):
            if not renew_maintenance_lease(self.lease, self.ttl_sec):
                return  # stolen: stop heartbeating, fencing handles the rest

    def stop(self) -> None:
        self.stop_evt.set()


def release_maintenance_lease(lease: MaintenanceLease) -> None:
    """Release if still ours; a stolen/expired-and-replaced lease is
    left for its new owner (never remove someone else's lease).

    Implemented capture-by-rename rather than check-then-remove: the
    rename atomically takes whatever the lease file holds, THEN we
    inspect it — if the captured content is not ours (a steal landed
    between our last check and the rename), it is renamed straight
    back, so the new owner's lease is never deleted.  The rename-back
    window (lease file briefly absent) admits only a fresh acquire;
    restoring via os.link (fails EEXIST) rather than rename means such
    an acquire — which carries a HIGHER fence than the captured owner
    — is never overwritten either."""
    lease_path = os.path.join(lease.store_path, _LEASE_FILE)
    cur = _read_json_file(lease_path)
    if cur.get("owner") != lease.owner or int(cur.get("fence", -1)) != lease.fence:
        return
    grave = lease_path + f".release-{lease.owner}"
    try:
        os.rename(lease_path, grave)
    except OSError:
        return  # already gone (stolen mid-release): nothing to release
    took = _read_json_file(grave)
    if took.get("owner") == lease.owner and int(took.get("fence", -1)) == lease.fence:
        try:
            os.remove(grave)
        except OSError:
            pass
    else:
        # captured someone else's lease: put it back untouched (link
        # first so a fresh higher-fence acquire is never overwritten;
        # rename fallback so a link-incapable filesystem restores
        # rather than destroys — see _restore_captured_lease)
        _restore_captured_lease(grave, lease_path)


def _check_maintenance_lease(lease: MaintenanceLease) -> None:
    cur = _read_json_file(os.path.join(lease.store_path, _LEASE_FILE))
    if cur.get("owner") != lease.owner or int(cur.get("fence", -1)) != lease.fence:
        raise MaintenanceFencedError(
            f"maintenance lease on {lease.store_path} no longer held: "
            f"ours (owner {lease.owner}, fence {lease.fence}) vs current "
            f"(owner {cur.get('owner')}, fence {cur.get('fence')}) — "
            "refusing to publish over the new maintainer's work"
        )


@contextmanager
def maintenance_lease(
    store_path: str, owner: str | None = None, ttl_sec: float = MAINT_LEASE_TTL_SEC
):
    lease = acquire_maintenance_lease(store_path, owner=owner, ttl_sec=ttl_sec)
    try:
        yield lease
    finally:
        release_maintenance_lease(lease)


def build_or_wait(
    build_fn,
    ready_fn,
    store_path: str,
    timeout_sec: float = 900.0,
    poll_sec: float = 0.25,
) -> None:
    """Single-builder-plus-waiters for the ensure_* index builds.

    A maintenance double-start must refuse, but an ensure_* caller
    wants the INDEX, not the privilege of building it.  This takes the
    store's writer lease itself, RE-CHECKS ``ready_fn`` under that
    exclusivity (a concurrent builder may have finished while we
    queued — without the recheck the second caller would rebuild a
    just-published store), and runs ``build_fn(lease)`` only if the
    store is still missing.  While another session holds the lease it
    polls, returning as soon as the published store appears; a crashed
    builder's lease expires by TTL and the steal path lets a waiter
    re-take the build (its partial layout was unpublished by
    construction)."""
    deadline = time.time() + timeout_sec
    while True:
        if ready_fn():
            return
        try:
            with maintenance_lease(store_path) as lease:
                if ready_fn():  # finished while we waited for the lease
                    return
                hb = _LeaseHeartbeat(lease)  # a slow build must never
                hb.start()  # look expired to a contending ensure
                try:
                    build_fn(lease)
                finally:
                    hb.stop()
                return
        except MaintenanceLeaseHeldError:
            if time.time() >= deadline:
                raise MaintenanceLeaseHeldError(
                    f"timed out after {timeout_sec}s waiting for a "
                    f"concurrent builder of {store_path} (lease still "
                    "held and store not ready)"
                )
            time.sleep(poll_sec)


def _with_maintenance_lease(method):
    """Decorator for the generation-publishing maintenance entry points
    (build / apply_batch / compact / refresh): run under the store's
    writer lease.  Callers may pass ``lease=`` (an already-held lease —
    a scheduler doing apply+compact under one acquisition); otherwise
    one is acquired for the duration.  The active lease rides a
    per-instance thread-local so ``_publish_generation`` fences the
    pointer flip without threading a parameter through every body."""

    @functools.wraps(method)
    def wrapper(self, *args, lease: MaintenanceLease | None = None, **kwargs):
        slot = self.__dict__.setdefault("_maint_tl", threading.local())
        if lease is not None:
            _check_maintenance_lease(lease)
            prev = getattr(slot, "lease", None)
            slot.lease = lease
            try:
                return method(self, *args, **kwargs)
            finally:
                slot.lease = prev
        with maintenance_lease(self.path) as auto:
            prev = getattr(slot, "lease", None)
            slot.lease = auto
            try:
                return method(self, *args, **kwargs)
            finally:
                slot.lease = prev

    return wrapper


def _active_lease(store) -> MaintenanceLease:
    """The lease ``@_with_maintenance_lease`` holds for this thread's
    maintenance call on ``store``; outside one there is nothing to
    fence a commit with, so this raises."""
    slot = store.__dict__.get("_maint_tl")
    lease = getattr(slot, "lease", None) if slot is not None else None
    if lease is None:
        raise MaintenanceLeaseError(
            f"store {store.path}: no maintenance lease is active — "
            "commits run only inside a @_with_maintenance_lease method"
        )
    return lease


def _fence_check(store) -> None:
    """Re-validate the active lease at a COMMIT POINT (the meta bound
    replace / applied sentinel, not just generation flips): a
    maintainer that stalled past its TTL inside apply_batch and lost
    the lease to a steal must not land its commit — its delta files
    went to a generation the new owner may already have superseded,
    and a root-level sentinel for that batch would mark content the
    live store never received as applied."""
    _check_maintenance_lease(_active_lease(store))


def _dir_has_parquet(d: str) -> bool:
    """True if ``d`` holds parquet files a Spark read would SEE —
    hidden entries (``_``/``.`` prefixes, Spark's HiddenFileFilter) are
    skipped at every level, so in-flight ``_staging-*`` appends never
    make an empty delta/tombstone dir look readable."""
    if not os.path.isdir(d):
        return False
    for root, dirs, files in os.walk(d):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        if any(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for f in files
        ):
            return True
    return False


_STAGING_PREFIX = "_staging-"


def _staged_append(live_dir: str, write_fn):
    """Stage a parquet append so a FENCED applier leaves nothing in the
    committed-visible range (round 11, closes the apply-batch fencing
    hole): ``write_fn`` writes into a per-attempt dir INSIDE
    ``live_dir`` whose ``_`` prefix makes it invisible to every Spark
    read, and the returned ``promote()`` renames the staged files into
    the live tree only after the caller's fence check passes.  Without
    this, a stale (stolen-lease) applier's delta rows land before it is
    fenced; if the new owner later commits the same batch id with
    different content, the orphans fall inside the committed snapshot
    window (exact-duplicate drop only removes identical replays).

    Rename is per-file (part names carry task UUIDs — no collisions)
    and partition subdirectories merge by relative path.  ``abort()``
    (or a crash — the staged dir is hidden and swept by
    :func:`_sweep_stale_staging` on the next apply) discards the
    attempt without touching the live tree."""
    os.makedirs(live_dir, exist_ok=True)
    _sweep_stale_staging(live_dir)
    stage = os.path.join(live_dir, f"{_STAGING_PREFIX}{uuid.uuid4().hex}")
    write_fn(stage)

    def promote() -> list[str]:
        # returns the promoted file paths: a caller whose COMMIT is
        # fenced after promotion (the posting store's stats job runs
        # between promote and its meta replace) can retract exactly
        # these files — they are still invisible (the snapshot bound
        # never advanced), so per-file removal is safe
        out: list[str] = []
        for root, dirs, files in os.walk(stage):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            rel = os.path.relpath(root, stage)
            dest = live_dir if rel == "." else os.path.join(live_dir, rel)
            made = False
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue  # _SUCCESS / .crc markers stay behind
                if not made:
                    os.makedirs(dest, exist_ok=True)
                    made = True
                dst = os.path.join(dest, fn)
                os.rename(os.path.join(root, fn), dst)
                out.append(dst)
        shutil.rmtree(stage, ignore_errors=True)
        return out

    def abort() -> None:
        shutil.rmtree(stage, ignore_errors=True)

    return promote, abort


def _sweep_stale_staging(
    live_dir: str, max_age_sec: float = 2 * MAINT_LEASE_TTL_SEC
) -> None:
    """Reclaim staging dirs orphaned by a crashed/fenced applier.  Age
    gates on the dir's own mtime (it moves with top-level writes); the
    2×TTL bound means any applier that could still promote has long
    since lost its lease."""
    try:
        entries = os.listdir(live_dir)
    except OSError:
        return
    now = time.time()
    for fn in entries:
        if not fn.startswith(_STAGING_PREFIX):
            continue
        p = os.path.join(live_dir, fn)
        try:
            if now - os.stat(p).st_mtime > max_age_sec:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


# test seam: injected between a batch's file PROMOTION and its commit
# point (posting: the stats/meta replace; IVF: the counts meta replace;
# rollup: the sentinel create) so the crash-orphan window — promoted
# files whose batch the store never committed — can be forced
# deterministically in tests
_test_post_promote_crash = None


def _file_min_batch(path: str):
    """min(batch) over one parquet file, footer-first: row-group
    statistics when complete, else a values read of JUST the batch
    column (delta files are batch-sized — still no Spark job).  Returns
    None for files without a batch column (not batch-tagged data).
    Raises ``ValueError`` (pyarrow's ArrowInvalid subclasses it) on a
    corrupt/truncated file — the caller turns that into a LOUD error,
    because a file Spark cannot read either means serving is already
    broken and a silent skip would reopen the recommit hole."""
    import pyarrow.parquet as _pq

    md = _pq.ParquetFile(path).metadata
    idx = None
    for i in range(md.num_columns):
        if md.schema.column(i).name == "batch":
            idx = i
            break
    if idx is None:
        return None
    mn = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            mn = None
            break
        mn = st.min if mn is None else min(mn, st.min)
    if mn is not None:
        return int(mn)
    col = _pq.read_table(path, columns=["batch"]).column("batch")
    if col.null_count == len(col):
        return None
    import pyarrow.compute as _pc

    return int(_pc.min(col).as_py())


def _sweep_promoted_orphans(
    dirs: list, committed_bound: int, recheck=None, dry_run: bool = False
) -> tuple:
    """Retract promoted-but-uncommitted delta/tombstone files — the
    r11 documented residual: an applier that CRASHED (kill, OOM)
    between ``promote()`` and its batch's commit point skipped the
    fence-retract and left files whose every row carries a batch id
    ABOVE the committed snapshot bound.  Those rows are invisible
    (readers filter ``batch <= bound``) until someone re-commits the
    same batch id — with different content, the orphans would then
    fall inside the committed window (exact-duplicate drop only
    removes identical replays).

    Called at ``apply_batch`` entry, under the writer lease, BEFORE the
    new attempt stages anything: a file is an orphan iff its
    min(batch) exceeds ``committed_bound`` (:func:`_file_min_batch` —
    footer/column reads only, no Spark job, cost ∝ uncompacted delta
    file count at batch cadence, never query time).  Two-phase:
    CANDIDATES are collected first (the seconds-scale walk), then
    ``recheck`` (the caller's fence check) runs immediately before any
    removal — a sweeper that stalled past its lease TTL mid-walk must
    not delete the new owner's in-flight promoted files off a stale
    bound; the recheck shrinks that window to the same millisecond
    class as fence-check→promote.  Files that vanish mid-walk
    (OSError — e.g. a racing generation GC) are skipped and reported.

    Removal races a serve that listed the orphan before the sweep and
    opens it after — the same accepted class as the r11 fenced
    retract's per-file removal (the orphan's rows were never visible;
    the exposure is one failed scan, bounded by the crash-to-next-
    apply interval, not a wrong answer).

    Returns ``(orphans, skipped)``; with ``dry_run`` the orphans are
    reported, not removed (soak/test evidence probes)."""
    orphans: list = []
    skipped: list = []
    for d in dirs:
        for root, dnames, fnames in os.walk(d):
            dnames[:] = [x for x in dnames if not x.startswith(("_", "."))]
            for fn in fnames:
                if fn.startswith(("_", ".")) or not fn.endswith(".parquet"):
                    continue
                p = os.path.join(root, fn)
                try:
                    mn = _file_min_batch(p)
                except OSError:
                    skipped.append(p)
                    continue
                except ValueError as e:
                    raise ValueError(
                        f"_sweep_promoted_orphans: unreadable parquet file {p} "
                        "in the live tree (Spark serving would fail on it "
                        "too) — restore or remove it manually"
                    ) from e
                if mn is not None and mn > int(committed_bound):
                    orphans.append(p)
    if dry_run or not orphans:
        return orphans, skipped
    if recheck is not None:
        recheck()
    removed: list = []
    for p in orphans:
        try:
            os.remove(p)
            removed.append(p)
        except OSError:
            skipped.append(p)
    return removed, skipped


# -- reader pins: pin-aware generation retention (round 10) -------------
#
# The one-interval GC grace is enough for sub-second serves but not for
# a straggler scan straddling two compact intervals — routine at 100 TB.
# A reader that needs its generation to outlive compaction PINS it: a
# pin file under ``_pins/`` blocks GC of that generation until the pin
# is released or goes stale (``PIN_TTL_SEC`` since last touch — a
# crashed reader must not leak disk forever; long scans refresh via
# os.utime).  GC sweeps ALL unpinned generations at or below the grace
# bound, so a generation whose pin blocked one sweep is reclaimed by
# the next sweep after release — nothing leaks.

PIN_TTL_SEC = 1800.0


def _pins_dir(store_path: str) -> str:
    return os.path.join(store_path, "_pins")


def pin_generation(store_path: str, gen: int) -> str:
    """Create a pin file for ``gen``; returns its path (the release
    handle).  Pin BEFORE resolving file paths under the generation."""
    d = _pins_dir(store_path)
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"gen-{int(gen)}.{uuid.uuid4().hex}.pin")
    with open(p, "w") as f:
        f.write("")
    return p


def unpin_generation(pin_path: str) -> None:
    try:
        os.remove(pin_path)
    except OSError:
        pass


@contextmanager
def pinned_generation(store_path: str, gen: int | None = None):
    """Pin the (current, unless given) generation for the scope — the
    long-scan API: a read whose jobs may straddle multiple compact
    cycles resolves its paths under the yielded generation and GC will
    not touch that layout while the pin lives.  A background heartbeat
    touches the pin file every ``PIN_TTL_SEC/3`` so a scan longer than
    the stale-pin TTL keeps its layout — without it the GC would reap
    the pin as a crashed reader's mid-scan, the exact failure pins
    exist to prevent."""
    g = _layout_gen(store_path) if gen is None else int(gen)
    p = pin_generation(store_path, g)
    stop = threading.Event()

    def refresh() -> None:
        while not stop.wait(max(1.0, PIN_TTL_SEC / 3.0)):
            try:
                os.utime(p)
            except OSError:
                return  # unpinned/reaped: nothing left to refresh

    t = threading.Thread(target=refresh, daemon=True)
    t.start()
    try:
        yield g
    finally:
        stop.set()
        unpin_generation(p)


def _pinned_generations(store_path: str) -> set[int]:
    """Live-pinned generations; stale pin files (older than
    ``PIN_TTL_SEC``) are removed on the way."""
    out: set[int] = set()
    d = _pins_dir(store_path)
    try:
        entries = os.listdir(d)
    except OSError:
        return out
    now = time.time()
    for fn in entries:
        if not (fn.startswith("gen-") and fn.endswith(".pin")):
            continue
        p = os.path.join(d, fn)
        try:
            gen = int(fn.split(".", 1)[0][len("gen-"):])
            if now - os.stat(p).st_mtime > PIN_TTL_SEC:
                os.remove(p)  # crashed reader: reclaim
                continue
        except (OSError, ValueError):
            continue
        out.add(gen)
    return out


def _existing_generations(store_path: str) -> list[int]:
    """Generations with directories on disk: every ``layout-<n>/``."""
    gens: list[int] = []
    try:
        for fn in os.listdir(store_path):
            if fn.startswith("layout-"):
                try:
                    gens.append(int(fn[len("layout-"):]))
                except ValueError:
                    pass
    except OSError:
        return gens
    return sorted(gens)


# test seam: injected between the fence comparison and the pointer
# os.replace so the CAS-residual interleaving (a steal landing in that
# microsecond window) can be forced deterministically in tests
_test_pre_flip_delay = None


def _flip_layout(store_path: str, new_gen: int, fence: int) -> None:
    """Atomically publish generation ``new_gen`` (os.replace on the
    pointer file) — the compact/rebuild COMMIT POINT for concurrent
    readers.  A serve that resolved its file paths under the previous
    generation keeps reading those files (they stay on disk for one
    full generation of grace, see ``_gc_layout``) instead of dying on
    vanished paths — the zero-retry replacement for the r9 soak's
    retry-on-swap policy.

    ``fence`` stamps the maintainer's token into the pointer; a flip
    with a token LOWER than the pointer's current one refuses — the
    stale half of a lease steal can never clobber the new owner's
    published generation."""
    cur = _read_json_file(os.path.join(store_path, "_current.json"))
    cur_fence = int(cur.get("fence", 0))
    if cur_fence > int(fence):
        raise MaintenanceFencedError(
            f"store {store_path}: publish with fence {fence} refused — "
            f"pointer already stamped by fence {cur_fence} (a newer "
            "maintainer took over after this one's lease expired)"
        )
    if _test_pre_flip_delay is not None:
        _test_pre_flip_delay()
    stamped = {"gen": int(new_gen), "fence": int(fence)}
    tmp = os.path.join(store_path, f"_current.json.tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(stamped, f)
    os.replace(tmp, os.path.join(store_path, "_current.json"))
    # POST-FLIP VERIFY (r11): the fence comparison above and the
    # os.replace are two filesystem ops — a steal can land between them
    # (the documented CAS residual).  The flip cannot be made atomic
    # with the check, but the LOSER can always be told:
    #  - pointer no longer ours → a newer flip landed after ours; our
    #    layout is orphaned (next publish GCs it) — raise instead of
    #    returning success.
    #  - pointer ours but the fence counter advanced past our token →
    #    a steal happened mid-flip and our replace may have clobbered
    #    the new owner's pointer; their next publish self-heals (their
    #    token is higher), and we raise so the clobber is never silent.
    now = _read_json_file(os.path.join(store_path, "_current.json"))
    counter = int(
        _read_json_file(os.path.join(store_path, _FENCE_FILE)).get("fence", 0)
    )
    if (
        int(now.get("gen", -1)) != stamped["gen"]
        or int(now.get("fence", -1)) != stamped["fence"]
        or counter > int(fence)
    ):
        raise MaintenanceFencedError(
            f"store {store_path}: publish of gen {new_gen} (fence {fence}) "
            f"raced a lease steal — pointer now {now}, fence counter "
            f"{counter}; this maintainer's layout must be considered "
            "orphaned (the new owner's next publish supersedes it)"
        )


def _publish_store_generation(
    store_path: str,
    new_gen: int,
    lease: MaintenanceLease,
    clear: tuple[str, ...] = ("_applied_",),
) -> None:
    """The one FENCED publish every store generation goes through:
    re-validate ``lease``, flip the pointer to ``new_gen`` under its
    token, remove the root markers whose names start with a ``clear``
    prefix, then GC every unpinned generation at or below
    ``new_gen - 2`` (one full generation of grace for in-flight
    readers; pinned generations survive until their pin releases — see
    ``pinned_generation``).

    ``clear`` is fixed per call site: a posting/IVF rebuild or compact
    clears the applied-batch sentinels (a rebuild must never
    replay-no-op a later batch id — the fresh meta's epoch covers
    folded batches); rollup's compact clears its batch markers and
    dirty flag, its refresh nothing (the carried-over deltas keep their
    batch tags).  Crash-order argument: the flip is FIRST and the new meta
    (with its compaction epoch) rides inside the new layout, so any
    prefix of the cleanup leaves a consistent store — stale sentinels
    sit at or below the stamped epoch and a stale old generation is
    unreachable garbage the next publish removes."""
    _check_maintenance_lease(lease)
    _flip_layout(store_path, new_gen, lease.fence)
    for f in os.listdir(store_path):
        if f.startswith(clear):
            os.remove(os.path.join(store_path, f))
    _gc_store_generations(store_path, new_gen)


def _gc_store_generations(store_path: str, new_gen: int) -> None:
    """Sweep every on-disk generation at or below ``new_gen - 2`` that
    no live pin protects.  Sweeping ALL eligible generations (not just
    exactly ``new_gen - 2``) is what makes pin-blocked layouts a
    deferral, not a leak: the next publish after release reclaims
    them."""
    pinned = _pinned_generations(store_path)
    for g in _existing_generations(store_path):
        if g <= new_gen - 2 and g not in pinned:
            _gc_layout(store_path, g)


def _gc_layout(store_path: str, gen: int) -> None:
    """Remove generation ``gen``'s directory."""
    shutil.rmtree(_layout_root(store_path, gen), ignore_errors=True)


def _tombstone_frame(
    spark: SparkSession, snap: StoreSnapshot, key_cols: list[str]
) -> DataFrame:
    """Tombstone read with the schema supplied EXPLICITLY (derived from
    the snapshot's stored build-time schema) — shared by the posting
    and IVF stores.  Inference would not only re-type partition values
    — it FAILS outright on a dir a racing compact just emptied
    (UNABLE_TO_INFER_SCHEMA, caught by the maintenance-under-serving
    soak); with the schema given, a concurrently-emptied dir just reads
    as zero rows."""
    sch = StructType(
        [StructField(c, snap.schema[c].dataType) for c in key_cols]
        + [StructField("batch", LongType())]
    )
    return spark.read.schema(sch).parquet(snap.dir("tombstones"))


def _live_window(df: DataFrame, epoch: int, upper: int) -> DataFrame:
    """Filter a delta/tombstone frame to the committed snapshot window
    ``epoch < batch <= upper``.  The lower bound drops rows a crashed
    compact stranded (already folded into base); the UPPER bound is the
    snapshot-isolation half: rows of a batch whose commit point
    (``applied_through`` in meta, replaced atomically) has not landed
    are invisible, so a serve racing a live ``apply_batch`` sees the
    complete previous snapshot — never a half-applied batch."""
    return df.filter(F.col("batch") > epoch).filter(F.col("batch") <= int(upper))


def _live_view(
    spark: SparkSession,
    snap: StoreSnapshot,
    base: DataFrame,
    delta: str,
    read_delta,
    row_key: list[str],
    id_key: list[str],
) -> DataFrame:
    """The LSM live view every posting/IVF read serves: ``base`` ∪ the
    committed window (:func:`_live_window`) of the snapshot's ``delta``
    layer (framed by ``read_delta(dir)``), minus rows older than their
    id's newest tombstone.  A layer with no visible parquet is skipped.

    - exact-duplicate drop on the delta: a replayed half-applied batch
      appends identical rows, and ``row_key`` + batch is unique within
      a correctly-applied batch, so the drop removes only replay
      artifacts (a doubled tf, a doubled doc length);
    - tombstone anti-join on the max tombstone batch per ``id_key``:
      an upsert's own rows carry the same batch as their tombstone and
      survive ``__tb <= batch``; the tombstones are id-grain and
      broadcast."""
    df = base
    delta_dir = snap.dir(delta)
    if _dir_has_parquet(delta_dir):
        df = df.unionByName(
            _live_window(read_delta(delta_dir), snap.epoch, snap.upper)
            .dropDuplicates(row_key + ["batch"])
        )
    if _dir_has_parquet(snap.dir("tombstones")):
        tomb = (
            _live_window(_tombstone_frame(spark, snap, id_key), snap.epoch, snap.upper)
            .groupBy(*id_key)
            .agg(F.max("batch").alias("__tb"))
        )
        df = (
            df.join(F.broadcast(tomb), id_key, "left")
            .filter(F.col("__tb").isNull() | (F.col("__tb") <= F.col("batch")))
            .drop("__tb")
        )
    return df


def _should_compact(base_dir: str, pending_dirs: tuple[str, ...], threshold: float) -> bool:
    """Size-tiered compact policy shared by the stores: fold the LSM
    layers once the pending (delta, tombstone) bytes exceed
    ``threshold`` x base bytes.  Pure filesystem stats, no Spark job."""
    base = _tree_bytes(base_dir)
    return base > 0 and sum(_tree_bytes(d) for d in pending_dirs) > threshold * base


def _marker_batches(store_path: str, prefix: str, suffix: str = "") -> list[int]:
    """Batch ids of the store-root markers ``<prefix><batch><suffix>``
    (no Spark job, no parquet read)."""
    out = []
    try:
        names = os.listdir(store_path)
    except OSError:
        return out
    for f in names:
        if f.startswith(prefix) and f.endswith(suffix):
            try:
                out.append(int(f[len(prefix):len(f) - len(suffix)]))
            except ValueError:
                pass
    return out


def _max_sentinel_batch(store_path: str, prefix: str = "_applied_", suffix: str = "") -> int:
    """Highest applied batch id, from the applied sentinels
    (``_applied_<b>`` on the posting/IVF stores) — the compaction epoch.
    Compact stamps this into meta as ``compacted_through``; readers then
    ignore delta/tombstone rows at or below it, which closes the crash
    window between the base swap and the delta/tombstone cleanup (stale
    files would otherwise double-count folded rows or, worse, let a
    stale tombstone kill fresh batch-0 base rows)."""
    return max(_marker_batches(store_path, prefix, suffix), default=0)


class PostingStore:
    """Persisted posting table with LSM-style incremental maintenance.

    Liveness rule: a posting row written at ``batch`` b is dead iff a
    tombstone for its ``doc_id`` exists with tombstone batch > b.  An
    upsert at batch b appends the doc's new rows (batch=b) AND a
    tombstone (batch=b) — the tombstone kills every older row, the new
    rows survive.  A delete appends only the tombstone.  Replayed
    batches are no-ops (a ``_applied_<batch>`` sentinel short-circuits),
    and the delta read path drops exact-duplicate rows so a half-applied
    batch replay cannot double tf.
    """

    def __init__(
        self,
        path: str,
        analyzer: str = "suffix",
        num_buckets: int | None = None,
        row_group_bytes: int | None = None,
        tenant_col: str | None = None,
        positions: bool | None = None,
    ):
        self.path = path
        self.analyzer = analyzer
        #: row-group size for store writes (parquet.block.size); None =
        #: parquet default (~128 MB).  Small values exist so tests can
        #: exercise row-group pruning on tiny corpora.
        self.row_group_bytes = row_group_bytes
        meta = self._meta() or {}
        if num_buckets is None:
            num_buckets = int(meta.get("num_buckets", DEFAULT_NUM_BUCKETS))
        self.num_buckets = num_buckets
        #: multi-tenant layout: when set, the store partitions by
        #: (tenant, term_bucket) and tenant-scoped reads prune to the
        #: tenant's directories FIRST — the storage analog of the
        #: reference's RLS-scoped search (042_match_function.sql:23-39)
        if tenant_col is None:
            tenant_col = meta.get("tenant_col")
        self.tenant_col = tenant_col
        #: position arrays are the v5 serving superpower (in-index
        #: phrase/substring verification) AND the dominant storage term
        #: on trigram stores (~one int per text char).  positions=False
        #: is the positions-less pg_trgm layout: same rows, no offsets;
        #: substring serving falls back to a bounded candidate recheck,
        #: phrase search refuses.  Persisted in meta like tenant_col.
        if positions is None:
            positions = bool(meta.get("positions", True))
        self.positions = positions

    # current-generation paths, for maintenance probes and inspection;
    # reads take theirs from a StoreSnapshot

    @property
    def base_dir(self) -> str:
        return _current_dir(self.path, "base")

    @property
    def delta_dir(self) -> str:
        return _current_dir(self.path, "delta")

    @property
    def tomb_dir(self) -> str:
        return _current_dir(self.path, "tombstones")

    @property
    def meta_path(self) -> str:
        return os.path.join(self.base_dir, "_meta.json")

    @property
    def doclen_delta(self) -> str:
        return _current_dir(self.path, "doclens_delta")

    def _publish_generation(self, new_gen: int) -> None:
        """See :func:`_publish_store_generation`; fenced by the active
        maintenance lease (every caller is ``@_with_maintenance_lease``)."""
        _publish_store_generation(self.path, new_gen, lease=_active_lease(self))

    def _meta(self, root: str | None = None) -> dict | None:
        """Meta of the generation at layout ``root`` (default: the
        current one) — the store's ONLY meta reader, so the layout
        version is checked here once and every path below assumes the
        current layout.  None means unbuilt; a base layout without
        meta, or meta of another layout version, refuses (serving or
        maintaining it would silently misread it: a defaulted bucket
        count mis-prunes every query, an older stored schema drops
        columns)."""
        base = os.path.join(root, "base") if root else self.base_dir
        try:
            with open(os.path.join(base, "_meta.json")) as f:
                meta = json.load(f)
        except (OSError, ValueError):
            if _dir_has_parquet(base):
                raise ValueError(
                    f"posting store at {self.path} has a base layout but "
                    "no base/_meta.json — a pre-v3 store; rebuild it "
                    "(silently defaulting the bucket count would mis-prune "
                    "every query)"
                ) from None
            return None
        if meta.get("version") != POSTING_VERSION:
            raise ValueError(
                f"posting store at {self.path} has layout version "
                f"{meta.get('version')} (current {POSTING_VERSION}) — "
                "rebuild it before applying maintenance batches or serving"
            )
        return meta

    def snapshot(self, as_of: int | None = None, gen: int | None = None):
        """The :class:`StoreSnapshot` every read of this store takes
        (default: the current generation at its committed bound); None
        when unbuilt.  The snapshot's ``schema`` is the dataset schema
        recorded at build time — reads supply it explicitly, so
        partition-column TYPE INFERENCE can never reinterpret values (a
        string tenant id '1001' would otherwise come back as an int and
        break tombstone joins and scoping)."""
        return StoreSnapshot.take(self.path, self._meta, as_of, gen)

    def bucket_of(self, term: str) -> int:
        """Query-side pruning bucket for a (stemmed) term — bound to
        THIS store's bucket count, no Spark job."""
        return term_bucket_py(term, self.num_buckets)

    def _write_store(self, rows: DataFrame, target: str, mode: str) -> None:
        """Partition by term_bucket and SORT WITHIN PARTITIONS by
        (term, doc_id): parquet row-group min/max statistics on ``term``
        then prune *inside* a bucket, so a pushed term predicate decodes
        only the row groups actually holding the term — the GIN
        cost-∝-matched-postings property, independent of bucket count.

        The sort LEADS with the partition column: FileFormatWriter
        requires its input ordered by partition columns (one open file
        per directory) and otherwise inserts its own term_bucket-only
        sort — destroying any secondary order — so satisfying the
        required ordering up front is what actually preserves the term
        sort inside each written file."""
        pcols = ([self.tenant_col] if self.tenant_col else []) + ["term_bucket"]
        w = (
            rows.repartition(*pcols)
            .sortWithinPartitions(*pcols, "term", "doc_id")
            .write.mode(mode)
        )
        if self.row_group_bytes is not None:
            w = w.option("parquet.block.size", str(self.row_group_bytes))
        w.partitionBy(*pcols).parquet(target)

    # -- build -----------------------------------------------------------

    def _stamp_meta_into(
        self, base: str, schema, stats: dict | None = None,
        compacted_through: int = 0,
    ) -> None:
        """Stamp meta (the exact dataset schema, the BM25 corpus stats,
        and the compaction epoch) into a not-yet-published generation's
        base dir — layout, sidecar, meta, and stats then publish
        together when :meth:`_publish_generation` flips the pointer."""
        with open(os.path.join(base, "_meta.json"), "w") as f:
            json.dump(
                {
                    "version": POSTING_VERSION,
                    "num_buckets": self.num_buckets,
                    "analyzer": self.analyzer,
                    "tenant_col": self.tenant_col,
                    "positions": self.positions,
                    "schema": schema.jsonValue(),
                    "stats": stats,
                    "compacted_through": compacted_through,
                    # fresh layout has no pending deltas: the snapshot
                    # bound restarts at the epoch (an UNCOMMITTED delta
                    # a crashed apply stranded stays invisible — its
                    # batch id never got a sentinel, so it sits above
                    # the epoch and the stream replays it in full)
                    "applied_through": compacted_through,
                },
                f,
            )

    def _sidecar_and_stats(self, doclens: DataFrame, tmp: str) -> dict:
        """Write the doc-length sidecar into a tmp layout (batch 0) and
        return the exact corpus stats ``{n_docs, sum_dl}`` — one
        doc-grain aggregate, orders of magnitude below posting volume."""
        dls = doclens.withColumn("batch", F.lit(0).cast("long"))
        target = os.path.join(tmp, "_doclens")
        dls.write.mode("overwrite").parquet(target)
        # aggregate the WRITTEN sidecar (doc-grain, tiny) rather than
        # re-running the doclens lineage over the posting layout.
        # (Spark logs "All paths were ignored" for an explicitly-given
        # underscore root, then reads it anyway — benign; correctness of
        # this readback is pinned by the stats-exactness tests.)
        written = dls.sparkSession.read.schema(dls.schema).parquet(target)
        return self._stats_of(written)

    def _stats_of(self, doclens: DataFrame) -> dict:
        """Exact corpus stats from a doclens view: overall (n_docs,
        sum_dl) plus, on tenant-partitioned stores, the same pair PER
        TENANT — BM25 idf/avgdl for a tenant-scoped query must come
        from the tenant's OWN corpus (global stats would leak other
        tenants' corpus shape into the ranking, the statistics analog
        of an RLS bypass).  Tenant grain is control-plane bounded, the
        same budget as the IVF store's per-tenant certificate stats."""
        if self.tenant_col:
            # ONE per-tenant pass; the global pair is the exact sum of
            # the per-tenant pairs (dl values are integer-valued
            # doubles, so the driver-side re-sum is exact)
            per = doclens.groupBy(self.tenant_col).agg(
                F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
            ).collect()
            tenants = {
                str(r[self.tenant_col]): {
                    "n_docs": int(r["n"]), "sum_dl": float(r["s"])
                }
                for r in per
            }
            return {
                "n_docs": sum(t["n_docs"] for t in tenants.values()),
                "sum_dl": float(sum(t["sum_dl"] for t in tenants.values())),
                "tenants": tenants,
            }
        row = doclens.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
        ).collect()[0]
        return {"n_docs": int(row["n"] or 0), "sum_dl": float(row["s"] or 0.0)}

    @_with_maintenance_lease
    def build(self, docs: DataFrame) -> None:
        """Full (re)build: write the next GENERATION's base (invisible
        until the pointer flips — no tmp-rename dance needed, the
        unpublished layout dir IS the staging area), then publish."""
        rows = build_posting_rows(
            docs, self.analyzer, self.num_buckets, self.tenant_col,
            positions=self.positions,
        ).withColumn("batch", F.lit(0).cast("long"))
        new_gen, root = _fresh_layout(self.path)
        base = os.path.join(root, "base")
        self._write_store(rows, base, "overwrite")
        # derive the sidecar from the WRITTEN layout (not the lineage,
        # which would re-tokenize the corpus): dl rides on every row,
        # so doc grain is a distinct-rollup of the stored columns
        written = rows.sparkSession.read.schema(rows.schema).parquet(base)
        keys = ([self.tenant_col] if self.tenant_col else []) + ["doc_id"]
        doclens = written.groupBy(*keys).agg(F.max("dl").alias("dl"))
        stats = self._sidecar_and_stats(doclens, base)
        self._stamp_meta_into(base, rows.schema, stats)
        self._publish_generation(new_gen)

    # -- incremental maintenance ----------------------------------------

    def _sentinel(self, batch: int) -> str:
        return os.path.join(self.path, f"_applied_{batch}")

    @_with_maintenance_lease
    def apply_batch(
        self,
        spark: SparkSession,
        upserts: DataFrame | None,
        deleted_ids: list | None,
        batch: int,
    ) -> bool:
        """Apply one micro-batch of changed/deleted documents.

        ``upserts`` carries full current text for changed/new docs
        (``doc_id, lang, text``); ``deleted_ids`` lists vanished docs.
        Returns False if this batch was already applied (replay no-op —
        the ``_applied_<batch>`` sentinel mirrors the CDC path's
        content-addressed idempotency).  Appends scale with the batch,
        never the store: a changed document touches nearly every term
        bucket, so partition-level rewrite is the wrong maintenance
        primitive here — delta appends + read-time tombstone merge is.
        """
        if batch <= 0:
            raise ValueError("batch must be > 0 (0 is the base build)")
        if os.path.exists(self._sentinel(batch)):
            return False
        # the snapshot refuses an older layout BEFORE any write
        snap = _built(self.snapshot(), self.path)
        if batch <= snap.epoch:
            # batch ids are monotone stream epochs; an id at or below
            # the compaction epoch is a replay of content already folded
            # into base (compact cleared its sentinel) — reapplying
            # would write delta rows the epoch filter ignores and, for
            # the IVF store, inflate certificate counts
            return False
        # tombstone key: (tenant, doc_id) on tenant-partitioned stores —
        # doc ids are only unique WITHIN a tenant (the reference's
        # per-tenant id spaces), so a doc-id-only tombstone from tenant
        # A would wrongly kill tenant B's rows sharing the id
        # retract crash orphans from a previous attempt BEFORE staging
        # anything (promoted files whose batch never committed — see
        # _sweep_promoted_orphans); runs under this applier's lease
        _sweep_promoted_orphans(
            [snap.dir("delta"), snap.dir("doclens_delta"), snap.dir("tombstones")],
            snap.upper,
            recheck=lambda: _fence_check(self),
        )
        tomb_key = ([self.tenant_col] if self.tenant_col else []) + ["doc_id"]
        tomb_parts = []
        # every append is STAGED (hidden per-attempt dir) and promoted
        # into the live tree only after the pre-commit fence check: a
        # stale (stolen-lease) applier must leave NOTHING in the
        # committed-visible batch range — orphan rows it landed before
        # being fenced would become visible if the new owner later
        # commits the same batch id with different content (exact-
        # duplicate drop only removes identical replays)
        promotes = []
        if upserts is not None:
            rows = build_posting_rows(
                upserts, self.analyzer, self.num_buckets, self.tenant_col,
                positions=self.positions,
            ).withColumn("batch", F.lit(batch).cast("long"))
            # delta files are batch-sized, so sorting them is cheap and
            # keeps row-group pruning effective on the merged read path
            promotes.append(
                _staged_append(
                    snap.dir("delta"),
                    lambda stage: self._write_store(rows, stage, "append"),
                )
            )
            # doc-length sidecar delta (same batch tag, same tombstone
            # liveness rule) — keeps the BM25 corpus stats EXACT under
            # maintenance at doc-grain cost, not posting-grain
            dl = doclens_from_rows(rows, self.tenant_col).withColumn(
                "batch", F.lit(batch).cast("long")
            )
            promotes.append(
                _staged_append(
                    snap.dir("doclens_delta"),
                    lambda stage: dl.coalesce(1).write.mode("append").parquet(stage),
                )
            )
            tomb_parts.append(upserts.select(*tomb_key).distinct())
        if deleted_ids:
            if self.tenant_col and not all(
                isinstance(d, (tuple, list)) and len(d) == 2 for d in deleted_ids
            ):
                raise ValueError(
                    "tenant-partitioned store: deleted_ids must be "
                    "(tenant, doc_id) pairs"
                )
            # field types come from the stored build-time schema (exact,
            # no partition-type inference, no extra read job)
            fields = [StructField(c, snap.schema[c].dataType) for c in tomb_key]
            tomb_parts.append(
                spark.createDataFrame(
                    [tuple(d) if self.tenant_col else (d,) for d in deleted_ids],
                    StructType(fields),
                )
            )
        if tomb_parts:
            tomb = tomb_parts[0]
            for p in tomb_parts[1:]:
                tomb = tomb.unionByName(p)
            tomb = tomb.distinct().withColumn("batch", F.lit(batch).cast("long"))
            promotes.append(
                _staged_append(
                    snap.dir("tombstones"),
                    lambda stage: tomb.coalesce(1)
                    .write.mode("append")
                    .parquet(stage),
                )
            )
        # refresh corpus stats from the live doclens view — one pass
        # over doc-grain rows per maintenance batch (10^9 docs is a few
        # GB, amortized at batch cadence, never paid at query time).
        # Crash between here and the sentinel replays the whole batch:
        # delta reads dedup exact-duplicate rows and the stats
        # recompute is idempotent, so the replay converges.  Stamping
        # applied_through=batch WITH the stats (one os.replace) is the
        # batch's COMMIT POINT for concurrent readers: until it lands,
        # the snapshot bound hides this batch's delta/tombstone rows,
        # so a serve racing this apply sees the complete pre-batch
        # corpus — never new rows without their tombstone (double tf)
        # or a tombstone without its rows (vanished doc).
        # a stale (stolen-lease) applier stops HERE — with every write
        # still staged, so it leaves nothing in the live tree
        try:
            _fence_check(self)
        except MaintenanceFencedError:
            for _promote, abort in promotes:
                abort()
            raise
        promoted: list[str] = []
        for promote, _abort in promotes:
            promoted.extend(promote())
        if _test_post_promote_crash is not None:
            _test_post_promote_crash()
        # the stats job must SEE the promoted rows (bound at batch), so it
        # runs after promotion — and it is long enough for a steal to
        # land, so its commit re-validates the fence.  If that check
        # fires, retract exactly the promoted files: they are still
        # invisible (the bound never advanced), so the fenced applier
        # again leaves nothing in the committed range.  A CRASH (kill,
        # OOM) in this window skips the retract — the orphans stay
        # invisible (the bound never advanced) and the NEXT apply's
        # _sweep_promoted_orphans retracts them before anything new is
        # staged, so a different-content recommit of this batch id can
        # never surface them (r12; previously covered only by the
        # same-content crash-replay contract).
        try:
            self._refresh_stats(spark, snap.as_of(batch))
        except MaintenanceFencedError:
            for p in promoted:
                try:
                    os.remove(p)
                except OSError:
                    pass
            raise
        with open(self._sentinel(batch), "w") as f:
            f.write("applied")
        return True

    def read_doclens(
        self, spark: SparkSession, snap: StoreSnapshot | None = None
    ) -> DataFrame:
        """The live doc-length view ``([tenant,] doc_id, dl, batch)`` —
        base sidecar + deltas under the SAME tombstone liveness rule as
        the posting rows, in ``snap`` (default: the current snapshot;
        maintenance passes one whose bound includes its in-flight
        batch)."""
        snap = snap or _built(self.snapshot(), self.path)
        keys = ([self.tenant_col] if self.tenant_col else []) + ["doc_id"]
        sch = StructType(
            [StructField(c, snap.schema[c].dataType) for c in keys + ["dl", "batch"]]
        )
        # the doc-grain sidecar rides INSIDE base/ (underscore prefix:
        # invisible to the posting read, published with the layout)
        df = spark.read.schema(sch).parquet(os.path.join(snap.dir("base"), "_doclens"))
        return _live_view(
            spark, snap, df, "doclens_delta", spark.read.schema(sch).parquet, keys, keys,
        )

    def _refresh_stats(self, spark: SparkSession, snap: StoreSnapshot) -> None:
        """Recompute exact (n_docs, sum_dl) from the live doclens view of
        ``snap`` — ``apply_batch``'s entry snapshot with its bound moved
        to the in-flight batch, so the stats INCLUDE that batch — and
        publish atomically (os.replace on meta): the same meta write
        advances the snapshot bound, so stats and data commit together
        and a reader can never pair batch-B idf/avgdl with batch-(B-1)
        posting rows."""
        meta = dict(snap.meta)
        meta["stats"] = self._stats_of(self.read_doclens(spark, snap))
        meta["applied_through"] = snap.upper
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        # the stats recompute above is a Spark job — long enough for a
        # TTL steal to land after the caller's fence check; re-validate
        # at the actual commit so a stale applier cannot roll the meta
        # (and the snapshot bound) back over the new owner's
        _fence_check(self)
        os.replace(tmp, self.meta_path)

    def stats(self, tenant=None, snap: StoreSnapshot | None = None) -> dict:
        """The exact BM25 corpus stats stamped by build/apply/compact in
        ``snap`` (default: the current snapshot): ``{"n_docs": int,
        "sum_dl": float}`` — the given tenant's own pair on
        tenant-partitioned stores (ranking statistics are RLS-scoped like
        the data: a tenant's idf/avgdl never reflect another tenant's
        corpus)."""
        snap = snap or self.snapshot()
        st = snap.meta.get("stats") if snap else None
        if not st or not st.get("n_docs"):
            raise ValueError(
                f"posting store at {self.path} has no corpus stats — "
                "unbuilt store or empty corpus"
            )
        if tenant is None:
            return st
        if not self.tenant_col:
            raise ValueError("store was not built with a tenant_col")
        ts = (st.get("tenants") or {}).get(str(tenant))
        if not ts:
            raise ValueError(
                f"no corpus stats for tenant {tenant!r} at {self.path} — "
                "unknown tenant or fully-deleted corpus"
            )
        return ts

    # -- read ------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        tenant=None,
        snap: StoreSnapshot | None = None,
    ) -> DataFrame:
        """The live posting view of ``snap`` (default: the current
        snapshot), optionally pruned to term buckets and/or one tenant
        (``PartitionFilters`` engage on both predicates — a tenant-scoped
        query touches ONLY that tenant's directories, the RLS-scan
        analog).  With no deltas/tombstones (the freshly-built serving
        case) this is a bare pruned base scan — zero merge overhead."""
        if tenant is not None and not self.tenant_col:
            raise ValueError("store was not built with a tenant_col")
        snap = snap or _built(self.snapshot(), self.path)
        reader = spark.read.schema(snap.schema)

        def scope(df):
            if buckets is not None:
                df = df.filter(F.col("term_bucket").isin([int(b) for b in buckets]))
            if tenant is not None:
                df = df.filter(F.col(self.tenant_col) == tenant)
            return df

        keys = ([self.tenant_col] if self.tenant_col else []) + ["doc_id"]
        return _live_view(
            spark, snap, scope(reader.parquet(snap.dir("base"))), "delta",
            lambda d: scope(reader.parquet(d)), keys + ["raw_term", "weight"], keys,
        )

    def should_compact(self, threshold: float = COMPACT_DELTA_FRACTION) -> bool:
        """See :func:`_should_compact`."""
        return _should_compact(self.base_dir, (self.delta_dir, self.tomb_dir), threshold)

    def term_search(
        self,
        spark: SparkSession,
        stemmed_terms: list[str],
        tenant=None,
        limit: int = 20,
    ) -> DataFrame:
        """The serving-query form over this store: bucket-pruned (and,
        when ``tenant`` is given, tenant-partition-pruned) weighted-tf
        relevance — the tenant-scoped variant of ``fts_posting_search``
        mirroring the reference's RLS-scoped keyword search
        (``042_match_function.sql:23-39``): a tenant's query can only
        ever scan that tenant's partition directories."""
        self._require_tenant_scope(tenant)
        terms = sorted(set(stemmed_terms))
        buckets = sorted({self.bucket_of(t) for t in terms})
        idx = self.read(spark, buckets=buckets, tenant=tenant).filter(
            F.col("term").isin(terms)
        )
        return (
            idx.groupBy("doc_id")
            .agg(
                F.round(F.sum(F.col("tf") * F.col("weight")), 2).alias("rank_score"),
                F.countDistinct("term").alias("terms_matched"),
            )
            .orderBy(F.desc("rank_score"), F.asc("doc_id"))
            .limit(limit)
        )

    def _require_tenant_scope(self, tenant) -> None:
        """Serving queries on a tenant-partitioned store MUST be
        tenant-scoped: doc ids are only unique WITHIN a tenant (the
        reference's per-tenant id spaces), so an unscoped groupBy on
        doc_id would merge different tenants' documents — fabricating
        phrase matches from two tenants' positions, summing BM25 tf
        across unrelated docs.  Cross-tenant analytics go through
        :meth:`read` with the tenant column in the grouping key."""
        if self.tenant_col and tenant is None:
            raise ValueError(
                "tenant-partitioned store: serving queries require "
                "tenant=...; use read() for cross-tenant analytics"
            )

    def phrase_search(
        self,
        spark: SparkSession,
        stemmed_terms: list[str],
        tenant=None,
        limit: int = 20,
    ) -> DataFrame:
        """Exact phrase matching over the positional posting rows — the
        ``phraseto_tsquery`` / Lucene PhraseQuery capability: a doc
        matches where the stemmed terms occur at CONSECUTIVE token
        positions, ranked by occurrence count.

        Serving shape: ONE bucket-pruned pass, one aggregation — each
        phrase term's positions pivot into a per-doc array column via
        conditional collect (flattened across the header/body weight
        split, so a phrase crossing the boundary still matches), and
        adjacency is pure array arithmetic (count of p in positions[0]
        with p+i in positions[i] for every later term).  Cost ∝ matched
        postings, like every other serving path; the positions column
        is column-pruned away from all non-phrase queries."""
        self._require_tenant_scope(tenant)
        if not self.positions:
            raise ValueError(
                "phrase_search needs the positional layout — this store "
                "was built with positions=False"
            )
        if len(stemmed_terms) < 2:
            raise ValueError("a phrase needs at least 2 terms")
        uniq = sorted(set(stemmed_terms))
        buckets = sorted({self.bucket_of(t) for t in uniq})
        idx = self.read(spark, buckets=buckets, tenant=tenant).filter(
            F.col("term").isin(uniq)
        )
        per = idx.groupBy("doc_id").agg(
            *[
                F.sort_array(
                    F.flatten(
                        F.collect_list(
                            F.when(F.col("term") == t, F.col("positions"))
                        )
                    )
                ).alias(f"__p{i}")
                for i, t in enumerate(stemmed_terms)
            ]
        )

        def _adjacent(p):
            cond = None
            for i in range(1, len(stemmed_terms)):
                ci = F.array_contains(F.col(f"__p{i}"), p + i)
                cond = ci if cond is None else (cond & ci)
            return cond

        scored = per.withColumn(
            "phrase_count", F.size(F.filter(F.col("__p0"), _adjacent))
        ).filter(F.col("phrase_count") > 0)
        return (
            scored.select(
                "doc_id",
                F.col("phrase_count").cast("double").alias("rank_score"),
                F.lit(len(stemmed_terms)).cast("long").alias("terms_matched"),
            )
            .orderBy(F.desc("rank_score"), F.asc("doc_id"))
            .limit(limit)
        )

    def substring_search(
        self,
        spark: SparkSession,
        pattern: str,
        tenant=None,
        docs: DataFrame | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        ordered: bool = True,
    ) -> DataFrame:
        """EXACT substring (ILIKE '%pattern%') serving from a TRIGRAM
        store — grep over the corpus without scanning it.

        pg_trgm's GIN index answers LIKE by intersecting the pattern's
        trigram posting lists, then RECHECKS candidates against the
        heap row.  The v5 store's position arrays make the recheck
        unnecessary: a match at char position p exists iff for every
        pattern offset i the doc holds gram(pattern, i) at position
        p + i — the :meth:`phrase_search` adjacency chain at character
        step, verified ENTIRELY from the index (no document fetch).
        The chain uses a covering offset subset (every 3rd gram + the
        last — overlapping triples pin every character), so long
        patterns cost ~m/3 posting lists.  Returns
        ``(doc_id, lang, n_matches)`` where n_matches counts ALL
        (overlapping) occurrences, ordered by doc_id.

        Scale shape: partition pruning to the pattern grams' buckets,
        term-sorted row-group pruning inside them — cost ∝ the
        pattern's gram postings, never corpus size.  Selectivity comes
        free: rare 3-grams have short lists.  Case-insensitive (both
        sides lowercased — the ILIKE contract); patterns shorter than
        3 chars have no trigram and belong to a scan, so they refuse.

        POSITIONS-LESS stores (built with ``positions=False`` — the
        literal pg_trgm layout, chosen when the ~1-int-per-char offset
        storage is not worth in-index verification) serve the same
        answer through pg_trgm's own two phases: candidates = docs
        holding ALL the pattern's grams (posting-list intersection,
        still bucket-pruned), then a BOUNDED RECHECK — candidate ids
        collected (capped at :data:`REGEX_CANDIDATE_CAP`) and pushed
        into the ``docs`` scan as an IN-predicate, overlap-counting the
        pattern against each candidate's text.  ``docs`` (the corpus
        frame) is required for that layout; past the cap the grams were
        not selective and the recheck honestly degrades to the full
        verify scan."""
        if self.analyzer != "trigram":
            raise ValueError(
                f"substring_search needs a trigram store (this store's "
                f"analyzer is {self.analyzer!r})"
            )
        self._require_tenant_scope(tenant)
        pat = _jvm_lower(spark, pattern)
        m = len(pat) - 2
        if m < 1:
            raise ValueError("pattern must be at least 3 characters")
        offs = list(range(0, m, 3))
        if (m - 1) not in offs:
            offs.append(m - 1)
        grams = {i: pat[i : i + 3] for i in offs}
        uniq = sorted(set(grams.values()))
        buckets = sorted({self.bucket_of(g) for g in uniq})
        idx = self.read(spark, buckets=buckets, tenant=tenant).filter(
            F.col("term").isin(uniq)
        )
        if not self.positions:
            if docs is None:
                raise ValueError(
                    "positions-less trigram store: substring_search "
                    "verifies candidates against the corpus — pass docs="
                )
            # ALL grams present -> candidate (set semantics: count the
            # distinct matched grams per doc, not posting rows)
            cand = (
                idx.groupBy("doc_id")
                .agg(F.count_distinct("term").alias("__ng"))
                .filter(F.col("__ng") == len(uniq))
                .select("doc_id")
            )
            cand_ids = [r[0] for r in cand.limit(REGEX_CANDIDATE_CAP + 1).collect()]
            if tenant is not None:
                docs = docs.filter(F.col(self.tenant_col) == tenant)
            verify = docs.select(
                F.col(id_col).alias("doc_id"),
                "lang",
                F.regexp_replace(F.lower(F.col(text_col)), r"^\s+", "").alias("__t"),
            )
            if len(cand_ids) <= REGEX_CANDIDATE_CAP:
                verify = verify.filter(F.col("doc_id").isin(cand_ids))
            # overlap-counting recheck (ALL start offsets, the same
            # contract as the in-index chain): bounded by the candidate
            # set, the pg_trgm heap-recheck shape.  Sequence needs an
            # explicit short-text guard: sequence(1, 0) steps DOWN to
            # [1, 0] (Spark defaults to step -1 when start > stop) and
            # would evaluate substr at position 0 — no false match is
            # possible (the substring is shorter than the pattern) but
            # the intended candidate-offset set is empty.
            ub = F.length("__t") - (m + 2) + 1
            n = F.size(
                F.filter(
                    F.when(
                        ub >= 1, F.sequence(F.lit(1), ub)
                    ).otherwise(F.array().cast("array<int>")),
                    lambda i: F.col("__t").substr(i, F.lit(m + 2)) == F.lit(pat),
                )
            ).cast("long")
            out = (
                verify.withColumn("n_matches", n)
                .filter(F.col("n_matches") > 0)
                .select("doc_id", "lang", "n_matches")
            )
            # ordered=False: suite arms skip the declared sort (dead
            # under their union; its range sampler re-runs the recheck)
            return out.orderBy("doc_id") if ordered else out
        # r13 (the extraction_tables_explode pattern): ONE range exchange
        # serves both the position pivot's clustering AND the declared
        # doc_id sort (the global Sort collapses to a local sort, and
        # its bound-sampling job disappears with it).  collect_list
        # packs posting rows without shrinking them, so the forfeited
        # map-side partial aggregation saved no bytes — the before-shape
        # shuffled the rows once for the agg and the packed position
        # arrays again for the sort.
        if ordered:
            idx = idx.repartitionByRange("doc_id")
        per = idx.groupBy("doc_id").agg(
            F.first("lang").alias("lang"),
            *[
                F.sort_array(
                    F.flatten(
                        F.collect_list(
                            F.when(F.col("term") == grams[i], F.col("positions"))
                        )
                    )
                ).alias(f"__p{i}")
                for i in offs
            ],
        )

        def _chained(p):
            cond = None
            for i in offs[1:]:
                ci = F.array_contains(F.col(f"__p{i}"), p + i)
                cond = ci if cond is None else (cond & ci)
            return cond if cond is not None else F.lit(True)

        scored = per.withColumn(
            "n_matches",
            F.size(F.filter(F.col(f"__p{offs[0]}"), _chained)).cast("long"),
        ).filter(F.col("n_matches") > 0)
        out = scored.select("doc_id", "lang", "n_matches")
        return out.orderBy("doc_id") if ordered else out

    def regex_search(
        self,
        spark: SparkSession,
        pattern: str,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        tenant=None,
        ordered: bool = True,
    ) -> DataFrame:
        """Regex search with a TRIGRAM PREFILTER — the Google Code
        Search design (Cox 2012, "Regular Expression Matching with a
        Trigram Index", public write-up; pg_trgm ships the same idea):
        every match of the regex must contain certain LITERAL
        substrings; candidates = docs containing ALL of them (each an
        exact index-verified :meth:`substring_search`), and only those
        docs' text is fetched and run through the real regex engine.

        Literal extraction (:func:`regex_required_literals`) is
        CONSERVATIVE: quantified atoms are dropped from their run,
        character classes and escapes break runs, and alternation or
        groups bail to no-literals — a weaker prefilter only means more
        docs verified, never a missed match.  With no usable literal
        (the Cox fallback) the prefilter is skipped and the regex runs
        over the full corpus — correct, just unpruned, exactly what an
        un-indexable pattern costs everywhere.

        The candidate ids are COLLECTED (capped at
        :data:`REGEX_CANDIDATE_CAP`) and pushed into the documents scan
        as an IN-predicate — the probe-ids discipline every other
        serving path uses.  A join would be pushdown-defeated: Catalyst
        pushes the (docs-side-only) regex filter below an inner join,
        re-running the engine over the whole corpus at scan time.  Past
        the cap the prefilter was not selective enough to pay anyway,
        so it degrades to the same full verify scan as the no-literal
        fallback.

        Returns ``(doc_id, lang, n_matches)`` — non-overlapping match
        counts (the regexp_count contract) — ordered by doc_id.  The
        regex runs against the same cleaned (lowercased,
        leading-space-stripped) text the store indexed, and matching is
        CASE-INSENSITIVE (``(?i)`` is prepended): the indexed text is
        lowercased, so a case-sensitive engine would silently match
        nothing for uppercase literals — the search contract here is
        pg_trgm's ILIKE-style insensitivity.  (Literal extraction feeds
        :meth:`substring_search`, which lowercases its pattern, so the
        prefilter agrees.)"""
        if self.analyzer != "trigram":
            raise ValueError(
                f"regex_search needs a trigram store (this store's "
                f"analyzer is {self.analyzer!r})"
            )
        self._require_tenant_scope(tenant)
        cleaned = F.regexp_replace(F.lower(F.col(text_col)), r"^\s+", "")
        if tenant is not None:
            # scope the VERIFY frame too: doc ids are only unique within
            # a tenant, so an unscoped docs side would join other
            # tenants' rows onto candidate ids (and the no-literal
            # fallback would scan every tenant outright)
            docs = docs.filter(F.col(self.tenant_col) == tenant)
        base = docs.select(
            F.col(id_col).alias("doc_id"), "lang", cleaned.alias("__t")
        )
        lits = regex_required_literals(pattern)
        scoped = base
        if lits:
            cand = None
            for lit in lits:
                # docs rides through for the positions-less layout's
                # bounded recheck; positional stores ignore it.
                # ordered=False: the cap test below does not depend on
                # row order, and a declared sort would pay a range
                # exchange plus its bound-sampling job per literal
                ids = self.substring_search(
                    spark, lit, tenant=tenant, docs=docs,
                    id_col=id_col, text_col=text_col, ordered=False,
                ).select("doc_id")
                cand = ids if cand is None else cand.join(ids, "doc_id")
            cand_ids = [
                r[0] for r in cand.limit(REGEX_CANDIDATE_CAP + 1).collect()
            ]
            if len(cand_ids) <= REGEX_CANDIDATE_CAP:
                scoped = base.filter(F.col("doc_id").isin(cand_ids))
        out = (
            scoped.withColumn(
                "n_matches",
                F.regexp_count(F.col("__t"), F.lit("(?i)" + pattern)).cast("long"),
            )
            .filter(F.col("n_matches") > 0)
            .select("doc_id", "lang", "n_matches")
        )
        # ordered=False: suite arms skip the declared sort (dead under
        # their union; its range sampler re-runs the regex verify scan)
        return out.orderBy("doc_id") if ordered else out

    def bm25_search(
        self,
        spark: SparkSession,
        stemmed_terms: list[str],
        tenant=None,
        limit: int = 20,
    ) -> DataFrame:
        """Okapi BM25 over the pruned posting partitions — the ranking
        function Lucene/Elasticsearch serve, beyond the reference's
        ``ts_rank`` weighted-tf (``044_keyword_search.sql:78-90``).

        Serving cost stays ∝ matched postings: ``dl`` rides on every
        posting row (the denormalized Lucene norm), per-term document
        frequencies come from the SAME pruned rows, and the corpus
        constants (N, avgdl) are meta lookups — no unpruned scan, no
        extra join.  idf is the standard ln(1 + (N - df + ½)/(df + ½));
        tf is the header-boosted weighted frequency (BM25F-style field
        boost, consistent with :meth:`term_search`'s scoring).  Exact
        under LSM maintenance: deltas carry their own dl, tombstones
        drop dead rows before any aggregate, and apply_batch/compact
        restamp (N, sum_dl) exactly from the live doclens sidecar."""
        self._require_tenant_scope(tenant)
        terms = sorted(set(stemmed_terms))
        buckets = sorted({self.bucket_of(t) for t in terms})
        # ONE snapshot for rows AND corpus statistics (see StoreSnapshot)
        snap = _built(self.snapshot(), self.path)
        idx = self.read(spark, buckets=buckets, tenant=tenant, snap=snap).filter(
            F.col("term").isin(terms)
        )
        # tenant-scoped ranking uses the tenant's OWN corpus stats (and
        # df comes from the tenant-pruned rows), so scores are identical
        # to a store built from that tenant's corpus alone — isolation
        # extends to the ranking statistics, not just the row set
        st = self.stats(tenant=tenant, snap=snap)
        n_docs = float(st["n_docs"])
        # identical to the oracle's SUM(dl)/COUNT(*): both divisions see
        # the same exact-integer operands, so the double is bit-equal
        avgdl = st["sum_dl"] / st["n_docs"]
        per = idx.groupBy("doc_id", "term").agg(
            F.sum(F.col("tf") * F.col("weight")).alias("tfw"),
            F.max("dl").alias("dl"),
        )
        # df (document frequency per term): a whole-partition window
        # over the (doc, term) grain — one row per matching doc per
        # term, so count == df exactly; ONE pruned-store pass with full
        # map-side partial aggregation (0.27 s median at sf0.1).  The
        # term partition concentrates DOC-grain rows (one per matching
        # doc): fine for ordinary terms, a hazard only for stop-word-
        # class terms at scale (ROADMAP open item).  Two other measured
        # shapes lose (ARCHITECTURE.md "BM25 df-shape decision"): a
        # per-term re-aggregate broadcast back scans the pruned buckets
        # twice (0.32 s); a repartition-by-term feeding both agg and
        # window (0.25 s) forfeits map-side partial aggregation and
        # concentrates a hot term's RAW posting rows.
        per = per.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        contrib = (
            F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * (F.col("tfw") * (BM25_K1 + 1.0))
            / (
                F.col("tfw")
                + BM25_K1
                * (F.lit(1.0 - BM25_B) + BM25_B * F.col("dl") / F.lit(avgdl))
            )
        )
        scored = per.groupBy("doc_id").agg(
            # floor(x*100 + 0.5)/100: HALF-UP on both engines (DuckDB
            # ROUND is banker's); the 2 dp absorb cross-libm ln ulp and
            # ≤|terms|-element sum-order noise
            (F.floor(F.sum(contrib) * 100 + F.lit(0.5)) / 100).alias("rank_score"),
            F.countDistinct("term").alias("terms_matched"),
        )
        return (
            scored.orderBy(F.desc("rank_score"), F.asc("doc_id"))
            .limit(limit)
            .select("doc_id", "rank_score", "terms_matched")
        )

    @_with_maintenance_lease
    def compact(self, spark: SparkSession) -> None:
        """Fold deltas/tombstones into the next GENERATION's base
        (batch reset to 0, term-sorted row groups restored store-wide).
        The live view materializes into the unpublished layout, the
        pointer flips, and the directories the fold read stay on disk
        for one more compact interval — an in-flight serve keeps
        reading them instead of dying on a renamed path."""
        # Fold EXACTLY the batches the stamped epoch will claim: the
        # bound comes from the applied-batch SENTINELS, not meta's
        # applied_through — a crash between apply_batch's meta commit
        # and its sentinel write leaves applied_through one ahead, and
        # folding by it would publish a base containing batch B under
        # an epoch of B-1 (no committed state matches, and B's replay
        # re-lands on content already folded).  Excluding B loses
        # nothing: an unsentineled batch is the stream's to redeliver.
        fold_through = _max_sentinel_batch(self.path)
        snap = _built(self.snapshot(as_of=fold_through), self.path)
        live = self.read(spark, snap=snap).withColumn(
            "batch", F.lit(0).cast("long")
        )
        new_gen, root = _fresh_layout(self.path, snap.gen)
        base = os.path.join(root, "base")
        self._write_store(live, base, "overwrite")
        # fold the doc-length sidecar the same way (batch resets to 0)
        # and restamp exact corpus stats into the fresh meta
        keys = ([self.tenant_col] if self.tenant_col else []) + ["doc_id"]
        doclens = self.read_doclens(spark, snap).select(*keys, "dl")
        stats = self._sidecar_and_stats(doclens, base)
        # epoch == the fold bound, BEFORE the publish clears the
        # sentinels: readers ignore delta/tombstone rows <= this, so a
        # crash between the flip and the cleanup can never double-count
        # (or let a stale tombstone kill fresh batch-0 rows)
        self._stamp_meta_into(
            base, live.schema, stats, compacted_through=fold_through,
        )
        self._publish_generation(new_gen)


#: in-process memo of built index paths — an os.stat-cheap staleness
#: check happens inside the digest, so a hit needs no filesystem walk.
_ENSURED: set[str] = set()


def _ensure_store(spark: SparkSession, sf_dir: str, store, table: str, build_fn):
    """Build-if-missing shared by every content-addressed ``ensure_*``:
    a memo hit returns at once; otherwise a store without a snapshot
    (nothing built) is built from ``table`` through
    :func:`build_or_wait` as ``build_fn(frame, lease)`` — one builder
    under the store's lease and heartbeat, every concurrent caller
    waiting for its publish instead of failing on the held lease or
    rebuilding after it.  A layout the store refuses (another version,
    data without meta) raises from ``snapshot()`` instead of being
    rebuilt over."""
    if store.path in _ENSURED:
        return store
    def ready() -> bool:
        return store.snapshot() is not None

    if not ready():
        from car_etl_spark.tables import load_tables

        frame = load_tables(spark, sf_dir, (table,))[table]
        os.makedirs(index_root(), exist_ok=True)
        build_or_wait(lambda lease: build_fn(frame, lease), ready, store.path)
    _ENSURED.add(store.path)
    return store


#: Trigram positions DEFAULT policy (measured table in ARCHITECTURE.md
#: "Storage, measured + the positions-optional layout"): the positional
#: layout costs 4.2-5.8x corpus bytes and grows RELATIVE to corpus (one
#: int per text char) vs 2.2-3.9x for the positions-less pg_trgm
#: layout; it buys ~2x on the substring probe (in-index position-chain
#: verify vs bounded candidate recheck).  The default is a RULE, not
#: caller knowledge: pay the surcharge while it is absolutely small
#: (compressed corpus under this threshold keeps the whole store at a
#: few GB), flip to the lean layout above it — at 100 TB a ~6x store is
#: another copy-and-a-half of the corpus, while the recheck's cost is a
#: bounded candidate fetch.  Callers with a substring-latency SLO opt
#: back in with positions=True; the choice is persisted in meta AND
#: content-addressed into the store path, so a corpus crossing the
#: threshold rebuilds cleanly instead of serving from a mismatched
#: layout.
TRIGRAM_POSITIONS_MAX_CORPUS_BYTES = 1 << 30


def default_trigram_positions(corpus_bytes: int) -> bool:
    """Build-knob default for trigram stores: positional while the
    measured ~2x-corpus surcharge stays absolutely cheap, positions-less
    above (see :data:`TRIGRAM_POSITIONS_MAX_CORPUS_BYTES`)."""
    return int(corpus_bytes) <= TRIGRAM_POSITIONS_MAX_CORPUS_BYTES


def _source_bytes(source: str) -> int:
    """Compressed on-disk bytes of a parquet source (file or dir) —
    the policy-grade corpus size, no Spark job."""
    if os.path.isdir(source):
        return _tree_bytes(source)
    try:
        return os.path.getsize(source)
    except OSError:
        return 0


def ensure_posting_index(
    spark: SparkSession, sf_dir: str, analyzer: str = "suffix",
    positions: bool | None = None,
) -> PostingStore:
    """Build-if-missing and return the posting store for a corpus dir.

    The store path is content-addressed on (documents.parquet path,
    mtime, layout version, parameters — including the analyzer, so the
    suffix and porter stores coexist); a rebuilt corpus gets a fresh
    store automatically, and repeated calls cost one set lookup."""
    source = os.path.join(sf_dir, "documents.parquet")
    # bucket count DERIVED from corpus footer stats (no Spark job) —
    # the layout scales with posting volume instead of freezing at a
    # test-scale constant; the params string content-addresses it, so a
    # corpus crossing a power-of-2 boundary gets a fresh store
    est = estimate_posting_rows(source)
    if analyzer == "trigram" and est > 0:
        # trigram posting rows scale with text CHARS (one gram per
        # char), not chars/AVG_TOKEN_BYTES tokens — without this the
        # layout undersizes ~6x against TARGET_POSTINGS_PER_BUCKET
        est *= AVG_TOKEN_BYTES
    num_buckets = derive_num_buckets(est)
    # ANALYZER_VERSION bumps when a stemmer's behavior changes (porter
    # v2: non-word characters treated as consonants, matching the
    # literal backend) so content-addressed stores self-invalidate
    if positions is None:
        # token positions on word-grain stores are cheap (~1 int/token,
        # the ~1.2-1.4x phrase-serving tax settled by the r6 layout A/B)
        # and phrase search needs them: always on.  Trigram positions
        # are the dominant storage term — apply the corpus-bytes rule.
        positions = (
            default_trigram_positions(_source_bytes(source))
            if analyzer == "trigram"
            else True
        )
    params = (
        f"nb{num_buckets}|h{HEADER_TOKENS}|{HEADER_WEIGHT}|{BODY_WEIGHT}"
        f"|a:{analyzer}|av{ANALYZER_VERSION}|p:{int(positions)}"
    )
    digest = _source_digest("postings", POSTING_VERSION, source, params)
    path = os.path.join(index_root(), f"postings-{digest}")
    store = PostingStore(path, analyzer, num_buckets=num_buckets, positions=positions)
    return _ensure_store(
        spark, sf_dir, store, "documents",
        lambda docs, lease: store.build(docs, lease=lease),
    )


# ---------------------------------------------------------------------------
# IVF layout


def _farthest_point_select(vecs: list[list[float]], k: int) -> list[list[float]]:
    """Greedy max-min (k-center) selection by ANGULAR distance — pure
    driver-side numpy over the (bounded) candidate pool.  Starts from
    the first hash-sampled candidate; each step takes the candidate
    farthest (min cosine) from the chosen set.  Zero-norm candidates
    score similarity 0 against everything (never preferentially
    chosen, never crash)."""
    import numpy as np

    mat = np.asarray(vecs, dtype="float64")
    norms = np.linalg.norm(mat, axis=1)
    safe = np.where(norms > 0, norms, 1.0)
    unit = mat / safe[:, None]
    chosen = [0]
    # best similarity of each candidate to the chosen set (maximized
    # over chosen); pick the argmin each round
    best_sim = unit @ unit[0]
    for _ in range(1, k):
        nxt = int(np.argmin(best_sim))
        chosen.append(nxt)
        best_sim = np.maximum(best_sim, unit @ unit[nxt])
    return [vecs[i] for i in chosen]


class IvfStore:
    """Persisted IVF layout: assignments partitioned by centroid_id +
    driver-resident centroids in meta.json.

    Incremental maintenance (the HNSW-insert analog: the reference's
    vector index absorbs row writes without a rebuild,
    ``041_vector_index.sql:6-8``): the coarse quantizer (centroids) is
    FROZEN between rebuilds; new/changed vectors are assigned to their
    nearest existing centroid and appended batch-tagged under
    ``delta/``, deletes append per-id tombstones, and the read path
    serves base+delta minus tombstones (same liveness rule as
    :class:`PostingStore`).

    The exact-probe certificate survives maintenance by construction:

    - **radii only widen** — each batch records the max angle of its
      appended vectors per centroid in ``meta['batches'][b]``, and the
      effective radius is the max over base + all batches.  A widened
      cone keeps every member bound valid (monotone weakening).
    - **counts are split per batch** — effective count = base + per-
      batch additions.  Replays overwrite their own batch entry (keyed
      by batch id), so a crash between delta write and sentinel cannot
      double-count.
    - **deletes are pessimistic** — ``D`` = the sum of per-batch
      tombstone counts is an upper bound on counted-but-dead members
      (an id tombstoned twice counts twice; that only inflates D).
      The k-th-similarity lower bound walks clusters until cumulative
      count >= k + D, so even if every pending tombstone hid among the
      top clusters, k live members are still certified above L.
      ``compact()`` folds everything down and resets D.
    """

    def __init__(self, path: str, tenant_col: str | None = None):
        self.path = path
        #: multi-tenant layout: ONE shared frozen quantizer (centroids
        #: are corpus geometry, not tenant data), assignments partitioned
        #: by (tenant, centroid_id), and per-tenant (radius, count)
        #: statistics in meta so the exact-probe certificate holds
        #: WITHIN a tenant's rows — the RLS-visibility analog of the
        #: reference's per-tenant vector search
        #: (042_match_function.sql:23-39)
        if tenant_col is None:
            tenant_col = (self.meta() or {}).get("tenant_col")
        self.tenant_col = tenant_col

    # current-generation paths, for maintenance probes and inspection;
    # reads take theirs from a StoreSnapshot (meta rides INSIDE the
    # generation's assignments/)

    @property
    def assign_dir(self) -> str:
        return _current_dir(self.path, "assignments")

    @property
    def delta_dir(self) -> str:
        return _current_dir(self.path, "delta")

    @property
    def tomb_dir(self) -> str:
        return _current_dir(self.path, "tombstones")

    @property
    def meta_path(self) -> str:
        return os.path.join(self.assign_dir, "_meta.json")

    def _publish_generation(self, new_gen: int) -> None:
        """See :func:`_publish_store_generation`; fenced by the active
        maintenance lease (every caller is ``@_with_maintenance_lease``)."""
        _publish_store_generation(self.path, new_gen, lease=_active_lease(self))

    @_with_maintenance_lease
    def build(
        self,
        emb: DataFrame,
        num_centroids: int = 16,
        refine_iterations: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        keep: tuple[str, ...] = ("label",),
        filter_cols: tuple[str, ...] = (),
        pq_m: int = 0,
    ) -> None:
        from car_etl_spark.operators.similarity import ivf_assign, kmeans_refine

        # Seed by deterministic id-hash SAMPLING (works for ANY id
        # space — string doc keys, sparse longs — unlike a ``vec_id <
        # k`` rule that requires dense integer ids; xxhash64 makes the
        # pseudo-random permutation stable across runs), then spread
        # small seed sets by FARTHEST-POINT selection (Gonzalez 1985
        # k-center greedy) over an oversampled candidate pool: two
        # seeds landing in one natural cluster is the classic Lloyd
        # local optimum that leaves another cluster merged under a
        # wide-radius centroid, and max-min init is the standard cure.
        # Control-plane collect: candidate pool <= max(8k, 4096) rows
        # capped well under MAX_CENTROIDS-scale memory.
        cand_n = (
            min(max(8 * num_centroids, num_centroids), 4096)
            if num_centroids <= 256
            else num_centroids
        )
        # ONE xxhash64-ordered sample collect serves BOTH the centroid
        # seed pool and (when pq_m is set) the PQ training sample — the
        # deterministic ordering makes any prefix a valid sample, and a
        # second full-corpus sort for the codebooks would double the
        # build's dominant shuffle.  dim probe is a LIMIT-1 scan.
        fetch_n = cand_n
        if pq_m:
            from car_etl_spark.operators import pq as PQ

            probe = emb.filter(F.col(vec_col).isNotNull()).select(vec_col).first()
            if probe is not None and probe[0] is not None:
                fetch_n = max(cand_n, PQ.train_sample_size(len(probe[0])))
        sample_pool = (
            emb.filter(F.col(vec_col).isNotNull())
            .select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col).cast("string")).asc(), F.col(id_col).asc())
            .limit(fetch_n)
            .collect()
        )
        cand_rows = sample_pool[:cand_n]
        if not cand_rows:
            raise ValueError("IvfStore.build: no non-null vectors to seed from")
        seed_vecs = [[float(x) for x in r[1]] for r in cand_rows]
        if len(seed_vecs) > num_centroids:
            seed_vecs = _farthest_point_select(seed_vecs, num_centroids)
        seeds = emb.sparkSession.createDataFrame(
            [(i, v) for i, v in enumerate(seed_vecs)],
            "centroid_id long, centroid_vec array<double>",
        )
        centroids = (
            kmeans_refine(emb, seeds, refine_iterations, id_col, vec_col)
            if refine_iterations > 0
            else seeds
        )
        rows = centroids.select("centroid_id", "centroid_vec").collect()
        if self.tenant_col and self.tenant_col not in keep:
            keep = tuple(keep) + (self.tenant_col,)
        for c in filter_cols:
            if c not in keep and c != id_col:
                keep = tuple(keep) + (c,)
        assigned = ivf_assign(
            emb, centroids, id_col, vec_col, centroid_rows=rows, keep=keep
        ).withColumn("batch", F.lit(0).cast("long"))
        pq_meta = None
        if pq_m:
            from car_etl_spark.operators import pq as PQ

            dim = len(seed_vecs[0])
            msub = PQ.pq_subspaces(dim, pq_m)
            # bounded control-plane sample for codebook training — a
            # prefix of the SAME ordered collect the seeds came from
            sample_rows = sample_pool[: PQ.train_sample_size(dim)]
            import numpy as np

            books = PQ.train_codebooks(
                np.asarray([[float(x) for x in r[1]] for r in sample_rows]), msub
            )
            assigned = PQ.encode_with_err(assigned, vec_col, books)
            pq_meta = {
                "m": int(books.shape[0]),
                "k": int(books.shape[1]),
                "dim": dim,
                "codebooks": books.tolist(),
            }
            # store-wide err statistics: max is the fused-serving
            # ceiling (adc_min + max_err certifies that no row OUTSIDE
            # the collected shortlist can reach the threshold —
            # overestimate-safe: too big only forces the fallback pass,
            # never a missed survivor); mean/p95 are the DRIFT BASELINE
            # for should_retrain() — delta batches encode against the
            # frozen codebooks, the certificate absorbs the drift as
            # rescore volume, and these numbers are what make that
            # decay measurable instead of silent.
            pq_meta.update(_pq_err_stats(assigned))
        pcols = ([self.tenant_col] if self.tenant_col else []) + ["centroid_id"]
        new_gen, newroot = _fresh_layout(self.path)
        tmp = os.path.join(newroot, "assignments")
        (
            assigned.repartition(*pcols)
            .write.mode("overwrite")
            .partitionBy(*pcols)
            .parquet(tmp)
        )
        cents = sorted(
            (int(r.centroid_id), [float(x) for x in r.centroid_vec])
            for r in rows
            if r.centroid_vec is not None
        )
        # read the new layout back with the WRITE schema: stats keys must
        # stringify the original tenant values, not partition-inferred
        # reinterpretations
        written = assigned.sparkSession.read.schema(assigned.schema).parquet(tmp)
        meta = {
            "version": IVF_VERSION,
            "compacted_through": 0,
            # snapshot bound (see _live_window): fresh layout, nothing
            # pending — advanced atomically by apply_batch's final meta
            # write (that write IS the batch's commit point for readers)
            "applied_through": 0,
            "num_centroids": len(cents),  # may be < requested on tiny corpora
            "refine_iterations": refine_iterations,
            "dim": len(cents[0][1]) if cents else 0,
            "centroid_ids": [c[0] for c in cents],
            "centroids": [c[1] for c in cents],
            "batches": {},
            "tenant_col": self.tenant_col,
            # recorded so compact's retrain sample can order by the id
            # hash exactly like build's seed/training sample did
            "id_col": id_col,
        }
        self._stamp_certificate(meta, written, cents, vec_col, filter_cols)
        if pq_meta is not None:
            meta["pq"] = pq_meta
        meta["schema"] = assigned.schema.jsonValue()
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            json.dump(meta, f)
        self._publish_generation(new_gen)

    def _stamp_certificate(
        self, meta: dict, written: DataFrame, cents, vec_col: str, filter_cols
    ) -> None:
        """Stamp the exact-probe certificate of a freshly written layout
        into ``meta`` (build and compact): per-centroid radii/counts,
        TIGHT from the written rows (maintenance only ever widens
        them); on tenant stores the per-tenant entries, computed in the
        SAME pass at the (tenant, centroid) grain with the global view
        folded driver-side (radius = max over tenants, count = sum);
        and the declared filter columns' counts at both grains."""
        if self.tenant_col:
            meta["tenants"] = self._cluster_stats(written, cents, vec_col, by_tenant=True)
            stats: dict = {}
            for entry in meta["tenants"].values():
                for cid_s, n in entry["counts"].items():
                    r = entry["radii"].get(cid_s)
                    prev_r, prev_n = stats.get(int(cid_s), (None, 0))
                    if r is not None:
                        prev_r = r if prev_r is None else max(prev_r, r)
                    stats[int(cid_s)] = (prev_r, prev_n + int(n))
        else:
            stats = self._cluster_stats(written, cents, vec_col)
        # clusters can hold NULL-embedding rows only if every member is
        # NULL (radius null) — treat as radius pi (never prunable)
        meta["radii"] = [
            stats[c[0]][0] if c[0] in stats and stats[c[0]][0] is not None else 3.141593
            for c in cents
        ]
        meta["counts"] = [stats[c[0]][1] if c[0] in stats else 0 for c in cents]
        if filter_cols:
            glob_f, tenant_f = self._filter_stats_all(written, list(filter_cols))
            meta["filters"] = glob_f
            # per-(tenant, centroid, value) counts live INSIDE the tenant
            # entry, beside its radii/counts — the combined tenant x
            # filter certificate's statistics
            for t, cols in (tenant_f or {}).items():
                meta["tenants"].setdefault(t, {"radii": {}, "counts": {}})["filters"] = cols

    def _write_meta(self, meta: dict) -> None:
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self.meta_path)

    def _cluster_stats(
        self, assigned: DataFrame, cents, vec_col: str, by_tenant: bool = False
    ) -> dict:
        """Per-centroid (max angular radius, member count) — the
        control-plane statistics the exact-probe bound needs (one pass;
        acos argument clamped against fp drift): ``{centroid_id:
        (radius, n)}``.  ``by_tenant`` groups at the (tenant, centroid)
        grain for the tenant-scoped certificate — still control-plane
        small — as ``{tenant: {"radii": {cid: r}, "counts": {cid: n}}}``."""
        from car_etl_spark.operators.similarity import dim_cosine

        cent_df = assigned.sparkSession.createDataFrame(
            [(cid, vec) for cid, vec in cents],
            "centroid_id long, centroid_vec array<double>",
        )
        sim = dim_cosine(
            F.col(vec_col), F.col("centroid_vec"), len(cents[0][1]) if cents else 0
        )
        tkey = [self.tenant_col] if by_tenant else []
        stats = (
            assigned.join(F.broadcast(cent_df), "centroid_id")
            .groupBy(*tkey, "centroid_id")
            .agg(
                F.max(F.acos(F.least(F.lit(1.0), F.greatest(F.lit(-1.0), sim))))
                .alias("radius"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        if not by_tenant:
            return {
                int(r.centroid_id): (
                    float(r.radius) if r.radius is not None else None,
                    int(r.n),
                )
                for r in stats
            }
        out: dict = {}
        for r in stats:
            entry = out.setdefault(str(r[0]), {"radii": {}, "counts": {}})
            entry["counts"][str(int(r.centroid_id))] = int(r.n)
            if r.radius is not None:
                entry["radii"][str(int(r.centroid_id))] = float(r.radius)
        return out

    def _filter_stats_all(self, assigned: DataFrame, filter_cols: list[str]):
        """(global filter stats, per-tenant filter stats | None): per-
        (centroid, value) member counts for each DECLARED filterable
        attribute — the statistics that extend the certified-exact probe
        walk to metadata-filtered (and tenant x filtered) search, the
        vector-DB "filterable attribute" contract (attributes declared
        at index build, like Lucene doc values).  ONE pass per column:
        tenant stores aggregate at the (tenant, centroid, value) grain
        and fold the global view driver-side (as
        :meth:`_stamp_certificate` folds radii/counts).  NULL-valued rows are excluded: an IN-filter can
        never match NULL, so their absence keeps counts and predicate
        agreeing.

        Grain is centroids x distinct values per column — control-plane
        sized, enforced by :data:`FILTER_VALUE_CAP` PER TENANT on tenant
        stores (a high-cardinality column belongs in the predicate
        pushdown of a full scan, not in index metadata): the folded
        global map may union more values than the cap across tenants
        with disjoint vocabularies, exactly the tenant-count multiple
        the layout already pays for per-tenant radii/counts."""
        tkey = [self.tenant_col] if self.tenant_col else []
        per: dict = {}  # tenant (None on tenant-blind stores) -> col -> cid -> value -> n
        for c in filter_cols:
            rows = (
                assigned.filter(F.col(c).isNotNull())
                .groupBy(*tkey, "centroid_id", c)
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            vocab: dict = {}
            for r in rows:
                vocab.setdefault(str(r[0]) if tkey else None, set()).add(r[c])
            for t, vals in vocab.items():
                if len(vals) > FILTER_VALUE_CAP:
                    scope = f" for tenant {t!r}" if t is not None else ""
                    raise ValueError(
                        f"filter column {c!r} has {len(vals)} distinct values"
                        f"{scope} (cap {FILTER_VALUE_CAP}): too high-cardinality "
                        "for index-resident filter statistics"
                    )
            for r in rows:
                per.setdefault(str(r[0]) if tkey else None, {}).setdefault(
                    c, {}
                ).setdefault(str(int(r.centroid_id)), {})[str(r[c])] = int(r.n)
        glob: dict = {c: {} for c in filter_cols}
        for cols in per.values():
            for c, cmap in cols.items():
                for cid, vmap in cmap.items():
                    g = glob[c].setdefault(cid, {})
                    for v, n in vmap.items():
                        g[v] = g.get(v, 0) + n
        return glob, (per if tkey else None)

    # -- incremental maintenance ----------------------------------------

    def _sentinel(self, batch: int) -> str:
        return os.path.join(self.path, f"_applied_{batch}")

    @_with_maintenance_lease
    def apply_batch(
        self,
        spark: SparkSession,
        upserts: DataFrame | None,
        deleted_ids: list | None,
        batch: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        keep: tuple[str, ...] = ("label",),
    ) -> bool:
        """Apply one micro-batch of vector upserts/deletes.

        Upserted vectors are assigned to the FROZEN centroid set (the
        quantizer does not move between rebuilds) and appended under
        ``delta/``; every touched id gets a tombstone killing its older
        rows.  The batch's per-centroid (count, max-angle) stats land in
        ``meta['batches'][batch]`` — keyed by batch id, so a replay
        overwrites rather than double-counts, and the sentinel makes
        completed batches no-ops."""
        if batch <= 0:
            raise ValueError("batch must be > 0 (0 is the base build)")
        if os.path.exists(self._sentinel(batch)):
            return False
        snap = _built(self.snapshot(), self.path)
        m = snap.meta
        if batch <= snap.epoch:
            # replay of a batch already folded by compact (its sentinel
            # was cleared): reapplying would append epoch-ignored delta
            # rows AND inflate the certificate's per-batch counts — the
            # unsafe direction — so refuse like the sentinel does
            return False
        # retract crash orphans from a previous attempt BEFORE staging
        # anything (promoted files whose batch never committed — see
        # _sweep_promoted_orphans); runs under this applier's lease
        _sweep_promoted_orphans(
            [snap.dir("delta"), snap.dir("tombstones")],
            snap.upper,
            recheck=lambda: _fence_check(self),
        )
        cents = sorted(zip(m["centroid_ids"], m["centroids"]))
        if self.tenant_col and self.tenant_col not in keep:
            keep = tuple(keep) + (self.tenant_col,)
        filter_cols = list(m.get("filters") or {})
        for c in filter_cols:
            if c not in keep and c != id_col:
                keep = tuple(keep) + (c,)
        tomb_ids: set = set()
        promotes = []  # staged appends, promoted after the fence check
        batch_entry: dict = {"counts": {}, "radii": {}, "tombs": 0}
        if upserts is not None:
            from car_etl_spark.operators.similarity import ivf_assign

            from types import SimpleNamespace

            assigned = ivf_assign(
                upserts, None, id_col, vec_col,
                centroid_rows=[
                    SimpleNamespace(centroid_id=cid, centroid_vec=vec)
                    for cid, vec in cents
                ],
                keep=keep,
            ).withColumn("batch", F.lit(batch).cast("long"))
            if m.get("pq"):
                # encode against the FROZEN codebooks (same contract as
                # the frozen coarse quantizer) — the per-row error bound
                # keeps certified serving exact no matter how far the
                # corpus drifts from the training sample
                import numpy as np

                from car_etl_spark.operators import pq as PQ

                assigned = PQ.encode_with_err(
                    assigned, vec_col,
                    np.asarray(m["pq"]["codebooks"], dtype="float64"),
                )
            assigned = assigned.localCheckpoint(eager=True)
            stats = self._cluster_stats(assigned, cents, vec_col)
            if m.get("pq"):
                # batch err stats ride the PESSIMISTIC meta write (they
                # stay in the early copy): a reader that sees the delta
                # rows must already see an err ceiling covering them, or
                # the fused shortlist could certify completeness it
                # doesn't have.  mean/p95/n_enc feed should_retrain().
                est = _pq_err_stats(assigned)
                if est["max_err"] is not None:
                    batch_entry.update(est)
            batch_entry["counts"] = {str(cid): n for cid, (_r, n) in stats.items()}
            batch_entry["radii"] = {
                str(cid): r for cid, (r, _n) in stats.items() if r is not None
            }
            if filter_cols:
                # per-batch filterable-attribute counts: the filtered
                # walk ADDS these when present; their absence (pre-
                # feature batches, pessimistic write) undercounts, which
                # only extends the walk — safe.  Tenant stores also keep
                # the (tenant, centroid, value) grain so the COMBINED
                # tenant x filter walk stays tight under maintenance.
                bglob, btenant = self._filter_stats_all(assigned, filter_cols)
                batch_entry["filters"] = bglob
                if btenant is not None:
                    batch_entry["tenant_filters"] = btenant
            # control-plane collect: bounded by the MICRO-BATCH's distinct
            # id count (connector pages are O(100-1000) rows), never by
            # store size — same ceiling argument as the CDC token path
            tomb_cols = (
                [self.tenant_col, id_col] if self.tenant_col else [id_col]
            )
            tomb_ids |= {tuple(r) for r in assigned.select(*tomb_cols).distinct().collect()}
        if deleted_ids:
            # tenant stores: (tenant, id) pairs — ids are only unique
            # within a tenant, and a bare-id tombstone from one tenant
            # must never kill another tenant's rows
            if self.tenant_col:
                if not all(
                    isinstance(d, (tuple, list)) and len(d) == 2 for d in deleted_ids
                ):
                    raise ValueError(
                        "tenant-partitioned store: deleted_ids must be "
                        "(tenant, vec_id) pairs"
                    )
                tomb_ids |= {tuple(d) for d in deleted_ids}
            else:
                tomb_ids |= {(d,) for d in deleted_ids}
        batch_entry["tombs"] = len(tomb_ids)

        # WRITE ORDER is the certificate's crash-safety argument — a
        # reader (or a post-crash session) may observe any prefix:
        #
        # 1. meta PESSIMISM first (radii widened + tombstone debt, NO
        #    counts yet): wider cones and a bigger D only ever ADD
        #    probes.  A crash here costs probe width, never recall.
        # 2. tombstones: upserted/deleted ids go dark.  Their members
        #    are still in the stale counts, and D covers exactly them,
        #    so the k+D walk stays certified over the visible rows.
        #    (Tombstones BEFORE delta: an upserted id is briefly absent
        #    rather than ever visible in two versions.)
        # 3. delta rows: new vectors appear.  Counts don't include them
        #    yet — undercounting extends the walk, which again only
        #    widens probes.
        # 4. meta counts + sentinel: the batch entry gets its final
        #    values (keyed by batch id, so replays overwrite).
        pessimistic = dict(batch_entry)
        pessimistic["counts"] = {}
        # filters counts must ALSO wait for the delta write: counting
        # not-yet-visible matching rows would certify the filtered
        # walk's L too early (the one direction that loses recall)
        pessimistic.pop("filters", None)
        pessimistic.pop("tenant_filters", None)
        m.setdefault("batches", {})[str(batch)] = pessimistic
        # fence BEFORE the pessimistic meta write too: ``m`` was read at
        # entry, so a stale applier writing it here would roll the live
        # meta back over everything the new owner committed since —
        # strictly worse than the delta-orphan hole the staging closes
        _fence_check(self)
        self._write_meta(m)
        if tomb_ids:
            # tombstone key types derive from the STORED build-time
            # schema (exact — immune to partition-type inference, and no
            # extra read job); tenant stores key by (tenant, id)
            tomb_cols = [self.tenant_col, id_col] if self.tenant_col else [id_col]
            tomb = spark.createDataFrame(
                sorted(tomb_ids),
                StructType([StructField(c, snap.schema[c].dataType) for c in tomb_cols]),
            ).withColumn("batch", F.lit(batch).cast("long"))
            # staged, promoted after the pre-commit fence check (tomb
            # FIRST, preserving the step 2→3 order the crash argument
            # above relies on)
            promotes.append(
                _staged_append(
                    snap.dir("tombstones"),
                    lambda stage: tomb.coalesce(1)
                    .write.mode("append")
                    .parquet(stage),
                )
            )
        if upserts is not None:
            pcols = ([self.tenant_col] if self.tenant_col else []) + ["centroid_id"]
            promotes.append(
                _staged_append(
                    snap.dir("delta"),
                    lambda stage: assigned.repartition(*pcols)
                    .write.mode("append")
                    .partitionBy(*pcols)
                    .parquet(stage),
                )
            )
        m["batches"][str(batch)] = batch_entry
        # COMMIT POINT for concurrent readers: counts and the snapshot
        # bound advance in one atomic meta replace — until it lands, the
        # bound hides this batch's tombstones AND delta rows, so a serve
        # racing this apply sees the complete previous snapshot (an
        # upserted id is never observed absent between steps 2 and 3
        # above).  The pessimistic step-1 write still protects the
        # crash-replay window.
        m["applied_through"] = batch
        # a stale (stolen-lease) applier stops HERE — with the
        # tombstone/delta writes still staged, so it leaves no ROW DATA
        # in the committed-visible range.  Residual (documented, safe
        # direction): the pessimistic batches[b] meta entry written
        # above may linger — repairing meta while fenced risks rolling
        # back the new owner's commits, which is strictly worse than
        # the entry's only effect (widened radii + tombstone debt =
        # extra probes, never lost recall); it is overwritten if the
        # new owner applies the same batch id and cleared by the next
        # compact in any case.
        try:
            _fence_check(self)
        except MaintenanceFencedError:
            for _promote, abort in promotes:
                abort()
            raise
        for promote, _abort in promotes:
            promote()
        if _test_post_promote_crash is not None:
            _test_post_promote_crash()
        # a crash HERE (post-promote, pre-commit) leaves delta/tomb
        # orphans above the committed bound — invisible, and retracted
        # by the next apply's _sweep_promoted_orphans (r12)
        self._write_meta(m)
        with open(self._sentinel(batch), "w") as f:
            f.write("applied")
        return True

    def read_assignments(
        self,
        spark: SparkSession,
        probes: list[int] | None = None,
        id_col: str = "vec_id",
        tenant=None,
        snap: StoreSnapshot | None = None,
    ) -> DataFrame:
        """The live assignment view of ``snap`` (default: the current
        snapshot): base + deduped delta, minus rows older than their
        id's newest tombstone (liveness rule shared with
        :class:`PostingStore`: an upsert's own rows carry the same batch
        as their tombstone and survive `__tb <= batch`).  With
        ``tenant``, both partition levels prune — the scan touches only
        (tenant, probed-centroid) directories."""
        if tenant is not None and not self.tenant_col:
            raise ValueError("store was not built with a tenant_col")
        snap = snap or _built(self.snapshot(), self.path)

        def scope(df):
            if probes is not None:
                df = df.filter(F.col("centroid_id").isin([int(p) for p in probes]))
            if tenant is not None:
                df = df.filter(F.col(self.tenant_col) == tenant)
            return df

        key = [self.tenant_col, id_col] if self.tenant_col else [id_col]
        reader = spark.read.schema(snap.schema)
        return _live_view(
            spark, snap, scope(reader.parquet(snap.dir("assignments"))), "delta",
            lambda d: scope(reader.parquet(d)), key, key,
        )

    def should_compact(self, threshold: float = COMPACT_DELTA_FRACTION) -> bool:
        """See :func:`_should_compact`; for the IVF layout the delta
        fraction ALSO bounds certificate pessimism (tombstone debt +
        widened radii extend probe sets), so compacting on the same
        threshold keeps probes tight."""
        return _should_compact(self.assign_dir, (self.delta_dir, self.tomb_dir), threshold)

    def should_retrain(self, factor: float = PQ_RETRAIN_FACTOR) -> bool:
        """True when the delta batches' count-weighted mean pq
        reconstruction error has drifted past ``factor`` x the base
        codebooks' mean — the signal that the frozen codebooks no
        longer fit the corpus.  Drift never costs correctness (the
        per-row error band absorbs it as rescore volume); this bounds
        the DECAY: when it trips, the next compact retrains the
        codebooks (it rewrites every row anyway).  Pre-stats layers
        contribute nothing (unknown -> no signal), mirroring
        :meth:`should_compact`'s advisory role."""
        m = self.meta()
        base = (m.get("pq") or {}).get("err_mean")
        if base is None:
            return False  # pre-stats layout: no baseline, no signal
        tot = 0.0
        tot_n = 0
        for bentry in (m.get("batches") or {}).values():
            me, n = bentry.get("err_mean"), int(bentry.get("n_enc") or 0)
            if me is not None and n:
                tot += float(me) * n
                tot_n += n
        # absolute floor keeps a (near-)perfect-fit baseline from making
        # the ratio trip on noise — and from disabling the signal when
        # base is exactly 0 (codebooks that memorized a tiny corpus)
        return bool(tot_n) and (tot / tot_n) > max(
            factor * float(base), PQ_RETRAIN_ERR_FLOOR
        )

    @_with_maintenance_lease
    def compact(
        self,
        spark: SparkSession,
        vec_col: str = "embedding",
        retrain: bool | None = None,
    ) -> None:
        """Fold delta/tombstones into a fresh base (batch reset to 0,
        pending-tombstone debt cleared, radii recomputed TIGHT from the
        live rows — maintenance only ever widens them).

        ``retrain=None`` consults :meth:`should_retrain`: when the
        batch err drift tripped, the pq codebooks are RETRAINED on the
        live corpus (the same deterministic id-hash-ordered sample as
        build) and every row re-encoded — free rewrite-wise, compact
        rewrites every row regardless.  Err stats restamp tight either
        way."""
        # fold bound == the epoch the publish stamps (see
        # PostingStore.compact's sentinel-bound note): an unsentineled
        # batch whose meta commit landed is excluded and redelivered
        fold_through = _max_sentinel_batch(self.path)
        snap = _built(self.snapshot(as_of=fold_through), self.path)
        live = self.read_assignments(spark, snap=snap).withColumn(
            "batch", F.lit(0).cast("long")
        )
        m = snap.meta
        if m.get("pq") and (retrain if retrain is not None else self.should_retrain()):
            import numpy as np

            from car_etl_spark.operators import pq as PQ

            dim = int(m["pq"]["dim"])
            idc = m["id_col"]
            sample = (
                live.filter(F.col(vec_col).isNotNull())
                .select(idc, vec_col)
                .orderBy(
                    F.xxhash64(F.col(idc).cast("string")).asc(), F.col(idc).asc()
                )
                .limit(PQ.train_sample_size(dim))
                .collect()
            )
            if sample:
                books = PQ.train_codebooks(
                    np.asarray([[float(x) for x in r[1]] for r in sample]),
                    int(m["pq"]["m"]),
                )
                live = PQ.encode_with_err(
                    live.drop("pq_code", "pq_err"), vec_col, books
                )
                m["pq"]["codebooks"] = books.tolist()
        live = live.localCheckpoint(eager=True)
        cents = sorted(zip(m["centroid_ids"], m["centroids"]))
        pcols = ([self.tenant_col] if self.tenant_col else []) + ["centroid_id"]
        new_gen, newroot = _fresh_layout(self.path, snap.gen)
        tmp = os.path.join(newroot, "assignments")
        (
            live.repartition(*pcols)
            .write.mode("overwrite")
            .partitionBy(*pcols)
            .parquet(tmp)
        )
        written = spark.read.schema(live.schema).parquet(tmp)
        # radii/counts recomputed tight, and filterable-attribute counts
        # restamped at BOTH grains (the fresh tenant entries replace the
        # old ones, filters included)
        self._stamp_certificate(m, written, cents, vec_col, m.get("filters"))
        m["batches"] = {}
        # epoch from the sentinels BEFORE the swap clears them — meta
        # rides the atomic swap, so readers ignore any delta/tombstone
        # files a crash strands between the swap and the cleanup
        m["compacted_through"] = fold_through
        # snapshot bound restarts with the fresh layout (no pending
        # deltas; an uncommitted stranded batch replays in full)
        m["applied_through"] = m["compacted_through"]
        if m.get("pq"):
            # restamp the err statistics tight from the live rows (a
            # tombstoned outlier no longer forces the fallback pass;
            # after a retrain these become the NEW drift baseline)
            m["pq"].update(_pq_err_stats(written))
        m["schema"] = live.schema.jsonValue()
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            json.dump(m, f)
        self._publish_generation(new_gen)

    def meta(self, root: str | None = None) -> dict | None:
        """Meta of the generation at layout ``root`` (default: the
        current one) — the store's ONLY meta reader, so the layout
        version is checked here once and every path assumes the current
        layout.  None means unbuilt; assignments without meta, or meta
        of another layout version, refuse (stale or defaulted centroids
        and statistics would certify wrong probes)."""
        assign = os.path.join(root, "assignments") if root else self.assign_dir
        try:
            with open(os.path.join(assign, "_meta.json")) as f:
                m = json.load(f)
        except FileNotFoundError:
            if _dir_has_parquet(assign):
                raise ValueError(
                    f"IVF store at {self.path} has assignments but no "
                    "assignments/_meta.json — a pre-v5 store; rebuild it"
                ) from None
            return None
        if m.get("version") != IVF_VERSION:
            raise ValueError(
                f"IVF store at {self.path} has layout version "
                f"{m.get('version')} (current {IVF_VERSION}) — rebuild it; "
                "its meta lacks what a rebuild or compact under the current "
                "layout stamps"
            )
        return m

    def snapshot(self, as_of: int | None = None, gen: int | None = None):
        """The :class:`StoreSnapshot` every read of this store takes
        (default: the current generation at its committed bound); None
        when unbuilt.  One snapshot serves a whole probe: the walk's
        counts, radii, tombstone debt and codebooks AND the row view's
        dirs and batch bound — its ``schema`` (the build-time
        assignments schema) keeps partition-column type inference from
        reinterpreting tenant or centroid values."""
        return StoreSnapshot.take(self.path, self.meta, as_of, gen)

    def probe_ids_exact(
        self, qvec: list[float], k: int, tenant=None, where=None,
        snap: StoreSnapshot | None = None,
    ) -> list[int]:
        """EXACT probe set via the cluster-radius triangle bound, from
        the certificate in ``snap`` (default: the current snapshot) —
        still zero Spark jobs, still driver-side numpy.

        Every member x of cluster c satisfies
        ``angle(q,x) >= angle(q,c) - radius_c`` (spherical triangle
        inequality; cosine depends on directions only, so norms are
        irrelevant), hence ``sim(q,x) <= cos(max(0, theta_c - r_c))``
        =: ub_c, and symmetrically ``sim(q,x) >= cos(min(pi, theta_c +
        r_c))`` =: lb_c.  Walking clusters by lb desc until cumulative
        member count reaches k yields a certified lower bound L on the
        true k-th best similarity; any cluster with ub_c < L cannot
        contribute to the top-k and is pruned.  On well-clustered
        corpora this probes a few partitions; on unclusterable (near-
        random) data radii approach pi/2 and it degrades to the full
        scan exactness requires.  A 1e-6 slack on L absorbs the 6-dp
        output rounding at the k-th boundary.

        FILTERED search (``where=(col, values)``): the radius bound
        holds for ANY subset of a cluster's members, so the SAME walk
        certifies metadata-filtered top-k when the per-cluster counts
        are the MATCHING member counts — read from the per-(centroid,
        value) statistics of a DECLARED filter column (build with
        ``filter_cols=``, the vector-DB filterable-attribute contract).
        Batch filter counts fold in when present; their absence
        undercounts, which only extends the walk.

        COMBINED ``tenant`` + ``where`` (the reference's actual serving
        shape — ``match_document_chunks`` applies tenant RLS and the
        optional document filter in the same scan,
        ``042_match_function.sql:23-41``): the walk certifies against
        the per-(tenant, centroid, value) counts kept inside the tenant
        entry, with the TENANT's cluster radii (a tenant's cone bounds
        every subset of its members, so it bounds the filtered subset)
        — never the min of the two marginals, which OVERestimates the
        intersection (the one unsafe direction)."""
        import numpy as np

        if tenant is not None and not self.tenant_col:
            raise ValueError("store was not built with a tenant_col")
        m = (snap or _built(self.snapshot(), self.path)).meta
        cmat = np.asarray(m["centroids"], dtype="float64")
        ids = np.asarray(m["centroid_ids"], dtype="int64")
        q = np.asarray(qvec, dtype="float64")
        denom = np.linalg.norm(cmat, axis=1) * np.linalg.norm(q)
        sims = np.divide(cmat @ q, denom, out=np.full(len(ids), -2.0), where=denom > 0)
        thetas = np.arccos(np.clip(sims, -1.0, 1.0))
        fstats = vset = tentry = None
        if where is not None:
            col, values = where
            fstats = (m.get("filters") or {}).get(col)
            if fstats is None:
                raise ValueError(
                    f"{col!r} is not a declared filter column of this "
                    "store — rebuild with filter_cols=(...)"
                )
            if tenant is not None:
                # a declared column without a (tenant, centroid, value)
                # entry for this tenant means the tenant has zero non-NULL
                # rows in it — probing nothing loses nothing, the correct
                # answer is empty
                tentry = (m.get("tenants") or {}).get(str(tenant), {})
                fstats = (tentry.get("filters") or {}).get(col, {})
            # SET semantics: duplicate (or str-colliding) values would
            # double-count matching members, certify the walk early,
            # and prune clusters still holding true top-k rows
            vset = sorted({str(v) for v in values})
        if fstats is not None and tentry is not None:
            # tenant x filter: tenant radii (bound any subset of the
            # tenant's members), intersection counts from the tenant's
            # per-(centroid, value) stats
            radii = np.asarray(
                [float(tentry.get("radii", {}).get(str(int(c)), 0.0)) for c in ids],
                dtype="float64",
            )
            counts = np.asarray(
                [
                    float(sum(fstats.get(str(int(c)), {}).get(v, 0) for v in vset))
                    for c in ids
                ],
                dtype="float64",
            )
        elif fstats is not None:
            radii = np.asarray(m["radii"], dtype="float64")
            counts = np.asarray(
                [
                    float(sum(fstats.get(str(int(c)), {}).get(v, 0) for v in vset))
                    for c in ids
                ],
                dtype="float64",
            )
        elif tenant is not None:
            # tenant-scoped certificate: that tenant's per-cluster
            # (radius, count) from meta.  A cluster with no tenant rows
            # contributes count 0 / radius 0 — probing it would scan
            # nothing, pruning it loses nothing.  Maintenance batches
            # still fold below: radii only widen (global max applies to
            # every tenant's cone — monotone weakening), batch counts
            # are NOT added (stale-low counts extend the walk, which
            # only widens probes), and the global tombstone debt D is
            # an upper bound on this tenant's dead rows too.
            entry = (m.get("tenants") or {}).get(str(tenant), {})
            radii = np.asarray(
                [float(entry.get("radii", {}).get(str(int(c)), 0.0)) for c in ids],
                dtype="float64",
            )
            counts = np.asarray(
                [float(entry.get("counts", {}).get(str(int(c)), 0)) for c in ids],
                dtype="float64",
            )
        else:
            radii = np.asarray(m["radii"], dtype="float64")
            counts = np.asarray(m["counts"], dtype="float64")
        # fold in maintenance batches: radii widen (max), counts add,
        # and D pending tombstones make the k-th bound pessimistic —
        # the walk must certify k live members even if every tombstoned
        # row hid among the clusters walked so far
        pending_tombs = 0
        pos = {int(cid): i for i, cid in enumerate(ids)}
        for bentry in (m.get("batches") or {}).values():
            pending_tombs += int(bentry.get("tombs", 0))
            if fstats is not None:
                # filtered walk: add the batch's MATCHING counts (absent
                # on pessimistic/pre-feature entries -> undercount -> safe).
                # Tenant x filter reads the batch's (tenant, centroid,
                # value) grain — the GLOBAL batch filters would overcount
                # the intersection, the unsafe direction.
                if tentry is not None:
                    bf = (
                        (bentry.get("tenant_filters") or {})
                        .get(str(tenant), {})
                        .get(where[0])
                        or {}
                    )
                else:
                    bf = (bentry.get("filters") or {}).get(where[0]) or {}
                for cid, vals in bf.items():
                    if int(cid) in pos:
                        counts[pos[int(cid)]] += sum(int(vals.get(v, 0)) for v in vset)
            elif tenant is None:
                for cid, n in (bentry.get("counts") or {}).items():
                    if int(cid) in pos:
                        counts[pos[int(cid)]] += int(n)
            for cid, r in (bentry.get("radii") or {}).items():
                if int(cid) in pos:
                    i = pos[int(cid)]
                    radii[i] = max(radii[i], float(r))
        ub = np.cos(np.maximum(0.0, thetas - radii))
        lb = np.cos(np.minimum(np.pi, thetas + radii))
        order = np.argsort(-lb)
        cum = np.cumsum(counts[order])
        enough = np.searchsorted(cum, k + pending_tombs)
        if enough >= len(order):  # corpus (minus debt) smaller than k: scan all
            return [int(i) for i in ids]
        L = lb[order[enough]]
        return [int(i) for i in ids[ub >= L - 1e-6]]

    #: serving scans target ~this many rows per task.  At the bench
    #: corpus (10^4 rows) the probed dirs are tiny files that the
    #: default minPartitionNum floor splits into one task per core;
    #: the ~24 ms FIXED cost of each task then IS the query's executor
    #: demand (measured: a probed count with no scoring at all cost
    #: 568 ms executor across 24 tasks, the cosine added ~50 ms) — and
    #: under fair-share concurrency a request's latency converges to
    #: its demand, which made vector P95 inflate 8.2x at 32 streams
    #: (SERVICE_r10).  Deriving the task count from the certificate's
    #: per-centroid counts removes the fixed cost at small probe
    #: volumes and leaves real volumes parallel: 10^8 probed rows at
    #: 100 TB still get hundreds of tasks.
    SERVING_ROWS_PER_TASK = 200_000

    #: small floor on the coalesced task count: a 1-task serving scan
    #: minimizes executor DEMAND but serializes the whole read+score on
    #: one core, visibly raising SOLO latency (measured p95 111→237 ms
    #: at sf0.1).  Four tasks buy back the solo parallelism for ~3
    #: extra task-fixed-costs of demand; when the probe set has fewer
    #: than four file splits, coalesce keeps the smaller count anyway.
    SERVING_MIN_TASKS = 4

    def _serving_task_count(self, probes, m: dict) -> int:
        """Row-estimate-derived task count for a probed serving scan
        (base counts + batch-delta counts over the probe set; tenant
        scans overshoot toward extra tasks, the safe direction)."""
        ids = [int(c) for c in m.get("centroid_ids") or []]
        by_id = dict(zip(ids, (int(n) for n in m.get("counts") or [])))
        pset = None if probes is None else {int(p) for p in probes}
        est = sum(n for cid, n in by_id.items() if pset is None or cid in pset)
        for entry in (m.get("batches") or {}).values():
            for cid_s, n in (entry.get("counts") or {}).items():
                if pset is None or int(cid_s) in pset:
                    est += int(n)
        return max(self.SERVING_MIN_TASKS, -(-est // self.SERVING_ROWS_PER_TASK))

    def _probed_scan(
        self, spark: SparkSession, snap: StoreSnapshot, probes, id_col: str, tenant, where
    ) -> DataFrame:
        """The live rows of the probed partitions in ``snap`` (dirs,
        batch bound and task count all from the same committed state),
        with the ``where=(col, values)`` IN-predicate pushed into the
        pruned parquet scan."""
        scan = self.read_assignments(
            spark, probes=probes, id_col=id_col, tenant=tenant, snap=snap,
        ).coalesce(self._serving_task_count(probes, snap.meta))
        if where is not None:
            scan = scan.filter(F.col(where[0]).isin(list(where[1])))
        return scan

    @staticmethod
    def _rescored_topk(
        scan: DataFrame, qvec: list[float], k: int, id_col: str, vec_col: str,
        extra_cols: tuple[str, ...],
    ) -> DataFrame:
        """Exact cosine rescoring (6 dp) of ``scan`` against the query,
        top-k by score desc / id asc — the last stage of every IVF
        serving mode."""
        from car_etl_spark.operators.similarity import dim_cosine

        sim = F.round(dim_cosine(F.col(vec_col), V.literal_vector(qvec), len(qvec)), 6)
        return (
            scan.select(id_col, *extra_cols, sim.alias("cosine_sim"))
            .orderBy(F.desc("cosine_sim"), F.asc(id_col))
            .limit(k)
        )

    def probe_topk(
        self,
        spark: SparkSession,
        qvec: list[float],
        k: int = 20,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        extra_cols: tuple[str, ...] = ("label",),
        tenant=None,
        where=None,
    ) -> DataFrame:
        """Exact-rescored top-k over the probed partitions: ONE Spark
        job, scanning only the probed fraction of the corpus
        (``PartitionFilters`` on centroid_id).  The probe set is
        CERTIFIED exact from the cluster radii
        (:meth:`probe_ids_exact`).

        ``where=(col, values)`` is metadata-FILTERED search: the probe
        set certifies against the matching member counts
        (:meth:`probe_ids_exact`) and the IN-predicate is pushed into
        the pruned parquet scan, so both the certificate and the bytes
        read track the filtered corpus."""
        # ONE snapshot serves the walk and the row view (see StoreSnapshot)
        snap = _built(self.snapshot(), self.path)
        probes = self.probe_ids_exact(qvec, k, tenant=tenant, where=where, snap=snap)
        return self._rescored_topk(
            self._probed_scan(spark, snap, probes, id_col, tenant, where),
            qvec, k, id_col, vec_col, extra_cols,
        )

    def pq_topk(
        self,
        spark: SparkSession,
        qvec: list[float],
        k: int = 20,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        extra_cols: tuple[str, ...] = ("label",),
        tenant=None,
        where=None,
    ) -> DataFrame:
        """CERTIFIED-EXACT top-k from the PRODUCT-QUANTIZED codes —
        the compressed-scan serving mode (see :mod:`operators.pq`).

        Plan shape, and why it survives 100 TB:

        1. centroid probing as in :meth:`probe_topk` (driver-side
           certificate, zero Spark jobs);
        2. the shortlist pass scans ONLY ``(id, pq_code, pq_err)`` of
           the probed partitions — parquet column pruning never
           touches the embedding column, so the scan reads ~dim*8/m
           times fewer vector bytes (64 dims / m=8: 64x);
        3. the k-th largest per-row LOWER bound ``adc - err`` is a
           certified threshold L (at least k probed rows have true
           cosine >= L) — a bounded k-row collect, same control-plane
           grain as the probe ids;
        4. only rows whose UPPER bound ``adc + err`` reaches L (minus
           the 6-dp rounding slack) are exact-rescored against the
           embedding column, fetched by a join the optimizer sizes
           (AQE broadcasts the survivor side when it is small — the
           common case under tight codebooks).

        Exactness does not depend on codebook quality: loose codebooks
        inflate the survivor set (up to a full rescore of the probed
        partitions), never the result.  Refuses stores built without
        ``pq_m=``."""
        # ONE snapshot serves the walk, the codebooks and both scans — a
        # racing maintenance commit or compact flip can't pair new
        # tombstones with the old certificate, or post-retrain codes
        # with old codebooks (see StoreSnapshot)
        snap = _built(self.snapshot(), self.path)
        m = snap.meta
        if not m.get("pq"):
            raise ValueError(
                "store was not built with pq_m= — rebuild with product "
                "quantization to use pq_topk"
            )
        import numpy as np

        from car_etl_spark.operators import pq as PQ

        books = np.asarray(m["pq"]["codebooks"], dtype="float64")
        table = PQ.adc_table(qvec, books)
        probes = self.probe_ids_exact(qvec, k, tenant=tenant, where=where, snap=snap)
        scored = (
            self._probed_scan(spark, snap, probes, id_col, tenant, where)
            .select(id_col, "pq_code", "pq_err")
            .filter(F.col("pq_code").isNotNull())
            .withColumn("__adc", PQ.adc_score_col(F.col("pq_code"), table))
        )
        # FUSED serving shape (the default): ONE TakeOrdered pass over
        # the code-only scan collects the top-R rows by raw ADC with
        # their error bands (R = PQ_SHORTLIST_FACTOR*k — bounded, the
        # control-plane grain of the probe ids), the driver derives the
        # certified threshold L from the k best collected lower bounds,
        # and when `min(collected adc) + max_err < L` proves no row
        # OUTSIDE the shortlist can reach L (every uncollected row has
        # adc <= the collected min and err <= the store's err ceiling),
        # the survivor ids are PUSHED into the embedding fetch as an
        # IN-predicate — no join, no second code pass, and the warm
        # serve is a single id-pruned scan job.  The code pass rides
        # the PREPARED plan (paid once at prepare, like the probe
        # walk); only when the certificate cannot close over the
        # shortlist does serving fall back to the threshold-filtered
        # survivor scan + rescore join (always exact, never wrong —
        # loose codebooks cost the fallback, not recall).
        fused_ids: list | None = None
        survivors = None
        scored = scored.withColumn(
            "__lb", F.col("__adc") - F.col("pq_err")
        ).withColumn("__ub", F.col("__adc") + F.col("pq_err"))
        R = PQ_SHORTLIST_FACTOR * k
        rows = (
            scored.orderBy(F.desc("__adc"), F.asc(id_col))
            .limit(R)
            .select(id_col, "__adc", "__lb", "__ub")
            .collect()
        )
        # certified threshold L = min lower bound among the k best
        # collected lower bounds (at least k probed rows have true
        # cosine >= L).  When fewer than k rows are probed, L =
        # their min lb and every row satisfies ub >= lb >= L: all
        # rescored, still exact.
        lbs = sorted((float(r["__lb"]) for r in rows), reverse=True)
        thresh = lbs[k - 1] if len(lbs) >= k else (lbs[-1] if lbs else -2.0)
        err_max = self._pq_err_ceiling(m)
        exhausted = len(rows) < R  # the collect saw every probed row
        complete = exhausted or (
            err_max is not None
            and rows
            and min(float(r["__adc"]) for r in rows) + err_max
            < thresh - PQ.RERANK_SLACK
        )
        if complete:
            fused_ids = [
                r[0]
                for r in rows
                if float(r["__ub"]) >= thresh - PQ.RERANK_SLACK
            ]
        else:
            # the ceiling couldn't close over the shortlist: collect
            # the survivor ids themselves, CAPPED (the regex-
            # candidate discipline — REGEX_CANDIDATE_CAP ids is
            # control-plane grain), and still push them into the
            # embedding fetch.  This keeps the serve a single
            # id-pruned scan even in the near-tie regime where the
            # certificate honestly degrades toward rescore-all
            # (there the IN covers most probed rows and the serve
            # equals the plain probed rescore — which is the right
            # plan when codes can't separate).  Only past the cap
            # does the survivor set stay distributed and the serve
            # pay the join.
            sur = (
                scored.filter(F.col("__ub") >= thresh - PQ.RERANK_SLACK)
                .select(id_col)
                .limit(REGEX_CANDIDATE_CAP + 1)
                .collect()
            )
            if len(sur) <= REGEX_CANDIDATE_CAP:
                # when most probed rows survive (the near-tie regime
                # where codes cannot separate), the id predicate
                # buys almost no compute but costs per-action
                # optimizer time ∝ |ids| and per-row set probes —
                # the honest plan there is the plain probed rescore
                # (exact: a superset of the survivors), i.e. what
                # probe_topk serves.  One bounded count at prepare
                # decides.
                n_probed = scored.count()
                if len(sur) < PQ_PUSH_MAX_FRACTION * n_probed:
                    fused_ids = [r[0] for r in sur]
                # else: neither fused_ids nor survivors — base
                # serves unfiltered below (rescore-all of the
                # probed partitions)
            else:
                survivors = scored.filter(
                    F.col("__ub") >= thresh - PQ.RERANK_SLACK
                ).select(id_col)
        base = self._probed_scan(spark, snap, probes, id_col, tenant, where).select(
            id_col, vec_col, *extra_cols
        )
        if fused_ids is not None:
            base = base.filter(F.col(id_col).isin(fused_ids))
        elif survivors is not None:
            base = base.join(survivors, id_col)
        # else: rescore-all of the probed partitions (survivor fraction
        # past PQ_PUSH_MAX_FRACTION — the plain probed scan is the plan)
        return self._rescored_topk(base, qvec, k, id_col, vec_col, extra_cols)

    def _pq_err_ceiling(self, m: dict) -> float | None:
        """Upper bound on pq_err over every LIVE encodable row, from
        meta only — base ceiling plus each batch's.  None (-> the
        serving fallback) when any row-bearing layer lacks one: the
        unknown direction must force the fallback, never certify."""
        pq = m.get("pq") or {}
        base = pq.get("max_err")
        vals: list[float] = []
        if base is not None:
            vals.append(float(base))
        elif any(int(c) > 0 for c in m.get("counts") or []):
            return None  # pre-ceiling layout with base rows
        for bentry in (m.get("batches") or {}).values():
            me = bentry.get("max_err")
            if me is not None:
                vals.append(float(me))
            elif bentry.get("counts"):
                return None  # upsert-bearing batch without a ceiling
        return max(vals) if vals else None


#: centroid-count derivation bounds: floor keeps the probe certificate
#: meaningful on tiny corpora; cap bounds partition fan-out and the
#: driver-resident centroid matrix (4096 x 1536 doubles ~ 50 MB)
MIN_CENTROIDS = 4
MAX_CENTROIDS = 4096


def derive_num_centroids(n_rows: int) -> int:
    """The standard IVF sizing: ``k ~ sqrt(n)`` (balances cells scanned
    per probe against centroids compared per query), clamped to
    [:data:`MIN_CENTROIDS`, :data:`MAX_CENTROIDS`].  Unknown corpus
    size (-1) falls back to the legacy default of 16."""
    if n_rows <= 0:
        return 16
    import math

    return max(MIN_CENTROIDS, min(MAX_CENTROIDS, int(round(math.sqrt(n_rows)))))


def ensure_tenant_ivf_index(spark: SparkSession, sf_dir: str) -> IvfStore:
    """Content-addressed TENANT-PARTITIONED IVF store over the
    embeddings table with a derived two-tenant split (``vec_id`` parity
    — the synthetic twin of a real tenant column, SQL-recomputable so
    the combined tenant x filter serving arm is oracle-checkable).
    Build params ride the digest like :func:`ensure_ivf_index`."""
    source = os.path.join(sf_dir, "embeddings.parquet")
    from car_etl_spark.tables import parquet_rowcount

    # sqrt sizing from the FULL table (the shared layout is one
    # centroid set over both tenants); each tenant's clusters then hold
    # ~sqrt(2)x fewer members than a solo-tenant derivation would give
    # — slightly finer-grained probing, never wrong, and the per-tenant
    # walk certifies against the tenant's own counts regardless
    num_centroids = derive_num_centroids(parquet_rowcount(sf_dir, "embeddings"))
    params = f"tenant2|c{num_centroids}|r2|flabel"
    digest = _source_digest("ivf", IVF_VERSION, source, params)
    path = os.path.join(index_root(), f"ivf-{digest}")
    store = IvfStore(path, tenant_col="tenant_id")
    return _ensure_store(
        spark, sf_dir, store, "embeddings",
        lambda emb, lease: store.build(
            emb.withColumn(
                "tenant_id",
                F.concat(F.lit("t"), F.pmod(F.col("vec_id"), F.lit(2)).cast("string")),
            ),
            num_centroids, refine_iterations=2, filter_cols=("label",), lease=lease,
        ),
    )


def ensure_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    num_centroids: int | None = None,
    refine_iterations: int = 2,
    filter_cols: tuple[str, ...] = ("label",),
    pq_m: int = 8,
) -> IvfStore:
    source = os.path.join(sf_dir, "embeddings.parquet")
    if num_centroids is None:
        # sqrt(n) from the parquet footer's row count — free statistics,
        # no Spark job; the params string content-addresses the result
        from car_etl_spark.tables import parquet_rowcount

        num_centroids = derive_num_centroids(parquet_rowcount(sf_dir, "embeddings"))
    # pq codes ride as EXTRA COLUMNS of the one shared store (column
    # pruning keeps them free for non-pq reads), so every serving mode
    # — probe, filtered, pq — amortizes a single build.  The ".3" is
    # the pq codec version (v2 = packed-binary codes; v3 = max_err
    # ceiling in pq meta): bumping it re-addresses pq stores without
    # invalidating every IVF layout.
    params = (
        f"c{num_centroids}|r{refine_iterations}|f{','.join(filter_cols)}|p{pq_m}.3"
    )
    digest = _source_digest("ivf", IVF_VERSION, source, params)
    path = os.path.join(index_root(), f"ivf-{digest}")
    store = IvfStore(path)
    return _ensure_store(
        spark, sf_dir, store, "embeddings",
        lambda emb, lease: store.build(
            emb, num_centroids, refine_iterations,
            filter_cols=filter_cols, pq_m=pq_m, lease=lease,
        ),
    )
