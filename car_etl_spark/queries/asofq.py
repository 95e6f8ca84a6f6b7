"""As-of (time-travel) snapshot reads of the LSM stores, oracle-checked.

The stores' MVCC contract — a read of ``snapshot(as_of=N)`` equals the
state after batches ``<= N`` (base build = batch 0; a batch is visible
iff its commit landed; tombstones kill strictly-older rows; a same-batch
upsert+delete resolves to the upsert) — was pytest-pinned only through
round 9.  This arm makes it a hard-signal CORRECTNESS row: a dedicated
posting store and rollup store are built from the ``documents`` /
``events`` tables with DETERMINISTIC batch rules (pure modular
arithmetic on ``doc_id`` / the event's epoch-minute, below), each store
is read ``as_of`` every batch id, and the DuckDB oracle reconstructs
the exact same as-of states directly from the raw tables by replaying
the same rules in SQL — an end-to-end check of build + apply_batch +
tombstone precedence + the snapshot-window read path, through content
the oracle derives independently.

Batch rules (shared by the Spark ensure and the oracle SQL — change
them together):

- documents, capped at ``doc_id < 300`` (the arm verifies MVCC
  semantics, not corpus scale; the cap keeps it O(1) at every sf):

  * batch b in 1..3 UPSERTS docs with ``doc_id % 5 == b`` — new text =
    original text + `` zzasofrev<b>`` (one synthetic token no corpus
    text contains, so every as-of state has a distinct posting/doclen
    signature);
  * batch b DELETES docs with ``doc_id % 11 == b``;
  * a doc hit by both in one batch stays alive with the new text
    (tombstones kill strictly-older rows — the store semantics the
    oracle's ``last_up >= last_del`` tie-break mirrors).

- events: batch of an event = ``floor(epoch(ts)/60) % 4`` — 0 is the
  base build, 1..3 are applied batches.

The reference's versioned extraction history is the parity
surface: extractions carry a per-document monotone ``version`` with a
latest-wins serving default (``supabase/migrations/030_extractions.sql:79``
``manage_extraction_version``), i.e. "give me the state as of version
N" over an append-only history — here generalized to the stores'
append+tombstone batch timeline.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from car_etl_spark.queries import QuerySpec
from car_etl_spark.tables import load_tables

ASOF_DOC_CAP = 300
ASOF_BATCHES = 3
ASOF_UP_MOD = 5
ASOF_DEL_MOD = 11
ASOF_REV_TOKEN = "zzasofrev"


def asof_store_paths(sf_dir: str) -> tuple[str, str]:
    """(posting, rollup) store paths, content-addressed on the source
    tables, the batch rules and each store's LAYOUT VERSION — a layout
    bump re-addresses the pair instead of reopening an older layout the
    stores refuse."""
    from car_etl_spark.operators import indexing as IX
    from car_etl_spark.operators import lsm
    from car_etl_spark.streaming import rollup_store as RS

    params = (
        f"cap{ASOF_DOC_CAP}|up{ASOF_UP_MOD}|del{ASOF_DEL_MOD}|"
        f"B{ASOF_BATCHES}|{ASOF_REV_TOKEN}"
    )
    pdig = lsm._source_digest(
        "asof-posting", IX.POSTING_VERSION,
        os.path.join(sf_dir, "documents.parquet"), params,
    )
    rdig = lsm._source_digest(
        "asof-rollup", RS.ROLLUP_VERSION,
        os.path.join(sf_dir, "events.parquet"), params,
    )
    root = lsm.index_root()
    return (
        os.path.join(root, f"asof-posting-{pdig}"),
        os.path.join(root, f"asof-rollup-{rdig}"),
    )


def ensure_asof_stores(spark: SparkSession, sf_dir: str):
    """Content-addressed (posting, rollup) store pair with the
    deterministic batch history applied — built once per corpus
    version, reused across sessions (the ensure_* discipline).  A
    ``_asof_complete`` marker gates reuse: a partially-built store
    (crashed mid-batches) rebuilds from scratch."""
    from car_etl_spark.operators import indexing as IX
    from car_etl_spark.operators import lsm
    from car_etl_spark.streaming.rollup_store import RollupStore

    ppath, rpath = asof_store_paths(sf_dir)
    posting = IX.PostingStore(ppath, num_buckets=8)
    rollup = RollupStore(rpath)

    def _clear_store_state(root: str) -> None:
        """Remove a crashed partial build's state WITHOUT touching the
        coordination files (lease/fence/pins) — a whole-root rmtree
        under a held lease would delete the lease out from under us."""
        import shutil

        keep = {lsm._LEASE_FILE, lsm._FENCE_FILE, "_pins"}
        try:
            entries = os.listdir(root)
        except OSError:
            return
        for fn in entries:
            if fn in keep or fn.startswith("." + lsm._LEASE_FILE):
                continue
            p = os.path.join(root, fn)
            (shutil.rmtree if os.path.isdir(p) else os.remove)(p)

    pmark = os.path.join(ppath, "_asof_complete")
    if not os.path.exists(pmark):
        docs = (
            load_tables(spark, sf_dir, ("documents",))["documents"]
            .filter(F.col("doc_id") < ASOF_DOC_CAP)
            .select("doc_id", "lang", "text")
        )

        def build_posting(lease) -> None:
            # ONE lease (held by build_or_wait) across the whole
            # build+batches campaign: no gap a concurrent ensure could
            # squeeze a conflicting build into
            _clear_store_state(ppath)
            posting.build(docs, lease=lease)
            for b in range(1, ASOF_BATCHES + 1):
                ups = docs.filter(
                    F.col("doc_id") % ASOF_UP_MOD == b
                ).withColumn(
                    "text",
                    F.concat(F.col("text"), F.lit(f" {ASOF_REV_TOKEN}{b}")),
                )
                dels = [
                    r.doc_id
                    for r in docs.filter(F.col("doc_id") % ASOF_DEL_MOD == b)
                    .select("doc_id")
                    .collect()  # control-plane: <= CAP/11 ids
                ]
                posting.apply_batch(spark, ups, dels, batch=b, lease=lease)
            with open(pmark, "w") as f:
                f.write("ok")

        lsm.build_or_wait(
            build_posting, lambda: os.path.exists(pmark), ppath
        )

    rmark = os.path.join(rpath, "_asof_complete")
    if not os.path.exists(rmark):
        ev = load_tables(spark, sf_dir, ("events",))["events"].select(
            "ts", "event_type", "value"
        )
        slot = F.floor(F.unix_timestamp("ts") / 60).cast("long") % 4

        def build_rollup(lease) -> None:
            _clear_store_state(rpath)
            rollup.build(ev.filter(slot == 0), lease=lease)
            for b in range(1, ASOF_BATCHES + 1):
                rollup.apply_batch(spark, ev.filter(slot == b), b, lease=lease)
            with open(rmark, "w") as f:
                f.write("ok")

        lsm.build_or_wait(
            build_rollup, lambda: os.path.exists(rmark), rpath
        )
    return posting, rollup


def store_asof_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arm-tagged as-of reads at every batch id N in 0..3:

    - ``posting``: per-doc posting fingerprint from
      ``PostingStore.read`` of ``snapshot(as_of=N)`` — distinct raw
      terms, total tf, and Σ len(raw_term)·tf (tokenizer-parity
      aggregates the oracle recomputes from the as-of text);
    - ``doclens``: the doc-length sidecar at N (BM25's dl input);
    - ``rollup``: the day-grain continuous aggregate served
      at ``as_of=N`` from minute partials.

    Output: (arm, asof, k1, k2, n, v1, v2)."""
    from car_etl_spark.queries import prepared

    def build() -> DataFrame:
        posting, rollup = ensure_asof_stores(spark, sf_dir)
        # one snapshot per store; each arm moves only its batch bound
        psnap, rsnap = posting.snapshot(), rollup.snapshot()
        arms: list[DataFrame] = []
        for n in range(ASOF_BATCHES + 1):
            rows = posting.read(spark, snap=psnap.as_of(n))
            arms.append(
                rows.groupBy("doc_id").agg(
                    F.countDistinct("raw_term").alias("n"),
                    F.sum("tf").cast("double").alias("v1"),
                    F.sum(F.length("raw_term") * F.col("tf"))
                    .cast("double")
                    .alias("v2"),
                ).select(
                    F.lit("posting").alias("arm"),
                    F.lit(n).cast("long").alias("asof"),
                    F.col("doc_id").cast("string").alias("k1"),
                    F.lit("").alias("k2"),
                    F.col("n").cast("long"),
                    "v1",
                    "v2",
                )
            )
            arms.append(
                posting.read_doclens(spark, psnap.as_of(n)).select(
                    F.lit("doclens").alias("arm"),
                    F.lit(n).cast("long").alias("asof"),
                    F.col("doc_id").cast("string").alias("k1"),
                    F.lit("").alias("k2"),
                    F.col("dl").cast("long").alias("n"),
                    F.lit(0.0).alias("v1"),
                    F.lit(0.0).alias("v2"),
                )
            )
            arms.append(
                rollup.read(spark, "day", exact_sums=True, snap=rsnap.as_of(n)).select(
                    F.lit("rollup").alias("arm"),
                    F.lit(n).cast("long").alias("asof"),
                    F.date_format("bucket_start", "yyyy-MM-dd").alias("k1"),
                    F.col("event_type").alias("k2"),
                    F.col("n").cast("long").alias("n"),
                    F.round(F.col("value_sum"), 2).cast("double").alias("v1"),
                    F.lit(0.0).alias("v2"),
                )
            )
        out = arms[0]
        for a in arms[1:]:
            out = out.unionByName(a)
        return out.orderBy("arm", "asof", "k1", "k2")

    return prepared(
        spark, "store_asof_modes", sf_dir,
        ("documents.parquet", "events.parquet"), build,
    )


def _membership_cases() -> tuple[str, str]:
    up = ", ".join(
        f"CASE WHEN {b} <= a.n AND d.doc_id % {ASOF_UP_MOD} = {b} "
        f"THEN {b} ELSE 0 END"
        for b in range(1, ASOF_BATCHES + 1)
    )
    de = ", ".join(
        f"CASE WHEN {b} <= a.n AND d.doc_id % {ASOF_DEL_MOD} = {b} "
        f"THEN {b} ELSE -1 END"
        for b in range(1, ASOF_BATCHES + 1)
    )
    return f"GREATEST(0, {up})", f"GREATEST(-1, {de})"


def _store_asof_sql() -> str:
    last_up, last_del = _membership_cases()
    asof_vals = ", ".join(f"({n})" for n in range(ASOF_BATCHES + 1))
    return f"""
WITH asn AS (SELECT * FROM (VALUES {asof_vals}) t(n)),
docs0 AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {ASOF_DOC_CAP}
),
state AS (
  SELECT a.n AS sid, d.doc_id, d.text,
         {last_up} AS last_up,
         {last_del} AS last_del
  FROM asn a CROSS JOIN docs0 d
),
live AS (
  -- tombstones kill strictly-older rows => same-batch upsert wins (>=)
  SELECT sid, doc_id,
         CASE WHEN last_up > 0
              THEN text || ' {ASOF_REV_TOKEN}' || last_up
              ELSE text END AS text
  FROM state WHERE last_up >= last_del
),
tok AS (
  SELECT sid, doc_id,
         list_filter(string_split_regex(TRIM(LOWER(text)), '[ \\t\\n\\x0B\\f\\r]+'),
                     x -> x <> '') AS toks
  FROM live
),
flat AS (SELECT sid, doc_id, unnest(toks) AS tk FROM tok),
posting AS (
  SELECT 'posting' AS arm, CAST(sid AS BIGINT) AS "asof",
         CAST(doc_id AS VARCHAR) AS k1, '' AS k2,
         COUNT(DISTINCT tk) AS n,
         CAST(COUNT(*) AS DOUBLE) AS v1,
         CAST(SUM(LENGTH(tk)) AS DOUBLE) AS v2
  FROM flat GROUP BY sid, doc_id
),
doclens AS (
  -- dl is the WEIGHTED length (sum tf*weight): header positions count
  -- HEADER_WEIGHT(=2)x, so dl = len + min(len, HEADER_TOKENS=5)
  SELECT 'doclens' AS arm, CAST(sid AS BIGINT) AS "asof",
         CAST(doc_id AS VARCHAR) AS k1, '' AS k2,
         CAST(len(toks) + LEAST(len(toks), 5) AS BIGINT) AS n,
         0.0 AS v1, 0.0 AS v2
  FROM tok WHERE len(toks) > 0
),
ev AS (
  SELECT ts, event_type, value,
         CAST(FLOOR(EPOCH(ts) / 60) AS BIGINT) % 4 AS b
  FROM events
),
roll AS (
  SELECT 'rollup' AS arm, CAST(a.n AS BIGINT) AS "asof",
         STRFTIME(DATE_TRUNC('day', e.ts), '%Y-%m-%d') AS k1,
         e.event_type AS k2,
         COUNT(*) AS n,
         CAST(ROUND(SUM(CAST(e.value AS DECIMAL(30,6))), 2) AS DOUBLE) AS v1,
         0.0 AS v2
  FROM asn a JOIN ev e ON e.b <= a.n
  GROUP BY a.n, DATE_TRUNC('day', e.ts), e.event_type
)
SELECT * FROM (
  SELECT * FROM posting
  UNION ALL SELECT * FROM doclens
  UNION ALL SELECT * FROM roll
) ORDER BY arm, "asof", k1, k2
"""


STORE_ASOF_SQL = _store_asof_sql()


QUERIES: dict[str, QuerySpec] = {
    "store_asof_modes": QuerySpec(
        store_asof_modes, STORE_ASOF_SQL, ("asof", "mvcc", "store", "suite")
    ),
}
