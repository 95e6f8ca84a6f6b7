"""Incremental MinHash dedup: near-dup-check arriving documents against
the whole corpus WITHOUT recomputing it.

The batch dedup (`operators.similarity.minhash_near_duplicates`) is a
full-corpus job; a 100 TB ingest pipeline cannot re-run it per drop.
This module keeps the corpus as a SIGNATURE STORE — 48 longs per
document, ~400 bytes/doc, 10^9 docs ≈ 0.4 TB — and processes each
micro-batch as:

1. signatures for the new docs only (explode + min-agg, one shuffle
   over just the batch);
2. LSH band join of the NEW signatures against store ∪ batch — so
   new-vs-old and new-vs-new pairs surface, old-vs-old (already
   reported in earlier batches) never re-emits;
3. similarity from signature agreement — the MinHash estimator
   (matching components / num_hashes is an unbiased estimate of the
   true Jaccard), since the original shingle sets are not retained at
   the store; exact verification is a downstream option for callers
   that keep text access;
4. append the new signatures to the store.

Determinism: hashing is the same family as the batch path, so the
UNION of candidate pairs over any batch split equals the batch job's
candidate set on the full corpus — pinned by a test.

Two families are supported (``family=``): ``"xxhash64"`` (default, the
production hot path) and ``"portable"`` (operators/portable.py — the
cross-engine-reproducible family, so an incremental ingest's dedup
decisions can be audited outside the JVM).  The store refuses to mix
families (sidecar-recorded), exactly like it refuses construction-
version mismatches within a family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from car_etl_spark.operators import similarity as S

#: Version of the MinHash signature FAMILY persisted in the store.
#: Bump whenever the hash construction changes (it did once: round 3
#: moved from xxhash64(sh, seed+i) to min over xxhash64(xxhash64(sh),
#: seed+i), silently changing every signature value) — a store written
#: by one family band-joins garbage against signatures from another
#: with no error, so the store records its family and the deduper
#: REFUSES to mix instead of silently corrupting candidate sets.
SIGNATURE_FAMILY_VERSION = 2


class SignatureStoreVersionError(RuntimeError):
    """Persisted signature store was written by a different MinHash
    family than this code computes — rebuild the store (or run the
    matching code version); mixing families yields garbage joins."""


#: broadcast gate for the new-batch banded rows (id, band, bucket — a
#: few dozen bytes each): a micro-batch under ~80k docs at 12 bands
#: stays below it.  Backfill-sized batches above the gate fall back to
#: the shuffle join, which is the right plan for them anyway.
NEW_BAND_BROADCAST_MAX = 1_000_000


def _family_fns(name: str):
    """(signature_fn, banding_fn) for a registered family — both take
    the same argument shapes, so :func:`dedup_batch` is family-blind."""
    if name == "xxhash64":
        return S.minhash_from_exploded, S.banded_signatures
    if name == "portable":
        from car_etl_spark.operators import portable as P

        return P.portable_minhash_array_sigs, P.portable_banded_signatures
    raise ValueError(f"unknown MinHash family: {name!r}")


def estimated_jaccard(sig_a, sig_b):
    """MinHash similarity estimate: fraction of agreeing components."""
    matches = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m)
    )
    return matches.cast("double") / F.size(sig_a)


def dedup_batch(
    new_docs: DataFrame,
    store_sigs: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    num_hashes: int = S.DEFAULT_NUM_HASHES,
    bands: int = S.DEFAULT_BANDS,
    family: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch: returns (near-dup pairs touching this batch,
    this batch's signatures to append to the store).

    Pure DataFrame-in/DataFrame-out so it is the ``foreachBatch`` body
    AND batch-testable, like ``cdc.apply_change_batch``.
    """
    sig_fn, band_fn = _family_fns(family)
    sigs_new = sig_fn(
        S.exploded_shingle_rows(new_docs, text_col, shingle_n, id_col),
        num_hashes,
        id_col,
    ).localCheckpoint(eager=True)  # computed once: banded twice + joined below
    # store_sigs None = empty store (first batch): the store schema —
    # including the id column's TYPE — is defined by the signatures
    # themselves, never assumed
    union = sigs_new if store_sigs is None else store_sigs.unionByName(sigs_new)

    # band both sides; keep pairs with the NEW side on the left so
    # store-vs-store pairs (already emitted in earlier batches) never
    # reappear.  id inequality (not a<b) because new-vs-old pairs must
    # survive regardless of id ordering; new-vs-new dedupes by a<b.
    #
    # r12 (the streaming path's turn for the §9.3 plan-dump treatment),
    # two store passes removed, one locally measured + one structural:
    # - `sa` reads only the BATCH signatures: a cand id_a is by
    #   construction a new-batch id (dedup_batch's contract, enforced
    #   by process_batch's anti-join, is that batch ids are disjoint
    #   from store ids), so attaching it from the full union paid a
    #   full store scan for rows that could never match.  Strictly
    #   less I/O; measured −27% per batch at a 140k-doc store in one
    #   profile session, flat-within-noise in a noisier second one
    #   (scripts/profile_incremental_dedup.py at commit d864714, pair
    #   parity asserted).
    # - the new banded side is BROADCAST below a row gate, decided by
    #   the TRUE batch count (a near-free job on the just-checkpointed
    #   RDD) instead of Catalyst's size estimate.  At the profile scale
    #   the estimate happens to pick broadcast too (checkpoint RDDs
    #   carry originating-plan stats), but an estimate that tips the
    #   other way plans SMJ — and even when AQE flips it back at
    #   runtime, the flip happens after both map stages ran, i.e. the
    #   store side already WROTE its banded shuffle output (bands rows
    #   per corpus doc, ~hundreds of GB at 10^9 docs).  The gate makes
    #   the plan estimate-proof at any corpus size.
    # A third candidate — semi-joining the union down to candidate ids
    # before the `sb` attach — was profiled and REJECTED: AQE already
    # broadcasts the small candidate side of the attach join (the store
    # is scanned once, never shuffled), so the extra checkpoint+count
    # barriers cost ~1 s/batch and prune nothing (variant C in the
    # profile script).
    new_b = band_fn(sigs_new, id_col, bands, num_hashes)
    if sigs_new.count() * bands <= NEW_BAND_BROADCAST_MAX:
        new_b = F.broadcast(new_b)
    all_b = band_fn(union, id_col, bands, num_hashes)
    new_ids = sigs_new.select(F.col(id_col).alias("id_b"), F.lit(True).alias("__new_b"))
    cand = (
        new_b.alias("a")
        .join(
            all_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .join(F.broadcast(new_ids), "id_b", "left")
        # canonical orientation: drop the mirrored copy of new-new pairs
        .filter(~F.coalesce(F.col("__new_b"), F.lit(False)) | (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs_new.select(F.col(id_col).alias("id_a"), F.col("sig").alias("__sa"))
    sb = union.select(F.col(id_col).alias("id_b"), F.col("sig").alias("__sb"))
    pairs = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(estimated_jaccard(F.col("__sa"), F.col("__sb")), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    return pairs, sigs_new


class IncrementalDeduper:
    """Driver harness for the signature store (parallel to
    :class:`car_etl_spark.streaming.cdc.ConnectorSync`): parquet-backed
    store, one :func:`dedup_batch` per drop.  At scale the store is a
    bucketed table partitioned by band hash; here a plain parquet file
    plays that role."""

    def __init__(self, spark: SparkSession, state_dir: str, **params) -> None:
        self.spark = spark
        self.params = params
        self.sig_path = os.path.join(state_dir, "minhash_signatures.parquet")
        self.meta_path = os.path.join(state_dir, "minhash_signatures.meta.json")
        self.pair_path = os.path.join(state_dir, "neardup_pairs.parquet")

    def _check_store_version(self) -> None:
        """Refuse to band-join across MinHash families: the store
        records the family version that wrote it (sidecar JSON — zero
        scan cost), and a mismatch raises instead of silently mixing
        incompatible signatures (see :data:`SIGNATURE_FAMILY_VERSION`).
        A store with no sidecar predates versioning == family 1."""
        import json

        mine = (self.params.get("family", "xxhash64"), SIGNATURE_FAMILY_VERSION)
        if os.path.exists(self.meta_path):
            with open(self.meta_path) as f:
                meta = json.load(f)
            stored = (meta.get("family", "xxhash64"), meta.get("sig_version"))
        elif os.path.exists(self.sig_path):
            stored = ("xxhash64", 1)  # pre-versioning store: the round-2 family
        else:
            return  # no store yet
        if stored != mine:
            raise SignatureStoreVersionError(
                f"signature store at {self.sig_path} was written by MinHash "
                f"family {stored}; this code computes {mine} "
                "— rebuild the store before resuming incremental dedup"
            )

    def _write_store_meta(self) -> None:
        import json

        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "sig_version": SIGNATURE_FAMILY_VERSION,
                    "family": self.params.get("family", "xxhash64"),
                },
                f,
            )
        os.replace(tmp, self.meta_path)

    def signatures(self) -> DataFrame | None:
        """The store, or None before the first batch lands — the store
        schema (in particular the id column's type) is fixed by the
        first batch's signatures, never assumed here."""
        self._check_store_version()
        if os.path.exists(self.sig_path):
            return self.spark.read.parquet(self.sig_path)
        return None

    def process_batch(self, new_docs: DataFrame) -> DataFrame:
        """One drop.  REPLAY-IDEMPOTENT: ids already in the store are
        dropped before anything is computed, so a retried/replayed batch
        appends nothing and re-emits nothing (the analog of the CDC
        path's content-addressed no-op replays).  The store is id-keyed
        and append-only — a changed document arriving under an EXISTING
        id is treated as a replay and skipped; updates must come through
        the CDC layer as new doc_ids (tombstone + re-create)."""
        store = self.signatures()
        id_col = self.params.get("id_col", "doc_id")
        if store is not None:
            new_docs = new_docs.join(
                store.select(id_col).distinct(), id_col, "left_anti"
            )
        pairs, sigs_new = dedup_batch(new_docs, store, **self.params)
        pairs = pairs.localCheckpoint(eager=True)  # materialize BEFORE store append
        pairs.write.mode("append").parquet(self.pair_path)
        # meta BEFORE the signature append: a crash between the first
        # append and a trailing meta write would leave a store that a
        # later resume mis-reads as the pre-versioning xxhash64 family
        # and spuriously refuses; writing the sidecar first is safe in
        # every window (meta with no sigs just describes an empty store)
        self._write_store_meta()
        sigs_new.write.mode("append").parquet(self.sig_path)
        return pairs

    def pairs(self) -> DataFrame | None:
        """Every near-dup pair emitted so far (the accumulated edge
        list), or None before any pair landed.  Distinct at read: a
        crash between the pair append and the signature append replays
        the batch and re-appends its pairs (the one at-least-once
        window in the store), and read-time dedup is the cheap cure —
        mirroring the posting store's replay-artifact drop."""
        if os.path.exists(self.pair_path):
            return self.spark.read.parquet(self.pair_path).distinct()
        return None

    def clusters(self) -> DataFrame | None:
        """The CURRENT duplicate clusters: transitive closure of all
        pairs emitted so far (:func:`car_etl_spark.operators.components.
        connected_components` — A~B in batch 1 and B~C in batch 7 puts
        A,C in one cluster even though no batch compared them).
        Returns (node, component=min doc id), or None with no pairs.

        Incremental == batch by construction: the pair UNION over any
        batch split equals the batch pair set (pinned by test), and
        components are a function of the pair set alone."""
        p = self.pairs()
        if p is None:
            return None
        from car_etl_spark.operators.components import connected_components

        return connected_components(p, src="id_a", dst="id_b")
