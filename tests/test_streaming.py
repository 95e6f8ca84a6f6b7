"""Structured Streaming tests (SURVEY.md §2.9): batch/stream parity for
the windowed aggregations, watermark dedup, and the retry/DLQ worker."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from car_etl_spark.operators.indexing import _dir_has_parquet
from car_etl_spark.streaming import jobs
from tests.conftest import SF_SMALL


@pytest.fixture()
def checkpoint_dir():
    d = tempfile.mkdtemp(prefix="car-etl-ckpt-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def events_dir():
    """Streaming file source wants a directory: stage events.parquet."""
    d = tempfile.mkdtemp(prefix="car-etl-events-")
    shutil.copy(os.path.join(SF_SMALL, "events.parquet"), d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_hourly_window_matches_batch(spark, checkpoint_dir, events_dir):
    """availableNow stream output == the same aggregation run in batch.

    Complete-mode memory sink holds the final state of every window;
    the batch equivalent is a plain groupBy over the same data.
    """
    stream = jobs.events_stream(spark, events_dir)
    windowed = jobs.hourly_windowed_counts(stream)
    jobs.run_available_now(windowed, checkpoint_dir, "hourly_sink", "complete")
    got = {
        (r["hour_start"], r["event_type"]): (r["event_count"], r["total_value"])
        for r in spark.table("hourly_sink").collect()
    }

    from car_etl_spark.tables import load_tables

    ev = load_tables(spark, SF_SMALL, ("events",))["events"]
    expected = {
        (r["hour_start"], r["event_type"]): (r["event_count"], r["total_value"])
        for r in ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .collect()
    }
    assert got == expected


def test_dedup_within_watermark(spark, checkpoint_dir, events_dir):
    stream = jobs.events_stream(spark, events_dir)
    deduped = jobs.dedup_within_watermark(stream).select("event_id")
    jobs.run_available_now(deduped, checkpoint_dir, "dedup_sink", "append")
    ids = [r.event_id for r in spark.table("dedup_sink").collect()]
    assert len(ids) == len(set(ids))
    assert len(ids) == 1000  # sf0.001 events are unique already


def test_queue_worker_retry_dlq(spark, checkpoint_dir, events_dir):
    """Users with more than MAX_ATTEMPTS error events dead-letter; the
    stream-side result must match the batch error counts."""
    stream = jobs.events_stream(spark, events_dir)
    worker = jobs.QueueWorker()
    jobs.run_foreach_batch(stream, checkpoint_dir, worker.process_batch)

    from car_etl_spark.tables import load_tables

    ev = load_tables(spark, SF_SMALL, ("events",))["events"]
    batch_errors = {
        r["user_id"]: r["cnt"]
        for r in ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for uid, cnt in batch_errors.items():
        assert worker.attempts.get(uid, 0) == cnt
    expected_dlq = {u for u, c in batch_errors.items() if c > jobs.MAX_ATTEMPTS}
    assert worker.dead_lettered == expected_dlq
    total_events = ev.count()
    assert worker.completed == total_events - sum(batch_errors.values())


def test_stateful_attempt_tracker_across_restarts(spark, checkpoint_dir):
    """T4: applyInPandasWithState keeps per-key attempt counts in the
    checkpointed state store ACROSS RESTARTS: two availableNow runs over
    the same checkpoint, one file drop each -> attempts accumulate."""
    d = tempfile.mkdtemp(prefix="car-etl-events2-")
    emitted: list = []

    def sink(batch_df, batch_id):
        emitted.extend(batch_df.collect())

    try:
        shutil.copy(os.path.join(SF_SMALL, "events.parquet"), os.path.join(d, "drop1.parquet"))
        tracked = jobs.stateful_attempt_tracker(jobs.events_stream(spark, d))
        jobs.run_foreach_batch(tracked, checkpoint_dir, sink)
        run1 = {r.user_id: r.attempts for r in emitted}

        emitted.clear()
        shutil.copy(os.path.join(SF_SMALL, "events.parquet"), os.path.join(d, "drop2.parquet"))
        tracked2 = jobs.stateful_attempt_tracker(jobs.events_stream(spark, d))
        jobs.run_foreach_batch(tracked2, checkpoint_dir, sink)
        run2 = {r.user_id: r.attempts for r in emitted}

        from car_etl_spark.tables import load_tables

        ev = load_tables(spark, SF_SMALL, ("events",))["events"]
        batch_errors = {
            r["user_id"]: r["cnt"]
            for r in ev.filter(F.col("event_type") == "error")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        assert run1 == batch_errors | {
            u: 0 for u in run1 if u not in batch_errors
        }
        # restart restored state: second identical drop doubles attempts
        for uid, cnt in batch_errors.items():
            assert run2[uid] == 2 * cnt, f"user {uid}"
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Connector CDC: versioned upsert + tombstones + delta-token protocol


def _changes_df(spark, rows):
    from datetime import datetime

    return spark.createDataFrame(
        [(p, h, ct, datetime(2026, 1, 1, 0, 0, i)) for i, (p, h, ct) in enumerate(rows)],
        "source_path string, file_hash string, change_type string, changed_at timestamp",
    )


def test_cdc_version_chain_and_idempotent_rehash(spark, tmp_path):
    from car_etl_spark.streaming.cdc import ConnectorSync

    sync = ConnectorSync(spark, str(tmp_path), "sp1")
    sync.sync_once(lambda tok: (_changes_df(spark, [
        ("sp:a", "h1", "upsert"), ("sp:b", "h2", "upsert")]), "tok1"))
    # changed content -> NEW version linked to previous; same hash -> no-op
    stats = sync.sync_once(lambda tok: (_changes_df(spark, [
        ("sp:a", "h1b", "upsert"), ("sp:b", "h2", "upsert")]), "tok2"))
    assert stats["new_versions"] == 1 and not stats["full_resync"]
    docs = {(r.source_path, r.version): r for r in sync.docs().collect()}
    assert len(docs) == 3  # a v1, a v2, b v1 — append-only
    a1, a2 = docs[("sp:a", 1)], docs[("sp:a", 2)]
    assert a2.parent_id == a1.doc_id and a2.is_current and not a1.is_current
    assert docs[("sp:b", 1)].is_current
    assert sync.tokens.load() == "tok2"


def test_cdc_tombstone_wins_and_documents_untouched(spark, tmp_path):
    from car_etl_spark.streaming.cdc import ConnectorSync

    sync = ConnectorSync(spark, str(tmp_path), "sp2")
    sync.sync_once(lambda tok: (_changes_df(spark, [
        ("sp:a", "h1", "upsert"), ("sp:b", "h2", "upsert")]), "t1"))
    stats = sync.sync_once(lambda tok: (_changes_df(spark, [("sp:b", "", "delete")]), "t2"))
    assert stats["tombstones"] == 1
    # documents table is immutable under deletion; the CURRENT view drops b
    assert sync.docs().filter("source_path = 'sp:b'").count() == 1
    current = {r.source_path for r in sync.current().collect()}
    assert current == {"sp:a"}


def test_cdc_token_invalidation_full_resync(spark, tmp_path):
    from car_etl_spark.streaming.cdc import ConnectorSync, TokenInvalidatedError

    sync = ConnectorSync(spark, str(tmp_path), "sp3")
    sync.sync_once(lambda tok: (_changes_df(spark, [
        ("sp:a", "h1", "upsert"), ("sp:b", "h2", "upsert")]), "t1"))
    sync.sync_once(lambda tok: (_changes_df(spark, [("sp:b", "", "delete")]), "t2"))

    def invalidated_then_full(tok):
        if tok is not None:
            raise TokenInvalidatedError(tok)
        # full resync enumerates what the source has NOW: only a
        return _changes_df(spark, [("sp:a", "h1", "upsert")]), "t3-fresh"

    stats = sync.sync_once(invalidated_then_full)
    assert stats["full_resync"] is True
    # unchanged hash no-ops: the resync creates NO duplicate versions
    assert stats["new_versions"] == 0
    assert sync.docs().count() == 2
    # tombstone still wins after the reset; fresh token persisted
    assert {r.source_path for r in sync.current().collect()} == {"sp:a"}
    assert sync.tokens.load() == "t3-fresh"
    # a real change after the reset continues the version chain
    stats = sync.sync_once(lambda tok: (_changes_df(spark, [("sp:a", "h1c", "upsert")]), "t4"))
    assert stats["new_versions"] == 1
    versions = {r.version for r in sync.docs().filter("source_path = 'sp:a'").collect()}
    assert versions == {1, 2}


def test_cdc_recreate_after_delete_reappears(spark, tmp_path):
    """A file deleted then re-created — even with the SAME content hash —
    must get a fresh version and reappear in the serving view (the
    reference logs deletions per document_id, so a re-ingested document
    is never suppressed — 043_document_source_deletions.sql)."""
    from car_etl_spark.streaming.cdc import ConnectorSync

    sync = ConnectorSync(spark, str(tmp_path), "sp4")
    sync.sync_once(lambda tok: (_changes_df(spark, [("sp:a", "h1", "upsert")]), "t1"))
    sync.sync_once(lambda tok: (_changes_df(spark, [("sp:a", "", "delete")]), "t2"))
    assert sync.current().count() == 0
    # re-create with the identical hash: NOT a no-op against the dead v1
    stats = sync.sync_once(lambda tok: (_changes_df(spark, [("sp:a", "h1", "upsert")]), "t3"))
    assert stats["new_versions"] == 1
    docs = {r.version: r for r in sync.docs().filter("source_path = 'sp:a'").collect()}
    assert set(docs) == {1, 2}
    assert docs[1].doc_id != docs[2].doc_id  # same hash, distinct identity
    assert {r.source_path for r in sync.current().collect()} == {"sp:a"}
    # the resurrected doc is subsequently idempotent again
    stats = sync.sync_once(lambda tok: (_changes_df(spark, [("sp:a", "h1", "upsert")]), "t4"))
    assert stats["new_versions"] == 0


def test_cdc_in_batch_dedup_no_forked_chain(spark, tmp_path):
    """Two upserts for one source_path within a single batch must apply
    only the LATEST (by changed_at) — not fork the version chain with
    two prev+1 rows."""
    from car_etl_spark.streaming.cdc import ConnectorSync

    sync = ConnectorSync(spark, str(tmp_path), "sp5")
    stats = sync.sync_once(lambda tok: (_changes_df(spark, [
        ("sp:a", "h1", "upsert"), ("sp:a", "h2", "upsert")]), "t1"))
    assert stats["new_versions"] == 1
    rows = sync.docs().collect()
    assert len(rows) == 1 and rows[0].file_hash == "h2" and rows[0].version == 1
    # same shape against an EXISTING doc: exactly one v2, hash = latest
    stats = sync.sync_once(lambda tok: (_changes_df(spark, [
        ("sp:a", "h3", "upsert"), ("sp:a", "h4", "upsert")]), "t2"))
    assert stats["new_versions"] == 1
    current = sync.current().collect()
    assert len(current) == 1 and current[0].file_hash == "h4" and current[0].version == 2


def test_cdc_in_batch_upsert_then_delete(spark, tmp_path):
    """upsert+delete for the same path in one batch: the later delete
    wins; no duplicate tombstones accumulate for an already-dead path."""
    from car_etl_spark.streaming.cdc import ConnectorSync

    sync = ConnectorSync(spark, str(tmp_path), "sp6")
    sync.sync_once(lambda tok: (_changes_df(spark, [("sp:a", "h1", "upsert")]), "t1"))
    stats = sync.sync_once(lambda tok: (_changes_df(spark, [
        ("sp:a", "h2", "upsert"), ("sp:a", "", "delete")]), "t2"))
    assert stats["new_versions"] == 0 and stats["tombstones"] == 1
    assert sync.current().count() == 0
    # deleting an already-tombstoned path logs NOTHING new
    stats = sync.sync_once(lambda tok: (_changes_df(spark, [("sp:a", "", "delete")]), "t3"))
    assert stats["tombstones"] == 0
    assert sync.tombstones().count() == 1


# ---------------------------------------------------------------------------
# Incremental MinHash dedup (signature store, no corpus recompute)


def _dedup_docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_incremental_dedup_finds_cross_batch_duplicates(spark, tmp_path):
    """A near-copy arriving two batches after its original must be
    flagged against the signature STORE — no recompute of old docs."""
    import random

    from car_etl_spark.streaming.incremental_dedup import IncrementalDeduper

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(150)]
    base = " ".join(rng.choice(vocab) for _ in range(60))
    other = [" ".join(rng.choice(vocab) for _ in range(60)) for _ in range(4)]
    toks = base.split()
    toks[3] = "zzz"  # ~2% perturbation -> high jaccard near-copy
    near_copy = " ".join(toks)

    d = IncrementalDeduper(spark, str(tmp_path), threshold=0.5)
    p1 = d.process_batch(_dedup_docs(spark, [(1, base), (2, other[0])]))
    assert p1.count() == 0
    p2 = d.process_batch(_dedup_docs(spark, [(3, other[1]), (4, other[2])]))
    assert p2.count() == 0
    p3 = d.process_batch(_dedup_docs(spark, [(5, near_copy), (6, other[3])]))
    got = {(r.id_a, r.id_b): r.est_jaccard for r in p3.collect()}
    assert (5, 1) in got, got  # new doc flagged against the stored original
    assert got[(5, 1)] >= 0.5


def test_incremental_candidates_equal_batch_candidates(spark, tmp_path):
    """Determinism invariant: the union of candidate pairs over ANY
    batch split equals the full-corpus batch LSH candidate set (same
    seeded hashing; threshold 0 disables the estimate filter so raw
    candidate sets compare)."""
    import random

    from car_etl_spark.operators import similarity as S
    from car_etl_spark.streaming.incremental_dedup import IncrementalDeduper

    rng = random.Random(9)
    vocab = [f"t{i}" for i in range(80)]
    docs = []
    for i in range(12):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(40))))
    for j in range(4):  # plant near-copies of docs 0-3
        toks = docs[j][1].split()
        toks[rng.randrange(len(toks))] = "q"
        docs.append((100 + j, " ".join(toks)))

    full = _dedup_docs(spark, docs)
    sigs = S.minhash_from_exploded(S.exploded_shingle_rows(full))
    batch_pairs = {
        tuple(sorted((r.id_a, r.id_b)))
        for r in S.lsh_candidate_pairs(sigs).collect()
    }

    d = IncrementalDeduper(spark, str(tmp_path), threshold=0.0)
    inc_pairs = set()
    for chunk in (docs[:5], docs[5:11], docs[11:]):
        for r in d.process_batch(_dedup_docs(spark, chunk)).collect():
            inc_pairs.add(tuple(sorted((r.id_a, r.id_b))))
    assert inc_pairs == batch_pairs


def test_cdc_full_resync_reconciles_gap_deletions(spark, tmp_path):
    """A file deleted at the source while our delta token was stale
    produces NO delete event; the full resync must synthesize one from
    the enumeration (current docs absent from the re-listing) or the
    ghost stays current forever."""
    from car_etl_spark.streaming.cdc import ConnectorSync, TokenInvalidatedError

    sync = ConnectorSync(spark, str(tmp_path), "sp7")
    sync.sync_once(lambda tok: (_changes_df(spark, [
        ("sp:a", "h1", "upsert"), ("sp:b", "h2", "upsert")]), "t1"))
    assert {r.source_path for r in sync.current().collect()} == {"sp:a", "sp:b"}

    # sp:b vanished during the stale-token gap: the fresh enumeration
    # only contains sp:a, with no delete event for sp:b
    def invalidated_then_full(tok):
        if tok is not None:
            raise TokenInvalidatedError(tok)
        return _changes_df(spark, [("sp:a", "h1", "upsert")]), "t2-fresh"

    stats = sync.sync_once(invalidated_then_full)
    assert stats["full_resync"] is True
    assert stats["new_versions"] == 0          # unchanged hash no-ops
    assert stats["tombstones"] == 1            # synthesized for sp:b
    assert {r.source_path for r in sync.current().collect()} == {"sp:a"}
    # re-created later -> reappears (tombstone is doc_id-scoped)
    stats = sync.sync_once(lambda tok: (_changes_df(spark, [("sp:b", "h2", "upsert")]), "t3"))
    assert stats["new_versions"] == 1
    assert {r.source_path for r in sync.current().collect()} == {"sp:a", "sp:b"}


def test_cdc_mixed_upsert_and_delete_in_one_batch(spark, tmp_path):
    """One batch carrying BOTH a content change and a deletion (of
    different paths) must apply both — the tombstone plan reads the
    docs table, so it has to be materialized before the docs overwrite
    deletes the files it reads (regression: FILE_NOT_EXIST crash that
    lost the tombstone with docs half-applied)."""
    from car_etl_spark.streaming.cdc import ConnectorSync

    sync = ConnectorSync(spark, str(tmp_path), "sp8")
    sync.sync_once(lambda tok: (_changes_df(spark, [
        ("sp:a", "h1", "upsert"), ("sp:b", "h2", "upsert")]), "t1"))
    stats = sync.sync_once(lambda tok: (_changes_df(spark, [
        ("sp:a", "h1b", "upsert"), ("sp:b", "", "delete")]), "t2"))
    assert stats["new_versions"] == 1 and stats["tombstones"] == 1
    current = {r.source_path: r.file_hash for r in sync.current().collect()}
    assert current == {"sp:a": "h1b"}
    assert sync.tokens.load() == "t2"


def test_cdc_empty_enumeration_resync_stamps_deterministically(spark, tmp_path):
    """Token invalidation with an EMPTY re-enumeration tombstones every
    current doc — and a retried/replayed resync must stamp IDENTICAL
    tombstone times (the stamp derives from state, never wall clock).
    Proven by building two identical states and running the same empty
    resync at different wall-clock moments."""
    import time

    from car_etl_spark.streaming.cdc import ConnectorSync, TokenInvalidatedError

    def build(dirname):
        sync = ConnectorSync(spark, str(tmp_path / dirname), "sp9")
        sync.sync_once(lambda tok: (_changes_df(spark, [
            ("sp:a", "h1", "upsert"), ("sp:b", "h2", "upsert")]), "t1"))
        return sync

    def empty_resync(tok):
        if tok is not None:
            raise TokenInvalidatedError(tok)
        return _changes_df(spark, []), "t2-fresh"

    s1, s2 = build("one"), build("two")
    stats1 = s1.sync_once(empty_resync)
    time.sleep(0.05)  # a wall-clock stamp would differ across this gap
    stats2 = s2.sync_once(empty_resync)
    assert stats1["tombstones"] == 2 and stats2["tombstones"] == 2
    t1 = sorted((r.source_path, r.deleted_at) for r in s1.tombstones().collect())
    t2 = sorted((r.source_path, r.deleted_at) for r in s2.tombstones().collect())
    assert t1 == t2
    assert s1.current().count() == 0


def test_incremental_dedup_replayed_batch_is_noop(spark, tmp_path):
    """A retried/replayed batch (same doc ids) must append NO duplicate
    signatures to the store and re-emit NO pairs — replay idempotency,
    parallel to the CDC path's content-addressed no-op replays."""
    import random

    from car_etl_spark.streaming.incremental_dedup import IncrementalDeduper

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(120)]
    base = " ".join(rng.choice(vocab) for _ in range(50))
    toks = base.split()
    toks[2] = "zzz"
    near = " ".join(toks)

    d = IncrementalDeduper(spark, str(tmp_path), threshold=0.5)
    d.process_batch(_dedup_docs(spark, [(1, base)]))
    p2 = d.process_batch(_dedup_docs(spark, [(2, near)]))
    assert {(r.id_a, r.id_b) for r in p2.collect()} == {(2, 1)}
    n_sigs = d.signatures().count()

    replay = d.process_batch(_dedup_docs(spark, [(2, near)]))  # redelivery
    assert replay.count() == 0                                 # no re-emit
    assert d.signatures().count() == n_sigs                    # no dup rows
    # partial replay: only the genuinely-new doc processes
    p3 = d.process_batch(_dedup_docs(spark, [(2, near), (3, base)]))
    got = {(r.id_a, r.id_b) for r in p3.collect()}
    assert got == {(3, 1), (3, 2)}
    assert d.signatures().count() == n_sigs + 1


def test_incremental_dedup_refuses_foreign_signature_family(spark, tmp_path):
    """A store written by a different MinHash family must be REFUSED —
    band-joining across families silently yields garbage candidates."""
    import json

    import pytest

    from car_etl_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
        SignatureStoreVersionError,
    )

    d = IncrementalDeduper(spark, str(tmp_path), threshold=0.5)
    d.process_batch(_dedup_docs(spark, [(1, "a b c d e f g")]))
    # simulate a store written by an older family
    with open(d.meta_path, "w") as f:
        json.dump({"sig_version": 1}, f)
    with pytest.raises(SignatureStoreVersionError):
        d.process_batch(_dedup_docs(spark, [(2, "a b c d e f h")]))
    # a store written under the removed "portable" family option is
    # foreign too: its sidecar names that family at the current version
    with open(d.meta_path, "w") as f:
        json.dump({"sig_version": 2, "family": "portable"}, f)
    with pytest.raises(SignatureStoreVersionError):
        d.signatures()


# ---------------------------------------------------------------------------
# Round-4: streaming posting-table maintenance (the tsv-trigger analog)


def _write_change_file(spark, landing, name, rows):
    """Land ONE parquet file (the file stream source does not recurse
    into Spark's per-write output directories)."""
    import glob
    import os
    import shutil
    import tempfile

    df = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, op string, change_seq long"
    )
    tmp = tempfile.mkdtemp(prefix="chg_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(landing, name))
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_posting_maintenance_matches_rebuild(spark, tmp_path):
    """Docs flow through the change stream (one micro-batch per file);
    the foreachBatch-maintained posting store equals a cold rebuild of
    the final document state — including upsert-then-delete collapse
    within one batch and re-adds across batches."""
    import os

    from car_etl_spark.operators.indexing import PostingStore
    from car_etl_spark.streaming.posting_maintenance import run_posting_maintenance

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    store = PostingStore(str(tmp_path / "store"))
    store.build(
        spark.createDataFrame(
            [(1, "en", "alpha beta gamma"), (2, "en", "spark windows merge")],
            "doc_id long, lang string, text string",
        )
    )

    # batch A: doc 2 changes, doc 3 arrives then is deleted IN the same
    # batch (latest change wins -> never lands); doc 4 arrives
    _write_change_file(spark, landing, "b0.parquet", [
        (2, "en", "spark streaming checkpoint", "upsert", 10),
        (3, "en", "should never land", "upsert", 11),
        (3, "en", None, "delete", 12),
        (4, "de", "der schnelle fuchs", "upsert", 13),
    ])
    # batch B: doc 1 deleted, doc 3 re-added
    _write_change_file(spark, landing, "b1.parquet", [
        (1, "en", None, "delete", 20),
        (3, "en", "reborn document", "upsert", 21),
    ])
    run_posting_maintenance(spark, landing, store, str(tmp_path / "ckpt"))

    rebuilt = PostingStore(str(tmp_path / "rebuild"))
    rebuilt.build(
        spark.createDataFrame(
            [
                (2, "en", "spark streaming checkpoint"),
                (3, "en", "reborn document"),
                (4, "de", "der schnelle fuchs"),
            ],
            "doc_id long, lang string, text string",
        )
    )

    def live(s):
        return sorted(
            tuple(r)
            for r in s.read(spark)
            .select("doc_id", "lang", "raw_term", "term", "weight", "tf")
            .collect()
        )

    assert live(store) == live(rebuilt)

    # a SECOND drain over the same landing dir + checkpoint is a no-op
    # (offsets committed); and compaction preserves the served view
    run_posting_maintenance(spark, landing, store, str(tmp_path / "ckpt"))
    assert live(store) == live(rebuilt)
    store.compact(spark)
    assert live(store) == live(rebuilt)


def test_streaming_posting_maintenance_serves_queries_fresh(spark, tmp_path):
    """The serving read path (bucket-pruned) reflects maintenance
    immediately: a term search before and after a doc change."""
    import os

    from car_etl_spark.functions.text import stem_py
    from car_etl_spark.operators.indexing import PostingStore
    from car_etl_spark.streaming.posting_maintenance import run_posting_maintenance
    from pyspark.sql import functions as F

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    store = PostingStore(str(tmp_path / "store"))
    store.build(
        spark.createDataFrame(
            [(1, "en", "nothing relevant here")],
            "doc_id long, lang string, text string",
        )
    )

    def search(term):
        b = store.bucket_of(stem_py(term))
        idx = store.read(spark, buckets=[b]).filter(F.col("term") == stem_py(term))
        return {r.doc_id: r.tf for r in idx.select("doc_id", "tf").collect()}

    assert search("spark") == {}
    _write_change_file(spark, landing, "c0.parquet", [
        (7, "en", "spark spark everywhere", "upsert", 1),
    ])
    run_posting_maintenance(spark, landing, store, str(tmp_path / "ckpt"))
    assert search("spark") == {7: 2}


# ---------------------------------------------------------------------------
# IVF-layout incremental maintenance (the HNSW-insert analog)


def _vec(axis: int, jitter: int, dim: int = 4) -> list[float]:
    """Deterministic clusterable vector: unit axis + small jitter on the
    next coordinate (stays well inside its cluster's cone)."""
    v = [0.0] * dim
    v[axis % dim] = 1.0
    v[(axis + 1) % dim] = 0.05 * (jitter % 5)
    return v


def _f32(v):
    """Expectation values must round-trip the store's float32 storage."""
    import numpy as np

    return [float(x) for x in np.asarray(v, dtype="float32")]


def _write_vec_change_file(spark, landing, name, rows):
    import glob
    import os
    import shutil
    import tempfile

    df = spark.createDataFrame(
        rows,
        "vec_id long, embedding array<float>, label int, op string, change_seq long",
    )
    tmp = tempfile.mkdtemp(prefix="vchg_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(landing, name))
    shutil.rmtree(tmp, ignore_errors=True)


def _brute_topk(corpus: dict, qvec: list, k: int) -> list:
    """(vec_id, cosine_sim) top-k over a {vec_id: vector} dict, with the
    store's rounding and tie order."""
    import math

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(x * x for x in b))
        return round(num / (da * db), 6) if da and db else None

    scored = sorted(
        ((vid, cos(v, qvec)) for vid, v in corpus.items()),
        key=lambda t: (-t[1], t[0]),
    )
    return scored[:k]


def _ivf_fixture(spark, tmp_path):
    from car_etl_spark.operators.indexing import IvfStore

    initial = {i: _f32(_vec(i % 4, i)) for i in range(24)}
    store = IvfStore(str(tmp_path / "ivf"))
    store.build(
        spark.createDataFrame(
            [(i, v, i % 3) for i, v in initial.items()],
            "vec_id long, embedding array<float>, label int",
        ),
        num_centroids=4,
        refine_iterations=0,
    )
    return store, initial


def test_ivf_apply_batch_upsert_delete_and_replay(spark, tmp_path):
    store, corpus = _ivf_fixture(spark, tmp_path)

    # vec 5 MOVES cluster (axis 1 -> axis 2), vec 100 arrives, vec 7 dies
    upserts = spark.createDataFrame(
        [(5, _vec(2, 9), 1), (100, _vec(3, 2), 0)],
        "vec_id long, embedding array<float>, label int",
    )
    assert store.apply_batch(spark, upserts, [7], batch=1) is True
    corpus[5] = _f32(_vec(2, 9))
    corpus[100] = _f32(_vec(3, 2))
    del corpus[7]

    live = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in store.read_assignments(spark).collect()
    }
    assert live == corpus

    # replay is a sentinel no-op
    assert store.apply_batch(spark, upserts, [7], batch=1) is False

    # exactness under maintenance: certified probes == brute force,
    # including a query pointed at the cluster vec 5 moved INTO (its
    # widened radius must be honored) and one at the deleted vec's home
    for q in (_vec(2, 0), _vec(1, 0), _vec(0, 3), _vec(3, 1)):
        got = [(r.vec_id, r.cosine_sim) for r in store.probe_topk(spark, q, k=5).collect()]
        assert got == _brute_topk(corpus, q, 5), f"query {q}"


def test_ivf_streaming_maintenance_matches_brute_force(spark, tmp_path):
    import os

    from car_etl_spark.streaming.vector_maintenance import run_vector_maintenance

    store, corpus = _ivf_fixture(spark, tmp_path)
    landing = str(tmp_path / "landing")
    os.makedirs(landing)

    # batch A: vec 3 moves; vec 50 arrives then dies IN batch; vec 51 arrives
    _write_vec_change_file(spark, landing, "b0.parquet", [
        (3, _vec(0, 1), 2, "upsert", 10),
        (50, _vec(1, 1), 0, "upsert", 11),
        (50, None, None, "delete", 12),
        (51, _vec(2, 4), 1, "upsert", 13),
    ])
    # batch B: vec 0 dies, vec 50 reborn elsewhere
    _write_vec_change_file(spark, landing, "b1.parquet", [
        (0, None, None, "delete", 20),
        (50, _vec(3, 4), 2, "upsert", 21),
    ])
    run_vector_maintenance(spark, landing, store, str(tmp_path / "ckpt"))
    corpus[3] = _f32(_vec(0, 1))
    corpus[51] = _f32(_vec(2, 4))
    corpus[50] = _f32(_vec(3, 4))
    del corpus[0]

    live = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in store.read_assignments(spark).collect()
    }
    assert live == corpus
    for q in (_vec(0, 0), _vec(1, 2), _vec(2, 0), _vec(3, 0)):
        got = [(r.vec_id, r.cosine_sim) for r in store.probe_topk(spark, q, k=5).collect()]
        assert got == _brute_topk(corpus, q, 5), f"query {q}"

    # second drain: committed offsets make it a no-op
    run_vector_maintenance(spark, landing, store, str(tmp_path / "ckpt"))
    assert {
        r.vec_id for r in store.read_assignments(spark).collect()
    } == set(corpus)

    # compact folds the LSM down: batches debt cleared, same service
    store.compact(spark)
    assert store.meta()["batches"] == {}
    assert not _dir_has_parquet(store.delta_dir)
    for q in (_vec(0, 0), _vec(3, 0)):
        got = [(r.vec_id, r.cosine_sim) for r in store.probe_topk(spark, q, k=5).collect()]
        assert got == _brute_topk(corpus, q, 5)


def test_streaming_posting_maintenance_porter_analyzer(spark, tmp_path):
    """The maintenance path honors the store's analyzer: a
    porter-analyzer store maintained from the change stream equals a
    porter cold rebuild of the final state (stems and buckets derive
    from the SAME analyzer on both paths)."""
    import os

    from car_etl_spark.operators.indexing import PostingStore
    from car_etl_spark.streaming.posting_maintenance import run_posting_maintenance

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    store = PostingStore(str(tmp_path / "store"), analyzer="porter")
    store.build(
        spark.createDataFrame(
            [(1, "en", "merges happily running")],
            "doc_id long, lang string, text string",
        )
    )
    _write_change_file(spark, landing, "b0.parquet", [
        (1, "en", "merging happier runs", "upsert", 10),
        (2, "en", "styled relational feed", "upsert", 11),
    ])
    run_posting_maintenance(spark, landing, store, str(tmp_path / "ckpt"))

    rebuilt = PostingStore(str(tmp_path / "rebuild"), analyzer="porter")
    rebuilt.build(
        spark.createDataFrame(
            [(1, "en", "merging happier runs"), (2, "en", "styled relational feed")],
            "doc_id long, lang string, text string",
        )
    )

    def live(s):
        return sorted(
            tuple(r)
            for r in s.read(spark)
            .select("doc_id", "raw_term", "term", "weight", "tf")
            .collect()
        )

    got = live(store)
    assert got == live(rebuilt)
    # porter actually engaged: merging->merg, runs->run, styled->style
    terms = {t for (_d, _r, t, _w, _tf) in got}
    assert {"merg", "run", "style", "relat", "feed"} <= terms


def test_incremental_clusters_equal_batch_clusters(spark, tmp_path):
    """Clusters from incrementally-accumulated pairs == clusters from
    one batch over everything — including transitive closures that
    SPAN batches (A~B lands in batch 1, B~C in batch 2; no single
    batch ever saw A and C together)."""
    from car_etl_spark.streaming.incremental_dedup import IncrementalDeduper

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, base),
        (2, base + " lambda"),            # ~1
        (3, base + " lambda mu"),         # ~2 (and transitively ~1)
        (10, "totally different text about spark shuffles and joins okay"),
        (11, "totally different text about spark shuffles and joins okay"),
    ]

    def ddf(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    inc = IncrementalDeduper(spark, str(tmp_path / "inc"), threshold=0.5)
    inc.process_batch(ddf([docs[0], docs[3]]))       # 1, 10
    inc.process_batch(ddf([docs[1], docs[4]]))       # 2 (~1), 11 (~10)
    inc.process_batch(ddf([docs[2]]))                # 3 (~2, closure to 1)

    batch = IncrementalDeduper(spark, str(tmp_path / "batch"), threshold=0.5)
    batch.process_batch(ddf(docs))

    def comp_map(d):
        return {r.node: r.component for r in d.clusters().collect()}

    got, want = comp_map(inc), comp_map(batch)
    assert got == want
    # the cross-batch closure actually happened
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10


def test_cdc_landing_partitioned_by_tenant_and_date(spark, tmp_path):
    """S5 landing log: each sync's new versions append to a shared
    parquet table partitioned by (tenant, date); tenant+date reads
    prune to directories (SURVEY §1.2 end-to-end)."""
    from datetime import datetime

    from car_etl_spark.streaming.cdc import ConnectorSync

    def changes(rows, day):
        return spark.createDataFrame(
            [(p, h, "upsert", datetime(2026, 1, day, 0, 0, i)) for i, (p, h) in enumerate(rows)],
            "source_path string, file_hash string, change_type string, changed_at timestamp",
        )

    landing = str(tmp_path / "landing")
    s1 = ConnectorSync(spark, str(tmp_path / "c1"), "cx1", tenant_id="t1", landing_path=landing)
    s2 = ConnectorSync(spark, str(tmp_path / "c2"), "cx2", tenant_id="t2", landing_path=landing)
    s1.sync_once(lambda tok: (changes([("a", "h1"), ("b", "h2")], day=1), "k1"))
    s1.sync_once(lambda tok: (changes([("a", "h1b")], day=2), "k2"))  # new version, day 2
    s2.sync_once(lambda tok: (changes([("c", "h3")], day=1), "k1"))

    landed = spark.read.parquet(landing)
    assert landed.count() == 4  # a v1, b v1, a v2, c v1
    assert (tmp_path / "landing" / "tenant_id=t1" / "ingest_date=2026-01-02").is_dir()
    pruned = landed.filter((F.col("tenant_id") == "t1") & (F.col("ingest_date") == "2026-01-01"))
    assert {(r.source_path, r.version) for r in pruned.collect()} == {("a", 1), ("b", 1)}
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert pf and "tenant_id" in pf[0] and "ingest_date" in pf[0], plan[:2000]


def test_cdc_landing_crash_retry_converges(spark, tmp_path, monkeypatch):
    """Crash-ordering contract: landing happens BEFORE the docs-state
    write, and a retry after a crash between the two re-lands nothing
    (the (doc_id, version) anti-join) — while a retry after a full sync
    whose token save was lost diffs to empty and lands nothing either.
    Either way the landing log converges to exactly one row per
    document version."""
    from datetime import datetime

    from car_etl_spark.streaming import cdc
    from car_etl_spark.streaming.cdc import ConnectorSync

    def changes(rows, day):
        return spark.createDataFrame(
            [(p, h, "upsert", datetime(2026, 2, day, 0, 0, i)) for i, (p, h) in enumerate(rows)],
            "source_path string, file_hash string, change_type string, changed_at timestamp",
        )

    landing = str(tmp_path / "landing")
    sync = ConnectorSync(
        spark, str(tmp_path / "c1"), "cx1", tenant_id="t1", landing_path=landing
    )
    feed = lambda tok: (changes([("a", "h1"), ("b", "h2")], day=1), "k1")

    # window B: die after the landing append, before the docs write
    real = cdc.demote_superseded
    boom = {"armed": True}

    def exploding(existing, new_versions):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected crash between landing and docs write")
        return real(existing, new_versions)

    monkeypatch.setattr(cdc, "demote_superseded", exploding)
    with pytest.raises(RuntimeError, match="injected crash"):
        sync.sync_once(feed)
    assert spark.read.parquet(landing).count() == 2  # landed before the crash

    out = sync.sync_once(feed)  # retry: same batch (token was never saved)
    assert out["new_versions"] == 2
    landed = spark.read.parquet(landing)
    assert landed.count() == 2  # anti-join made the re-append a no-op
    assert sync.docs().count() == 2

    # window C: docs written but the token save lost -> retry refetches
    # the same batch, diffs to empty, lands nothing new
    out2 = sync.sync_once(feed)
    assert out2["new_versions"] == 0
    assert spark.read.parquet(landing).count() == 2


def test_cdc_landing_with_zorder_cols(spark, tmp_path):
    """ConnectorSync(landing_zorder_cols=...) lands the identical row
    set as plain landing (clustering is layout-only), keeps the
    partition directories, and stays idempotent across a replayed
    sync."""
    from datetime import datetime

    from car_etl_spark.streaming.cdc import ConnectorSync

    def changes(rows, day):
        return spark.createDataFrame(
            [(p, h, "upsert", datetime(2026, 4, day, 0, 0, i)) for i, (p, h) in enumerate(rows)],
            "source_path string, file_hash string, change_type string, changed_at timestamp",
        )

    landing = str(tmp_path / "landing")
    sync = ConnectorSync(
        spark, str(tmp_path / "c1"), "cz1", tenant_id="t1",
        landing_path=landing, landing_zorder_cols=("version", "synced_at"),
    )
    feed = [("d%d" % i, "h%d" % i) for i in range(6)]
    sync.sync_once(lambda tok: (changes(feed, day=1), "k1"))
    landed = spark.read.parquet(landing)
    assert landed.count() == 6
    assert (tmp_path / "landing" / "tenant_id=t1" / "ingest_date=2026-04-01").is_dir()
    # replayed batch (same change feed): anti-join lands nothing new
    sync2 = ConnectorSync(
        spark, str(tmp_path / "c1"), "cz1", tenant_id="t1",
        landing_path=landing, landing_zorder_cols=("version", "synced_at"),
    )
    sync2.sync_once(lambda tok: (changes(feed, day=1), "k1"))
    assert spark.read.parquet(landing).count() == 6
