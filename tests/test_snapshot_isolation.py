"""Committed-snapshot visibility for the LSM stores under LIVE maintenance.

The production condition at 100 TB is that maintenance never stops: a
serve can land at ANY point inside an ``apply_batch`` or ``compact``.
The stores' crash-ordering arguments (pessimism-first meta, tombstones
before deltas) keep *recall* safe for a mid-batch reader, but snapshot
EQUALITY — "every serve equals the brute force over the then-live view"
— needs a commit point: rows of a batch must become visible all at
once, or a racing serve observes a corpus that matches neither the
pre- nor the post-batch state (new rows without their tombstone =
double tf; a tombstone without its rows = vanished doc; a partial
parquet append = partial sums).

Mechanism under test (operators/indexing.py ``_live_window``,
streaming/rollup_store.py ``partials``):

- PostingStore: ``applied_through`` stamped atomically WITH the bm25
  corpus stats (one os.replace on meta) — stats and data commit
  together; readers bound delta/tombstone batches by it.
- IvfStore: ``applied_through`` rides the final meta write (counts +
  bound in one replace) — the certificate and the row view always
  describe the same committed state.
- RollupStore: the applied sentinel (one atomic file create after the
  append job) is the commit point; ``partials`` hides batches above
  the max sentinel.

Crash simulation = monkeypatching the step just before the commit
point to raise, exactly where a process death would leave the disk.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from car_etl_spark.operators import indexing as IX
from tests.test_indexing import (
    DOCS_B1,
    DOCS_V0,
    _docs_df,
    _live_postings,
    _clustered_emb,
)


@pytest.fixture()
def posting_store(spark, tmp_path):
    store = IX.PostingStore(str(tmp_path / "postings"))
    store.build(_docs_df(spark, DOCS_V0))
    return store


def _crash_before_commit(store, monkeypatch):
    """Make the next apply_batch crash AFTER all delta/tombstone/doclen
    writes but BEFORE the meta commit (the applied_through stamp)."""

    def boom(*_a, **_k):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(store, "_refresh_stats", boom)


def test_posting_half_applied_batch_is_invisible(spark, tmp_path, posting_store, monkeypatch):
    """A batch whose commit point never landed must not change the view
    — even though its delta rows AND tombstones are fully on disk."""
    before = _live_postings(posting_store, spark)
    stats_before = posting_store.stats()
    _crash_before_commit(posting_store, monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        posting_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    # the half-applied batch is fully on disk...
    assert IX._dir_has_parquet(posting_store.delta_dir)
    assert IX._dir_has_parquet(posting_store.tomb_dir)
    # ...and completely invisible: rows, doclens, and bm25 stats all
    # still describe the pre-batch snapshot
    assert _live_postings(posting_store, spark) == before
    assert posting_store.stats() == stats_before
    assert {r[0] for r in posting_store.read_doclens(spark).collect()} == {1, 2, 3, 4}


def test_posting_replay_after_crash_converges(spark, tmp_path, posting_store, monkeypatch):
    _crash_before_commit(posting_store, monkeypatch)
    with pytest.raises(RuntimeError):
        posting_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    monkeypatch.undo()
    # the stream replays the batch (no sentinel): duplicate delta rows
    # dedup on read, the commit lands, the batch becomes visible
    assert posting_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    once = IX.PostingStore(str(tmp_path / "once"))
    once.build(_docs_df(spark, DOCS_V0))
    once.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    assert _live_postings(posting_store, spark) == _live_postings(once, spark)


def test_posting_compact_excludes_uncommitted_batch(spark, tmp_path, posting_store, monkeypatch):
    """Compact folds the COMMITTED snapshot only: an uncommitted
    stranded batch must not enter base (its replay re-delivers it in
    full — folding the partial copy would be unrepairable)."""
    assert posting_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    committed = _live_postings(posting_store, spark)
    _crash_before_commit(posting_store, monkeypatch)
    with pytest.raises(RuntimeError):
        posting_store.apply_batch(
            spark, _docs_df(spark, [(1, "en", "alpha beta rewritten shorter")]),
            [4], batch=2,
        )
    monkeypatch.undo()
    posting_store.compact(spark)
    assert _live_postings(posting_store, spark) == committed
    # the replay still applies after compact: batch 2 never got a
    # sentinel, so the compaction epoch stayed at 1
    assert int(posting_store._meta()["compacted_through"]) == 1
    assert posting_store.apply_batch(
        spark, _docs_df(spark, [(1, "en", "alpha beta rewritten shorter")]),
        [4], batch=2,
    )
    doc_ids = {r[0] for r in _live_postings(posting_store, spark)}
    assert 4 not in doc_ids and 1 in doc_ids


def test_ivf_half_applied_batch_is_invisible(spark, tmp_path, monkeypatch):
    """IVF write order is tombstones -> deltas -> final meta: without
    the snapshot bound a racing reader observes the upserted id ABSENT
    between steps.  With it, the id stays visible in its OLD version
    until the final meta write commits the batch."""
    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "ivf"))
    store.build(emb, num_centroids=4, refine_iterations=2)
    before = sorted(
        tuple(r) for r in store.read_assignments(spark).select("vec_id", "label").collect()
    )

    calls = {"n": 0}
    real = store._write_meta

    def crash_on_final(meta):
        calls["n"] += 1
        if calls["n"] == 2:  # pessimistic write survives, final commit dies
            raise RuntimeError("simulated crash before commit")
        real(meta)

    monkeypatch.setattr(store, "_write_meta", crash_on_final)
    upd = spark.createDataFrame(
        [(5, 99, [1.0, 0.3] + [0.0] * 6)], "vec_id long, label int, embedding array<double>"
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.apply_batch(spark, upd, None, batch=1)
    monkeypatch.undo()
    # tombstone for id 5 and its new delta row are both on disk, but
    # the view still shows the OLD row — never a vanished id
    assert IX._dir_has_parquet(store.tomb_dir)
    after = sorted(
        tuple(r) for r in store.read_assignments(spark).select("vec_id", "label").collect()
    )
    assert after == before
    # replay commits; the new version becomes visible atomically
    assert store.apply_batch(spark, upd, None, batch=1)
    labels = {r[0]: r[1] for r in store.read_assignments(spark).select("vec_id", "label").collect()}
    assert labels[5] == 99


def test_rollup_partial_append_is_invisible(spark, tmp_path):
    """Delta parquet files land per-task: a concurrent reader racing the
    append job must not sum a partial batch.  Simulate the mid-append
    disk state by writing batch-2 partials WITHOUT the sentinel."""
    from car_etl_spark.streaming.rollup_store import RollupStore

    events = spark.createDataFrame(
        [(1, "click", "2024-01-01 10:00:30", 2.0), (2, "click", "2024-01-01 10:01:10", 3.0)],
        "event_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    store = RollupStore(str(tmp_path / "rollup"))
    store.build(events)
    assert store.apply_batch(spark, events.withColumn("value", F.col("value") + 10), 1)
    before = sorted(tuple(r) for r in store.read(spark, "day").collect())

    # mid-append state: batch-2 rows on disk, no sentinel
    (
        store._minute_partials(events)
        .withColumn("batch", F.lit(2).cast("long"))
        .repartition(*store._pcols())
        .write.mode("append")
        .partitionBy(*store._pcols())
        .parquet(store.delta_dir)
    )
    assert sorted(tuple(r) for r in store.read(spark, "day").collect()) == before
    # the sentinel is the commit point: create it, the batch appears
    with open(store._sentinel(2), "w") as f:
        f.write("applied")
    after = sorted(tuple(r) for r in store.read(spark, "day").collect())
    assert after != before
    n_total = spark.createDataFrame(after, store.read(spark, "day").schema).agg(
        F.sum("n")
    ).first()[0]
    assert n_total == 6  # base 2 + batch1 2 + batch2 2


def test_compact_folds_only_sentineled_batches(spark, tmp_path, posting_store):
    """A crash between apply_batch's meta commit and its sentinel write
    leaves applied_through one ahead of the sentinels.  Compact must
    fold EXACTLY what it stamps as the epoch (the sentinel bound) —
    folding by applied_through would publish a base containing batch B
    under an epoch of B-1, and B's replay would re-land on content
    already folded."""
    from tests.test_indexing import _expected_final  # noqa: F401  (fixture import side)

    v0 = _live_postings(posting_store, spark)
    posting_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    applied = _live_postings(posting_store, spark)
    os.remove(posting_store._sentinel(1))  # crash after commit, before sentinel

    posting_store.compact(spark)
    # the fold excluded the unsentineled batch: back to the v0 content,
    # epoch 0, and the batch is the stream's to redeliver
    assert int(posting_store._meta()["compacted_through"]) == 0
    assert _live_postings(posting_store, spark) == v0
    assert posting_store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    assert _live_postings(posting_store, spark) == applied


def test_each_store_read_parses_meta_once(spark, tmp_path, posting_store, monkeypatch):
    """A serving read resolves ONE snapshot: the store's meta is parsed
    exactly once per call, however many paths, bounds, statistics and
    scans the read builds from it."""
    import builtins

    from car_etl_spark.streaming.rollup_store import RollupStore

    emb = _clustered_emb(spark)
    ivf = IX.IvfStore(str(tmp_path / "pq"))
    ivf.build(emb, num_centroids=4, refine_iterations=0, pq_m=4)
    events = spark.createDataFrame(
        [(1, "click", "2024-01-01 10:00:30", 2.0)],
        "event_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rollup = RollupStore(str(tmp_path / "rollup"))
    rollup.build(events)
    qvec = list(emb.filter(F.col("vec_id") == 3).select("embedding").first()[0])
    stems = [r[0] for r in posting_store.read(spark).select("term").limit(2).collect()]

    parses = []
    real_open = builtins.open

    def counting_open(file, mode="r", *args, **kwargs):
        if os.path.basename(str(file)) == "_meta.json" and "r" in mode:
            parses.append(file)
        return real_open(file, mode, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", counting_open)
    calls = {
        "term_search": lambda: posting_store.term_search(spark, stems),
        "bm25_search": lambda: posting_store.bm25_search(spark, stems),
        "phrase_search": lambda: posting_store.phrase_search(spark, stems),
        "probe_topk": lambda: ivf.probe_topk(spark, qvec, k=5),
        "pq_topk": lambda: ivf.pq_topk(spark, qvec, k=5),
        "rollup.read": lambda: rollup.read(spark, "day"),
    }
    counts = {}
    for name, call in calls.items():
        parses.clear()
        call()
        counts[name] = len(parses)
    assert counts == {name: 1 for name in calls}, counts
