"""Generation-numbered store layouts (round 9).

Compaction used to RENAME the live directories (base -> base.old,
tmp -> base): atomic for a restarted reader, but an IN-FLIGHT serve
that had already resolved its parquet file paths died on the vanished
files — the r9 maintenance-under-serving soak measured 5/879 serves
hitting that window and retried them.  The layouts are now
generation-numbered: build/compact write ``layout-<gen+1>/`` (invisible
until published), atomically flip the ``_current.json`` pointer, and
defer GC of generation ``gen-1`` until the NEXT compact — so a serve
pinned to the previous generation finishes against files that still
exist.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from car_etl_spark.operators import indexing as IX
from tests.test_indexing import (
    DOCS_B1,
    DOCS_V0,
    _clustered_emb,
    _docs_df,
    _live_postings,
)


def _gen(path):
    return IX._layout_gen(path)


def test_posting_inflight_read_survives_compact(spark, tmp_path):
    """The headline property: a DataFrame constructed BEFORE a compact
    (file paths resolved under the old generation) collects correctly
    AFTER the flip — no FileNotFound, no retry, same rows."""
    store = IX.PostingStore(str(tmp_path / "p"))
    store.build(_docs_df(spark, DOCS_V0))
    store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    before = _live_postings(store, spark)

    inflight = store.read(spark).select(
        "doc_id", "lang", "raw_term", "term", "weight", "tf", "term_bucket"
    )
    g0 = _gen(store.path)
    store.compact(spark)
    assert _gen(store.path) == g0 + 1
    # the in-flight frame still reads the OLD generation's files
    assert sorted(tuple(r) for r in inflight.collect()) == before
    # and a fresh read serves the same content from the new generation
    assert _live_postings(store, spark) == before


def test_posting_generation_gc_keeps_one_of_grace(spark, tmp_path):
    store = IX.PostingStore(str(tmp_path / "p"))
    store.build(_docs_df(spark, DOCS_V0))  # gen 1
    assert _gen(store.path) == 1
    store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    store.compact(spark)  # gen 2
    assert _gen(store.path) == 2
    assert os.path.isdir(os.path.join(store.path, "layout-1"))  # grace
    store.compact(spark)  # gen 3; gen 1 GC'd
    assert _gen(store.path) == 3
    assert not os.path.isdir(os.path.join(store.path, "layout-1"))
    assert os.path.isdir(os.path.join(store.path, "layout-2"))


def test_ivf_inflight_read_survives_compact(spark, tmp_path):
    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "ivf"))
    store.build(emb, num_centroids=4, refine_iterations=2)
    upd = spark.createDataFrame(
        [(5, 99, [1.0, 0.3] + [0.0] * 6)],
        "vec_id long, label int, embedding array<double>",
    )
    store.apply_batch(spark, upd, [7], batch=1)
    before = sorted(
        tuple(r)
        for r in store.read_assignments(spark).select("vec_id", "label").collect()
    )
    inflight = store.read_assignments(spark).select("vec_id", "label")
    g0 = _gen(store.path)
    store.compact(spark)
    assert _gen(store.path) == g0 + 1
    assert sorted(tuple(r) for r in inflight.collect()) == before
    assert (
        sorted(
            tuple(r)
            for r in store.read_assignments(spark).select("vec_id", "label").collect()
        )
        == before
    )


def test_rollup_inflight_read_survives_compact(spark, tmp_path):
    from car_etl_spark.streaming.rollup_store import RollupStore

    events = spark.createDataFrame(
        [
            (1, "click", "2024-01-01 10:00:30", 2.0),
            (2, "view", "2024-01-01 11:01:10", 3.0),
        ],
        "event_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    store = RollupStore(str(tmp_path / "r"))
    store.build(events)
    store.apply_batch(spark, events.withColumn("value", F.col("value") + 5), 1)
    before = sorted(tuple(r) for r in store.read(spark, "day").collect())
    inflight = store.read(spark, "day")
    g0 = _gen(store.path)
    store.compact(spark)
    assert _gen(store.path) == g0 + 1
    assert sorted(tuple(r) for r in inflight.collect()) == before
    assert sorted(tuple(r) for r in store.read(spark, "day").collect()) == before


def test_rollup_refresh_dates_publishes_generation(spark, tmp_path):
    """refresh_dates gets the compact guarantee: an in-flight read
    keeps its files (unchanged partitions hardlink into the new
    generation), refreshed dates recompute, untouched dates and the
    carried-over deltas (with their sentinels) survive."""
    from car_etl_spark.streaming.rollup_store import RollupStore

    events = spark.createDataFrame(
        [
            (1, "click", "2024-01-01 10:00:30", 2.0),
            (2, "click", "2024-01-02 11:01:10", 3.0),
        ],
        "event_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    store = RollupStore(str(tmp_path / "r"))
    store.build(events)
    # a delta batch on the date that will NOT be refreshed
    late = spark.createDataFrame(
        [(3, "click", "2024-01-02 12:00:00", 7.0)],
        "event_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert store.apply_batch(spark, late, 1)
    inflight = store.read(spark, "day")
    before = sorted(tuple(r) for r in inflight.collect())

    # history mutates on 2024-01-01: the value was actually 10
    corrected = spark.createDataFrame(
        [
            (1, "click", "2024-01-01 10:00:30", 10.0),
            (2, "click", "2024-01-02 11:01:10", 3.0),
            (3, "click", "2024-01-02 12:00:00", 7.0),
        ],
        "event_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    g0 = _gen(store.path)
    store.refresh_dates(spark, corrected, ["2024-01-01"])
    assert _gen(store.path) == g0 + 1
    # the in-flight frame still serves the PRE-refresh snapshot
    assert sorted(tuple(r) for r in inflight.collect()) == before
    after = {(str(r.bucket_start)[:10], r.event_type): r.value_sum
             for r in store.read(spark, "day").collect()}
    assert after[("2024-01-01", "click")] == 10.0   # refreshed
    assert after[("2024-01-02", "click")] == 10.0   # base 3 + delta 7 carried
    # the delta batch's sentinel survived the refresh publish
    assert os.path.exists(store._sentinel(1))
