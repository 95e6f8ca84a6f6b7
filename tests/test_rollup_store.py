"""Continuous-aggregate rollup store (streaming/rollup_store.py):
incremental == rebuild through late events, replay, compaction; the
grain cascade equals direct aggregation; date serving prunes
partitions; mutable history goes through bounded refresh."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from car_etl_spark.operators.indexing import _dir_has_parquet
from car_etl_spark.streaming.rollup_store import (
    ROLLUP_VERSION,
    RollupStore,
    RollupStoreParamError,
    run_rollup_maintenance,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _ev(eid, day, hm, typ, val, user=1):
    h, m = hm
    return (eid, dt.datetime(2024, 3, day, h, m, 30), user, typ, float(val))


V0 = [
    _ev(1, 1, (10, 0), "click", 1.0),
    _ev(2, 1, (10, 0), "click", 3.0),
    _ev(3, 1, (10, 5), "view", 2.0),
    _ev(4, 2, (9, 30), "click", 5.0),
    _ev(5, 2, (23, 59), "view", 7.0),
]
B1 = [
    _ev(6, 2, (9, 30), "click", 11.0),   # same minute as event 4
    _ev(7, 3, (0, 0), "view", 13.0),     # new day
]
B2 = [
    _ev(8, 1, (10, 0), "click", 17.0),   # LATE: two days old, hot minute
    _ev(9, 3, (0, 1), "click", 19.0),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def store(spark, tmp_path):
    s = RollupStore(str(tmp_path / "rollup"))
    s.build(_df(spark, V0))
    return s


def test_incremental_equals_rebuild_through_late_events(spark, tmp_path, store):
    assert store.apply_batch(spark, _df(spark, B1), batch=1)
    assert store.apply_batch(spark, _df(spark, B2), batch=2)
    fresh = RollupStore(str(tmp_path / "rebuild"))
    fresh.build(_df(spark, V0 + B1 + B2))
    for grain in ("minute", "hour", "day"):
        assert _rows(store.read(spark, grain)) == _rows(fresh.read(spark, grain)), grain


def test_replay_and_crash_replay_are_noops(spark, tmp_path, store):
    store.apply_batch(spark, _df(spark, B1), batch=1)
    before = _rows(store.read(spark, "minute"))
    # sentinel short-circuit
    assert store.apply_batch(spark, _df(spark, B1), batch=1) is False
    # crash-before-sentinel: the write order (pending -> delta ->
    # sentinel -> clear pending) guarantees the pending marker is still
    # on disk in that state; r12 — the replay's entry sweep retracts
    # the orphaned delta rows (batch above the committed bound) and the
    # replay lands fresh: no duplicates, ledger stays CLEAN, and the
    # served view is unchanged
    os.remove(store._sentinel(1))
    with open(store._pending(1), "w") as f:
        f.write("pending")
    assert store.apply_batch(spark, _df(spark, B1), batch=1)
    assert store._needs_dup_drop() is False
    assert _rows(store.read(spark, "minute")) == before


def test_compact_preserves_view_and_clears_deltas(spark, tmp_path, store):
    store.apply_batch(spark, _df(spark, B1), batch=1)
    store.apply_batch(spark, _df(spark, B2), batch=2)
    before = {g: _rows(store.read(spark, g)) for g in ("minute", "day")}
    assert store.should_compact(threshold=0.1)
    store.compact(spark)
    for g, want in before.items():
        assert _rows(store.read(spark, g)) == want
    assert not _dir_has_parquet(store.delta_dir)


def test_day_grain_equals_direct_aggregation(spark, store):
    store.apply_batch(spark, _df(spark, B1), batch=1)
    got = {
        (r.bucket_start, r.event_type): (r.n, r.value_sum, r.value_avg, r.value_min, r.value_max)
        for r in store.read(spark, "day").collect()
    }
    direct = (
        _df(spark, V0 + B1)
        .groupBy(F.date_trunc("day", "ts").alias("d"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.avg("value").alias("a"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .collect()
    )
    assert len(got) == len(direct)
    for r in direct:
        n, s, a, mn, mx = got[(r.d, r.event_type)]
        assert n == r.n and mn == r.mn and mx == r.mx
        assert abs(s - r.s) < 1e-9 and abs(a - r.a) < 1e-9


def test_date_range_serving_prunes_partitions(spark, store):
    store.apply_batch(spark, _df(spark, B1), batch=1)
    ranged = store.read(
        spark, "day", start_date=dt.date(2024, 3, 2), end_date=dt.date(2024, 3, 2)
    )
    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_date" in plan
    days = {r.bucket_start.day for r in ranged.collect()}
    assert days == {2}
    # values equal the same-range direct aggregation
    direct = (
        _df(spark, V0 + B1)
        .filter(F.to_date("ts") == F.lit(dt.date(2024, 3, 2)))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    got = {r.event_type: (r.n, r.value_sum) for r in ranged.collect()}
    for r in direct:
        assert got[r.event_type][0] == r.n
        assert abs(got[r.event_type][1] - r.s) < 1e-9


def test_param_drift_refused(spark, tmp_path, store):
    other = RollupStore(str(tmp_path / "rollup"), group_cols=("event_type", "user_id"))
    with pytest.raises(RollupStoreParamError, match="rebuild"):
        other.read(spark, "day")
    with pytest.raises(RollupStoreParamError, match="build"):
        RollupStore(str(tmp_path / "missing")).read(spark, "day")


def test_partials_refuse_older_layout_version(spark, store):
    """The layout version is checked where meta is read, so serving an
    older-layout rollup store refuses instead of reading it."""
    import json

    meta = store._meta()
    meta["version"] = ROLLUP_VERSION - 1
    with open(store.meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(RollupStoreParamError, match="rebuild it"):
        store.partials(spark)


def test_asof_store_paths_follow_layout_versions(monkeypatch):
    """The as-of store pair is addressed by each store's layout version:
    a bump re-addresses it rather than reopening a refused layout."""
    from car_etl_spark.operators import indexing as IX
    from car_etl_spark.queries.asofq import asof_store_paths
    from car_etl_spark.streaming import rollup_store as RS
    from tests.conftest import SF_SMALL

    ppath, rpath = asof_store_paths(SF_SMALL)
    with monkeypatch.context() as m:
        m.setattr(IX, "POSTING_VERSION", IX.POSTING_VERSION + 1)
        assert asof_store_paths(SF_SMALL) != (ppath, rpath)
        assert asof_store_paths(SF_SMALL)[1] == rpath
    with monkeypatch.context() as m:
        m.setattr(RS, "ROLLUP_VERSION", RS.ROLLUP_VERSION + 1)
        assert asof_store_paths(SF_SMALL) != (ppath, rpath)
        assert asof_store_paths(SF_SMALL)[0] == ppath


def test_refresh_dates_recomputes_invalidated_region(spark, tmp_path, store):
    """Mutable history: day 1's events change at the source; refreshing
    ONLY that date converges the store to a rebuild of the mutated
    source, and other dates' partitions are untouched."""
    store.apply_batch(spark, _df(spark, B1), batch=1)
    mutated = [e for e in V0 + B1 if not (e[1].day == 1)] + [
        _ev(101, 1, (10, 0), "click", 100.0),
    ]
    store.refresh_dates(spark, _df(spark, mutated), [dt.date(2024, 3, 1)])
    fresh = RollupStore(str(tmp_path / "mrebuild"))
    fresh.build(_df(spark, mutated))
    for grain in ("minute", "day"):
        assert _rows(store.read(spark, grain)) == _rows(fresh.read(spark, grain))


def test_streaming_runner_matches_batch_build(spark, tmp_path):
    """availableNow drain over a parquet landing dir == one batch build
    over the same rows (the T1 parity pattern), and a second drain with
    new (late) files folds them in."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    _df(spark, V0).write.mode("append").parquet(landing)
    store = RollupStore(str(tmp_path / "sroll"))
    # seed base with one row (the stream re-delivers it; the rebuild
    # twin below carries the same duplication, so parity still binds)
    store.build(_df(spark, V0[:1]))
    run_rollup_maintenance(
        spark, landing, SCHEMA, store, str(tmp_path / "ckpt")
    )
    _df(spark, B1 + B2).write.mode("append").parquet(landing)
    run_rollup_maintenance(
        spark, landing, SCHEMA, store, str(tmp_path / "ckpt")
    )
    fresh = RollupStore(str(tmp_path / "srebuild"))
    fresh.build(_df(spark, V0[:1] + V0 + B1 + B2))
    assert _rows(store.read(spark, "minute")) == _rows(fresh.read(spark, "minute"))


TSCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, tenant_id string"
)


def test_tenant_scoped_rollup_isolation_and_pruning(spark, tmp_path):
    """Tenant stores: tenant is a group col AND the leading partition
    level — a scoped read equals a solo-tenant store build, its scan
    prunes to tenant=/event_date= dirs, and refresh_dates touches only
    the named dates within each tenant."""
    rows_a = [e + ("tA",) for e in V0 + B1]
    rows_b = [e + ("tB",) for e in B2] + [
        _ev(50, 1, (10, 0), "click", 999.0) + ("tB",)
    ]
    store = RollupStore(str(tmp_path / "troll"), tenant_col="tenant_id")
    store.build(spark.createDataFrame(rows_a, TSCHEMA))
    store.apply_batch(spark, spark.createDataFrame(rows_b, TSCHEMA), batch=1)

    solo = RollupStore(str(tmp_path / "solo"), tenant_col="tenant_id")
    solo.build(spark.createDataFrame(rows_a, TSCHEMA))
    got = _rows(store.read(spark, "day", tenant="tA"))
    assert got == _rows(solo.read(spark, "day", tenant="tA"))
    # no tB values leak into the scoped read
    assert all("tB" not in r for r in got)
    plan = (
        store.read(spark, "day", tenant="tB")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan and "tenant_id" in plan
    # unscoped read still serves both tenants (tenant in the grain)
    tenants = {r.tenant_id for r in store.read(spark, "day").collect()}
    assert tenants == {"tA", "tB"}
    plain = RollupStore(str(tmp_path / "plain"))
    plain.build(_df(spark, V0))
    with pytest.raises(ValueError, match="tenant_col"):
        plain.read(spark, "day", tenant="tA")


def test_active_users_continuous_aggregate_composition(spark, tmp_path):
    """The 'active users per hour' dashboard read: additive metrics
    from the RollupStore + distinct users from the HLL/KMV sketch state
    keyed by the SAME time bucket — both LSM-maintained, neither ever
    rescans history.  KMV is exact below k, so at this scale the
    composed read equals the exact distinct count."""
    from pyspark.sql import functions as F

    from car_etl_spark.streaming.incremental_sketches import (
        IncrementalDistinctSketch,
    )

    # varied users: distinct counts differ per (hour, type) bucket
    def u(rows_, base):
        return [
            (eid, ts, base + (eid % 3), typ, val)
            for eid, ts, _u, typ, val in rows_
        ]

    v0, b1, b2 = u(V0, 10), u(B1, 20), u(B2, 10)
    rows = v0 + b1 + b2
    store = RollupStore(str(tmp_path / "caroll"))
    store.build(_df(spark, v0))
    sk = IncrementalDistinctSketch(
        spark, str(tmp_path / "causers"),
        keys=["bucket_hour", "event_type"], value_col="user_id",
    )

    def bucketed(rows_):
        return _df(spark, rows_).withColumn(
            "bucket_hour", F.date_trunc("hour", "ts")
        )

    sk.process_batch(bucketed(v0))
    store.apply_batch(spark, _df(spark, b1), batch=1)
    sk.process_batch(bucketed(b1))
    store.apply_batch(spark, _df(spark, b2), batch=2)
    sk.process_batch(bucketed(b2))

    metrics = store.read(spark, "hour").select(
        F.col("bucket_start").alias("bucket_hour"), "event_type", "n", "value_sum"
    )
    users = sk.estimates().select("bucket_hour", "event_type", "kmv_distinct")
    dash = {
        (r.bucket_hour, r.event_type): (r.n, r.kmv_distinct)
        for r in metrics.join(users, ["bucket_hour", "event_type"]).collect()
    }
    exact = {
        (r.h, r.event_type): (r.n, r.u)
        for r in _df(spark, rows)
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("u"))
        .collect()
    }
    assert dash == exact


def test_rollup_compact_crash_leaves_view_intact(spark, tmp_path, store):
    """Stranded delta files after a crash between compact's swap and
    its cleanup are at or below the meta epoch and must be ignored."""
    import shutil

    store.apply_batch(spark, _df(spark, B1), batch=1)
    store.apply_batch(spark, _df(spark, B2), batch=2)
    before = _rows(store.read(spark, "minute"))
    aside = str(tmp_path / "delta-aside")
    shutil.copytree(store.delta_dir, aside)
    store.compact(spark)
    shutil.copytree(aside, store.delta_dir, dirs_exist_ok=True)
    assert _rows(store.read(spark, "minute")) == before
    # stale-batch replay refused; later ids still apply
    assert store.apply_batch(spark, _df(spark, B1), batch=1) is False
    assert store.apply_batch(
        spark, _df(spark, [_ev(99, 3, (5, 0), "view", 1.0)]), batch=3
    )


def test_rollup_numeric_string_tenants_not_conflated(spark, tmp_path):
    """The stored-schema guard: string tenants '100' and '0100' live in
    distinct partition dirs; without the pinned schema, partition-type
    inference folds both into int 100 and merges their aggregates."""
    rows = [
        _ev(1, 1, (10, 0), "click", 1.0) + ("100",),
        _ev(2, 1, (10, 0), "click", 5.0) + ("0100",),
    ]
    store = RollupStore(str(tmp_path / "numroll"), tenant_col="tenant_id")
    store.build(spark.createDataFrame(rows, TSCHEMA))
    got = {
        (r.tenant_id, r.n, r.value_sum)
        for r in store.read(spark, "day").collect()
    }
    assert got == {("100", 1, 1.0), ("0100", 1, 5.0)}
    only = store.read(spark, "day", tenant="100").collect()
    assert [(r.tenant_id, r.n) for r in only] == [("100", 1)]


def test_clean_ledger_skips_duplicate_drop_but_replay_stays_exact(spark, tmp_path, store):
    """The clean-ledger fast path: no crash-replay ever happened ->
    partials() serves WITHOUT the duplicate-drop aggregation.  r12: a
    replay after a crashed append no longer stamps the store dirty —
    the entry sweep retracts the crashed attempt's rows (batch above
    the committed bound) before the replay appends, so the replay
    CANNOT duplicate and the fast path survives; the dirty backstop
    only fires when the sweep reports files it could not retract."""
    store.apply_batch(spark, _df(spark, B1), batch=1)
    assert store._needs_dup_drop() is False
    plan = store.partials(spark)._jdf.queryExecution().executedPlan().toString()
    clean = _rows(store.read(spark, "day"))

    # crash: delta rows landed but the applied sentinel did not
    store.apply_batch(spark, _df(spark, B2), batch=2)
    os.remove(store._sentinel(2))
    with open(store._pending(2), "w") as f:
        f.write("pending")  # the marker a mid-append crash leaves
    # replay: the sweep retracts the orphaned rows, the replay lands
    # fresh — ledger stays clean, no duplicate-drop aggregation
    assert store.apply_batch(spark, _df(spark, B2), batch=2) is True
    assert store._needs_dup_drop() is False
    plan_replay = store.partials(spark)._jdf.queryExecution().executedPlan().toString()
    assert plan_replay.count("HashAggregate") == plan.count("HashAggregate")

    # served values equal a single-apply twin despite the crash+replay
    solo = RollupStore(str(tmp_path / "solo2"))
    solo.build(_df(spark, V0))
    solo.apply_batch(spark, _df(spark, B1), batch=1)
    solo.apply_batch(spark, _df(spark, B2), batch=2)
    assert _rows(store.read(spark, "day")) == _rows(solo.read(spark, "day"))

    store.compact(spark)
    assert store._needs_dup_drop() is False
    assert _rows(store.read(spark, "day")) == _rows(solo.read(spark, "day"))
    assert clean == [r for r in clean]  # clean snapshot untouched


def test_replay_stamps_dirty_only_when_sweep_leaves_files(
    spark, tmp_path, store, monkeypatch
):
    """The dirty backstop still exists for the one case that needs it:
    a sweep that could not retract every orphan (vanished mid-walk /
    remove failure) — forced here by stubbing the sweep to report a
    skipped file."""
    from car_etl_spark.operators import indexing as IX

    store.apply_batch(spark, _df(spark, B1), batch=1)
    store.apply_batch(spark, _df(spark, B2), batch=2)
    os.remove(store._sentinel(2))
    with open(store._pending(2), "w") as f:
        f.write("pending")
    monkeypatch.setattr(
        IX, "_sweep_promoted_orphans", lambda *a, **k: ([], ["leftover"])
    )
    assert store.apply_batch(spark, _df(spark, B2), batch=2) is True
    assert store._needs_dup_drop() is True
    # exact-duplicate replay rows: the dirty drop keeps values exact
    solo = RollupStore(str(tmp_path / "solo3"))
    solo.build(_df(spark, V0))
    solo.apply_batch(spark, _df(spark, B1), batch=1)
    solo.apply_batch(spark, _df(spark, B2), batch=2)
    assert _rows(store.read(spark, "day")) == _rows(solo.read(spark, "day"))


def test_api_tenant_rollup_route(spark, tmp_path):
    """The facade route: tenant-scoped rollup serving equals a store
    built from the tenant's corpus alone, prunes the tenant partition
    level, and refuses unscoped use."""
    from car_etl_spark import api

    TSCHEMA2 = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, tenant_id string"
    )
    rows = [(*r, "tA" if r[0] % 2 else "tB") for r in V0 + B1]
    df = spark.createDataFrame(rows, TSCHEMA2)
    store = RollupStore(str(tmp_path / "apiroll"), tenant_col="tenant_id")
    store.build(df)
    solo = RollupStore(str(tmp_path / "apisolo"), tenant_col="tenant_id")
    solo.build(df.filter(F.col("tenant_id") == "tA"))
    got = api.tenant_rollup(spark, store, "tA", grain="day")
    assert _rows(got) == _rows(solo.read(spark, "day", tenant="tA"))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "tenant_id" in plan
    with pytest.raises(ValueError, match="requires tenant="):
        api.tenant_rollup(spark, store, None)


def test_api_rollup_with_distinct_composition(spark, tmp_path):
    """The active-users dashboard read as a FACADE call: rollup
    partials joined (broadcast) with the incremental distinct sketch on
    the shared hour bucket — equals exact counts at this scale (KMV
    exact below k)."""
    from car_etl_spark import api
    from car_etl_spark.streaming.incremental_sketches import (
        IncrementalDistinctSketch,
    )

    def u(rows_, base):
        return [
            (eid, ts, base + (eid % 3), typ, val)
            for eid, ts, _u, typ, val in rows_
        ]

    v0, b1 = u(V0, 10), u(B1, 20)
    store = RollupStore(str(tmp_path / "cmp"))
    store.build(_df(spark, v0))
    sk = IncrementalDistinctSketch(
        spark, str(tmp_path / "cmpsk"),
        keys=["bucket_hour", "event_type"], value_col="user_id",
    )
    bucketed = lambda r: _df(spark, r).withColumn(
        "bucket_hour", F.date_trunc("hour", "ts")
    )
    sk.process_batch(bucketed(v0))
    store.apply_batch(spark, _df(spark, b1), batch=1)
    sk.process_batch(bucketed(b1))

    dash = {
        (r.bucket_hour, r.event_type): (r.n, r.kmv_distinct)
        for r in api.rollup_with_distinct(spark, store, sk).collect()
    }
    exact = {
        (r.h, r.event_type): (r.n, r.u)
        for r in _df(spark, v0 + b1)
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("u"))
        .collect()
    }
    assert dash == exact


def test_compact_excludes_stranded_batches_so_replay_stays_exact(spark, tmp_path, store):
    """A batch that crashed mid-append (pending marker, no sentinel)
    must NOT have its partial rows folded into base by compact: the
    swap clears the pending marker, so the stream's replay would
    re-append the full batch and the partials would count twice with
    no duplicate-drop able to repair it (base rows carry batch 0).
    Compact excludes stranded batches; the replay delivers them."""
    store.apply_batch(spark, _df(spark, B1), batch=1)
    # batch 2 "crashes": delta rows landed, pending still on disk,
    # sentinel never written (the real crash ordering)
    store.apply_batch(spark, _df(spark, B2), batch=2)
    os.remove(store._sentinel(2))
    with open(store._pending(2), "w") as f:
        f.write("pending")
    assert store._stranded_batches() == [2]

    store.compact(spark)
    # epoch stopped BELOW the stranded batch and its rows are gone
    assert int(store._meta()["compacted_through"]) == 1
    assert store._stranded_batches() == []
    # the stream replays batch 2 (unacknowledged -> not a no-op)
    assert store.apply_batch(spark, _df(spark, B2), batch=2) is True

    solo = RollupStore(str(tmp_path / "solo3"))
    solo.build(_df(spark, V0))
    solo.apply_batch(spark, _df(spark, B1), batch=1)
    solo.apply_batch(spark, _df(spark, B2), batch=2)
    for g in ("minute", "day"):
        assert _rows(store.read(spark, g)) == _rows(solo.read(spark, g)), g
