"""Writer lease / fencing + pin-aware generation retention (round 10).

All three LSM stores assumed a single maintainer through round 9: two
compactors racing ``_publish_store_generation`` would both flip
``_current.json`` and one generation's work silently vanished — and GC
could delete a just-published layout.  At 100 TB compaction runs from a
scheduler, so double-start is routine; and a straggler scan routinely
outlives one compact interval, so the fixed one-generation GC grace is
not enough.  These tests pin the two new disciplines:

- maintenance entry points run under a per-store writer LEASE with a
  monotone FENCING token stamped into the pointer at publish; a second
  concurrent maintainer refuses loudly, and a stalled maintainer whose
  lease was stolen after TTL expiry cannot clobber the new owner's
  published generation;
- readers can PIN a generation (``pinned_generation``); GC defers
  pinned layouts and sweeps them on the first publish after release —
  a pin is a deferral, never a leak.  Stale pins (crashed readers)
  expire by mtime.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from car_etl_spark.operators import indexing as IX
from tests.test_indexing import DOCS_B1, DOCS_V0, _docs_df, _live_postings


def _built_store(spark, tmp_path) -> IX.PostingStore:
    store = IX.PostingStore(str(tmp_path / "p"))
    store.build(_docs_df(spark, DOCS_V0))
    return store


def _ptr(path: str) -> dict:
    with open(os.path.join(path, "_current.json")) as f:
        return json.load(f)


# -- lease mutual exclusion ---------------------------------------------


def test_second_maintainer_refuses_while_lease_held(spark, tmp_path):
    store = _built_store(spark, tmp_path)
    with IX.maintenance_lease(store.path):
        with pytest.raises(IX.MaintenanceLeaseHeldError):
            IX.acquire_maintenance_lease(store.path)
        # auto-acquiring entry points refuse the same way
        with pytest.raises(IX.MaintenanceLeaseHeldError):
            store.compact(spark)
    # released: maintenance proceeds
    store.compact(spark)


def test_racing_compactors_exactly_one_wins(spark, tmp_path):
    """Two concurrent compactors on one store: one publishes, the other
    refuses with the lease error — never two publishes, never a lost
    generation."""
    store = _built_store(spark, tmp_path)
    store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    expected = _live_postings(store, spark)
    g0 = IX._layout_gen(store.path)

    results: list = [None, None]

    def run(i: int) -> None:
        try:
            # separate store object per thread — the cluster-scheduler
            # shape (two processes would each build their own handle)
            IX.PostingStore(store.path).compact(spark)
            results[i] = "published"
        except IX.MaintenanceLeaseError:
            results[i] = "refused"

    ts = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(results) == ["published", "refused"], results
    assert IX._layout_gen(store.path) == g0 + 1
    assert _live_postings(store, spark) == expected


def test_lease_passthrough_scheduler_shape(spark, tmp_path):
    """A scheduler holding ONE lease across apply+compact passes it
    through; a second maintainer stays locked out the whole time."""
    store = _built_store(spark, tmp_path)
    with IX.maintenance_lease(store.path) as lease:
        store.apply_batch(
            spark, _docs_df(spark, DOCS_B1), None, batch=1, lease=lease
        )
        with pytest.raises(IX.MaintenanceLeaseHeldError):
            IX.acquire_maintenance_lease(store.path)
        store.compact(spark, lease=lease)
    # the lease file is gone after release
    assert not os.path.exists(os.path.join(store.path, IX._LEASE_FILE))


# -- fencing ------------------------------------------------------------


def test_expired_lease_is_stolen_and_old_owner_is_fenced(spark, tmp_path):
    """The double-start-after-stall story: maintainer A stalls past its
    TTL, B steals the lease and publishes; A's publish then refuses
    (fenced) and B's generation survives untouched."""
    store = _built_store(spark, tmp_path)
    a = IX.acquire_maintenance_lease(store.path, ttl_sec=0.05)
    time.sleep(0.1)  # A stalls past its TTL
    b = IX.acquire_maintenance_lease(store.path, ttl_sec=600)
    assert b.fence > a.fence

    store.compact(spark, lease=b)  # B publishes
    gen_b = IX._layout_gen(store.path)
    assert _ptr(store.path)["fence"] == b.fence

    # A wakes up and tries to publish its stale work
    with pytest.raises(IX.MaintenanceFencedError):
        store.compact(spark, lease=a)
    assert IX._layout_gen(store.path) == gen_b
    assert _ptr(store.path)["fence"] == b.fence
    IX.release_maintenance_lease(b)


def test_fence_monotone_across_publishes(spark, tmp_path):
    store = _built_store(spark, tmp_path)
    fences = [_ptr(store.path)["fence"]]
    for _ in range(2):
        store.compact(spark)
        fences.append(_ptr(store.path)["fence"])
    assert fences == sorted(fences) and fences[-1] > fences[0]


def test_stale_flip_refused_at_pointer_level(tmp_path):
    """The fence check lives in ``_flip_layout`` itself, so even a
    publisher that bypassed the lease check cannot regress the
    pointer past a newer maintainer's stamp."""
    root = str(tmp_path / "s")
    os.makedirs(root)
    IX._flip_layout(root, 1, fence=5)
    with pytest.raises(IX.MaintenanceFencedError):
        IX._flip_layout(root, 2, fence=4)
    assert _ptr(root) == {"gen": 1, "fence": 5}
    IX._flip_layout(root, 2, fence=6)
    assert _ptr(root) == {"gen": 2, "fence": 6}


def test_fence_check_without_active_lease_raises(tmp_path):
    """A commit point outside ``@_with_maintenance_lease`` has nothing to
    fence with: the check raises instead of passing silently."""
    store = IX.PostingStore(str(tmp_path / "s"))
    with pytest.raises(IX.MaintenanceLeaseError, match="no maintenance lease"):
        IX._fence_check(store)


def test_release_never_removes_a_stolen_lease(tmp_path):
    root = str(tmp_path / "s")
    a = IX.acquire_maintenance_lease(root, ttl_sec=0.05)
    time.sleep(0.1)
    b = IX.acquire_maintenance_lease(root, ttl_sec=600)
    IX.release_maintenance_lease(a)  # must be a no-op: B owns it now
    cur = IX._read_json_file(os.path.join(root, IX._LEASE_FILE))
    assert cur.get("owner") == b.owner
    IX.release_maintenance_lease(b)


# -- pin-aware generation retention -------------------------------------


def test_pinned_read_survives_two_compact_cycles(spark, tmp_path):
    """The straggler-scan story: a reader pins its generation, two full
    apply+compact cycles run (the old GC policy would have deleted the
    pinned layout on the second), and the reader's DataFrame still
    collects the exact pre-maintenance snapshot."""
    store = _built_store(spark, tmp_path)
    snapshot = _live_postings(store, spark)

    with IX.pinned_generation(store.path) as g:
        straggler = store.read(spark).select(
            "doc_id", "lang", "raw_term", "term", "weight", "tf", "term_bucket"
        )
        store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
        store.compact(spark)  # gen g+1
        store.compact(spark)  # gen g+2 — unpinned policy GC's g here
        assert os.path.isdir(os.path.join(store.path, f"layout-{g}"))
        assert sorted(tuple(r) for r in straggler.collect()) == snapshot

    # first publish after release sweeps the now-unpinned generation
    store.compact(spark)
    assert not os.path.isdir(os.path.join(store.path, f"layout-{g}"))


def test_stale_pin_expires_and_layout_is_reclaimed(spark, tmp_path):
    store = _built_store(spark, tmp_path)
    g = IX._layout_gen(store.path)
    pin = IX.pin_generation(store.path, g)
    old = time.time() - IX.PIN_TTL_SEC - 60
    os.utime(pin, (old, old))  # crashed reader: pin went stale
    store.compact(spark)
    store.compact(spark)
    assert not os.path.isdir(os.path.join(store.path, f"layout-{g}"))
    assert not os.path.exists(pin)


def test_pin_blocks_only_its_generation(spark, tmp_path):
    store = _built_store(spark, tmp_path)
    g = IX._layout_gen(store.path)
    store.compact(spark)  # g+1
    pin = IX.pin_generation(store.path, g + 1)
    store.compact(spark)  # g+2: g eligible + unpinned -> swept
    store.compact(spark)  # g+3: g+1 eligible but pinned -> kept
    assert not os.path.isdir(os.path.join(store.path, f"layout-{g}"))
    assert os.path.isdir(os.path.join(store.path, f"layout-{g + 1}"))
    IX.unpin_generation(pin)
    store.compact(spark)
    assert not os.path.isdir(os.path.join(store.path, f"layout-{g + 1}"))


def test_rollup_store_lease_and_fence(spark, tmp_path):
    """The rollup store shares the discipline (its own _publish copy):
    lease exclusion on compact, fence stamped at the flip."""
    from car_etl_spark.streaming.rollup_store import RollupStore

    events = spark.createDataFrame(
        [(f"2024-01-01 00:0{i}:00", "click", float(i)) for i in range(5)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F_to_ts("ts"))
    store = RollupStore(str(tmp_path / "r"))
    store.build(events)
    with IX.maintenance_lease(store.path):
        with pytest.raises(IX.MaintenanceLeaseHeldError):
            store.compact(spark)
    store.compact(spark)
    assert _ptr(store.path)["fence"] > 0


def F_to_ts(c):
    from pyspark.sql import functions as F

    return F.to_timestamp(c)


# -- concurrent ensure: single builder + waiters -------------------------


def test_concurrent_ensure_single_builder(spark, tmp_path, monkeypatch):
    """Two sessions ensure the same content-addressed index at once:
    the lease makes one the builder; the other WAITS (build_or_wait)
    and returns the published store instead of failing — and exactly
    one generation was ever published."""
    import pandas as pd

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pd.DataFrame(
        {
            "doc_id": range(40),
            "text": [f"alpha beta gamma delta doc{i}" for i in range(40)],
            "lang": ["en"] * 40,
            "source": ["t"] * 40,
            "n_chars": [30] * 40,
        }
    ).to_parquet(corpus / "documents.parquet")
    monkeypatch.setenv("CAR_ETL_INDEX_DIR", str(tmp_path / "idx"))

    results: list = [None, None]

    def run(i: int) -> None:
        try:
            # bypass the in-process _ENSURED memo race by using the
            # real entry point — the memo only adds after success
            store = IX.ensure_posting_index(spark, str(corpus))
            results[i] = ("ok", store.path)
        except BaseException as e:
            results[i] = ("err", f"{type(e).__name__}: {e}")

    ts = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert all(r[0] == "ok" for r in results), results
    path = results[0][1]
    assert IX._layout_gen(path) == 1  # built exactly once
    store = IX.PostingStore(path)
    n = store.read(spark).select("doc_id").distinct().count()
    assert n == 40


def test_ensure_tenant_ivf_index_waits_for_held_lease(spark, tmp_path, monkeypatch):
    """The tenant IVF ensure goes through build_or_wait like the other
    ensures: while another builder holds the store's lease it WAITS
    instead of raising MaintenanceLeaseHeldError, and once the lease is
    released it builds under its own lease — one published generation."""
    import pandas as pd

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pd.DataFrame(
        {
            "vec_id": range(32),
            "label": [i % 3 for i in range(32)],
            "embedding": [[float((i * 7 + d) % 5) + 0.5 for d in range(4)] for i in range(32)],
        }
    ).to_parquet(corpus / "embeddings.parquet")
    monkeypatch.setenv("CAR_ETL_INDEX_DIR", str(tmp_path / "idx"))
    from car_etl_spark.tables import load_tables, parquet_rowcount

    # warm the schema memo so the ensure reaches its build within the
    # 1 s window below instead of spending it on schema inference
    load_tables(spark, str(corpus), ("embeddings",))
    # the store path ensure_tenant_ivf_index content-addresses
    n_cent = IX.derive_num_centroids(parquet_rowcount(str(corpus), "embeddings"))
    digest = IX._source_digest(
        "ivf", IX.IVF_VERSION, str(corpus / "embeddings.parquet"),
        f"tenant2|c{n_cent}|r2|flabel",
    )
    path = os.path.join(IX.index_root(), f"ivf-{digest}")
    result: list = []

    def run() -> None:
        try:
            result.append(("ok", IX.ensure_tenant_ivf_index(spark, str(corpus))))
        except BaseException as e:
            result.append(("err", f"{type(e).__name__}: {e}"))

    with IX.maintenance_lease(path):
        t = threading.Thread(target=run)
        t.start()
        time.sleep(1.0)
        assert result == [], result  # waiting, not refused
    t.join(timeout=300)
    assert not t.is_alive()
    assert result and result[0][0] == "ok", result
    store = result[0][1]
    assert store.path == path
    assert IX._existing_generations(path) == [1]
    assert IX._layout_gen(path) == 1


def test_build_or_wait_retakes_after_crashed_builder(tmp_path):
    """A builder that died mid-build leaves its lease behind; once the
    TTL expires the waiting ensure re-takes the build itself."""
    root = str(tmp_path / "s")
    # crashed builder: lease exists (short TTL), store never ready
    dead = IX.acquire_maintenance_lease(root, ttl_sec=0.2)
    assert os.path.exists(os.path.join(root, IX._LEASE_FILE))
    built = []

    def build(lease):
        # build_or_wait acquired for us: the dead lease was expired, so
        # the steal path let the re-take through
        assert lease.fence > dead.fence
        built.append(1)

    time.sleep(0.25)  # let the crashed builder's TTL lapse
    IX.build_or_wait(build, lambda: bool(built), root, timeout_sec=10)
    assert built == [1]


def test_stale_applier_fenced_at_commit_point(spark, tmp_path):
    """A maintainer that loses its lease MID-APPLY (TTL steal) must not
    land the batch commit: its delta content may belong to a
    superseded generation, and the root-level sentinel would mark the
    batch applied on a store that never received it."""
    store = _built_store(spark, tmp_path)
    a = IX.acquire_maintenance_lease(store.path, ttl_sec=0.05)
    time.sleep(0.1)
    b = IX.acquire_maintenance_lease(store.path)  # steal
    with pytest.raises(IX.MaintenanceFencedError):
        store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1, lease=a)
    # the commit never landed: no sentinel, no applied_through advance
    assert not os.path.exists(store._sentinel(1))
    assert int(store._meta().get("applied_through") or 0) == 0
    # the new owner applies the same batch cleanly
    assert store.apply_batch(
        spark, _docs_df(spark, DOCS_B1), None, batch=1, lease=b
    )
    assert os.path.exists(store._sentinel(1))
    IX.release_maintenance_lease(b)


def test_heartbeat_keeps_live_holder_from_looking_expired(tmp_path):
    """A long build renews its lease: contenders keep refusing well
    past the nominal TTL instead of stealing mid-build.  (TTL 1.5 s /
    beat 0.5 s: a full second of scheduling margin per beat — the old
    0.3 s TTL flaked under full-suite CPU load, and exposed that the
    heartbeat's 1 s minimum period exceeded sub-3 s TTLs outright.)"""
    root = str(tmp_path / "s")
    lease = IX.acquire_maintenance_lease(root, ttl_sec=1.5)
    hb = IX._LeaseHeartbeat(lease, ttl_sec=1.5)
    hb.start()
    try:
        deadline = time.time() + 4.0  # several TTLs elapse
        while time.time() < deadline:
            with pytest.raises(IX.MaintenanceLeaseHeldError):
                IX.acquire_maintenance_lease(root)
            time.sleep(0.25)
    finally:
        hb.stop()
        hb.join()
        IX.release_maintenance_lease(lease)


def test_renew_refuses_after_steal(tmp_path):
    root = str(tmp_path / "s")
    a = IX.acquire_maintenance_lease(root, ttl_sec=0.05)
    time.sleep(0.1)
    b = IX.acquire_maintenance_lease(root)
    assert not IX.renew_maintenance_lease(a)  # stolen: heartbeat stops
    assert IX.renew_maintenance_lease(b)
    IX.release_maintenance_lease(b)


def test_pin_autorefresh_outlives_stale_ttl(tmp_path, monkeypatch):
    """pinned_generation's refresh thread keeps the pin fresh, so a
    scan longer than PIN_TTL_SEC is not reaped as a crashed reader."""
    monkeypatch.setattr(IX, "PIN_TTL_SEC", 0.6)
    root = str(tmp_path / "s")
    os.makedirs(root)
    with IX.pinned_generation(root, gen=3):
        time.sleep(1.5)  # well past the stale TTL
        assert IX._pinned_generations(root) == {3}
    assert IX._pinned_generations(root) == set()


# -- round 11: staged appends, post-flip verify, renew/release TOCTOU ----


def test_fenced_applier_leaves_nothing_visible(spark, tmp_path):
    """The r10 residual the advisor flagged: a stale applier landed its
    delta/doclen/tombstone rows BEFORE the fence check stopped it — if
    the new owner then committed the same batch id with different
    content, the orphans fell inside the committed snapshot window
    (exact-duplicate drop only removes identical replays).  r11 stages
    every append and promotes after the fence check, so a fenced
    applier leaves the live tree byte-untouched."""
    store = _built_store(spark, tmp_path)
    a = IX.acquire_maintenance_lease(store.path, ttl_sec=0.05)
    time.sleep(0.1)
    b = IX.acquire_maintenance_lease(store.path)  # steal
    stale = [(2, "en", "poisonterm from the fenced applier")]
    with pytest.raises(IX.MaintenanceFencedError):
        store.apply_batch(spark, _docs_df(spark, stale), None, batch=1, lease=a)
    assert not IX._dir_has_parquet(store.delta_dir)
    assert not IX._dir_has_parquet(store.doclen_delta)
    assert not IX._dir_has_parquet(store.tomb_dir)
    # new owner commits DIFFERENT content under the SAME batch id: only
    # its content may ever serve
    assert store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1, lease=b)
    terms = {r[0] for r in store.read(spark).select("raw_term").collect()}
    assert "checkpoint" in terms and "poisonterm" not in terms
    IX.release_maintenance_lease(b)


def test_ivf_fenced_applier_leaves_nothing_visible(spark, tmp_path):
    from pyspark.sql import functions as F

    from tests.test_indexing import _clustered_emb

    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "ivf"))
    store.build(emb, num_centroids=4, refine_iterations=1)
    meta_before = store.meta()
    a = IX.acquire_maintenance_lease(store.path, ttl_sec=0.05)
    time.sleep(0.1)
    b = IX.acquire_maintenance_lease(store.path)  # steal
    up = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(IX.MaintenanceFencedError):
        store.apply_batch(spark, up, None, batch=1, lease=a)
    assert not IX._dir_has_parquet(store.delta_dir)
    assert not IX._dir_has_parquet(store.tomb_dir)
    # the stale applier's PESSIMISTIC meta write was fenced too — the
    # live meta still has no batch-1 entry and no rolled-back content
    m = store.meta()
    assert "1" not in (m.get("batches") or {})
    assert int(m.get("applied_through") or 0) == int(
        meta_before.get("applied_through") or 0
    )
    assert store.apply_batch(spark, up, None, batch=1, lease=b)
    assert "1" in store.meta()["batches"]
    IX.release_maintenance_lease(b)


def test_rollup_fenced_applier_leaves_no_delta(spark, tmp_path):
    from car_etl_spark.streaming.rollup_store import RollupStore

    events = spark.createDataFrame(
        [(f"2024-01-01 00:0{i}:00", "click", float(i)) for i in range(5)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F_to_ts("ts"))
    store = RollupStore(str(tmp_path / "r"))
    store.build(events)
    a = IX.acquire_maintenance_lease(store.path, ttl_sec=0.05)
    time.sleep(0.1)
    b = IX.acquire_maintenance_lease(store.path)  # steal
    with pytest.raises(IX.MaintenanceFencedError):
        store.apply_batch(spark, events, batch=1, lease=a)
    assert not IX._dir_has_parquet(store.delta_dir)
    assert not os.path.exists(store._sentinel(1))
    assert store.apply_batch(spark, events, batch=1, lease=b)
    IX.release_maintenance_lease(b)


def test_publish_detects_steal_between_check_and_flip(tmp_path, monkeypatch):
    """The CAS residual, forced deterministically: a steal lands in the
    microsecond window between the pointer's fence comparison and its
    os.replace.  The filesystem gives no CAS to close the window, but
    the post-flip verify means the loser now RAISES instead of exiting
    believing it published."""
    root = str(tmp_path / "s")
    os.makedirs(root)
    a = IX.acquire_maintenance_lease(root, ttl_sec=0.05)
    time.sleep(0.1)  # expired but uncontested: a proceeds to publish
    stolen = {}

    def steal_now():
        monkeypatch.setattr(IX, "_test_pre_flip_delay", None)  # fire once
        stolen["lease"] = IX.acquire_maintenance_lease(root)

    monkeypatch.setattr(IX, "_test_pre_flip_delay", steal_now)
    with pytest.raises(IX.MaintenanceFencedError):
        IX._publish_store_generation(root, 1, lease=a)
    # the loser KNOWS; the new owner's next publish supersedes the flip
    IX._publish_store_generation(root, 2, lease=stolen["lease"])
    assert _ptr(root)["gen"] == 2
    assert _ptr(root)["fence"] == stolen["lease"].fence
    IX.release_maintenance_lease(stolen["lease"])


def test_renew_self_reverts_accidental_clobber(tmp_path):
    """renew's check-then-replace TOCTOU: if a steal lands between the
    ownership check and the os.replace, the old owner's renewal
    overwrites the new owner's lease.  The post-replace fence-counter
    read-back detects the clobber, removes the stale file, and reports
    the lease lost."""
    root = str(tmp_path / "s")
    a = IX.acquire_maintenance_lease(root, ttl_sec=0.05)
    time.sleep(0.1)
    b = IX.acquire_maintenance_lease(root)  # steal: counter is now b's
    # simulate a's replace having won the race: put a's content back
    # (this is exactly the on-disk state after the TOCTOU clobber)
    with open(os.path.join(root, IX._LEASE_FILE), "w") as f:
        json.dump(
            {"owner": a.owner, "fence": a.fence, "expires": time.time() + 600}, f
        )
    assert not IX.renew_maintenance_lease(a)  # detected: lease reported lost
    # the clobbered file was removed, so the rightful owner (or anyone)
    # can re-establish a lease immediately instead of waiting out a TTL
    assert not os.path.exists(os.path.join(root, IX._LEASE_FILE))
    IX.release_maintenance_lease(b)


def test_release_restores_captured_stolen_lease(tmp_path, monkeypatch):
    """release's capture-by-rename: if the ownership check passes but a
    steal lands before the rename, the grave holds the NEW owner's
    lease — it must be put back, not deleted."""
    root = str(tmp_path / "s")
    a = IX.acquire_maintenance_lease(root, ttl_sec=0.05)
    time.sleep(0.1)
    b = IX.acquire_maintenance_lease(root)  # steal
    # lie ONCE to release's pre-check so it proceeds to the capture
    # (deterministically reproducing check-passes-then-steal-lands)
    real = IX._read_json_file
    lied = {}

    def lie_once(path):
        if path.endswith(IX._LEASE_FILE) and not lied:
            lied["done"] = True
            return {"owner": a.owner, "fence": a.fence}
        return real(path)

    monkeypatch.setattr(IX, "_read_json_file", lie_once)
    IX.release_maintenance_lease(a)
    cur = IX._read_json_file(os.path.join(root, IX._LEASE_FILE))
    assert cur.get("owner") == b.owner and int(cur.get("fence")) == b.fence
    IX.release_maintenance_lease(b)


def test_lease_carries_acquired_ttl(tmp_path):
    """A lease acquired with a short TTL must renew with THAT TTL (not
    silently stretch back to the 600 s default) and heartbeat at a
    period derived from it."""
    root = str(tmp_path / "s")
    lease = IX.acquire_maintenance_lease(root, ttl_sec=30.0)
    assert lease.ttl_sec == 30.0
    assert IX.renew_maintenance_lease(lease)  # default = acquired TTL
    cur = IX._read_json_file(os.path.join(root, IX._LEASE_FILE))
    assert cur["expires"] - time.time() <= 31.0
    hb = IX._LeaseHeartbeat(lease)
    assert hb.ttl_sec == 30.0  # period 10 s < TTL: never expires mid-beat
    IX.release_maintenance_lease(lease)


def test_staging_dirs_invisible_and_swept(tmp_path):
    """In-flight/crashed staging dirs are hidden from every read-side
    probe and reclaimed by the next apply's sweep once stale."""
    live = str(tmp_path / "delta")
    stale = os.path.join(live, f"{IX._STAGING_PREFIX}deadbeef")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-0.parquet"), "w") as f:
        f.write("x")
    assert not IX._dir_has_parquet(live)  # hidden at every level
    old = time.time() - 2 * IX.MAINT_LEASE_TTL_SEC - 60
    os.utime(stale, (old, old))
    IX._sweep_stale_staging(live)
    assert not os.path.isdir(stale)


def test_posting_retracts_promoted_files_when_stats_commit_fenced(
    spark, tmp_path, monkeypatch
):
    """The posting store's stats job runs BETWEEN promotion and the
    meta commit — long enough for a TTL steal.  When the commit's
    fence check fires, the applier must retract exactly the files it
    promoted (still invisible — the bound never advanced), leaving the
    live tree clean for the new owner's different-content commit."""
    store = _built_store(spark, tmp_path)
    a = IX.acquire_maintenance_lease(store.path, ttl_sec=600)
    real_refresh = type(store)._refresh_stats

    def steal_then_refresh(self, *args, **kwargs):
        # the steal lands while the stats job runs: force-expire and
        # replace the lease, exactly the mid-job TTL-steal interleaving
        lease_path = os.path.join(self.path, IX._LEASE_FILE)
        cur = IX._read_json_file(lease_path)
        cur["expires"] = 0.0
        with open(lease_path, "w") as f:
            json.dump(cur, f)
        steal_then_refresh.b = IX.acquire_maintenance_lease(self.path)
        return real_refresh(self, *args, **kwargs)

    monkeypatch.setattr(type(store), "_refresh_stats", steal_then_refresh)
    stale = [(2, "en", "poisonterm promoted then retracted")]
    with pytest.raises(IX.MaintenanceFencedError):
        store.apply_batch(spark, _docs_df(spark, stale), None, batch=1, lease=a)
    monkeypatch.setattr(type(store), "_refresh_stats", real_refresh)
    # the retract removed every promoted file: nothing visible anywhere
    assert not IX._dir_has_parquet(store.delta_dir)
    assert not IX._dir_has_parquet(store.doclen_delta)
    assert not IX._dir_has_parquet(store.tomb_dir)
    assert not os.path.exists(store._sentinel(1))
    # the new owner commits different content under the same batch id
    b = steal_then_refresh.b
    assert store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1, lease=b)
    terms = {r[0] for r in store.read(spark).select("raw_term").collect()}
    assert "checkpoint" in terms and "poisonterm" not in terms
    IX.release_maintenance_lease(b)


def test_ivf_phantom_pessimistic_meta_swept_at_compact(spark, tmp_path):
    """The r11 documented residual, now ASSERTED: an applier fenced
    BETWEEN its pessimistic step-1 meta write and the commit fence
    leaves a phantom ``batches[b]`` entry (empty counts, widened radii,
    tombstone debt).  Its only permitted effect is probe WIDENING —
    serving must stay certified-exact while it lingers — and the next
    compact must sweep it, restoring probe sets identical to a clean
    store's."""
    from pyspark.sql import functions as F

    from tests.test_indexing import _clustered_emb

    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "ivf"))
    store.build(emb, num_centroids=4, refine_iterations=1)
    clean = IX.IvfStore(str(tmp_path / "ivf_clean"))
    clean.build(emb, num_centroids=4, refine_iterations=1)
    qvec = list(emb.filter(F.col("vec_id") == 5).select("embedding").first()[0])

    # steal the lease AFTER the pessimistic write lands but BEFORE the
    # commit fence: wrap the store's first meta write to expire + steal
    a = IX.acquire_maintenance_lease(store.path, ttl_sec=0.05)
    real_write = store._write_meta
    stolen = {}

    def steal_after_first_write(m):
        real_write(m)
        if not stolen:
            time.sleep(0.1)  # let a's TTL lapse so the steal goes through
            stolen["b"] = IX.acquire_maintenance_lease(store.path)

    store._write_meta = steal_after_first_write
    up = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(IX.MaintenanceFencedError):
        store.apply_batch(spark, up, None, batch=1, lease=a)
    store._write_meta = real_write

    # the phantom exists: pessimistic entry only (no counts), while the
    # staged row data was aborted and the snapshot bound never advanced
    m = store.meta()
    assert "1" in (m.get("batches") or {}), "pessimistic entry missing"
    assert m["batches"]["1"]["counts"] == {}
    assert not IX._dir_has_parquet(store.delta_dir)
    assert not IX._dir_has_parquet(store.tomb_dir)
    assert int(m.get("applied_through") or 0) == 0

    # safe-direction claim: serving over the phantom stays exactly the
    # clean store's certified answer (widening only, never recall loss)
    before = [tuple(r) for r in store.probe_topk(spark, qvec, k=10).collect()]
    clean_res = [tuple(r) for r in clean.probe_topk(spark, qvec, k=10).collect()]
    assert before == clean_res
    # ...and the phantom really does widen: its pending tombstone debt /
    # empty counts extend the certified walk vs the clean store
    assert len(store.probe_ids_exact(qvec, k=10)) >= len(
        clean.probe_ids_exact(qvec, k=10)
    )

    IX.release_maintenance_lease(stolen["b"])
    store.compact(spark)
    m2 = store.meta()
    assert "1" not in (m2.get("batches") or {}), "compact must sweep the phantom"
    after = [tuple(r) for r in store.probe_topk(spark, qvec, k=10).collect()]
    assert after == clean_res
    assert store.probe_ids_exact(qvec, k=10) == clean.probe_ids_exact(qvec, k=10)


# -- crash-orphan retraction (round 12) ----------------------------------
#
# The r11 documented residual: an applier that CRASHES (kill, OOM)
# between promote() and its batch's commit point skips the fence-
# retract, leaving promoted files whose batch id the store never
# committed.  The rows stay invisible (readers filter batch <= bound),
# but a later owner committing the SAME batch id with DIFFERENT content
# would pull them inside the committed window (exact-duplicate drop
# only removes identical replays).  r12 closes it: every apply_batch
# retracts such orphans at entry (_sweep_promoted_orphans), before the
# new attempt stages anything.


def _crash(monkeypatch):
    def boom():
        raise RuntimeError("simulated crash after promote")

    monkeypatch.setattr(IX, "_test_post_promote_crash", boom)


def test_posting_crash_orphans_swept_before_different_content_commit(
    spark, tmp_path, monkeypatch
):
    store = _built_store(spark, tmp_path)
    _crash(monkeypatch)
    stale = [(2, "en", "poisonterm promoted then crashed")]
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.apply_batch(spark, _docs_df(spark, stale), None, batch=1)
    # the crash left promoted orphans in the live tree (batch above the
    # committed bound -> still invisible), and no commit happened
    assert IX._dir_has_parquet(store.delta_dir)
    assert not os.path.exists(store._sentinel(1))
    terms = {r[0] for r in store.read(spark).select("raw_term").collect()}
    assert "poisonterm" not in terms
    # a new owner commits DIFFERENT content under the SAME batch id:
    # the entry sweep retracts the orphans first, so only its content
    # may ever serve
    monkeypatch.setattr(IX, "_test_post_promote_crash", None)
    assert store.apply_batch(spark, _docs_df(spark, DOCS_B1), None, batch=1)
    terms = {r[0] for r in store.read(spark).select("raw_term").collect()}
    assert "checkpoint" in terms and "poisonterm" not in terms
    # BM25 corpus stats were recomputed over the swept tree: doc 2's
    # length reflects the committed content only (one live version)
    dl = {
        tuple(r)[:-1]: tuple(r)[-1]
        for r in store.read_doclens(spark).select("doc_id", "dl").collect()
    }
    assert (2,) in dl


def test_ivf_crash_orphans_swept_before_different_content_commit(
    spark, tmp_path, monkeypatch
):
    from pyspark.sql import functions as F

    from tests.test_indexing import _clustered_emb

    emb = _clustered_emb(spark)
    store = IX.IvfStore(str(tmp_path / "ivf"))
    store.build(emb, num_centroids=4, refine_iterations=1)
    clean = IX.IvfStore(str(tmp_path / "clean"))
    clean.build(emb, num_centroids=4, refine_iterations=1)

    # crashed attempt: batch 1 moves vec 0 FAR from its original spot
    crashed_up = emb.filter(F.col("vec_id") == 0).withColumn(
        "embedding", F.expr("transform(embedding, x -> x + 100.0D)")
    )
    _crash(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.apply_batch(spark, crashed_up, None, batch=1)
    assert IX._dir_has_parquet(store.delta_dir) or IX._dir_has_parquet(store.tomb_dir)
    assert int(store.meta().get("applied_through") or 0) == 0

    # committed attempt: SAME batch id, different content (vec 1 only)
    monkeypatch.setattr(IX, "_test_post_promote_crash", None)
    committed_up = emb.filter(F.col("vec_id") == 1)
    assert store.apply_batch(spark, committed_up, None, batch=1)
    assert clean.apply_batch(spark, committed_up, None, batch=1)
    # the crashed attempt's rows/tombstones are gone: the store serves
    # exactly what a never-crashed store serves, including vec 0 at its
    # ORIGINAL position (the orphan tombstone would have killed it)
    import numpy as np

    rng = np.random.default_rng(7)
    qvec = [float(x) for x in rng.normal(size=8)]
    got = [tuple(r) for r in store.probe_topk(spark, qvec, k=10).collect()]
    want = [tuple(r) for r in clean.probe_topk(spark, qvec, k=10).collect()]
    assert got == want
    assert 0 in {int(r[0]) for r in store.read_assignments(spark).select("vec_id").collect()}


def test_rollup_crash_orphans_swept_before_different_content_commit(
    spark, tmp_path, monkeypatch
):
    from car_etl_spark.streaming.rollup_store import RollupStore

    def ev(rows):
        return spark.createDataFrame(
            rows, "ts string, event_type string, value double"
        ).withColumn("ts", F_to_ts("ts"))

    base = ev([(f"2024-01-01 00:0{i}:00", "click", float(i)) for i in range(5)])
    store = RollupStore(str(tmp_path / "r"))
    store.build(base)
    _crash(monkeypatch)
    poison = ev([("2024-01-01 01:00:00", "click", 1000.0)])
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.apply_batch(spark, poison, batch=1)
    assert IX._dir_has_parquet(store.delta_dir)
    assert not os.path.exists(store._sentinel(1))

    monkeypatch.setattr(IX, "_test_post_promote_crash", None)
    good = ev([("2024-01-01 01:00:00", "click", 7.0)])
    assert store.apply_batch(spark, good, batch=1)
    from pyspark.sql import functions as F

    agg = {
        (str(r["minute_start"]), r["event_type"]): float(r["sum_value"])
        for r in store.partials(spark)
        .groupBy("minute_start", "event_type")
        .agg(F.sum("value_sum").alias("sum_value"))
        .collect()
    }
    # the 01:00 minute carries ONLY the committed content — the crashed
    # attempt's 1000.0 partial was swept, not summed alongside
    assert agg[("2024-01-01 01:00:00", "click")] == 7.0


def test_sweep_value_fallback_and_corrupt_file_fails_loud(tmp_path):
    """Files without footer statistics fall back to a values read of
    the batch column (still orphan-detected); a corrupt parquet in the
    live tree fails LOUD — serving would fail on it too, and a silent
    skip would reopen the different-content-recommit hole."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "delta")
    os.makedirs(d)
    t = pa.table({"batch": pa.array([5, 6], "int64"), "v": [1, 2]})
    pq.write_table(t, os.path.join(d, "a.parquet"), write_statistics=False)
    orph, skipped = IX._sweep_promoted_orphans([d], 4, dry_run=True)
    assert [os.path.basename(p) for p in orph] == ["a.parquet"] and not skipped
    # min(batch)=5 <= bound=5 -> committed range, never a candidate
    assert IX._sweep_promoted_orphans([d], 5, dry_run=True) == ([], [])
    with open(os.path.join(d, "bad.parquet"), "w") as f:
        f.write("not a parquet file")
    with pytest.raises(ValueError, match="unreadable parquet"):
        IX._sweep_promoted_orphans([d], 4, dry_run=True)


def test_sweep_rechecks_fence_before_removing_anything(tmp_path):
    """The two-phase contract: candidates are collected first, then the
    caller's fence recheck runs BEFORE any removal — a sweeper whose
    lease was stolen mid-walk must not delete the new owner's files
    off its stale bound."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "delta")
    os.makedirs(d)
    p = os.path.join(d, "orphan.parquet")
    pq.write_table(pa.table({"batch": pa.array([5], "int64")}), p)

    def stolen():
        raise IX.MaintenanceFencedError("lease stolen mid-walk")

    with pytest.raises(IX.MaintenanceFencedError):
        IX._sweep_promoted_orphans([d], 4, recheck=stolen)
    assert os.path.exists(p), "no removal may precede the recheck"
    removed, skipped = IX._sweep_promoted_orphans([d], 4)
    assert removed == [p] and not skipped and not os.path.exists(p)
