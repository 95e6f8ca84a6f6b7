"""The LSM store shell: what the posting, IVF and rollup stores share.

Generation-numbered layouts and :class:`StoreSnapshot`; the maintenance
lease, fence, pins and fenced publish; staged appends, the crash-orphan
sweep and the live view; content addressing for the ``ensure_*``
stores; and :class:`LsmStore`, whose :meth:`LsmStore._apply_batch` is
the one batch commit order.  The store kinds (``operators/indexing.py``,
``streaming/rollup_store.py``) keep only their writes and commit step.
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
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


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

    def dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def as_of(self, upper: int) -> "StoreSnapshot":
        """The same generation and meta with the window's upper bound
        moved to ``upper``."""
        return replace(self, upper=int(upper))


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
# Second TOCTOU of the same shape (renew/release): a TTL steal landing
# between the ownership check and the write would clobber (or delete)
# the new owner's lease file, inverting WHO wins the fence.  ``renew``
# re-reads the fence counter after its replace and self-reverts a
# clobber; both remove only by capture (:func:`_remove_if_held`).

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
    if not _held(_read_json_file(lease_path), lease):
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
        # clobbered their lease file — self-revert (by capture: the new
        # owner's heartbeat may re-renew at any moment)
        _remove_if_held(lease, "unclobber")
        return False
    return True


def _held(cur: dict, lease: MaintenanceLease) -> bool:
    """Whether lease-file content ``cur`` is ``lease``'s."""
    return cur.get("owner") == lease.owner and int(cur.get("fence", -1)) == lease.fence


def _remove_if_held(lease: MaintenanceLease, tag: str) -> None:
    """Remove the lease file if it is ``lease``'s, by CAPTURE: the
    rename atomically takes whatever the file holds, THEN it is
    inspected, and content that is not ours is put back untouched
    (:func:`_restore_captured_lease`).  A plain check-then-remove would
    race a steal — or the new owner's heartbeat — landing between the
    check and the remove, and delete THEIR lease."""
    lease_path = os.path.join(lease.store_path, _LEASE_FILE)
    grave = lease_path + f".{tag}-{lease.owner}"
    try:
        os.rename(lease_path, grave)
    except OSError:
        return  # already replaced/removed: nothing to remove
    if _held(_read_json_file(grave), lease):
        try:
            os.remove(grave)
        except OSError:
            pass
    else:
        _restore_captured_lease(grave, lease_path)


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
    left for its new owner — removed by capture, so a steal landing
    after the check is put back (:func:`_remove_if_held`)."""
    if _held(_read_json_file(os.path.join(lease.store_path, _LEASE_FILE)), lease):
        _remove_if_held(lease, "release")


def _check_maintenance_lease(lease: MaintenanceLease) -> None:
    cur = _read_json_file(os.path.join(lease.store_path, _LEASE_FILE))
    if not _held(cur, lease):
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
        held = maintenance_lease(self.path) if lease is None else nullcontext(lease)
        with held as active:
            prev = getattr(slot, "lease", None)
            slot.lease = active
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


#: test seam: called with the name of each commit step
#: :meth:`LsmStore._apply_batch` reaches (``"staged"``, ``"fenced"``,
#: ``"promoted"``, ``"committed"``), so a test can crash an applier,
#: or steal its lease, at any step of the one commit order
_test_crash_point = None


def _reach(step: str) -> None:
    if _test_crash_point is not None:
        _test_crash_point(step)


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
    full generation of grace, see ``_gc_store_generations``) instead
    of dying on vanished paths — the zero-retry replacement for the r9
    soak's retry-on-swap policy.

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

    ``clear`` is :attr:`LsmStore.CLEARED` for a rebuild or compact: the
    applied-batch sentinels (a rebuild must never replay-no-op a later
    batch id — the fresh meta's epoch covers folded batches), plus the
    rollup store's dirty flag; the rollup refresh clears nothing (the
    carried-over deltas keep their batch tags).  Crash-order argument: the flip is FIRST and the new meta
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
            shutil.rmtree(_layout_root(store_path, g), ignore_errors=True)


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


def _max_sentinel_batch(store_path: str) -> int:
    """Highest applied batch id, from the store-root ``_applied_<b>``
    sentinels (no Spark job, no parquet read) — the compaction epoch.
    Compact stamps this into meta as ``compacted_through``; readers then
    ignore delta/tombstone rows at or below it, which closes the crash
    window between the base swap and the delta/tombstone cleanup (stale
    files would otherwise double-count folded rows or, worse, let a
    stale tombstone kill fresh batch-0 base rows)."""
    try:
        names = os.listdir(store_path)
    except OSError:
        return 0
    out = [0]
    for f in names:
        if f.startswith("_applied_"):
            try:
                out.append(int(f[len("_applied_"):]))
            except ValueError:
                pass
    return max(out)


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
        build_or_wait(lambda lease: build_fn(frame, lease), ready, store.path)
    _ENSURED.add(store.path)
    return store


class LsmStore:
    """Base of the three LSM stores.  A store kind declares its layout
    as class data, so the code here never asks which store it serves:
    ``KIND``/``VERSION``/``ERROR`` name its refusals and the layout
    version its meta stamps; ``META_DIR`` is the base layer carrying
    ``_meta.json``; ``NO_META`` says why base data without meta is
    refused; ``PENDING_DIRS`` are what the compaction policy weighs
    against the base, ``BATCH_DIRS`` every layer an apply appends to;
    ``CLEARED`` the root markers a rebuild or compact removes."""

    KIND: str
    VERSION: int
    ERROR: type = ValueError
    META_DIR: str
    NO_META: str
    PENDING_DIRS: tuple[str, ...]
    BATCH_DIRS: tuple[str, ...]
    CLEARED: tuple[str, ...] = ("_applied_",)

    path: str

    # current-generation paths, for maintenance probes and inspection;
    # reads take theirs from a StoreSnapshot

    @property
    def base_dir(self) -> str:
        return _current_dir(self.path, self.META_DIR)

    @property
    def delta_dir(self) -> str:
        return _current_dir(self.path, "delta")

    @property
    def tomb_dir(self) -> str:
        return _current_dir(self.path, "tombstones")

    @property
    def meta_path(self) -> str:
        return os.path.join(self.base_dir, "_meta.json")

    def _spec(self) -> dict | None:
        """The build parameters meta must record to be read by this
        instance; None (no check) unless a store pins them."""
        return None

    def _committed_bound(self) -> int | None:
        """The batch bound a default snapshot reads at; None means
        meta's ``applied_through`` (the meta replace is the commit)."""
        return None

    def _meta(self, root: str | None = None) -> dict | None:
        """Meta of the generation at layout ``root`` (default: the
        current one) — the store's ONLY meta reader.  None means
        unbuilt; base data without meta, another layout version or
        other pinned build parameters refuse, since serving them would
        silently misread them (a defaulted bucket count mis-prunes every
        query, stale centroids certify wrong probes)."""
        d = os.path.join(root, self.META_DIR) if root else self.base_dir
        try:
            with open(os.path.join(d, "_meta.json")) as f:
                meta = json.load(f)
        except (OSError, ValueError):
            if _dir_has_parquet(d):
                raise self.ERROR(
                    f"{self.KIND} at {self.path} has a {self.META_DIR}/ layout "
                    f"but no {self.META_DIR}/_meta.json — {self.NO_META}; "
                    "rebuild it"
                ) from None
            return None
        if meta.get("version") != self.VERSION:
            raise self.ERROR(
                f"{self.KIND} at {self.path} has layout version "
                f"{meta.get('version')} (current {self.VERSION}) — rebuild it "
                "before applying maintenance batches or serving; its meta "
                "lacks what a rebuild or compact under the current layout stamps"
            )
        if meta.get("spec") != self._spec():
            raise self.ERROR(
                f"{self.KIND} at {self.path} was built with {meta.get('spec')}; "
                f"this code computes {self._spec()} — rebuild before resuming"
            )
        return meta

    def snapshot(self, as_of: int | None = None, gen: int | None = None):
        """The :class:`StoreSnapshot` every read of this store takes
        (default: the current generation at its committed bound); None
        when unbuilt.  Its ``schema`` is the build-time dataset schema,
        which reads supply explicitly so partition-column type inference
        never reinterprets values (a string tenant '1001' read back as
        an int would break tombstone joins, scoping and rollup groups)."""
        upper = self._committed_bound() if as_of is None else as_of
        g = _layout_gen(self.path) if gen is None else int(gen)
        root = _layout_root(self.path, g)
        meta = self._meta(root)
        if meta is None:
            return None
        return StoreSnapshot(
            g, root, meta, StructType.fromJson(meta["schema"]),
            int(meta.get("compacted_through") or 0),
            int(meta["applied_through"] if upper is None else upper),
        )

    def _built_snapshot(self, as_of: int | None = None) -> StoreSnapshot:
        """:meth:`snapshot`, refusing a store with nothing built."""
        snap = self.snapshot(as_of)
        if snap is None:
            raise self.ERROR(f"no store at {self.path} — build() it first")
        return snap

    def _fold_snapshot(self) -> StoreSnapshot:
        """What a compact folds: the committed snapshot bounded by the
        applied SENTINELS, the bound it stamps as the new epoch.  Not
        meta's ``applied_through``: a crash between an apply's meta
        commit and its sentinel leaves that one ahead, and folding by it
        would publish a base holding batch B under an epoch of B-1 (no
        committed state matches, and B's replay re-lands on content
        already folded).  Excluding B loses nothing: an unsentineled
        batch is the stream's to redeliver."""
        return self._built_snapshot(as_of=_max_sentinel_batch(self.path))

    def _publish_generation(self, new_gen: int) -> None:
        """See :func:`_publish_store_generation`; fenced by the active
        maintenance lease (every caller is ``@_with_maintenance_lease``)."""
        _publish_store_generation(
            self.path, new_gen, _active_lease(self), clear=self.CLEARED
        )

    def _publish_meta(self, new_gen: int, meta: dict) -> None:
        """Stamp ``meta`` (with this layout's version) into the written,
        unpublished generation ``new_gen`` and publish it: layout,
        schema, epoch and statistics go live in one pointer flip."""
        root = _layout_root(self.path, new_gen)
        with open(os.path.join(root, self.META_DIR, "_meta.json"), "w") as f:
            json.dump({**meta, "version": self.VERSION}, f)
        self._publish_generation(new_gen)

    def _sentinel(self, batch: int) -> str:
        return os.path.join(self.path, f"_applied_{batch}")

    def should_compact(self, threshold: float = COMPACT_DELTA_FRACTION) -> bool:
        """Size-tiered compact policy: fold the LSM layers once the
        ``PENDING_DIRS`` bytes exceed ``threshold`` x base bytes.  Pure
        filesystem stats, no Spark job.  For the IVF layout the delta
        fraction ALSO bounds certificate pessimism (tombstone debt and
        widened radii extend probe sets), so compacting on the same
        threshold keeps probes tight."""
        base = _tree_bytes(self.base_dir)
        pending = sum(
            _tree_bytes(_current_dir(self.path, d)) for d in self.PENDING_DIRS
        )
        return base > 0 and pending > threshold * base

    def _write_meta(self, meta: dict) -> None:
        """Replace the current generation's meta atomically (tmp +
        os.replace); maintenance goes through :meth:`_commit_meta`."""
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self.meta_path)

    def _commit_meta(self, meta: dict) -> None:
        """The fenced meta replace: re-validate the lease, then replace.
        The posting stats job and the IVF stage run long enough for a
        TTL steal to land after an earlier check, and a stale applier
        replacing meta it read at entry would roll the live meta (and
        the snapshot bound) back over the new owner's commits."""
        _fence_check(self)
        self._write_meta(meta)

    def _apply_batch(self, batch: int, stage, commit) -> bool:
        """Apply batch ``batch`` through the one commit order every store
        shares; the crash and fencing arguments rest on it:

        1. ``batch > 0`` (0 is the base build);
        2. replay no-ops: the batch's applied sentinel exists, or the id
           is at or below the compaction epoch (a replay of content
           folded into base — reapplying would write rows the epoch
           filter ignores and, on the IVF store, inflate counts);
        3. the orphan sweep (:func:`_sweep_promoted_orphans`) retracts a
           crashed attempt's promoted files from ``BATCH_DIRS`` before
           anything new is staged;
        4. staged appends: ``stage(snap, skipped)`` (``skipped`` = the
           files the sweep could not retract) returns ``(dir,
           write_fn)`` pairs, each written into a hidden staging dir of
           ``snap.dir(dir)`` in order;
        5. fence or abort: a stale (stolen-lease) applier stops here
           with every write still staged, leaving nothing in the live
           tree;
        6. promote the staged files into the live tree — still
           invisible, above the committed bound;
        7. ``commit(snap.as_of(batch))``: the store's commit point
           (posting: stats + meta; IVF: counts + meta; rollup: a fence
           re-check before its sentinel).  If it is fenced, the
           promoted files are retracted, so the fenced applier again
           leaves nothing in the committed range;
        8. the applied sentinel.

        A crash between steps leaves at most hidden staging dirs
        (swept by age) or promoted orphans above the committed bound
        (swept by the next apply); a crash after the commit replays
        into exact-duplicate rows the read drops.  Returns False for a
        replay no-op."""
        if batch <= 0:
            raise ValueError("batch must be > 0 (0 is the base build)")
        if os.path.exists(self._sentinel(batch)):
            return False
        # the snapshot refuses an older layout BEFORE any write
        snap = self._built_snapshot()
        if batch <= snap.epoch:
            return False
        _orphans, skipped = _sweep_promoted_orphans(
            [snap.dir(d) for d in self.BATCH_DIRS], snap.upper,
            recheck=lambda: _fence_check(self),
        )
        promotes = [
            _staged_append(snap.dir(d), write) for d, write in stage(snap, skipped)
        ]
        _reach("staged")
        try:
            _fence_check(self)
        except MaintenanceFencedError:
            for _promote, abort in promotes:
                abort()
            raise
        _reach("fenced")
        promoted = [p for promote, _abort in promotes for p in promote()]
        _reach("promoted")
        try:
            commit(snap.as_of(batch))
        except MaintenanceFencedError:
            for p in promoted:
                try:
                    os.remove(p)
                except OSError:
                    pass
            raise
        _reach("committed")
        with open(self._sentinel(batch), "w") as f:
            f.write("applied")
        return True
