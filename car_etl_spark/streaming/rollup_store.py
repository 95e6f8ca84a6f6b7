"""Continuous-aggregate rollup store: a persisted minute-grain event
rollup, LSM-maintained under a micro-batch stream, serveable at
minute/hour/day grain without ever rescanning raw history.

The TimescaleDB continuous-aggregate / materialized-view-maintenance
shape, re-expressed in the repo's LSM discipline (the posting/IVF
stores' base + batch-tagged delta + sentinel pattern):

- **base/**: minute-grain partial aggregates ``(minute_start, groups...,
  n, value_sum DECIMAL, value_min, value_max)``, parquet-partitioned by
  ``event_date`` so date-ranged serving prunes directories;
- **apply_batch**: aggregates ONLY the micro-batch to the same grain
  and appends it batch-tagged under ``delta/`` — one bounded shuffle
  over the batch, never a history rescan.  LATE events are ordinary
  rows here: they aggregate into their own (old) minute buckets and
  land under their own (old) ``event_date=`` partitions, where the
  read-time merge folds them in — no watermark cliff, no invalidation
  scan;
- **read(grain=...)**: base + delta re-aggregated to the requested
  grain.  Partial aggregates are MERGEABLE (count/sum add, min/max
  fold, avg finalized from sum+count at the end), so coarser grains
  cost O(finer-grain cardinality) — the `events_multires_rollup`
  cascade served from persisted state;
- **compact()**: folds deltas into a fresh base (atomic swap), same
  policy surface as the other stores.

Crash/replay safety is the shared commit order of the LSM stores
(:meth:`~car_etl_spark.operators.lsm.LsmStore._apply_batch`): the
applied sentinel is this store's commit point, a replay's entry sweep
retracts a crashed attempt's promoted rows before it appends, and a
sentinel makes completed batches no-ops.  A batch writes ONE
deterministic aggregate row per touched group, so rows the sweep could
not retract are byte-identical duplicates the dirty-flagged read drops
(group keys + batch).  Meta (spec + the
exact dataset schema + the compaction epoch) rides INSIDE base/ and
swaps atomically with it; readers ignore delta rows at or below the
epoch and apply_batch refuses them, so a crash between compact's swap
and its delta cleanup cannot double-count (the same epoch guard the
posting/IVF stores carry), and partition-column TYPE INFERENCE can
never reinterpret tenant values (reads supply the stored schema).

Exact-DECIMAL partial sums keep the cascade order-independent (double
addition is not associative — the same last-ulp lesson
`events_multires_rollup` documents).

Deletions/updates of historical events are OUT of this store's
contract (sums cannot retract; the reference's event rows —
``supabase/migrations/012_audit_logs.sql`` audit events, written
append-only by ``src/audit/logger.py`` — never mutate).  A
mutable-fact rollup needs invalidation regions + bucket recompute
against the source; `refresh_dates` provides exactly that as an
explicit, bounded operation: recompute named date partitions from a
source frame and swap them in.

State size is aggregate-grain, not stream-grain: ``buckets x groups``
rows regardless of event volume — why this serves dashboards at 100 TB
where a raw re-scan cannot.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from car_etl_spark.operators.lsm import (
    LsmStore,
    StoreSnapshot,
    _active_lease,
    _dir_has_parquet,
    _ensure_store,
    _fence_check,
    _fresh_layout,
    _live_window,
    _max_sentinel_batch,
    _publish_store_generation,
    _source_digest,
    _with_maintenance_lease,
    index_root,
)

#: exact partial-sum type shared with queries/parity.py's DEC
_DEC = "decimal(30,6)"

GRAINS = ("minute", "hour", "day")

#: layout version stamped into meta, checked by the store's meta reader
#: and hashed into every rollup store digest (a bump re-addresses cached
#: stores instead of leaving them to be refused)
#: v5: applied sentinels are ``_applied_<b>`` like the posting/IVF
#: stores', and the pending-marker ledger is gone
ROLLUP_VERSION = 5


class RollupStoreParamError(RuntimeError):
    """Persisted rollup state was built with a different (groups,
    value) spec than this code computes — merged aggregates would be
    silently wrong, so refuse instead (the sketch-store discipline)."""


class RollupStore(LsmStore):
    KIND = "rollup state"
    VERSION = ROLLUP_VERSION
    ERROR = RollupStoreParamError
    META_DIR = "base"
    NO_META = "a torn or foreign layout"
    PENDING_DIRS = BATCH_DIRS = ("delta",)
    # a fresh base folds every applied batch and has no replay
    # duplicates by construction: compact clears the dirty flag too
    CLEARED = ("_applied_", "_replay_dirty")

    def __init__(
        self,
        path: str,
        group_cols: tuple[str, ...] = ("event_type",),
        ts_col: str = "ts",
        value_col: str = "value",
        tenant_col: str | None = None,
    ) -> None:
        self.path = path
        self.ts_col = ts_col
        self.value_col = value_col
        #: multi-tenant layout: tenant is BOTH a group column (rollups
        #: never mix tenants) and the LEADING partition level, so a
        #: tenant-scoped read prunes to tenant=<t>/event_date=<d>/
        #: directories — the same RLS-partition discipline as the
        #: posting/IVF stores
        self.tenant_col = tenant_col
        gc = tuple(group_cols)
        if tenant_col and tenant_col not in gc:
            gc = (tenant_col,) + gc
        self.group_cols = gc

    # -- shared aggregation kernels -------------------------------------

    def _minute_partials(self, events: DataFrame) -> DataFrame:
        """Raw events -> minute-grain mergeable partials (the ONLY
        place raw rows are aggregated; build and apply_batch share it
        so the two paths cannot drift)."""
        minute = F.date_trunc("minute", F.col(self.ts_col))
        return events.groupBy(
            F.to_date(minute).alias("event_date"),
            minute.alias("minute_start"),
            *self.group_cols,
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(self.value_col).cast(_DEC)).alias("value_sum"),
            F.min(self.value_col).alias("value_min"),
            F.max(self.value_col).alias("value_max"),
        )

    @staticmethod
    def _merge_to(df: DataFrame, bucket, group_cols) -> DataFrame:
        """Re-aggregate partials to a coarser bucket — the mergeable-
        state fold (sum/sum/min/max; avg finalized by the caller)."""
        return df.groupBy(bucket.alias("bucket_start"), *group_cols).agg(
            F.sum("n").alias("n"),
            F.sum("value_sum").alias("value_sum"),
            F.min("value_min").alias("value_min"),
            F.max("value_max").alias("value_max"),
        )

    # -- meta / params ----------------------------------------------------

    def _spec(self) -> dict:
        return {
            "group_cols": list(self.group_cols),
            "ts_col": self.ts_col,
            "value_col": self.value_col,
            "tenant_col": self.tenant_col,
        }

    def _committed_bound(self) -> int:
        """The highest applied sentinel: this store commits a batch by
        its sentinel (one atomic file create after the append), so a
        batch whose append is still in flight stays hidden."""
        return _max_sentinel_batch(self.path)

    def _pcols(self) -> list[str]:
        return ([self.tenant_col] if self.tenant_col else []) + ["event_date"]

    def _write_partials(self, df: DataFrame, target: str, mode: str) -> None:
        pcols = self._pcols()
        df.repartition(*pcols).write.mode(mode).partitionBy(*pcols).parquet(target)

    def _publish_base(self, new_gen: int, schema, epoch: int) -> None:
        """Publish the written generation with its meta: the spec, the
        exact dataset schema (type-inference guard) and the compaction
        epoch travel with the data."""
        self._publish_meta(new_gen, {
            "spec": self._spec(),
            "schema": schema.jsonValue(),
            "compacted_through": epoch,
        })

    @property
    def _dirty_path(self) -> str:
        return os.path.join(self.path, "_replay_dirty")

    def _needs_dup_drop(self) -> bool:
        """True only when a crash-replay may have duplicated delta rows
        — the CLEAN-LEDGER fast path: every apply's entry sweep retracts
        a crashed attempt's promoted rows (batch above the committed
        bound) before the replay appends, so duplicates can only enter
        when the sweep reports files it could not retract, and only
        then is the store stamped dirty.  A clean ledger serves without
        the duplicate-drop aggregation (one merge pass instead of two);
        compact folds everything into a fresh base and clears the
        flag."""
        return os.path.exists(self._dirty_path)

    # -- lifecycle ---------------------------------------------------------

    @_with_maintenance_lease
    def build(self, events: DataFrame) -> None:
        new_gen, root = _fresh_layout(self.path)
        rows = self._minute_partials(events).withColumn(
            "batch", F.lit(0).cast("long")
        )
        self._write_partials(rows, os.path.join(root, "base"), "overwrite")
        self._publish_base(new_gen, rows.schema, 0)

    @_with_maintenance_lease
    def apply_batch(self, spark: SparkSession, events: DataFrame, batch: int) -> bool:
        """Fold one micro-batch of (possibly late) events in.  Returns
        False for an already-applied batch (sentinel).  The commit order
        is :meth:`LsmStore._apply_batch`'s: this store stages one delta
        append and commits by its sentinel, after a last fence check."""

        def stage(snap: StoreSnapshot, skipped) -> list:
            if skipped:
                # the sweep could not retract every file a crashed
                # attempt promoted (vanished mid-walk / remove failed):
                # this replay may duplicate them — reads pay the
                # duplicate-drop until the next compact
                with open(self._dirty_path, "w") as f:
                    f.write("replayed over unswept files")
            partials = self._minute_partials(events).withColumn(
                "batch", F.lit(batch).cast("long")
            )
            return [("delta", lambda out: self._write_partials(partials, out, "append"))]

        return self._apply_batch(batch, stage, lambda snap: _fence_check(self))

    # -- serving -------------------------------------------------------------

    def partials(
        self,
        spark: SparkSession,
        start_date=None,
        end_date=None,
        tenant=None,
        snap: StoreSnapshot | None = None,
    ) -> DataFrame:
        """The live minute-grain view of ``snap`` (default: the current
        snapshot): base + deltas, crash-duplicate rows dropped
        (deterministic per-(group, batch) aggregates make exact-duplicate
        drop sufficient — the posting-store replay argument), date range
        pruned at the partition level."""
        snap = snap or self._built_snapshot()
        if tenant is not None and not self.tenant_col:
            raise ValueError("store was not built with a tenant_col")
        reader = spark.read.schema(snap.schema)
        df = reader.parquet(snap.dir("base"))
        # the committed bound hides a batch whose append is still in
        # flight (parquet files land per-task; the sentinel, one atomic
        # file create after the append job, is the commit point); the
        # compaction epoch drops delta rows already folded into base (a
        # crash between compact's publish and its delta cleanup strands
        # them; counting them again doubles n/sums)
        if _dir_has_parquet(snap.dir("delta")):
            df = df.unionByName(
                _live_window(reader.parquet(snap.dir("delta")), snap.epoch, snap.upper)
            )
        if tenant is not None:
            df = df.filter(F.col(self.tenant_col) == tenant)
        if start_date is not None:
            df = df.filter(F.col("event_date") >= F.lit(start_date))
        if end_date is not None:
            df = df.filter(F.col("event_date") <= F.lit(end_date))
        if self._needs_dup_drop():
            # only a crash-replayed append can duplicate rows
            # (deterministic per-(group, batch) aggregates make the
            # exact-duplicate drop sufficient); a clean ledger skips
            # the extra aggregation entirely
            df = df.dropDuplicates(["minute_start", *self.group_cols, "batch"])
        return df

    def read(
        self,
        spark: SparkSession,
        grain: str = "day",
        start_date=None,
        end_date=None,
        exact_sums: bool = False,
        tenant=None,
        snap: StoreSnapshot | None = None,
    ) -> DataFrame:
        """Rollup at the requested grain from persisted partials:
        (bucket_start, groups..., n, value_sum, value_avg, value_min,
        value_max) from ``snap`` (default: the current snapshot).
        Never touches raw events.  ``exact_sums=True``
        keeps value_sum as the DECIMAL partial (and omits the derived
        avg) so callers can apply their own finalization/rounding —
        required for bit-parity with oracle twins that round the
        DECIMAL before casting."""
        if grain not in GRAINS:
            raise ValueError(f"grain must be one of {GRAINS}")
        parts = self.partials(spark, start_date, end_date, tenant=tenant, snap=snap)
        out = self._merge_to(
            parts, F.date_trunc(grain, F.col("minute_start")), self.group_cols
        )
        if exact_sums:
            return out
        return out.select(
            "bucket_start",
            *self.group_cols,
            "n",
            F.col("value_sum").cast("double").alias("value_sum"),
            (F.col("value_sum").cast("double") / F.col("n")).alias("value_avg"),
            "value_min",
            "value_max",
        )

    # -- maintenance -----------------------------------------------------------

    @_with_maintenance_lease
    def compact(self, spark: SparkSession) -> None:
        """Fold deltas into a fresh base: one minute-grain re-merge,
        atomic swap, sentinels cleared.

        The fold reads the committed snapshot, whose bound is the
        highest sentinel, so a crashed, never-acknowledged append
        (promoted rows, no sentinel) stays out of base: the stream's
        replay of that batch (its id stays above the epoch) re-appends
        the FULL batch, and folding its partial rows would double-count
        them with no duplicate-drop able to repair it (base rows carry
        batch 0)."""
        snap = self._fold_snapshot()
        parts = self.partials(spark, snap=snap)
        live = self._merge_to(
            parts,
            F.col("minute_start"),
            self.group_cols,
        ).select(
            F.to_date("bucket_start").alias("event_date"),
            F.col("bucket_start").alias("minute_start"),
            *self.group_cols,
            "n",
            "value_sum",
            "value_min",
            "value_max",
            F.lit(0).cast("long").alias("batch"),
        )
        new_gen, root = _fresh_layout(self.path, snap.gen)
        self._write_partials(live, os.path.join(root, "base"), "overwrite")
        # epoch from the sentinels BEFORE the publish clears them: the
        # meta rides the new layout, so readers ignore any delta files a
        # crash strands between the flip and the cleanup
        self._publish_base(new_gen, live.schema, snap.upper)

    @_with_maintenance_lease
    def refresh_dates(
        self, spark: SparkSession, source_events: DataFrame, dates: list
    ) -> None:
        """The mutable-history escape hatch (TimescaleDB's invalidation
        refresh): recompute the named ``event_date`` partitions from a
        SOURCE frame and swap them in, deleting any delta rows for
        those dates.  Bounded by the invalidated region — never a full
        history rescan."""
        snap = self._built_snapshot()
        dates = [str(d) for d in dates]
        fresh = (
            self._minute_partials(
                source_events.filter(
                    F.to_date(F.date_trunc("minute", F.col(self.ts_col))).isin(dates)
                )
            )
            .withColumn("batch", F.lit(0).cast("long"))
        )
        tmpdir = os.path.join(self.path, ".refresh.tmp")
        shutil.rmtree(tmpdir, ignore_errors=True)
        self._write_partials(fresh, tmpdir, "overwrite")
        # partition prefixes: "" for single-tenant stores, one
        # "tenant=<t>/" per tenant dir under a tenant layout — the
        # refresh swaps each tenant's invalidated dates independently
        def prefixes(root: str) -> list[str]:
            if not self.tenant_col:
                return [""]
            if not os.path.isdir(root):
                return []
            return [
                d + os.sep
                for d in os.listdir(root)
                if d.startswith(f"{self.tenant_col}=")
            ]

        # Publish the refresh as a NEW GENERATION (the compact
        # discipline — an in-flight serve racing the refresh would
        # otherwise lose the refreshed dates' partition files mid-job).
        # Unchanged partitions HARDLINK into the new layout: one
        # os.link per file, no data copy — the refresh stays bounded by
        # the invalidated region.  Sentinels and the dirty flag stay
        # untouched (unlike compact): the carried-over delta files keep
        # their batch tags, so the committed bound and the epoch keep
        # meaning exactly what they meant in the previous generation.
        old_base, old_delta = snap.dir("base"), snap.dir("delta")
        new_gen, newroot = _fresh_layout(self.path, snap.gen)
        new_base = os.path.join(newroot, "base")
        new_delta = os.path.join(newroot, "delta")
        skip = {
            (os.path.join(pref, f"event_date={d}") if pref else f"event_date={d}")
            .rstrip(os.sep)
            for d in dates
            for pref in set(prefixes(tmpdir)) | set(prefixes(old_base))
        }

        def link_tree(src: str, dst: str) -> None:
            for root, dirs, files in os.walk(src):
                rel = os.path.relpath(root, src)
                rel = "" if rel == "." else rel
                if any(rel == s or rel.startswith(s + os.sep) for s in skip):
                    dirs.clear()
                    continue
                os.makedirs(os.path.join(dst, rel) if rel else dst, exist_ok=True)
                for f in files:
                    os.link(
                        os.path.join(root, f),
                        os.path.join(dst, rel, f) if rel else os.path.join(dst, f),
                    )

        link_tree(old_base, new_base)
        if os.path.isdir(old_delta):
            link_tree(old_delta, new_delta)
        for d in dates:
            for pref in prefixes(tmpdir):
                part = os.path.join(pref, f"event_date={d}") if pref else f"event_date={d}"
                src = os.path.join(tmpdir, part)
                if os.path.isdir(src):
                    dst = os.path.join(new_base, part)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.replace(src, dst)
        shutil.rmtree(tmpdir, ignore_errors=True)
        # the same fenced publish as compact (a refresher whose lease was
        # stolen mid-campaign must not publish a generation built from
        # pre-steal state), clearing no root markers
        _publish_store_generation(self.path, new_gen, _active_lease(self), clear=())


def run_rollup_maintenance(
    spark: SparkSession,
    landing_dir: str,
    schema: str,
    store: RollupStore,
    checkpoint_dir: str,
) -> None:
    """Drain a parquet landing dir into the rollup state (availableNow
    in tests, processingTime trigger in production) — the same
    foreachBatch discipline as the sketch/posting/IVF maintenance
    jobs.  Streaming batch ids are >= 0; the store's batch 0 is the
    base build, so ids shift by one."""
    stream = spark.readStream.schema(schema).parquet(landing_dir)
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: store.apply_batch(spark, df, int(bid) + 1)
        )
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def ensure_rollup_store(spark: SparkSession, sf_dir: str) -> RollupStore:
    """Content-addressed rollup store over the ``events`` table — the
    continuous-aggregate analog of ensure_ivf_index/ensure_posting_index
    (path + mtime digest, built once per corpus version, reused across
    sessions)."""
    source = os.path.join(sf_dir, "events.parquet")
    digest = _source_digest("rollup", ROLLUP_VERSION, source, "event_type|minute")
    path = os.path.join(index_root(), f"rollup-{digest}")
    store = RollupStore(path)
    return _ensure_store(
        spark, sf_dir, store, "events",
        lambda ev, lease: store.build(
            ev.select("ts", "event_type", "value"), lease=lease
        ),
    )
