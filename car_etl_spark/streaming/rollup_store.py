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

Crash/replay safety is the posting-store argument, not a ledger: a
batch writes ONE deterministic aggregate row per touched group, so a
crash-before-sentinel replay appends byte-identical duplicates and the
read path's exact-duplicate drop (group keys + batch) restores the
view; a sentinel makes completed batches no-ops.  Meta (spec + the
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

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from car_etl_spark.operators.indexing import _with_maintenance_lease

#: exact partial-sum type shared with queries/parity.py's DEC
_DEC = "decimal(30,6)"

GRAINS = ("minute", "hour", "day")


class RollupStoreParamError(RuntimeError):
    """Persisted rollup state was built with a different (groups,
    value) spec than this code computes — merged aggregates would be
    silently wrong, so refuse instead (the sketch-store discipline)."""


class RollupStore:
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

    # -- generation-numbered layout (round 9) ---------------------------
    # Same discipline as the posting/IVF stores (operators/indexing):
    # base/delta live under layout-<gen>/, build/compact publish a new
    # generation by flipping _current.json (deferred GC gives in-flight
    # serves one compact interval of grace).  Meta rides INSIDE the
    # generation's base/ so spec, schema, and compaction epoch publish
    # together.  Sentinels, pending markers, and the dirty flag stay at
    # the store root (batch ids are global, not per-generation).
    # refresh_dates also publishes a new generation: unchanged
    # partitions hardlink across (one os.link per file, no data copy),
    # so the bounded invalidation refresh gets the same
    # never-invalidate-an-in-flight-serve guarantee as compact.

    def _gen(self) -> int:
        from car_etl_spark.operators.indexing import _layout_gen

        return _layout_gen(self.path)

    def _base_dir_at(self, gen: int | None = None) -> str:
        from car_etl_spark.operators.indexing import _layout_root

        g = self._gen() if gen is None else gen
        return os.path.join(_layout_root(self.path, g), "base")

    def _delta_dir_at(self, gen: int | None = None) -> str:
        from car_etl_spark.operators.indexing import _layout_root

        g = self._gen() if gen is None else gen
        return os.path.join(_layout_root(self.path, g), "delta")

    def _meta_at(self, gen: int | None = None) -> dict | None:
        mp = os.path.join(self._base_dir_at(gen), "_meta.json")
        if os.path.exists(mp):
            with open(mp) as f:
                return json.load(f)
        return None

    @property
    def base_dir(self) -> str:
        return self._base_dir_at()

    @property
    def delta_dir(self) -> str:
        return self._delta_dir_at()

    @property
    def meta_path(self) -> str:
        return os.path.join(self.base_dir, "_meta.json")

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

    def _meta(self) -> dict | None:
        if os.path.exists(self.meta_path):
            with open(self.meta_path) as f:
                return json.load(f)
        return None

    def _check_params(self) -> None:
        m = self._meta()
        if m is None:
            raise RollupStoreParamError(
                f"no rollup state at {self.path} — build() it first"
            )
        if m["spec"] != self._spec():
            raise RollupStoreParamError(
                f"rollup state at {self.path} was built with {m['spec']}; "
                f"this code computes {self._spec()} — rebuild before resuming"
            )

    def _stamp_meta(self, target_dir: str, schema, compacted_through: int) -> None:
        """Write meta into a (tmp) base layout BEFORE it is swapped
        live — spec, the exact dataset schema (type-inference guard),
        and the compaction epoch travel with the data."""
        with open(os.path.join(target_dir, "_meta.json"), "w") as f:
            json.dump(
                {
                    "spec": self._spec(),
                    "version": 2,
                    "schema": schema.jsonValue(),
                    "compacted_through": compacted_through,
                },
                f,
            )

    def _stored_schema(self, gen: int | None = None):
        from pyspark.sql.types import StructType

        m = self._meta_at(gen)
        if m and "schema" in m:
            return StructType.fromJson(m["schema"])
        return None

    def _pcols(self) -> list[str]:
        return ([self.tenant_col] if self.tenant_col else []) + ["event_date"]

    def _sentinel(self, batch: int) -> str:
        return os.path.join(self.path, f"_batch_{batch}_applied")

    def _pending(self, batch: int) -> str:
        return os.path.join(self.path, f"_batch_{batch}_pending")

    @property
    def _dirty_path(self) -> str:
        return os.path.join(self.path, "_replay_dirty")

    def _stranded_batches(self) -> list[int]:
        """Batch ids whose append crashed: a pending marker with no
        applied sentinel.  Their delta rows are a PARTIAL, never-
        acknowledged write — foreachBatch will replay the whole batch."""
        out = []
        try:
            for f in os.listdir(self.path):
                if f.startswith("_batch_") and f.endswith("_pending"):
                    try:
                        b = int(f[len("_batch_"):-len("_pending")])
                    except ValueError:
                        continue
                    if not os.path.exists(self._sentinel(b)):
                        out.append(b)
        except OSError:
            pass
        return out

    def _needs_dup_drop(self) -> bool:
        """True only when a crash-replay may have duplicated delta rows
        — the CLEAN-LEDGER fast path: every apply writes a pending
        marker before its delta append and clears it after the applied
        sentinel, so a replay that finds a stranded pending marker (the
        only way duplicates can enter) stamps the store dirty.  A clean
        ledger serves without the duplicate-drop aggregation (one merge
        pass instead of two); compact folds everything into a fresh
        base and clears the flag."""
        return os.path.exists(self._dirty_path)

    def _max_sentinel(self) -> int:
        """Highest applied batch id — the compaction epoch (pure
        filesystem, no Spark job)."""
        mx = 0
        try:
            for f in os.listdir(self.path):
                if f.startswith("_batch_") and f.endswith("_applied"):
                    try:
                        mx = max(mx, int(f[len("_batch_"):-len("_applied")]))
                    except ValueError:
                        pass
        except OSError:
            pass
        return mx

    def _publish_generation(self, new_gen: int) -> None:
        """Flip the pointer to the freshly-stamped generation, then
        clear stale maintenance state.  Crash-order argument: the flip
        is FIRST and the meta (with the new epoch) rides inside the new
        layout, so any prefix of the cleanup leaves a consistent store
        — stranded delta files sit at or below the epoch and every
        reader ignores them.  The PREVIOUS generation stays on disk for
        one more compact interval (deferred GC, the
        ``_publish_store_generation`` discipline from
        operators/indexing), so an in-flight serve keeps reading the
        files it listed instead of dying on a renamed path."""
        from car_etl_spark.operators.indexing import (
            _active_lease,
            _check_maintenance_lease,
            _flip_layout,
            _gc_store_generations,
        )

        lease = _active_lease(self)
        if lease is not None:
            _check_maintenance_lease(lease)
        _flip_layout(self.path, new_gen, fence=lease.fence if lease else None)
        for f in os.listdir(self.path):
            if f.startswith("_batch_"):
                os.remove(os.path.join(self.path, f))
        # a fresh base has no replay duplicates by construction
        try:
            os.remove(self._dirty_path)
        except OSError:
            pass
        _gc_store_generations(self.path, new_gen)

    def _has_parquet(self, d: str) -> bool:
        from car_etl_spark.operators.indexing import _dir_has_parquet

        return _dir_has_parquet(d)

    # -- lifecycle ---------------------------------------------------------

    @_with_maintenance_lease
    def build(self, events: DataFrame) -> None:
        from car_etl_spark.operators.indexing import _layout_gen, _layout_root

        os.makedirs(self.path, exist_ok=True)
        new_gen = _layout_gen(self.path) + 1
        newroot = _layout_root(self.path, new_gen)
        shutil.rmtree(newroot, ignore_errors=True)
        tmp = os.path.join(newroot, "base")
        rows = self._minute_partials(events).withColumn(
            "batch", F.lit(0).cast("long")
        )
        (
            rows.repartition(*self._pcols())
            .write.mode("overwrite")
            .partitionBy(*self._pcols())
            .parquet(tmp)
        )
        self._stamp_meta(tmp, rows.schema, 0)
        self._publish_generation(new_gen)

    @_with_maintenance_lease
    def apply_batch(self, spark: SparkSession, events: DataFrame, batch: int) -> bool:
        """Fold one micro-batch of (possibly late) events in.  Returns
        False for an already-applied batch (sentinel)."""
        if batch <= 0:
            raise ValueError("batch must be > 0 (0 is the base build)")
        self._check_params()
        if os.path.exists(self._sentinel(batch)):
            return False
        if batch <= int(self._meta().get("compacted_through") or 0):
            # a batch id at or below the compaction epoch is a replay of
            # content already folded into base (compact cleared its
            # sentinel) — refuse like the sentinel does
            return False
        from car_etl_spark.operators import indexing as _IX
        from car_etl_spark.operators.indexing import (
            MaintenanceFencedError,
            _fence_check,
            _staged_append,
            _sweep_promoted_orphans,
        )

        # retract crash orphans from a previous attempt BEFORE staging
        # anything: files promoted by an applier that crashed before its
        # sentinel landed carry batch ids above the committed bound and
        # would surface under a different-content recommit (r12)
        _orph, _skipped = _sweep_promoted_orphans(
            [self.delta_dir], self._max_sentinel(),
            recheck=lambda: _fence_check(self),
        )
        if os.path.exists(self._pending(batch)) and _skipped:
            # a previous attempt crashed mid-append AND the sweep could
            # not retract every orphan (file vanished/remove failed):
            # this replay may duplicate the survivors — flag the store
            # so reads pay the duplicate-drop until the next compact.
            # With a clean sweep the replay CANNOT duplicate (every
            # crashed-attempt row carried batch > the committed bound
            # and was just removed), so the clean-ledger fast path
            # survives crash replays (r12 — was an unconditional stamp)
            with open(self._dirty_path, "w") as f:
                f.write("replayed after crashed append")
        with open(self._pending(batch), "w") as f:
            f.write("pending")
        # staged append, promoted only after the fence check: a stale
        # (stolen-lease) applier leaves nothing in the live delta tree
        # (its orphan rows would otherwise become visible if the new
        # owner commits the same batch id with different content)
        partials = self._minute_partials(events).withColumn(
            "batch", F.lit(batch).cast("long")
        )
        promote, abort = _staged_append(
            self.delta_dir,
            lambda stage: partials.repartition(*self._pcols())
            .write.mode("append")
            .partitionBy(*self._pcols())
            .parquet(stage),
        )
        try:
            _fence_check(self)  # a stale (stolen-lease) applier stops HERE
        except MaintenanceFencedError:
            abort()
            raise
        promote()
        if _IX._test_post_promote_crash is not None:
            _IX._test_post_promote_crash()
        with open(self._sentinel(batch), "w") as f:
            f.write("applied")
        os.remove(self._pending(batch))
        return True

    # -- serving -------------------------------------------------------------

    def partials(
        self,
        spark: SparkSession,
        start_date=None,
        end_date=None,
        tenant=None,
        as_of: int | None = None,
    ) -> DataFrame:
        """The live minute-grain view: base + deltas, crash-duplicate
        rows dropped (deterministic per-(group, batch) aggregates make
        exact-duplicate drop sufficient — the posting-store replay
        argument), date range pruned at the partition level."""
        self._check_params()
        if tenant is not None and not self.tenant_col:
            raise ValueError("store was not built with a tenant_col")
        # snapshot window ORDER matters under concurrent maintenance:
        # the applied-sentinel bound hides a batch whose append is
        # still in flight (parquet files land per-task — a concurrent
        # reader would otherwise sum a PARTIAL batch; the sentinel, one
        # atomic file create after the append job, is the commit point;
        # batch ids are monotone stream epochs from one writer, so
        # max-sentinel is a prefix bound).  It is read FIRST, and the
        # generation is pinned SECOND: the publish flips the pointer
        # BEFORE clearing sentinels, so observing committed=C then gen
        # g is consistent in every interleaving — pre-flip the pinned
        # old dirs still hold the deltas <= C, post-flip the new base
        # already folds them under an epoch >= C.  (Pinning first and
        # then reading a post-clear committed=0 against OLD dirs would
        # hide unfolded deltas — the mixed-state class the r9
        # maintenance soak caught.)
        # ``as_of`` overrides the committed bound: the MVCC time-travel
        # read (state after batches <= N), same contract as
        # PostingStore._snapshot_bounds — meaningful down to the
        # compaction epoch (older batches are folded into base)
        committed = self._max_sentinel() if as_of is None else int(as_of)
        g = self._gen()
        # build-time schema supplied explicitly: partition-column type
        # inference would otherwise reinterpret values (string tenant
        # '0100' folding into int 100 merges two tenants' aggregates)
        stored = self._stored_schema(gen=g)
        reader = spark.read.schema(stored) if stored is not None else spark.read
        df = reader.parquet(self._base_dir_at(g))
        # the compaction epoch drops delta rows already folded into
        # base (a crash between compact's publish and its delta cleanup
        # strands them; counting them again doubles n/sums)
        epoch = int((self._meta_at(g) or {}).get("compacted_through") or 0)
        if self._has_parquet(self._delta_dir_at(g)):
            df = df.unionByName(
                reader.parquet(self._delta_dir_at(g)).filter(
                    (F.col("batch") > epoch) & (F.col("batch") <= committed)
                )
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
        as_of: int | None = None,
    ) -> DataFrame:
        """Rollup at the requested grain from persisted partials:
        (bucket_start, groups..., n, value_sum, value_avg, value_min,
        value_max).  Never touches raw events.  ``exact_sums=True``
        keeps value_sum as the DECIMAL partial (and omits the derived
        avg) so callers can apply their own finalization/rounding —
        required for bit-parity with oracle twins that round the
        DECIMAL before casting."""
        if grain not in GRAINS:
            raise ValueError(f"grain must be one of {GRAINS}")
        parts = self.partials(spark, start_date, end_date, tenant=tenant, as_of=as_of)
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

    def should_compact(self, threshold: float = 0.2) -> bool:
        from car_etl_spark.operators.indexing import _tree_bytes as parquet_bytes

        base = parquet_bytes(self.base_dir)
        return base > 0 and parquet_bytes(self.delta_dir) > threshold * base

    @_with_maintenance_lease
    def compact(self, spark: SparkSession) -> None:
        """Fold deltas into a fresh base: one minute-grain re-merge,
        atomic swap, sentinels cleared.

        STRANDED batches (pending marker, no sentinel — a crashed,
        never-acknowledged append) are EXCLUDED from the fold: their
        partial rows must not enter base, because the swap clears the
        pending markers and the stream's replay of that batch (its id
        stays above the epoch — no sentinel means _max_sentinel skips
        it) will re-append the FULL batch.  Folding the partials would
        double-count them with no duplicate-drop able to repair it
        (base rows carry batch 0).  Excluding them loses nothing: an
        unacknowledged batch is the replay's to deliver."""
        self._check_params()
        parts = self.partials(spark)
        stranded = self._stranded_batches()
        if stranded:
            parts = parts.filter(~F.col("batch").isin(stranded))
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
        from car_etl_spark.operators.indexing import _layout_gen, _layout_root

        new_gen = _layout_gen(self.path) + 1
        newroot = _layout_root(self.path, new_gen)
        shutil.rmtree(newroot, ignore_errors=True)
        tmp = os.path.join(newroot, "base")
        (
            live.repartition(*self._pcols())
            .write.mode("overwrite")
            .partitionBy(*self._pcols())
            .parquet(tmp)
        )
        # epoch from the sentinels BEFORE the publish clears them: the
        # meta rides the new layout, so readers ignore any delta files a
        # crash strands between the flip and the cleanup
        self._stamp_meta(tmp, live.schema, self._max_sentinel())
        self._publish_generation(new_gen)

    @_with_maintenance_lease
    def refresh_dates(
        self, spark: SparkSession, source_events: DataFrame, dates: list
    ) -> None:
        """The mutable-history escape hatch (TimescaleDB's invalidation
        refresh): recompute the named ``event_date`` partitions from a
        SOURCE frame and swap them in, deleting any delta rows for
        those dates.  Bounded by the invalidated region — never a full
        history rescan."""
        self._check_params()
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
        fresh.repartition(*self._pcols()).write.partitionBy(*self._pcols()).parquet(
            tmpdir
        )
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
        from car_etl_spark.operators.indexing import (
            _active_lease,
            _check_maintenance_lease,
            _flip_layout,
            _gc_store_generations,
            _layout_root,
        )

        g = self._gen()
        old_base, old_delta = self._base_dir_at(g), self._delta_dir_at(g)
        new_gen = g + 1
        newroot = _layout_root(self.path, new_gen)
        shutil.rmtree(newroot, ignore_errors=True)
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
        lease = _active_lease(self)
        if lease is not None:
            # same pre-flip revalidation as _publish_generation: a
            # refresher whose lease was stolen mid-campaign must not
            # publish a generation built from pre-steal state
            _check_maintenance_lease(lease)
        _flip_layout(self.path, new_gen, fence=lease.fence if lease else None)
        _gc_store_generations(self.path, new_gen)


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
    from car_etl_spark.operators.indexing import _source_digest, index_root

    source = os.path.join(sf_dir, "events.parquet")
    # version 3: meta moved INSIDE base/ (atomic with the swap) and
    # gained the dataset schema + compaction epoch — older layouts
    # re-address rather than half-upgrade
    digest = _source_digest("rollup", 3, source, "event_type|minute")
    path = os.path.join(index_root(), f"rollup-{digest}")
    store = RollupStore(path)
    if store._meta() is None:
        from car_etl_spark.operators.indexing import build_or_wait
        from car_etl_spark.tables import load_tables

        ev = load_tables(spark, sf_dir, ("events",))["events"]
        os.makedirs(index_root(), exist_ok=True)
        build_or_wait(
            lambda lease: store.build(
                ev.select("ts", "event_type", "value"), lease=lease
            ),
            lambda: store._meta() is not None,
            path,
        )
    return store
