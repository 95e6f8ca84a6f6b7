"""Model-ready training-data export: deterministic shards with a
reproducible global pseudo-shuffle.

The terminal stage of a training-data pipeline (after the mix/dedup/
quality stages in ``queries/mix.py`` and ``queries/dedup.py``): the
curated corpus must land as N fixed shards that (a) every training run
reads IDENTICALLY — shard membership and intra-shard order are pure
functions of the row key, never ``rand()`` or partition scheduling —
and (b) interleave sources, so a sequential reader never sees a long
run of one source (hash order is the classic "global shuffle without a
global sort by random key you can't reproduce").

Plan shape at 100 TB: one ``repartition(num_shards, shard)`` shuffle,
then ``sortWithinPartitions`` (shard LEADS the sort — FileFormatWriter
re-sorts by partition columns otherwise and would silently drop the
intra-shard order), one pass, no driver materialization.  Readers of a
single shard prune to its directory (PartitionFilters).

Reference behavior covered: the reference exports curated document
sets for downstream consumption (``src/documents/export.py``); this is
the distributed, reproducible form of that contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from car_etl_spark.operators.portable import h0

#: suffix for the intra-shard order hash — a DIFFERENT hash input than
#: the shard assignment, so order within a shard is independent of the
#: assignment (reusing one hash would sort each shard by the same value
#: that chose it, i.e. a constant residue class — not a shuffle).
ORDER_SUFFIX = "|order"

#: shard-count derivation (r12 — the derive_num_buckets treatment for
#: the last caller-constant layout knob): a shard is the parallel unit
#: of BOTH the next-fit pandas fold (its chunk METADATA must fit one
#: Arrow batch) and the per-shard write sort, so shards grow with the
#: token volume.  64M tokens/shard ~= 1M chunk-metadata rows at the
#: 64-token chunk grain (tens of MB per fold task); power-of-2 keeps
#: rehash boundaries predictable across estimate jitter.  The 4-shard
#: floor preserves every correctness/bench-scale layout; the cap keeps
#: an exabyte estimate from degenerating into millions of tiny files.
TARGET_TOKENS_PER_SHARD = 64 * 1024 * 1024
MIN_SHARDS = 4
MAX_SHARDS = 65536

#: Catalyst reports this sentinel (or larger) when a plan's size is
#: unknown — not a real estimate, never derive a layout from it
_UNKNOWN_PLAN_BYTES = 1 << 62


def derive_num_shards(est_tokens: int) -> int:
    """Shard count from an estimated token volume: next power of two
    that keeps shards under :data:`TARGET_TOKENS_PER_SHARD`, clamped to
    [:data:`MIN_SHARDS`, :data:`MAX_SHARDS`].  Callers must pass a
    LARGE-reading estimate for unknown corpora (the
    ``jaccard_block_count`` lesson); a non-positive estimate resolves
    to the floor."""
    if est_tokens <= 0:
        return MIN_SHARDS
    need = max(1, -(-est_tokens // TARGET_TOKENS_PER_SHARD))
    ns = 1
    while ns < need:
        ns *= 2
    return max(MIN_SHARDS, min(MAX_SHARDS, ns))


def estimated_df_tokens(df: DataFrame) -> int:
    """Token-volume estimate for an arbitrary DataFrame from CATALYST
    LEAF-RELATION STATISTICS (sum of ``stats().sizeInBytes`` over
    ``optimizedPlan().collectLeaves()`` — file sizes for file sources
    after partition pruning, computed data size for local relations;
    zero jobs, the logical-plan analog of the parquet-footer trick).

    Leaves are summed rather than reading the ROOT plan's stats because
    without CBO Catalyst sets a join's ``sizeInBytes`` to the PRODUCT
    of its children — two 1 GB inputs read as ~10^18 bytes, which is
    below the unknown sentinel and would silently derive the 65536-shard
    cap.  The leaf sum is the scanned payload volume: monotone in the
    corpus, never multiplicative.  All columns' bytes count, which
    OVER-estimates tokens — more shards, the scale-safe direction.
    (A row-exploding join can make output exceed its scans; callers
    with deliberate fan-out should pass ``num_shards`` explicitly.)
    Returns -1 when any leaf's size is genuinely unknown (Catalyst's
    max-value sentinel): a layout must not be derived from a sentinel,
    the caller asks for an explicit ``num_shards`` instead."""
    from car_etl_spark.operators.indexing import AVG_TOKEN_BYTES

    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        sizes = [
            max(0, int(leaves.apply(i).stats().sizeInBytes()))
            for i in range(leaves.size())
        ]
    except Exception:
        return -1
    if sum(sizes) <= 0 or max(sizes) >= _UNKNOWN_PLAN_BYTES:
        return -1
    # tokens per leaf, then summed: a join's estimate is exactly the sum
    # of its inputs' estimates, whatever their byte sizes' remainders
    return max(1, sum(b // AVG_TOKEN_BYTES for b in sizes))


def shard_col(key, num_shards: int):
    """Deterministic shard id for a row key column — built on the
    PORTABLE 60-bit hash (md5 of the key's string form), so shard
    membership is recomputable in any engine with md5:
    ``('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT % n``
    in DuckDB gives the identical assignment (pinned in tests)."""
    return F.pmod(h0(key.cast("string")), F.lit(num_shards)).cast("int")


def order_col(key):
    """Deterministic intra-shard order key (independent of shard_col,
    same portable-hash construction)."""
    return h0(F.concat(key.cast("string"), F.lit(ORDER_SUFFIX)))


def write_training_shards(
    df: DataFrame,
    path: str,
    num_shards: int | None = None,
    key_col: str = "doc_id",
    mode: str = "overwrite",
    tenant_col: str | None = None,
) -> dict | None:
    """Land ``df`` as ``shard=<i>/`` parquet directories with a
    reproducible global pseudo-shuffle.

    Every row appears in exactly one shard; re-running on the same
    input reproduces identical shard membership AND identical row order
    inside each file (the written ``__order`` column is the proof key —
    readers that need the order sort by it, readers that don't ignore
    it).

    MULTI-TENANT form (``tenant_col``): the layout becomes
    ``<tenant>=<t>/shard=<i>/`` — each tenant owns its own complete
    shard set (a tenant's training run reads ONLY its directories, the
    reference's RLS discipline, ``020_documents.sql:51-60``), shard
    membership hashes (tenant, key) so one tenant's assignment is
    independent of any other's corpus, and the return value is a
    per-tenant EXPORT MANIFEST ``{tenant: {shard: n_rows}}`` (computed
    at tenant x shard grain — control-plane size) that consumers pin in
    their run configs.  Tenant-blind export returns None."""
    clash = {"shard", "__order"} & set(df.columns)
    if clash:
        raise ValueError(
            f"write_training_shards would overwrite input column(s) {sorted(clash)}; "
            "rename them before exporting"
        )
    if num_shards is None:
        est = estimated_df_tokens(df)
        if est < 0:
            raise ValueError(
                "write_training_shards: the plan's size statistics are "
                "unknown, so a shard count cannot be derived — pass "
                "num_shards explicitly"
            )
        num_shards = derive_num_shards(est)
    shard_key = (
        F.concat(F.col(tenant_col).cast("string"), F.lit("|"), F.col(key_col).cast("string"))
        if tenant_col
        else F.col(key_col)
    )
    staged = df.withColumn("shard", shard_col(shard_key, num_shards)).withColumn(
        "__order", order_col(shard_key)
    )
    if tenant_col:
        # the manifest must count EXACTLY the rows this write lands: a
        # lazy localCheckpoint materializes staged once (the write is
        # the first action, so no extra pass) and the count below reads
        # the same blocks — immune to nondeterministic upstream lineage
        # (a sampled or rand-salted df would otherwise recompute a
        # DIFFERENT row set for the count) and never re-executes the
        # full pipeline for bookkeeping
        staged = staged.localCheckpoint(eager=False)
    pcols = ([tenant_col] if tenant_col else []) + ["shard"]
    (
        # 4x the partitions, still keyed on the layout columns: every
        # (tenant,) shard value hashes to exactly ONE partition (layout
        # and determinism keep), but ids no longer collide
        # balls-in-bins into the same task — repartition(n, shard) left
        # ~1/3 of n tasks empty and the busiest carrying 3-4 shards
        staged.repartition(num_shards * 4, *pcols)
        # partition cols must LEAD the sort: FileFormatWriter re-sorts
        # rows by the partition columns before writing, and only a sort
        # that already leads with them survives into the files.
        # key_col breaks __order-collision ties (a duplicate key, or a
        # 60-bit collision at 10^10 docs, would otherwise order by
        # shuffle arrival — nondeterministic across reruns)
        .sortWithinPartitions(*pcols, "__order", key_col)
        .write.mode(mode)
        .partitionBy(*pcols)
        .parquet(path)
    )
    if not tenant_col:
        return None
    # manifest counts come from THIS export's staged frame (the
    # checkpointed blocks the write itself consumed), not a re-read of
    # the root: under mode="append" the root also holds earlier
    # exports' rows, and a manifest that counted them would misreport
    # this run to consumers pinning it
    counts = (
        staged.groupBy(tenant_col, "shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    manifest: dict = {}
    for r in counts:
        manifest.setdefault(str(r[tenant_col]), {})[int(r["shard"])] = int(r["n"])
    return manifest


def read_training_shard(
    spark: SparkSession,
    path: str,
    shard: int | None = None,
    key_col: str = "doc_id",
    tenant_col: str | None = None,
    tenant=None,
) -> DataFrame:
    """Read back the export — one shard (directory-pruned) or all —
    in the deterministic training order (``key_col`` breaks the rare
    ``__order`` ties, mirroring the write-side sort).  On a
    tenant-partitioned export, ``tenant`` prunes to that tenant's
    directories FIRST (required when ``tenant_col`` is given: an
    unscoped read of a multi-tenant export is a cross-tenant leak)."""
    if tenant_col and tenant is None:
        raise ValueError(
            "tenant-partitioned export: reads require tenant=...; "
            "cross-tenant audits should read the parquet root explicitly"
        )
    df = spark.read.parquet(path)
    if tenant_col:
        df = df.filter(F.col(tenant_col) == tenant)
    if shard is not None:
        df = df.filter(F.col("shard") == shard)
    ties = [key_col] if key_col in df.columns else []
    return df.orderBy("shard", "__order", *ties)
