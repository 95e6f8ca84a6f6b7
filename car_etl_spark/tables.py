"""Table catalog over the driver's parquet test tables.

``load_tables`` is the single scan entry point (SURVEY.md §2.1 S1): every
query goes through it, which is where a production deployment would hang
tenant isolation (SURVEY.md §1 "Tenancy": a mandatory
``filter(tenant_id == ...)`` mirroring the reference's RLS,
reference ``supabase/migrations/020_documents.sql:51-60``) and
partition-pruning predicates.  Reads are plain ``spark.read.parquet`` so
Catalyst keeps projection/filter pushdown (`PushedFilters` in explain).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from car_etl_spark.session import tune_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    names: tuple[str, ...] = TABLES,
    tenant_id: str | None = None,
) -> dict[str, DataFrame]:
    """Load the named parquet tables as DataFrames.

    ``tenant_id`` is the secure-scan hook: when set, every table that has
    a ``tenant_id`` column is filtered before anything else sees it.
    """
    tune_session(spark)
    out: dict[str, DataFrame] = {}
    for name in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # TIMESTAMP(NANOS) read as long (nanosAsLong); truncate to
            # micros exactly as DuckDB does when reading the same file.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # Parquet timestamps without isAdjustedToUTC arrive as
        # TIMESTAMP_NTZ, which rejects numeric casts and diverges from
        # how every temporal expression here was written.  The session
        # timezone is pinned UTC, so NTZ -> TIMESTAMP preserves every
        # value exactly while restoring TIMESTAMP semantics (and matches
        # DuckDB reading the same naive values in its UTC default).
        ntz_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
        for c in ntz_cols:
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        if tenant_id is not None and "tenant_id" in df.columns:
            df = df.filter(df["tenant_id"] == tenant_id)
        out[name] = df
    return out


def parquet_rowcount(sf_dir: str, name: str) -> int:
    """Row count from parquet FOOTER metadata — no Spark job, no scan.

    The free statistic a cost-based strategy (adaptive ANN dispatch,
    LSH plan sizing, IVF centroid derivation) is allowed to read; the
    catalog-statistics analog of the reference's pg_class reltuples.
    Directory layouts (the only layout real corpora have) sum the
    per-part footers — still metadata-only, no scan.  Returns -1 when
    unknown (non-filesystem layout, corrupt footer) so callers fall
    back to their always-correct default; scale-sensitive callers must
    treat -1 as LARGE, not small (see queries/entity._gated_hot_keys)."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            files = []
            for root, _dirs, fns in os.walk(path):
                files.extend(
                    os.path.join(root, fn) for fn in fns if fn.endswith(".parquet")
                )
            if not files:
                return -1
            return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return -1


def parquet_column_min(sf_dir: str, name: str, column: str) -> float | None:
    """Column minimum from footer row-group statistics (None when any
    row group lacks stats) — proves non-negativity for integer HALF_UP
    rounding in the int64-cents path."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            files = []
            for root, _dirs, fns in os.walk(path):
                files.extend(
                    os.path.join(root, fn) for fn in fns if fn.endswith(".parquet")
                )
        else:
            files = [path]
        if not files:
            return None
        worst = None
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = None
            for i in range(md.num_columns):
                if md.schema.column(i).name == column:
                    idx = i
                    break
            if idx is None:
                return None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                v = float(st.min)
                worst = v if worst is None else min(worst, v)
        return worst
    except Exception:
        return None


def parquet_column_absmax(sf_dir: str, name: str, column: str) -> float | None:
    """max(|min|, |max|) of a numeric column from parquet FOOTER
    row-group statistics — no Spark job, no scan (the pg_stats analog).

    Feeds the int64-cents overflow proof
    (:func:`car_etl_spark.queries.parity.int64_cents_safe`).  Returns
    ``None`` when any row group lacks min/max stats (or the footer is
    unreadable): an unprovable bound must fail the proof, never pass it,
    so callers fall back to the always-correct decimal path."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            files = []
            for root, _dirs, fns in os.walk(path):
                files.extend(
                    os.path.join(root, fn) for fn in fns if fn.endswith(".parquet")
                )
        else:
            files = [path]
        if not files:
            return None
        best = 0.0
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = None
            for i in range(md.num_columns):
                if md.schema.column(i).name == column:
                    idx = i
                    break
            if idx is None:
                return None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                best = max(best, abs(float(st.min)), abs(float(st.max)))
        return best
    except Exception:
        return None
