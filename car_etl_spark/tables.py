"""Table catalog over the driver's parquet test tables.

``load_tables`` is the single scan entry point (SURVEY.md §2.1 S1): every
query goes through it, which is where a production deployment would hang
tenant isolation (SURVEY.md §1 "Tenancy": a mandatory
``filter(tenant_id == ...)`` mirroring the reference's RLS,
reference ``supabase/migrations/020_documents.sql:51-60``) and
partition-pruning predicates.  Catalyst keeps projection/filter pushdown
(`PushedFilters` in explain).

Every read passes the table's schema explicitly.  Without one, Spark
starts a schema-inference job per table per call (measured 110-150 ms
CPU each against 18-26 ms with the schema passed in, six per batch
pass of the perfbench ``batch`` rows).  The schema is inferred once and
memoized per (Spark application id, table path) together with the
table's file identity: every parquet file's path, ``mtime_ns`` and
size (:func:`file_identity`).  A rewritten or added part file
therefore changes the identity and is inferred again, and a layout
whose identity cannot be read (a non-filesystem path) is read without
the memo, never against a stale schema.  The memo holds schema
metadata only: no rows, no ``.cache()``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

#: inferred table schemas: (application id, table path) -> (file
#: identity the schema was inferred from, schema).  One entry per table
#: per application, replaced when the table's files change.  Two
#: threads missing at once both infer the same schema; the later store
#: wins, which is harmless.
_SCHEMAS: dict[tuple[str, str], tuple[tuple, StructType]] = {}


def _parquet_files(path: str) -> list[str]:
    """The parquet files of a table: ``path`` itself, or every
    ``.parquet`` file under it (sorted) when it is a directory layout."""
    if not os.path.isdir(path):
        return [path]
    files = []
    for root, _dirs, fns in os.walk(path):
        files.extend(os.path.join(root, fn) for fn in fns if fn.endswith(".parquet"))
    return sorted(files)


def file_identity(path: str) -> tuple | None:
    """``(file, mtime_ns, size)`` of every parquet file of a table, or
    ``None`` when it cannot be read (non-filesystem path, missing file,
    empty directory).  Directory layouts are identified by their part
    files, not by the directory's own mtime, which an in-place rewrite
    of a part file leaves unchanged."""
    try:
        ident = []
        for f in _parquet_files(path):
            st = os.stat(f)
            ident.append((f, st.st_mtime_ns, st.st_size))
    except OSError:
        return None
    return tuple(ident) or None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the memoized schema when the
    table's files are unchanged since it was inferred."""
    ident = file_identity(path)
    if ident is None:
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, os.path.realpath(path))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (ident, df.schema)
    return df


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
        df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
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

    try:
        files = _parquet_files(os.path.join(sf_dir, f"{name}.parquet"))
        if not files:
            return -1
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return -1


def _column_range(sf_dir: str, name: str, column: str) -> tuple | None:
    """(min, max) of a column over every row group's FOOTER statistics —
    no Spark job, no scan (the pg_stats analog); ``(None, None)`` when
    the files hold no row group.  ``None`` when any row group lacks
    min/max stats, the column is missing or a footer is unreadable: an
    unprovable bound must fail a proof, never pass it."""
    import pyarrow.parquet as pq

    lo = hi = None
    try:
        files = _parquet_files(os.path.join(sf_dir, f"{name}.parquet"))
        if not files:
            return None
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = next(
                (i for i in range(md.num_columns) if md.schema.column(i).name == column),
                None,
            )
            if idx is None:
                return None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                lo = float(st.min) if lo is None else min(lo, float(st.min))
                hi = float(st.max) if hi is None else max(hi, float(st.max))
    except Exception:
        return None
    return lo, hi


def parquet_column_min(sf_dir: str, name: str, column: str) -> float | None:
    """Column minimum from footer row-group statistics (None when any
    row group lacks stats) — proves non-negativity for integer HALF_UP
    rounding in the int64-cents path."""
    rng = _column_range(sf_dir, name, column)
    return None if rng is None else rng[0]


def parquet_column_absmax(sf_dir: str, name: str, column: str) -> float | None:
    """max(|min|, |max|) of a numeric column from footer row-group
    statistics.

    Feeds the int64-cents overflow proof
    (:func:`car_etl_spark.queries.parity.int64_cents_safe`).  Returns
    ``None`` when any row group lacks min/max stats (or the footer is
    unreadable), so callers fall back to the always-correct decimal
    path."""
    rng = _column_range(sf_dir, name, column)
    if rng is None:
        return None
    return 0.0 if rng[0] is None else max(abs(rng[0]), abs(rng[1]))


def parquet_sum_bound(sf_dir: str, name: str, column: str) -> tuple[int, float | None]:
    """(row count, max |value| of ``column``) from footer metadata — the
    two inputs of :func:`car_etl_spark.queries.parity.int64_cents_safe`
    for sums of one column.  The column statistics are not walked when
    the row count is unknown (-1): that alone fails the proof."""
    n = parquet_rowcount(sf_dir, name)
    return n, (parquet_column_absmax(sf_dir, name, column) if n >= 0 else None)
