"""Z-order (Morton-curve) file layout for multi-column data skipping.

Partitioned directories (``scale.write_partitioned``) prune on the
partition column; a linear ``sortWithinPartitions`` layout prunes
row-groups on the leading sort column ONLY.  A lake table queried by
more than one dimension — events by time AND user, chunks by tenant AND
recency — needs min/max footer statistics that are tight on EVERY query
column, which is what interleaving the columns' bits into one sort key
(the Databricks Delta ``OPTIMIZE ZORDER`` idea, public since the 2018
blog and the Morton 1966 curve itself) provides: clustering by the
interleaved key bounds each participating column's spread within each
file, so footer pruning works for predicates on any subset of the
z-columns at a (bounded) cost to single-column locality.

Spark-first mechanics, no Delta dependency:

- **equi-depth binning**: each column is ranked into ``2^bits_per_col``
  bins via ``approxQuantile`` edges (a driver action at knot grain —
  control-plane, ``cols x bins`` doubles) compiled into a staged
  CASE chain — skew-robust where uniform min/max scaling collapses
  under a hot key.  Edges are computed once per write.
- **bit interleave** as pure integer Column arithmetic
  (shift/and/or literals — whole-stage codegen, no UDF).
- **layout = exact z-runs + repartition + sortWithinPartitions(zkey)**:
  the occupied z cells are counted (one aggregate at cell grain) and cut
  into equi-depth runs by exact counts, so each output file covers a
  contiguous z-range that is a function of the data alone — a range
  partitioner's sampled bounds move with the order rows arrive in.  One
  shuffle; the write itself is embarrassingly parallel.
- **verification reads parquet footers directly** (pyarrow): per-file
  min/max of each z-column, so tests assert the actual skipping
  property — candidate-file fraction under single-column predicates —
  rather than trusting the plan.

Reference behavior covered: the reference leans on Postgres btree/GIN
secondary indexes for its multi-dimensional access paths
(``src/documents/search.py``, ``047_chunk_indexes.sql``); a columnar
lake has no secondary indexes, so layout IS the index — this operator
is that translation, sitting beside the posting/IVF stores which cover
the text/vector access paths.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

MAX_TOTAL_BITS = 62  # interleaved key must stay in a positive BIGINT


class _stats_timestamps:
    """Write-scope guard: INT96 (Spark's default parquet timestamp)
    carries NO footer min/max, which silently disables time-range
    skipping on whatever we just carefully clustered.  The tuned
    session already sets TIMESTAMP_MICROS; this guard makes the layout
    writers correct under a vanilla session too."""

    CONF = "spark.sql.parquet.outputTimestampType"

    def __init__(self, df: DataFrame):
        self.sess = df.sparkSession

    def __enter__(self):
        try:
            self.prev = self.sess.conf.get(self.CONF)
        except Exception:
            self.prev = None
        self.sess.conf.set(self.CONF, "TIMESTAMP_MICROS")

    def __exit__(self, *exc):
        if self.prev is not None:
            self.sess.conf.set(self.CONF, self.prev)


def equidepth_edges(
    df: DataFrame, cols: list[str], bits_per_col: int, relative_error: float = 0.001
) -> dict[str, list[float]]:
    """Per-column equi-depth bin edges (2^bits interior knots) from
    ``approxQuantile`` — Greenwald-Khanna over the executors, one pass,
    driver state = cols x bins doubles (control-plane grain)."""
    bins = 1 << bits_per_col
    probs = [i / bins for i in range(1, bins)]
    numeric = df.select(
        *[F.col(c).cast("double").alias(c) for c in cols]
    )
    edges = numeric.stat.approxQuantile(cols, probs, relative_error)
    return dict(zip(cols, edges))


def _bin_expr(col: Column, edges: list[float]) -> Column:
    """Staged CASE chain mapping a value to its equi-depth bin
    [0, len(edges)] — nulls and NaNs sort to bin 0 so they cluster
    instead of scattering."""
    v = col.cast("double")
    expr = F.lit(len(edges))
    # build from the top edge down so the first matching WHEN wins
    for i in range(len(edges) - 1, -1, -1):
        expr = F.when(v <= F.lit(edges[i]), F.lit(i)).otherwise(expr)
    return F.when(v.isNull() | F.isnan(v), F.lit(0)).otherwise(expr).cast("long")


def zorder_key(edges: dict[str, list[float]], bits_per_col: int) -> Column:
    """The Morton key: per-column equi-depth bin indices, bits
    interleaved column-major (bit j of column i lands at position
    ``j * ncols + i``) — pure literal shift/and/or integer arithmetic,
    stays inside whole-stage codegen."""
    cols = list(edges)
    ncols = len(cols)
    if ncols < 2:
        raise ValueError("z-ordering needs at least 2 columns")
    if bits_per_col * ncols > MAX_TOTAL_BITS:
        raise ValueError(
            f"{ncols} cols x {bits_per_col} bits = {ncols * bits_per_col} "
            f"interleaved bits > {MAX_TOTAL_BITS}"
        )
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        b = _bin_expr(F.col(c), edges[c])
        for j in range(bits_per_col):
            bit = F.shiftright(b, j).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, j * ncols + i))
    return key


def _z_runs(zdf: DataFrame, keys: list[str], num_files: int) -> DataFrame:
    """``(keys..., __part)``: the shuffle partition of every occupied
    ``keys`` cell (partition values + ``__z``), from exact counts.
    Cells walk in key order and cut into ``num_files`` equi-depth runs
    — the range partitioner's contract without its bound sampling.
    ``__part`` is a key Spark's hash partitioner sends to partition
    ``b`` exactly (``pmod(hash(key), n) == b``, the expression the
    exchange evaluates), so ``repartition(num_files, "__part")`` puts
    run ``b`` alone in task ``b``.  One row per occupied cell: at most
    ``2^(bits x cols)`` per partition value, control-plane for the bit
    budgets this layout writes."""
    spark = zdf.sparkSession
    cells = zdf.groupBy(*keys).count().orderBy(*keys).collect()
    total = sum(r["count"] for r in cells)
    key_of = {
        r.p: r.k
        for r in spark.range(64 * num_files)
        .groupBy(F.pmod(F.hash("id"), F.lit(num_files)).alias("p"))
        .agg(F.min("id").alias("k"))
        .collect()
    }
    rows, seen = [], 0
    for r in cells:
        rows.append((*(r[c] for c in keys), key_of[seen * num_files // total]))
        seen += r["count"]
    schema = StructType(
        [zdf.schema[c] for c in keys] + [StructField("__part", LongType())]
    )
    return spark.createDataFrame(rows, schema)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits_per_col: int = 6,
    num_files: int = 32,
    mode: str = "overwrite",
    partition_cols: tuple[str, ...] = (),
) -> dict[str, list[float]]:
    """Re-cluster ``df`` along the Morton curve of ``cols`` and write
    ``num_files`` parquet files, each covering a contiguous z-range.
    Returns the bin edges used (callers persisting incrementally should
    reuse them so new files land in the same z-space).

    ``partition_cols`` (e.g. ``("tenant_id",)``) combines directory
    pruning with z-clustering: the layout becomes
    ``<pcol>=<v>/part-*.parquet`` with files INSIDE each directory
    covering contiguous z-ranges (the runs of :func:`_z_runs` cut
    (pcols..., __z) and the sort leads with the partition columns, so
    FileFormatWriter preserves the z-order into each file).  Bin edges
    stay GLOBAL — one approxQuantile pass, shared z-space — so
    incremental per-partition rewrites stay mutually comparable; a
    tenant whose value distribution diverges wildly re-clusters alone
    by passing its own slice."""
    edges = equidepth_edges(df, cols, bits_per_col)
    keys = [*partition_cols, "__z"]
    zdf = df.withColumn("__z", zorder_key(edges, bits_per_col))
    runs = _z_runs(zdf, keys, num_files)
    staged = (
        zdf.join(F.broadcast(runs), [zdf[c].eqNullSafe(runs[c]) for c in keys])
        .drop(*[runs[c] for c in keys])
        .repartition(num_files, "__part")
        .sortWithinPartitions(*partition_cols, "__z")
        .drop("__z", "__part")
    )
    with _stats_timestamps(df):
        w = staged.write.mode(mode)
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(path)
    return edges


def write_linear(
    df: DataFrame, path: str, sort_col: str, num_files: int = 32, mode: str = "overwrite"
) -> None:
    """The single-column baseline layout (range-partition + sort on one
    column) — what z-order is measured against."""
    with _stats_timestamps(df):
        (
            df.repartitionByRange(num_files, F.col(sort_col))
            .sortWithinPartitions(sort_col)
            .write.mode(mode)
            .parquet(path)
        )


def file_column_ranges(path: str, cols: list[str]) -> list[dict[str, tuple]]:
    """Per-file (min, max) of each column from the parquet FOOTERS —
    the statistics a scan's file/row-group skipping actually uses."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        ranges: dict[str, tuple] = {}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                cname = col.path_in_schema
                if cname not in cols or col.statistics is None:
                    continue
                st = col.statistics
                lo, hi = ranges.get(cname, (st.min, st.max))
                ranges[cname] = (min(lo, st.min), max(hi, st.max))
        out.append(ranges)
    return out


def _cmp(v):
    """Comparison canonicalizer: footer timestamp stats come back
    tz-aware (UTC) while Spark collect() yields naive session-UTC
    datetimes — strip the tz so both compare on the same axis."""
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def candidate_file_fraction(
    ranges: list[dict[str, tuple]], col: str, lo, hi
) -> float:
    """Fraction of files whose footer [min, max] on ``col`` overlaps
    [lo, hi] — the files a stats-pruning scan must read."""
    lo, hi = _cmp(lo), _cmp(hi)
    hits = sum(
        1
        for r in ranges
        if col in r and not (_cmp(r[col][1]) < lo or _cmp(r[col][0]) > hi)
    )
    return hits / max(len(ranges), 1)


def prune_fraction_report(
    spark: SparkSession, path: str, probes: dict[str, tuple]
) -> dict[str, float]:
    """{col: candidate fraction} for one probe range per column."""
    ranges = file_column_ranges(path, list(probes))
    return {
        c: candidate_file_fraction(ranges, c, lo, hi) for c, (lo, hi) in probes.items()
    }
