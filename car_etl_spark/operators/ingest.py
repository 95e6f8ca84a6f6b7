"""Ingest operators: bulk ZIP explode and parser routing with fallback.

S3 (reference ``src/services/bulk_upload.py:88-363``): ZIP validation
(size / member count / zip-bomb ratio) then member explode — real
implementation via stdlib ``zipfile`` inside ``mapInPandas`` (one output
row per member, the UDTF shape).

S7 (reference ``src/extraction/router.py:189-240`` +
``config/parser_routes.yaml``): MIME-dispatched parser chain with
wildcard match and ordered fallback — parse attempts are expressed as a
``coalesce`` over per-parser result columns, so "try the next parser"
is one projection, not a driver-side loop.
"""

from __future__ import annotations

import hashlib
import io
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# S3 validation limits — reference bulk_upload.py constants.
MAX_ZIP_MEMBERS = 1000
MAX_MEMBER_BYTES = 100 * 1024 * 1024
MAX_COMPRESSION_RATIO = 100.0  # zip-bomb guard

ZIP_MEMBER_SCHEMA = StructType(
    [
        StructField("archive_path", StringType()),
        StructField("member_name", StringType()),
        StructField("member_bytes", BinaryType()),
        StructField("member_size", LongType()),
        StructField("member_hash", StringType()),
        StructField("rejected_reason", StringType()),
    ]
)


def explode_zip_members(archives: DataFrame) -> DataFrame:
    """S3: one row per ZIP member with per-member validation verdicts.

    Input needs (path, content).  Invalid members (oversized,
    bomb-ratio) surface as rows with ``rejected_reason`` instead of
    silently disappearing — the audit trail the reference keeps.
    """

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                content = bytes(row["content"] or b"")
                try:
                    zf = zipfile.ZipFile(io.BytesIO(content))
                    infos = zf.infolist()
                except zipfile.BadZipFile:
                    rows.append(
                        {
                            "archive_path": row["path"],
                            "member_name": None,
                            "member_bytes": None,
                            "member_size": 0,
                            "member_hash": None,
                            "rejected_reason": "bad_zip",
                        }
                    )
                    continue
                if len(infos) > MAX_ZIP_MEMBERS:
                    rows.append(
                        {
                            "archive_path": row["path"],
                            "member_name": None,
                            "member_bytes": None,
                            "member_size": 0,
                            "member_hash": None,
                            "rejected_reason": "too_many_members",
                        }
                    )
                    continue
                for info in infos:
                    if info.is_dir():
                        continue
                    reason = None
                    if info.file_size > MAX_MEMBER_BYTES:
                        reason = "member_too_large"
                    elif info.compress_size > 0 and (
                        info.file_size / info.compress_size > MAX_COMPRESSION_RATIO
                    ):
                        reason = "suspicious_compression_ratio"
                    data = None if reason else zf.read(info.filename)
                    rows.append(
                        {
                            "archive_path": row["path"],
                            "member_name": info.filename,
                            "member_bytes": data,
                            "member_size": info.file_size,
                            "member_hash": hashlib.sha256(data).hexdigest() if data is not None else None,
                            "rejected_reason": reason,
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in ZIP_MEMBER_SCHEMA.fields])

    return archives.mapInPandas(unpack, ZIP_MEMBER_SCHEMA)


# --- Landing sink contract (S2/S5 -> SURVEY §1.2) ---------------------------

#: the dominant pruning columns for landed documents at 100 TB: every
#: serving read is tenant-scoped (the reference's RLS) and most
#: reprocessing is time-ranged, so facts land under
#: ``tenant_id=<t>/ingest_date=<d>/`` and both predicates prune to
#: directories before any file is opened.
LANDING_PARTITIONS: tuple[str, ...] = ("tenant_id", "ingest_date")


def land_documents(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = LANDING_PARTITIONS,
    mode: str = "append",
    zorder_cols: tuple[str, ...] = (),
    bits_per_col: int = 6,
    num_files: int = 32,
) -> None:
    """S2/S5 landing contract: ingested/synced documents land as
    parquet partitioned by (tenant, date) via
    :func:`car_etl_spark.operators.scale.write_partitioned` — append
    mode, so each ingest batch adds its partitions without rewriting
    history.

    ``zorder_cols`` (e.g. ``("doc_id", "file_size")``) additionally
    Z-orders the rows WITHIN each landed partition directory
    (``operators/layout.py`` Morton key over per-batch equi-depth
    edges): directory pruning handles (tenant, date) predicates, and
    the within-directory clustering gives footer min/max skipping on
    the secondary columns — row groups tight on every z-column instead
    of only insertion order.  Edges are per-batch (each append is its
    own z-space; footer stats are per-file, so batches never need a
    shared space)."""
    from car_etl_spark.operators.scale import write_partitioned

    if zorder_cols:
        from car_etl_spark.operators.layout import _stats_timestamps, zorder_staged

        # runs cut on (pcols, z): a big tenant-day splits across MANY
        # tasks/files (parallel write, each file a contiguous z-range
        # inside its directory) instead of hash-collapsing each
        # directory onto one task
        staged, _edges = zorder_staged(
            df, list(zorder_cols), bits_per_col, num_files, partition_cols
        )
        with _stats_timestamps(df):
            write_partitioned(staged, path, partition_cols, mode=mode)
        return
    write_partitioned(df, path, partition_cols, mode=mode)


def read_landed(
    spark,
    path: str,
    tenant_id: str | None = None,
    on_date: str | None = None,
    since_date=None,
) -> DataFrame:
    """Read back the landed table with the pruning predicates applied
    FIRST, so Catalyst turns them into PartitionFilters (directory
    pruning) rather than row filters.  ``since_date`` (inclusive lower
    bound) is the incremental-reader form: a sync batch's idempotency
    readback only needs partitions its own rows could have landed in,
    not the tenant's full history."""
    df = spark.read.parquet(path)
    if tenant_id is not None:
        df = df.filter(F.col("tenant_id") == tenant_id)
    if on_date is not None:
        df = df.filter(F.col("ingest_date") == on_date)
    if since_date is not None:
        df = df.filter(F.col("ingest_date") >= since_date)
    return df


def landing_partition_files(path: str) -> dict[str, int]:
    """Data-file count per landed partition directory — pure filesystem
    stats (no Spark job), the maintenance-policy input.  Keys are
    relative partition paths (``tenant_id=t0/ingest_date=2026-01-01``)."""
    import os

    out: dict[str, int] = {}
    for root, dirs, files in os.walk(path):
        # skip hidden/underscore dirs (in-flight compaction tmps,
        # metadata) — same rule as Spark's file index
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            out[os.path.relpath(root, path)] = n
    return out


def repair_landing(path: str) -> list[str]:
    """Restore partitions stranded by a crash inside
    :func:`optimize_landing`'s two-rename swap (``pdir -> .pdir.old``
    then ``tmp -> pdir``): if the crash landed between the renames, the
    live partition directory is ABSENT and the complete old data sits
    under the hidden ``.<leaf>.old`` name, which Spark's partition
    discovery skips — readers would silently miss the partition.

    For every stranded ``.<leaf>.old`` whose live ``<leaf>`` is missing,
    rename it back; leftover ``.<leaf>.compact.tmp`` dirs (incomplete
    rewrites) are deleted.  Idempotent; returns the restored relative
    partition paths.  Run at maintenance startup —
    :func:`optimize_landing` calls it first."""
    import os
    import shutil

    restored: list[str] = []
    for root, dirs, _files in os.walk(path):
        # visit hidden dirs at THIS level but don't descend into them
        hidden = [d for d in dirs if d.startswith(".")]
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for d in hidden:
            full = os.path.join(root, d)
            if d.endswith(".compact.tmp"):
                shutil.rmtree(full, ignore_errors=True)
                continue
            if d.endswith(".old"):
                leaf = d[1 : -len(".old")]
                live = os.path.join(root, leaf)
                if not os.path.isdir(live):
                    os.rename(full, live)
                    restored.append(os.path.relpath(live, path))
                else:
                    # live dir present -> the tmp->live rename completed
                    # (renames are atomic), so this .old is a stale full
                    # copy from a crash between the rename and cleanup.
                    # The compacted partition may now sit below the file
                    # threshold forever, so optimize_landing would never
                    # revisit it — drop the duplicate here or it leaks
                    # disk unboundedly (hidden from readers, so no
                    # correctness impact either way).
                    shutil.rmtree(full, ignore_errors=True)
    return restored


def optimize_landing(
    spark,
    path: str,
    tenant_id: str | None = None,
    since_date=None,
    max_files: int = 8,
    target_files: int = 1,
    zorder_cols: tuple[str, ...] = (),
    bits_per_col: int = 6,
) -> dict:
    """Small-file compaction for the landed layout — the lake OPTIMIZE
    primitive the append-per-batch landing contract needs at scale:
    every sync appends a few files per touched partition, so a
    tenant-day accumulates file counts that tax listing, footers, and
    task scheduling long before data volume does.

    Each qualifying partition directory (> ``max_files`` data files,
    restricted to one tenant and/or a date lower bound — maintenance is
    tenant-scopable like every other store here) is rewritten to
    ``target_files`` files, optionally Z-ORDERED on ``zorder_cols``
    (per-partition equi-depth edges; gives appended-batch data the same
    footer-skipping property `land_documents(zorder_cols=...)` writes),
    then swapped in via two renames (pdir -> .old, tmp -> pdir).  The
    data is never lost, but the window BETWEEN the renames is not
    atomic: a crash there leaves the live directory absent with the
    complete old data under the hidden ``.old`` name — so this function
    (and any maintenance entry point) runs :func:`repair_landing` first,
    which restores stranded partitions and clears dead tmps before the
    file census.  Partitions at or under the threshold are untouched,
    so re-runs are idempotent no-ops.  Single-writer assumption, like
    all maintenance here: don't compact a partition a sync is
    concurrently appending to.

    Returns ``{partition: (files_before, files_after)}``."""
    import os
    import shutil

    repair_landing(path)
    todo = []
    for rel, n in landing_partition_files(path).items():
        parts = dict(
            seg.split("=", 1) for seg in rel.split(os.sep) if "=" in seg
        )
        if tenant_id is not None and parts.get("tenant_id") != str(tenant_id):
            continue
        if since_date is not None and parts.get("ingest_date", "") < str(since_date):
            continue
        if n > max_files:
            todo.append((rel, n))

    report: dict[str, tuple[int, int]] = {}
    for rel, n_before in sorted(todo):
        pdir = os.path.join(path, rel)
        # tmp/old live beside the partition dir under HIDDEN names:
        # Spark's partition discovery ignores dot-prefixed directories,
        # so a concurrent reader never sees the in-flight layouts as
        # bogus partition values
        parent, leaf = os.path.dirname(pdir), os.path.basename(pdir)
        tmp = os.path.join(parent, f".{leaf}.compact.tmp")
        old = os.path.join(parent, f".{leaf}.old")
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        # read the directory directly: rows come back WITHOUT partition
        # columns (they live in the directory name), which is exactly
        # what the rewritten files must contain
        rows = spark.read.parquet(pdir)
        if zorder_cols:
            from car_etl_spark.operators.layout import _stats_timestamps, zorder_staged

            staged, _edges = zorder_staged(
                rows, list(zorder_cols), bits_per_col, target_files, ()
            )
            with _stats_timestamps(rows):
                staged.write.mode("overwrite").parquet(tmp)
        else:
            rows.coalesce(target_files).write.mode("overwrite").parquet(tmp)
        os.rename(pdir, old)
        os.rename(tmp, pdir)
        shutil.rmtree(old, ignore_errors=True)
        n_after = sum(
            1 for f in os.listdir(pdir) if f.endswith(".parquet")
        )
        report[rel] = (n_before, n_after)
    return report


# --- S7 parser routing -----------------------------------------------------

# Ordered route table (first match wins), wildcard supported — the shape
# of config/parser_routes.yaml.
PARSER_ROUTES: list[tuple[str, tuple[str, ...]]] = [
    ("application/pdf", ("pdf_text", "ocr_stub")),
    ("text/*", ("plain_text",)),
    ("image/*", ("ocr_stub",)),
    ("application/zip", ()),  # containers explode, not parse
]
DEFAULT_CHAIN: tuple[str, ...] = ("plain_text",)


def _mime_matches(mime_col: Column, pattern: str) -> Column:
    if pattern.endswith("/*"):
        return F.split(mime_col, "/").getItem(0) == pattern.split("/")[0]
    return mime_col == pattern


def route_parser_chain(mime_col: Column) -> Column:
    """S7/F30: MIME (+wildcard) -> ordered parser chain as an array
    column; downstream tries each in order."""
    expr = None
    for pattern, chain in PARSER_ROUTES:
        cond = _mime_matches(mime_col, pattern)
        val = F.array(*[F.lit(p) for p in chain])
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr.otherwise(F.array(*[F.lit(p) for p in DEFAULT_CHAIN]))


def _parse_plain_text(content: Column) -> Column:
    """Real parser: decode UTF-8 text bytes; NULL on non-text content."""
    decoded = content.try_cast("string")
    return F.when(decoded.rlike(r"^[\x09\x0a\x0d\x20-\x7e -￿]*$"), decoded)


def _parse_pdf_text(content: Column) -> Column:
    """PDF text layer stub: extracts printable tail after the header for
    deterministic testing (a real impl is an external-service pandas_udf,
    §2.1 S9)."""
    is_pdf = F.substring(content, 1, 4) == F.lit(b"%PDF")
    body = content.try_cast("string")
    return F.when(is_pdf & body.isNotNull(), F.regexp_replace(body, r"[^\x20-\x7e]", " "))


def _parse_ocr_stub(content: Column) -> Column:
    """OCR stub: deterministic placeholder derived from the content hash
    (real engine: external service boundary)."""
    return F.concat(F.lit("[ocr:"), F.substring(F.sha2(content, 256), 1, 12), F.lit("]"))


PARSERS = {
    "plain_text": _parse_plain_text,
    "pdf_text": _parse_pdf_text,
    "ocr_stub": _parse_ocr_stub,
}


def route_and_parse(media: DataFrame, content_col: str = "content") -> DataFrame:
    """S7: dispatch + fallback chain as one projection.

    For each row, the routed chain's parsers are attempted in order;
    ``parsed_text`` is the first non-null result (coalesce), and
    ``parser_used`` records which one won — the reference's fallback
    loop without any driver-side iteration.
    """
    chain = route_parser_chain(F.col("mime_type"))
    out = media.withColumn("parser_chain", chain)
    # Build per-parser attempt columns once; select the first success in
    # chain order via a bounded coalesce over chain positions.
    attempts = {
        name: fn(F.col(content_col)).alias(f"__try_{name}") for name, fn in PARSERS.items()
    }
    out = out.select("*", *attempts.values())

    max_chain = max(len(c) for _, c in PARSER_ROUTES + [("", DEFAULT_CHAIN)])
    slot_results = []
    slot_names = []
    for i in range(max_chain):
        # try_element_at: shorter chains return NULL at higher slots
        # (plain element_at THROWS under ANSI mode for out-of-bounds)
        parser_at_i = F.try_element_at(F.col("parser_chain"), F.lit(i + 1))
        result_at_i = None
        for name in PARSERS:
            cond = parser_at_i == name
            r = F.when(cond, F.col(f"__try_{name}"))
            result_at_i = r if result_at_i is None else F.coalesce(result_at_i, r)
        slot_results.append(result_at_i)
        slot_names.append(F.when(result_at_i.isNotNull(), parser_at_i))
    parsed = F.coalesce(*slot_results) if slot_results else F.lit(None)
    used = F.coalesce(*slot_names) if slot_names else F.lit(None)
    return out.select(
        *[c for c in media.columns],
        "parser_chain",
        parsed.alias("parsed_text"),
        used.alias("parser_used"),
    )
