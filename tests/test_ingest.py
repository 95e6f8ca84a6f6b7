"""Tests for bulk-ZIP explode (S3) and parser routing/fallback (S7)."""

from __future__ import annotations

import io
import os
import shutil
import tempfile
import zipfile

import pytest
from pyspark.sql import functions as F

from car_etl_spark.operators import ingest as I
from car_etl_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def zip_dir():
    d = tempfile.mkdtemp(prefix="car-etl-zip-")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("a.txt", "hello from member a")
        zf.writestr("sub/b.txt", "second member")
        zf.writestr("bomb.bin", b"\x00" * 200000)  # compresses ~1000x
    with open(os.path.join(d, "bundle.zip"), "wb") as f:
        f.write(buf.getvalue())
    with open(os.path.join(d, "not_a.zip"), "wb") as f:
        f.write(b"PK\x03\x04 truncated garbage")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_zip_explode_members_and_guards(spark, zip_dir):
    archives = spark.read.format("binaryFile").load(zip_dir)
    members = I.explode_zip_members(archives.select("path", "content")).collect()
    by_name = {r.member_name: r for r in members if r.member_name}
    assert by_name["a.txt"].member_bytes == b"hello from member a"
    assert by_name["a.txt"].rejected_reason is None
    assert len(by_name["a.txt"].member_hash) == 64
    assert by_name["sub/b.txt"].member_size == 13
    # zip-bomb guard: member present but rejected, bytes withheld
    assert by_name["bomb.bin"].rejected_reason == "suspicious_compression_ratio"
    assert by_name["bomb.bin"].member_bytes is None
    # corrupt archive -> explicit bad_zip row
    bad = [r for r in members if r.rejected_reason == "bad_zip"]
    assert len(bad) == 1


def test_parser_routing_wildcards(spark):
    df = spark.createDataFrame(
        [("application/pdf",), ("text/plain",), ("text/csv",), ("image/png",), ("application/json",)],
        ["mime_type"],
    )
    rows = df.select(
        "mime_type", I.route_parser_chain(F.col("mime_type")).alias("chain")
    ).collect()
    chains = {r.mime_type: r.chain for r in rows}
    assert chains["application/pdf"] == ["pdf_text", "ocr_stub"]
    assert chains["text/plain"] == ["plain_text"]
    assert chains["text/csv"] == ["plain_text"]  # wildcard text/*
    assert chains["image/png"] == ["ocr_stub"]  # wildcard image/*
    assert chains["application/json"] == ["plain_text"]  # default


def test_route_and_parse_fallback(spark):
    rows = [
        ("pdf_ok", "application/pdf", b"%PDF-1.7 Lease Agreement body"),
        ("pdf_binary", "application/pdf", b"%PDF\x01\x02\xff\xfebinary"),
        ("text_ok", "text/plain", b"plain text content"),
        ("image", "image/png", b"\x89PNG....bytes"),
    ]
    media = spark.createDataFrame(rows, ["name", "mime_type", "content"])
    out = {r.name: r for r in I.route_and_parse(media).collect()}
    assert out["pdf_ok"].parser_used == "pdf_text"
    assert "Lease Agreement" in out["pdf_ok"].parsed_text
    assert out["text_ok"].parser_used == "plain_text"
    assert out["text_ok"].parsed_text == "plain text content"
    # image routes straight to the OCR stub
    assert out["image"].parser_used == "ocr_stub"
    assert out["image"].parsed_text.startswith("[ocr:")
    # a PDF whose text layer fails falls back to the OCR stub
    assert out["pdf_binary"].parser_used in ("pdf_text", "ocr_stub")
    assert out["pdf_binary"].parsed_text is not None


# ---------------------------------------------------------------------------
# S8: nested extracted-table operator (ExtractedTable{headers, rows})


def test_extracted_tables_explode_and_cell_access(spark):
    from car_etl_spark.operators import extraction_tables as X

    nested = spark.createDataFrame(
        [
            (
                "ext1",
                "rent_roll",
                ["unit", "tenant", "rent"],
                [["101", "Acme", "1200.00"], ["102", "Globex", "1350.50"]],
                1,
                0.95,
            ),
            ("ext2", "empty_sheet", ["a"], [], None, 1.0),
            # different header vocabulary — cell() must resolve per row
            ("ext3", "expenses", ["rent", "opex"], [["900.00", "50.00"]], 2, 1.0),
        ],
        f"extraction_id string, {X.EXTRACTED_TABLE_SCHEMA}",
    )
    child = X.explode_extracted_tables(nested, "extraction_id")
    rows = child.select(
        "extraction_id",
        "table_name",
        "row_index",
        X.cell("rent").alias("rent"),
        X.cell("tenant").alias("tenant"),
        X.cell("missing_header").alias("absent"),
    ).orderBy("extraction_id", "row_index").collect()
    # empty rows array -> no child rows (ext2 disappears, like an empty sheet)
    assert [r.extraction_id for r in rows] == ["ext1", "ext1", "ext3"]
    assert [r.row_index for r in rows] == [0, 1, 0]
    # header-aligned access follows each row's own vocabulary
    assert [r.rent for r in rows] == ["1200.00", "1350.50", "900.00"]
    assert [r.tenant for r in rows] == ["Acme", "Globex", None]
    assert all(r.absent is None for r in rows)
    # row_index is long (driver schema contract)
    assert dict(child.dtypes)["row_index"] == "bigint"


# ---------------------------------------------------------------------------
# Landing sink contract (S2/S5 -> SURVEY §1.2)


def test_landing_partition_pruning_two_tenants_two_days(spark, tmp_path):
    """Landed documents partition by (tenant, date); a tenant+date read
    prunes to ONE directory before opening any file, and appends add
    partitions without rewriting history."""
    from datetime import date

    df = spark.createDataFrame(
        [
            ("t1", date(2026, 1, 1), "d1"),
            ("t1", date(2026, 1, 2), "d2"),
            ("t2", date(2026, 1, 1), "d3"),
            ("t2", date(2026, 1, 2), "d4"),
        ],
        "tenant_id string, ingest_date date, doc string",
    )
    path = str(tmp_path / "landing")
    I.land_documents(df, path)
    I.land_documents(df.withColumn("doc", F.concat(F.col("doc"), F.lit("x"))), path)
    # the directory layout IS the contract
    assert (tmp_path / "landing" / "tenant_id=t1" / "ingest_date=2026-01-01").is_dir()
    got = I.read_landed(spark, path, tenant_id="t1", on_date="2026-01-01")
    assert sorted(r.doc for r in got.collect()) == ["d1", "d1x"]
    plan = got._jdf.queryExecution().executedPlan().toString()
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert pf and "tenant_id" in pf[0] and "ingest_date" in pf[0], plan[:2000]
    assert "PartitionFilters: []" not in plan
    # incremental-readback form: since_date prunes history partitions
    # by directory (>= bound), the ConnectorSync idempotency path
    inc = I.read_landed(spark, path, tenant_id="t1", since_date="2026-01-02")
    assert sorted(r.doc for r in inc.collect()) == ["d2", "d2x"]
    plan2 = inc._jdf.queryExecution().executedPlan().toString()
    pf2 = [line for line in plan2.splitlines() if "PartitionFilters" in line]
    assert pf2 and "ingest_date" in pf2[0], plan2[:2000]


def test_ingest_binary_dir_carries_landing_partition_columns(spark, zip_dir):
    """The S2 scan produces both halves of the landing partition key."""
    media = M.ingest_binary_dir(spark, zip_dir, tenant_id="t7")
    rows = media.select("tenant_id", "ingest_date").collect()
    assert rows and all(r.tenant_id == "t7" and r.ingest_date is not None for r in rows)
    assert dict(media.dtypes)["ingest_date"] == "date"


def test_landing_zorder_secondary_column_skipping(spark, tmp_path):
    """land_documents(zorder_cols=...) makes footer min/max skipping on
    the SECONDARY columns real inside a landed partition: a narrow
    file_size probe touches a strictly smaller fraction of t0's files
    than under the plain landing of the same rows, while the partition
    pruning contract is unchanged."""
    from datetime import date

    from car_etl_spark.operators.layout import candidate_file_fraction, file_column_ranges

    n = 20_000
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.lit("t0").alias("tenant_id"),
            F.lit(date(2026, 2, 1)).alias("ingest_date"),
            ((F.col("id") * 37) % 10_000).alias("file_size"),
        )
        .repartition(8)  # shuffled input: plain landing has no order
    )
    plain, zed = str(tmp_path / "plain"), str(tmp_path / "zed")
    I.land_documents(df, plain)
    I.land_documents(df, zed, zorder_cols=("doc_id", "file_size"), num_files=8)
    pdir = f"{plain}/tenant_id=t0/ingest_date=2026-02-01"
    zdir = f"{zed}/tenant_id=t0/ingest_date=2026-02-01"
    probe = (4000, 4400)  # narrow file_size band
    f_plain = candidate_file_fraction(
        file_column_ranges(pdir, ["file_size"]), "file_size", *probe
    )
    f_z = candidate_file_fraction(
        file_column_ranges(zdir, ["file_size"]), "file_size", *probe
    )
    assert f_plain == 1.0  # every unordered file spans the probe
    assert f_z < 0.6, (f_plain, f_z)
    # same rows, and directory pruning still engages
    got = I.read_landed(spark, zed, tenant_id="t0", on_date="2026-02-01")
    assert got.count() == n
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "PartitionFilters: []" not in plan


def test_landing_zorder_is_deterministic(spark, tmp_path):
    """Landing the same frame twice writes the same z-ordered files:
    per directory, the files' ``__z`` ranges (the Morton key recomputed
    from each file's rows) are identical — the staging cuts exact runs
    from cell counts instead of range bounds sampled from the rows."""
    from datetime import date

    from car_etl_spark.operators.layout import equidepth_edges, zorder_key

    cols = ["doc_id", "file_size"]
    df = (
        spark.range(4000)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("t"), (F.col("id") % 2).cast("string")).alias("tenant_id"),
            F.lit(date(2026, 2, 1)).alias("ingest_date"),
            ((F.col("id") * 37) % 1000).alias("file_size"),
        )
        .repartition(4)
    )
    edges = equidepth_edges(df, cols, 6)

    def z_ranges(path):
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    z = spark.read.parquet(os.path.join(root, f)).select(
                        zorder_key(edges, 6).alias("z")
                    )
                    lo, hi = z.agg(F.min("z"), F.max("z")).first()
                    out.setdefault(os.path.relpath(root, path), []).append((lo, hi))
        return {d: sorted(r) for d, r in out.items()}

    first, second = str(tmp_path / "first"), str(tmp_path / "second")
    for path in (first, second):
        I.land_documents(df, path, zorder_cols=tuple(cols), num_files=4)
    got = z_ranges(first)
    assert sum(len(r) for r in got.values()) > len(got)  # several files per dir
    assert got == z_ranges(second)


def test_optimize_landing_compacts_atomically(spark, tmp_path):
    """Small-file compaction: multi-batch appends leave many files per
    partition; optimize_landing rewrites qualifying partitions to
    target_files with the row set byte-preserved, leaves compliant and
    out-of-scope partitions untouched, is an idempotent no-op on rerun,
    and cleans up a crashed run's leftover tmp layout."""
    import os
    from datetime import date

    def batch(i):
        return spark.range(i * 100, i * 100 + 100).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("t"), (F.col("id") % 2).cast("string")).alias("tenant_id"),
            F.lit(date(2026, 3, 1)).alias("ingest_date"),
            ((F.col("id") * 37) % 500).alias("file_size"),
        ).repartition(3)

    path = str(tmp_path / "landing")
    for i in range(4):  # 4 appends x 3 files = 12 files per partition
        I.land_documents(batch(i), path)
    stats = I.landing_partition_files(path)
    assert all(n == 12 for n in stats.values()), stats
    before = spark.read.parquet(path)
    n_rows, chk = before.count(), before.agg(F.sum("doc_id")).collect()[0][0]

    # tenant-scoped: only t0 compacts; t1 untouched
    report = I.optimize_landing(spark, path, tenant_id="t0", target_files=2)
    key0 = os.path.join("tenant_id=t0", "ingest_date=2026-03-01")
    key1 = os.path.join("tenant_id=t1", "ingest_date=2026-03-01")
    assert report == {key0: (12, 2)}
    stats = I.landing_partition_files(path)
    assert stats[key0] == 2 and stats[key1] == 12
    after = spark.read.parquet(path)
    assert after.count() == n_rows
    assert after.agg(F.sum("doc_id")).collect()[0][0] == chk
    # rerun: t0 now compliant -> no-op
    assert I.optimize_landing(spark, path, tenant_id="t0", target_files=2) == {}

    # crashed-run leftover tmp is invisible to stats and cleaned on retry
    leftover = os.path.join(path, "tenant_id=t1", ".ingest_date=2026-03-01.compact.tmp")
    os.makedirs(leftover)
    assert key1 in I.landing_partition_files(path)
    report = I.optimize_landing(
        spark, path, zorder_cols=("doc_id", "file_size"), target_files=4
    )
    assert report[key1][0] == 12 and not os.path.isdir(leftover)
    # z-ordered compaction: footer skipping now real inside t1's dir
    from car_etl_spark.operators.layout import candidate_file_fraction, file_column_ranges

    ranges = file_column_ranges(os.path.join(path, key1), ["doc_id"])
    assert len(ranges) == 4
    assert candidate_file_fraction(ranges, "doc_id", 150, 190) < 1.0
    final = spark.read.parquet(path)
    assert final.count() == n_rows and final.agg(F.sum("doc_id")).collect()[0][0] == chk


def test_repair_landing_restores_stranded_swap(spark, tmp_path):
    """A crash between optimize_landing's two renames leaves the live
    partition dir absent with the data under .<leaf>.old — invisible to
    partition discovery.  repair_landing restores it (and the next
    optimize_landing run self-heals before its file census)."""
    from datetime import date

    path = str(tmp_path / "landing")
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), (F.col("id") % 2).cast("string")).alias("tenant_id"),
        F.lit(date(2026, 3, 1)).alias("ingest_date"),
    )
    I.land_documents(df, path)
    n_rows = spark.read.parquet(path).count()
    # simulate the crash window: live dir renamed away, tmp incomplete
    pdir = os.path.join(path, "tenant_id=t0", "ingest_date=2026-03-01")
    parent = os.path.dirname(pdir)
    os.rename(pdir, os.path.join(parent, ".ingest_date=2026-03-01.old"))
    os.makedirs(os.path.join(parent, ".ingest_date=2026-03-01.compact.tmp"))
    # readers now silently miss the partition
    assert spark.read.parquet(path).count() < n_rows
    restored = I.repair_landing(path)
    assert restored == [os.path.join("tenant_id=t0", "ingest_date=2026-03-01")]
    assert spark.read.parquet(path).count() == n_rows
    assert not os.path.isdir(os.path.join(parent, ".ingest_date=2026-03-01.compact.tmp"))
    # idempotent; a healthy tree is a no-op
    assert I.repair_landing(path) == []
    # an .old beside a LIVE dir is a stale full copy from a crash
    # BETWEEN the tmp->live rename and the old-dir cleanup (renames are
    # atomic, so a present live dir is complete) — repair drops it, or
    # it leaks disk forever: the compacted partition can sit below the
    # file threshold so optimize_landing never revisits it (ADVICE r8)
    stale = os.path.join(parent, ".ingest_date=2026-03-01.old")
    os.makedirs(stale)
    assert I.repair_landing(path) == []
    assert not os.path.isdir(stale), "stale .old duplicate must be removed"
    assert spark.read.parquet(path).count() == n_rows
