"""r13 int64-cents fast path: bit-identical to the DECIMAL(30,6) forms.

The proof in parity.py's block comment is exercised here empirically:
csum/csum_raw/cavg must equal dsum/dsum_raw/davg on money-shaped data
(<= 6 true decimals, |v| < 1e8), including negatives, many groups, and
derived product expressions; the footer guard must refuse unprovable
inputs; and the queries that switch on the guard must return identical
frames under both paths.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from car_etl_spark.queries.parity import (
    cavg,
    csum,
    csum_raw,
    davg,
    dsum,
    dsum_raw,
    int64_cents_safe,
)
from tests.conftest import SF_SMALL


def _money_df(spark):
    # 2-decimal money values (the corpus contract), both signs, plus a
    # 6-decimal product column and values at rounding ties (x.xx5)
    rows = []
    for i in range(4000):
        v = round(((i * 7919) % 100000) / 100.0 - 250.0, 2)
        w = round(((i * 104729) % 1000) / 10000.0, 4)  # 4-dp weight
        rows.append((i % 7, v, w))
    return spark.createDataFrame(rows, "g int, v double, w double")


def test_csum_family_bit_identical(spark):
    df = _money_df(spark)
    prod = F.col("v") * (1 - F.col("w"))  # 6 true decimals
    agg = df.groupBy("g").agg(
        dsum(F.col("v")).alias("d_sum"),
        csum(F.col("v")).alias("c_sum"),
        dsum(prod).alias("d_prod"),
        csum(prod).alias("c_prod"),
        dsum_raw(F.col("v")).alias("d_raw"),
        csum_raw(F.col("v")).alias("c_raw"),
        davg(F.col("v")).alias("d_avg"),
        cavg(F.col("v")).alias("c_avg"),
        davg(F.col("w"), 6).alias("d_avg6"),
        cavg(F.col("w"), 6).alias("c_avg6"),
    )
    for r in agg.collect():
        assert r["d_sum"] == r["c_sum"], r
        assert r["d_prod"] == r["c_prod"], r
        assert r["d_raw"] == r["c_raw"], r
        assert r["d_avg"] == r["c_avg"], r
        assert r["d_avg6"] == r["c_avg6"], r


def test_int64_cents_guard_refuses_unprovable():
    assert int64_cents_safe(1000, 100.0)
    assert not int64_cents_safe(None, 100.0)      # unknown rows
    assert not int64_cents_safe(-1, 100.0)        # unreadable footer
    assert not int64_cents_safe(1000, None)       # no column stats
    assert not int64_cents_safe(1000, 1e9)        # extraction bound
    assert not int64_cents_safe(10**13, 1e6)      # int64 overflow
    # the 100 TB shape: 10^12 rows of ~10^5 money must use decimal
    assert not int64_cents_safe(10**12, 1.3e5)


def test_q1_guard_engages_and_matches_decimal_path(spark):
    """The guarded query must equal the forced-decimal form row-for-row
    at a scale where the int64 path engages."""
    from car_etl_spark.queries import relational as R
    from car_etl_spark.queries.parity import money_fns

    assert R._q1_int64_ok(SF_SMALL), "guard should engage on the test corpus"
    fast = R.q1_pricing_summary(spark, SF_SMALL).collect()
    # rebuild with the decimal fns by monkey-patching the guard
    orig = R._q1_int64_ok
    R._q1_int64_ok = lambda sf_dir: False
    try:
        slow = R.q1_pricing_summary(spark, SF_SMALL).collect()
    finally:
        R._q1_int64_ok = orig
    assert fast == slow


def test_sessionize_int_path_matches_decimal_path(spark):
    from car_etl_spark.queries import eventsq as E

    fast = E.events_sessionize(spark, SF_SMALL).collect()
    orig = E.int64_cents_safe
    E.int64_cents_safe = lambda n, m: False
    try:
        slow = E.events_sessionize(spark, SF_SMALL).collect()
    finally:
        E.int64_cents_safe = orig
    assert fast == slow


def test_multires_int_cascade_matches_decimal_cascade(spark):
    from car_etl_spark.queries import eventsq as E

    fast = E.events_multires_rollup(spark, SF_SMALL).collect()
    orig = E.int64_cents_safe
    E.int64_cents_safe = lambda n, m: False
    try:
        slow = E.events_multires_rollup(spark, SF_SMALL).collect()
    finally:
        E.int64_cents_safe = orig
    assert fast == slow


def test_q1_guard_on_multifile_lineitem_and_missing_stats(spark, tmp_path, monkeypatch):
    """A directory layout engages the cents path when every part file's
    footer proves the bound, and falls back to the decimal path when
    one part file carries no min/max statistics; the result is the
    single-file corpus's either way.  An unknown row count fails the
    proof before any column statistics are walked."""
    import pyarrow.parquet as pq

    from car_etl_spark import tables as T
    from car_etl_spark.queries import relational as R

    li = pq.read_table(f"{SF_SMALL}/lineitem.parquet")
    half = li.num_rows // 2
    table = tmp_path / "lineitem.parquet"
    table.mkdir()
    pq.write_table(li.slice(0, half), str(table / "part-0.parquet"))
    pq.write_table(li.slice(half), str(table / "part-1.parquet"))
    want = R.q1_pricing_summary(spark, SF_SMALL).collect()

    assert R._lineitem_money_bound(str(tmp_path))[0] == li.num_rows
    assert R._q1_int64_ok(str(tmp_path)), "every part file carries stats"
    assert R.q1_pricing_summary(spark, str(tmp_path)).collect() == want

    pq.write_table(li.slice(half), str(table / "part-1.parquet"), write_statistics=False)
    assert not R._q1_int64_ok(str(tmp_path)), "a part file without stats proves nothing"
    assert R.q1_pricing_summary(spark, str(tmp_path)).collect() == want

    def walked(*_a):
        raise AssertionError("column statistics walked for an unknown row count")

    monkeypatch.setattr(R, "parquet_column_absmax", walked)
    monkeypatch.setattr(T, "parquet_column_absmax", walked)
    missing = str(tmp_path / "missing")
    assert R._lineitem_money_bound(missing) == (-1, None)
    assert T.parquet_sum_bound(missing, "orders", "o_totalprice") == (-1, None)
