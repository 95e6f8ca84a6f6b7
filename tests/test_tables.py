"""``load_tables`` schema memo and the table file identity it keys on.

A second read of unchanged table files must start no Spark job (the
schema is passed in, not inferred again) and return what the first read
returned; any change to a table's parquet files — a file replaced, a
part file added, a part file rewritten in place — must be seen.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from car_etl_spark.queries import prepared
from car_etl_spark.tables import load_tables
from tests.conftest import SF_SMALL


def _jobs(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; returns (result, jobs started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _bump_mtime(path: str, ahead_ns: int = 10**9) -> None:
    """Move a rewritten file's mtime forward, so the identity change does
    not depend on the filesystem's timestamp resolution."""
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + ahead_ns))


def _rows(df):
    return sorted(df.collect(), key=repr)


def test_second_load_starts_no_jobs(spark, tmp_path):
    names = ("orders", "customer")
    for n in names:
        shutil.copy(os.path.join(SF_SMALL, f"{n}.parquet"), tmp_path / f"{n}.parquet")
    first, jobs1 = _jobs(spark, "tables-first", lambda: load_tables(spark, str(tmp_path), names))
    second, jobs2 = _jobs(spark, "tables-second", lambda: load_tables(spark, str(tmp_path), names))
    assert jobs1 > 0, "the first read infers each schema"
    assert jobs2 == 0, f"second load_tables started {jobs2} Spark jobs"
    for n in names:
        assert second[n].schema == first[n].schema
        assert _rows(second[n]) == _rows(first[n])


def test_replaced_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_tables(spark, str(tmp_path), ("region",))["region"].columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    _bump_mtime(path)
    df = load_tables(spark, str(tmp_path), ("region",))["region"]
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_directory_table_keyed_on_part_files(spark, tmp_path):
    table = tmp_path / "nation.parquet"
    table.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), str(table / "part-0.parquet"))
    pq.write_table(pa.table({"k": [3]}), str(table / "part-1.parquet"))
    load_tables(spark, str(tmp_path), ("nation",))
    _, jobs = _jobs(spark, "tables-dir-hit", lambda: load_tables(spark, str(tmp_path), ("nation",)))
    assert jobs == 0
    pq.write_table(pa.table({"k": [4, 5]}), str(table / "part-2.parquet"))
    t, jobs = _jobs(spark, "tables-dir-added", lambda: load_tables(spark, str(tmp_path), ("nation",)))
    assert jobs > 0, "an added part file must be inferred again"
    assert sorted(r.k for r in t["nation"].collect()) == [1, 2, 3, 4, 5]


def test_events_nanos_and_ntz_conversions_survive_the_memo(spark, tmp_path):
    """TIMESTAMP(NANOS) ``ts`` is read as long and truncated to micros;
    a naive (NTZ) timestamp is cast to TIMESTAMP, values unchanged — on
    the inferring read and on the memoized one alike."""
    base_ns = 1_700_000_000_123_456_789
    ts_ns = [base_ns, base_ns + 1_999, base_ns + 86_400 * 10**9 + 7]
    naive = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901), dt.datetime(1999, 12, 31, 23, 59, 59), dt.datetime(2030, 6, 1)]
    tbl = pa.table({
        "ts": pa.array(ts_ns, pa.timestamp("ns")),
        "seen": pa.array(naive, pa.timestamp("us")),
        "id": [0, 1, 2],
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"), version="2.6")
    epoch = dt.datetime(1970, 1, 1)
    want = [(i, ns // 1000, (d - epoch) // dt.timedelta(microseconds=1)) for i, (ns, d) in enumerate(zip(ts_ns, naive))]
    for _ in range(2):  # inferring read, then memoized read
        ev = load_tables(spark, str(tmp_path), ("events",))["events"]
        assert dict(ev.dtypes) == {"ts": "timestamp", "seen": "timestamp", "id": "bigint"}
        got = ev.select("id", F.unix_micros("ts"), F.unix_micros("seen")).orderBy("id").collect()
        assert [tuple(r) for r in got] == want


def test_prepared_sees_part_file_rewritten_in_place(spark, tmp_path):
    """A directory source is stamped by its part files: rewriting one in
    place leaves the directory's own mtime unchanged but must still
    build a fresh plan."""
    table = tmp_path / "documents.parquet"
    table.mkdir()
    part = str(table / "part-0.parquet")
    pq.write_table(pa.table({"doc_id": [1]}), part)
    builds = []

    def build():
        builds.append(1)
        return spark.range(1)

    def call():
        return prepared(spark, "rewrite-probe", str(tmp_path), ("documents.parquet",), build)

    call()
    call()
    assert len(builds) == 1
    dir_st = os.stat(table)
    pq.write_table(pa.table({"doc_id": [1, 2, 3]}), part)
    _bump_mtime(part)
    os.utime(table, ns=(dir_st.st_atime_ns, dir_st.st_mtime_ns))
    call()
    assert len(builds) == 2
