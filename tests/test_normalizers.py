"""Unit + property tests for the normalizer Column library, pinned to the
reference semantics (SURVEY.md §2.8; golden cases from FIXTURES.md §10.4).
Property tests follow the reference's own mandate for critical paths
(reference tests/test_pipeline_property_based.py)."""

from __future__ import annotations

import datetime

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from car_etl_spark.functions import normalizers as N


def _apply(spark, fn, values, **kwargs):
    df = spark.createDataFrame([(v,) for v in values], ["v"])
    out = df.select(fn(F.col("v"), **kwargs).alias("r")).collect()
    return [r.r for r in out]


CURRENCY_CASES = [
    ("$5,000.00", 5000.0),
    ("(1,200)", -1200.0),
    ("  $ 12.50 ", 12.5),
    ("n/a", None),
    ("None", None),
    ("", None),
    ("abc", None),
    ("0", 0.0),
    ("($2,000.50)", -2000.5),
]


def test_normalize_currency_golden(spark):
    vals, expected = zip(*CURRENCY_CASES)
    assert _apply(spark, N.normalize_currency, vals) == list(expected)


DATE_CASES = [
    ("2024-03-05", datetime.date(2024, 3, 5)),
    ("03/05/2024", datetime.date(2024, 3, 5)),
    ("3/5/2024", datetime.date(2024, 3, 5)),
    ("03-05-2024", datetime.date(2024, 3, 5)),
    ("2024/03/05", datetime.date(2024, 3, 5)),
    ("null", None),
    ("not a date", None),
    ("2024-13-05", None),  # invalid month
    ("02/30/2024", None),  # invalid day
]


def test_normalize_date_golden(spark):
    vals, expected = zip(*DATE_CASES)
    assert _apply(spark, N.normalize_date, vals) == list(expected)


PERCENT_CASES = [
    ("7%", 0.07),
    ("0.07", 0.07),
    ("7", 0.07),
    ("100%", 1.0),
    ("750%", None),  # > 5 after scaling -> invalid
    ("-1", None),
    ("n/a", None),
]


def test_normalize_percent_golden(spark):
    vals, expected = zip(*PERCENT_CASES)
    got = _apply(spark, N.normalize_percent, vals)
    for g, e in zip(got, expected):
        if e is None:
            assert g is None
        else:
            assert g == pytest.approx(e)


def test_normalize_boolean_golden(spark):
    cases = [("yes", True), ("No", False), ("TRUE", True), ("off", False),
             ("enabled", True), ("not required", False), ("maybe", None), ("", None)]
    vals, expected = zip(*cases)
    assert _apply(spark, N.normalize_boolean, vals) == list(expected)


def test_normalize_integer_golden(spark):
    cases = [("5,000", 5000), ("42", 42), ("1200.9", 1200), ("n/a", None), ("abc", None)]
    vals, expected = zip(*cases)
    assert _apply(spark, N.normalize_integer, vals) == list(expected)


def test_normalize_enum_golden(spark):
    allowed = ["Monthly", "Annual"]
    cases = [("monthly", "Monthly"), ("ANNUAL", "Annual"), ("paid monthly", "Monthly"),
             ("weekly", None)]
    vals, expected = zip(*cases)
    assert _apply(spark, N.normalize_enum, vals, allowed_values=allowed) == list(expected)


def test_normalize_list_of_strings_golden(spark):
    # F5: split on newline and semicolon, strip leading/trailing dashes,
    # bullets and whitespace, drop empties; NULL in -> NULL out
    cases = [
        ("- Pool\n• Gym ;  Parking -", ["Pool", "Gym", "Parking"]),
        ("a;;b\n\n", ["a", "b"]),
        ("  - • -  ", []),
        ("well-lit lobby", ["well-lit lobby"]),
        (None, None),
    ]
    df = spark.createDataFrame([(v,) for v, _ in cases], "v string")
    got = [r.r for r in df.select(N.normalize_list_of_strings(F.col("v")).alias("r")).collect()]
    assert got == [want for _, want in cases]


def test_canonicalize_golden(spark):
    cases = [
        ("Acme Properties, LLC", "acme properties"),
        ("ACME PROPERTIES INC.", "acme properties"),
        ("Acme  Properties   Corp", "acme properties"),
        ("Big Deal LP", "big deal"),
    ]
    vals, expected = zip(*cases)
    assert _apply(spark, N.canonicalize, vals) == list(expected)


def test_extract_numeric_quirk(spark):
    # F9 keeps digits+dots only: parenthesized negatives parse POSITIVE
    # (reference src/services/effective_rent.py:49-67), unlike F2.
    assert _apply(spark, N.extract_numeric, ["(1,200)"]) == [1200.0]
    assert _apply(spark, N.extract_numeric, ["no rent"]) == [0.0]


@settings(max_examples=25, deadline=None)
@given(st.floats(min_value=-1e9, max_value=1e9, allow_nan=False))
def test_currency_roundtrip_property(spark, x):
    x = round(x, 2)
    s = f"${x:,.2f}" if x >= 0 else f"(${abs(x):,.2f})"
    [got] = _apply(spark, N.normalize_currency, [s])
    assert got == pytest.approx(x, abs=1e-9)


@settings(max_examples=25, deadline=None)
@given(st.dates(min_value=datetime.date(1900, 1, 1), max_value=datetime.date(2100, 1, 1)))
def test_date_roundtrip_property(spark, d):
    for fmt in ("%Y-%m-%d", "%m/%d/%Y", "%m-%d-%Y", "%Y/%m/%d"):
        [got] = _apply(spark, N.normalize_date, [d.strftime(fmt)])
        assert got == d, f"format {fmt}"


@settings(max_examples=25, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40))
def test_canonicalize_idempotent_property(spark, s):
    [once] = _apply(spark, N.canonicalize, [s])
    [twice] = _apply(spark, N.canonicalize, [once])
    assert once == twice


def test_stemmer_column_python_duckdb_twins_agree(spark):
    """The three stem() twins (Spark Column, Python, DuckDB SQL) must be
    value-identical — the FTS posting build stems corpus-side in Spark
    while the oracle stems in DuckDB and the query terms stem in
    Python."""
    import duckdb
    from pyspark.sql import functions as F

    from car_etl_spark.functions import text as T

    words = [
        "windows", "window", "runs", "class", "classes", "carried",
        "running", "merges", "bodies", "bus", "ss", "s", "goes", "trees",
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    spark_out = {r.w: r.s for r in df.select("w", T.stem(F.col("w")).alias("s")).collect()}
    assert spark_out == {w: T.stem_py(w) for w in words}
    con = duckdb.connect()
    duck_out = dict(
        con.execute(f"SELECT w, {T.stem_sql('w')} AS s FROM (SELECT unnest(?) AS w)", [words])
        .fetchall()
    )
    assert spark_out == duck_out
    # the recall cases the stemmer exists for, and its guards
    assert spark_out["windows"] == "window"
    assert spark_out["runs"] == "run"
    assert spark_out["classes"] == "class"
    assert spark_out["class"] == "class"  # bare-s rule requires non-s before suffix
    assert spark_out["bus"] == "bus"      # 2-char-stem minimum


def test_bpe_token_count_semantics_and_duckdb_twin(spark):
    """BPE-ish pretokenizer: contractions split off, digit runs grouped
    in threes, punctuation runs collapse; Spark and DuckDB twins agree
    token-for-token."""
    import duckdb
    from pyspark.sql import functions as F

    from car_etl_spark.functions import text as T

    texts = [
        "it's a test",          # it + 's + a + test = 4
        "hello world",          # 2
        "12345 items",          # 123 + 45 + items = 3
        "wait... what?!",       # wait + ... + what + ?! = 4
        "we'll we've we'd",     # 3 x 2 = 6
        "",                     # 0
    ]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = {r.t: r.n for r in df.select("t", T.bpe_token_count(F.col("t")).alias("n")).collect()}
    assert got["it's a test"] == 4
    assert got["hello world"] == 2
    assert got["12345 items"] == 3
    assert got["wait... what?!"] == 4
    assert got["we'll we've we'd"] == 6
    assert got[""] == 0
    con = duckdb.connect()
    duck = dict(
        con.execute(
            f"SELECT t, {T.bpe_token_count_sql('t')} FROM (SELECT unnest(?) AS t)", [texts]
        ).fetchall()
    )
    assert {t: int(n) for t, n in duck.items()} == got
