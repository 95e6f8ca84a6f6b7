"""Normalizer-roundtrip queries — oracle checks for the F1-F9 library.

Each query manufactures messy formatted strings *inside the query* from
numeric/date base columns (deterministically, keyed by row id), runs the
Column-expression normalizers from
``car_etl_spark.functions.normalizers``, and emits the normalized
values.  The DuckDB oracle builds the same strings and applies the same
normalization in SQL, so both engines round-trip identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from car_etl_spark.functions import normalizers as N
from car_etl_spark.queries import QuerySpec
from car_etl_spark.tables import load_tables


def _currency_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: ``$x`` / ``(x)`` accounting negatives / padded / null-words."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    s = F.round("o_totalprice", 2).cast("string")
    raw = (
        F.when(F.col("o_orderkey") % 4 == 0, F.concat(F.lit("$"), s))
        .when(F.col("o_orderkey") % 4 == 1, F.concat(F.lit("("), s, F.lit(")")))
        .when(F.col("o_orderkey") % 4 == 2, F.concat(F.lit("  $ "), s, F.lit(" ")))
        .otherwise(F.lit("n/a"))
    )
    return orders.select(
        "o_orderkey",
        raw.alias("raw_value"),
        F.round(N.normalize_currency(raw), 2).alias("normalized"),
    )


CURRENCY_ROUNDTRIP_SQL = """
WITH src AS (
  SELECT o_orderkey,
         CASE
           WHEN o_orderkey % 4 = 0 THEN '$' || CAST(ROUND(o_totalprice, 2) AS VARCHAR)
           WHEN o_orderkey % 4 = 1 THEN '(' || CAST(ROUND(o_totalprice, 2) AS VARCHAR) || ')'
           WHEN o_orderkey % 4 = 2 THEN '  $ ' || CAST(ROUND(o_totalprice, 2) AS VARCHAR) || ' '
           ELSE 'n/a'
         END AS raw_value
  FROM orders
), cleaned AS (
  SELECT o_orderkey, raw_value,
         regexp_replace(TRIM(raw_value), '[$, \t\n]', '', 'g') AS c
  FROM src
)
SELECT o_orderkey, raw_value,
       ROUND(TRY_CAST(
         CASE WHEN LOWER(TRIM(raw_value)) IN ('null','none','n/a','') THEN NULL
              WHEN c LIKE '(%' AND c LIKE '%)' THEN '-' || SUBSTRING(c, 2, LENGTH(c) - 2)
              ELSE c END AS DOUBLE), 2) AS normalized
FROM cleaned
ORDER BY o_orderkey
"""


def _date_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: four input formats -> ISO; null-words -> NULL."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    d = F.col("o_orderdate")
    raw = (
        F.when(F.col("o_orderkey") % 5 == 0, F.date_format(d, "yyyy-MM-dd"))
        .when(F.col("o_orderkey") % 5 == 1, F.date_format(d, "MM/dd/yyyy"))
        .when(F.col("o_orderkey") % 5 == 2, F.date_format(d, "M/d/yyyy"))
        .when(F.col("o_orderkey") % 5 == 3, F.date_format(d, "MM-dd-yyyy"))
        .otherwise(F.lit("none"))
    )
    return orders.select(
        "o_orderkey",
        raw.alias("raw_value"),
        N.normalize_date_str(raw).alias("normalized_date"),
    )


DATE_ROUNDTRIP_SQL = """
SELECT o_orderkey,
       CASE
         WHEN o_orderkey % 5 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
         WHEN o_orderkey % 5 = 1 THEN strftime(o_orderdate, '%m/%d/%Y')
         WHEN o_orderkey % 5 = 2 THEN strftime(o_orderdate, '%-m/%-d/%Y')
         WHEN o_orderkey % 5 = 3 THEN strftime(o_orderdate, '%m-%d-%Y')
         ELSE 'none'
       END AS raw_value,
       CASE WHEN o_orderkey % 5 = 4 THEN NULL
            ELSE strftime(o_orderdate, '%Y-%m-%d') END AS normalized_date
FROM orders
ORDER BY o_orderkey
"""


def _percent_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: ``"7%"`` == ``0.07`` == ``7``; out-of-range -> NULL."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    key = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    pct100 = F.round(F.col("l_discount") * 100, 4).cast("string")
    frac = F.round("l_discount", 4).cast("string")
    raw = (
        F.when(key % 4 == 0, F.concat(pct100, F.lit("%")))
        .when(key % 4 == 1, frac)
        .when(key % 4 == 2, pct100)
        .otherwise(F.lit("750%"))  # 7.5 > 5 -> NULL per clamp rule
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        raw.alias("raw_value"),
        F.round(N.normalize_percent(raw), 6).alias("normalized_pct"),
    )


PERCENT_ROUNDTRIP_SQL = """
WITH src AS (
  SELECT l_orderkey, l_linenumber,
         CASE
           WHEN (l_orderkey * 10 + l_linenumber) % 4 = 0
             THEN CAST(ROUND(l_discount * 100, 4) AS VARCHAR) || '%'
           WHEN (l_orderkey * 10 + l_linenumber) % 4 = 1
             THEN CAST(ROUND(l_discount, 4) AS VARCHAR)
           WHEN (l_orderkey * 10 + l_linenumber) % 4 = 2
             THEN CAST(ROUND(l_discount * 100, 4) AS VARCHAR)
           ELSE '750%'
         END AS raw_value
  FROM lineitem
), parsed AS (
  SELECT l_orderkey, l_linenumber, raw_value,
         TRY_CAST(regexp_replace(TRIM(raw_value), '[,%]', '', 'g') AS DOUBLE) AS num
  FROM src
), scaled AS (
  SELECT l_orderkey, l_linenumber, raw_value,
         CASE WHEN num > 1.0 THEN num / 100.0 ELSE num END AS sc
  FROM parsed
)
SELECT l_orderkey, l_linenumber, raw_value,
       ROUND(CASE WHEN sc >= 0 AND sc <= 5 THEN sc END, 6) AS normalized_pct
FROM scaled
ORDER BY l_orderkey, l_linenumber
"""


def _boolean_enum_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7: truthy/falsy vocabulary + case-insensitive enum matching."""
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    words = ["yes", "No", "TRUE", "off", "enabled", "not required", "maybe", "1", "0"]
    bool_raw = F.element_at(
        F.array(*[F.lit(w) for w in words]), (F.col("c_custkey") % 9 + 1).cast("int")
    )
    seg_raw = (
        F.when(F.col("c_custkey") % 3 == 0, F.lower("c_mktsegment"))
        .when(F.col("c_custkey") % 3 == 1, F.initcap(F.lower("c_mktsegment")))
        .otherwise(F.col("c_mktsegment"))
    )
    allowed = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    return cust.select(
        "c_custkey",
        bool_raw.alias("bool_raw"),
        N.normalize_boolean(bool_raw).alias("normalized_bool"),
        seg_raw.alias("seg_raw"),
        N.normalize_enum(seg_raw, allowed).alias("normalized_segment"),
    )


BOOLEAN_ENUM_ROUNDTRIP_SQL = """
WITH src AS (
  SELECT c_custkey,
         (['yes','No','TRUE','off','enabled','not required','maybe','1','0'])[
           CAST(c_custkey % 9 AS INT) + 1] AS bool_raw,
         CASE WHEN c_custkey % 3 = 0 THEN LOWER(c_mktsegment)
              WHEN c_custkey % 3 = 1 THEN UPPER(SUBSTRING(LOWER(c_mktsegment),1,1)) ||
                                          SUBSTRING(LOWER(c_mktsegment),2)
              ELSE c_mktsegment END AS seg_raw
  FROM customer
)
SELECT c_custkey, bool_raw,
       CASE WHEN LOWER(TRIM(bool_raw)) IN ('true','yes','y','1','on','enabled','required') THEN TRUE
            WHEN LOWER(TRIM(bool_raw)) IN ('false','no','n','0','off','disabled','not required') THEN FALSE
            ELSE NULL END AS normalized_bool,
       seg_raw,
       CASE LOWER(TRIM(seg_raw))
            WHEN 'automobile' THEN 'AUTOMOBILE'
            WHEN 'building' THEN 'BUILDING'
            WHEN 'furniture' THEN 'FURNITURE'
            WHEN 'household' THEN 'HOUSEHOLD'
            WHEN 'machinery' THEN 'MACHINERY'
            ELSE NULL END AS normalized_segment
FROM src
ORDER BY c_custkey
"""


def _extract_numeric_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: the effective-rent lenient parser — keep digits+dots, default
    0.0 (``src/services/effective_rent.py:49-67``).  Note its documented
    quirk: ``(1,200)`` parses positive here, unlike F2."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    s = F.round("o_totalprice", 2).cast("string")
    raw = (
        F.when(F.col("o_orderkey") % 3 == 0, F.concat(F.lit("$"), s, F.lit("/mo")))
        .when(F.col("o_orderkey") % 3 == 1, F.concat(F.lit("("), s, F.lit(")")))
        .otherwise(F.lit("no rent"))
    )
    return orders.select(
        "o_orderkey",
        raw.alias("raw_value"),
        F.round(N.extract_numeric(raw), 2).alias("numeric_value"),
    )


EXTRACT_NUMERIC_SQL = """
WITH src AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN '$' || CAST(ROUND(o_totalprice,2) AS VARCHAR) || '/mo'
              WHEN o_orderkey % 3 = 1 THEN '(' || CAST(ROUND(o_totalprice,2) AS VARCHAR) || ')'
              ELSE 'no rent' END AS raw_value
  FROM orders
)
SELECT o_orderkey, raw_value,
       ROUND(COALESCE(TRY_CAST(regexp_replace(raw_value, '[^0-9.]', '', 'g') AS DOUBLE), 0.0), 2)
         AS numeric_value
FROM src
ORDER BY o_orderkey
"""


def _integer_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: comma-separated integers, float-string truncation, null-words."""
    part = load_tables(spark, sf_dir, ("part",))["part"]
    size1000 = (F.col("p_size") * 1000).cast("string")
    raw = (
        F.when(F.col("p_partkey") % 4 == 0, F.concat(F.col("p_size").cast("string"), F.lit(",000")))
        .when(F.col("p_partkey") % 4 == 1, F.concat(size1000, F.lit(".0")))
        .when(F.col("p_partkey") % 4 == 2, F.concat(size1000, F.lit(".9")))
        .otherwise(F.lit("n/a"))
    )
    return part.select(
        "p_partkey",
        raw.alias("raw_value"),
        N.normalize_integer(raw).alias("normalized_int"),
    )


INTEGER_ROUNDTRIP_SQL = """
WITH src AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 4 = 0 THEN CAST(p_size AS VARCHAR) || ',000'
              WHEN p_partkey % 4 = 1 THEN CAST(p_size * 1000 AS VARCHAR) || '.0'
              WHEN p_partkey % 4 = 2 THEN CAST(p_size * 1000 AS VARCHAR) || '.9'
              ELSE 'n/a' END AS raw_value
  FROM part
)
SELECT p_partkey, raw_value,
       CAST(TRUNC(TRY_CAST(regexp_replace(TRIM(raw_value), '[, \t]', '', 'g') AS DOUBLE)) AS BIGINT)
         AS normalized_int
FROM src
ORDER BY p_partkey
"""


def normalize_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F9 in ONE oracle entry: every normalizer roundtrip, tagged by
    kind and unioned to a common (kind, key_id, raw_value, normalized)
    string schema.

    Consolidation note: round 1 registered each roundtrip separately;
    the driver's correctness window is 50 entries, so the seven
    sub-checks share one slot.  Each sub-query is unchanged — typed
    outputs go through DECIMAL before the string cast so both engines
    render identical text ("104949.50", never "104949.5").
    """
    def tag(df: DataFrame, kind: str, key, raw, norm) -> DataFrame:
        return df.select(
            F.lit(kind).alias("kind"),
            key.cast("long").alias("key_id"),
            raw.alias("raw_value"),
            norm.alias("normalized"),
        )

    # r12: union the UNSORTED cores — each sub-query's own orderBy
    # survived below the Union (Catalyst does not eliminate sorts under
    # Union children: plans/r12/normalize_roundtrips_before.txt shows 7
    # inner Sort+range-Exchange pairs), and the suite's final global
    # orderBy makes them pure waste.  Same rows, one sort instead of 8.
    cur = tag(
        _currency_core(spark, sf_dir), "currency", F.col("o_orderkey"),
        F.col("raw_value"), F.col("normalized").cast("decimal(18,2)").cast("string"),
    )
    dat = tag(
        _date_core(spark, sf_dir), "date", F.col("o_orderkey"),
        F.col("raw_value"), F.col("normalized_date"),
    )
    pct = tag(
        _percent_core(spark, sf_dir), "percent",
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        F.col("raw_value"), F.col("normalized_pct").cast("decimal(18,6)").cast("string"),
    )
    be = _boolean_enum_core(spark, sf_dir)
    boo = tag(be, "boolean", F.col("c_custkey"), F.col("bool_raw"),
              F.col("normalized_bool").cast("string"))
    enu = tag(be, "enum", F.col("c_custkey"), F.col("seg_raw"), F.col("normalized_segment"))
    num = tag(
        _extract_numeric_core(spark, sf_dir), "numeric_lenient", F.col("o_orderkey"),
        F.col("raw_value"), F.col("numeric_value").cast("decimal(18,2)").cast("string"),
    )
    itg = tag(
        _integer_core(spark, sf_dir), "integer", F.col("p_partkey"),
        F.col("raw_value"), F.col("normalized_int").cast("string"),
    )
    # F32 email extraction joined the suite in round 5 (registry
    # consolidation): "Name <a@b>" -> a@b is a normalizer roundtrip
    from car_etl_spark.queries.misc import email_parsed

    eml = tag(
        email_parsed(spark, sf_dir), "email", F.col("c_custkey"),
        F.col("from_header"), F.col("from_address"),
    )
    out = cur
    for part in (dat, pct, boo, enu, num, itg, eml):
        out = out.unionByName(part)
    # r12: hash-shuffle below the global sort.  A range exchange SAMPLES
    # its child to pick bounds, re-executing the child plan once before
    # the real pass — with no shuffle boundary under it, that means
    # every normalizer chain ran TWICE (measured: 5.22s direct vs 3.83s
    # with this boundary vs 2.40s sortless;
    # scripts/profile_normalize_hashpart.py at commit d864714).  The
    # hash exchange materializes the union once; the sampling pass then
    # re-reads shuffle files instead of re-normalizing.  Same rows, same
    # final order.
    return out.repartition("kind", "key_id").orderBy("kind", "key_id")


def _tagged_sql(
    kind: str, key_expr: str, norm_expr: str, inner: str, raw_expr: str = "raw_value"
) -> str:
    # raw_expr lets sub-queries exposing differently-named raw columns
    # (bool_raw/seg_raw) be wrapped WITHOUT text surgery on the inner
    # SQL — a str.replace() rewrite would silently no-op the moment the
    # inner statement is reformatted
    return (
        f"SELECT '{kind}' AS kind, CAST({key_expr} AS BIGINT) AS key_id, "
        f"{raw_expr} AS raw_value, {norm_expr} AS normalized FROM ({inner}) t"
    )


def _EMAIL_PARSED_SQL_REF() -> str:
    from car_etl_spark.queries.misc import EMAIL_PARSED_SQL

    return EMAIL_PARSED_SQL


NORMALIZE_ROUNDTRIPS_SQL = (
    "SELECT kind, key_id, raw_value, normalized FROM (\n"
    + "\nUNION ALL\n".join(
        [
            _tagged_sql(
                "currency", "o_orderkey",
                "CAST(CAST(normalized AS DECIMAL(18,2)) AS VARCHAR)", CURRENCY_ROUNDTRIP_SQL,
            ),
            _tagged_sql("date", "o_orderkey", "normalized_date", DATE_ROUNDTRIP_SQL),
            _tagged_sql(
                "percent", "l_orderkey * 10 + l_linenumber",
                "CAST(CAST(normalized_pct AS DECIMAL(18,6)) AS VARCHAR)", PERCENT_ROUNDTRIP_SQL,
            ),
            _tagged_sql(
                "boolean", "c_custkey",
                "CAST(normalized_bool AS VARCHAR)",
                BOOLEAN_ENUM_ROUNDTRIP_SQL, raw_expr="bool_raw",
            ),
            _tagged_sql(
                "enum", "c_custkey", "normalized_segment",
                BOOLEAN_ENUM_ROUNDTRIP_SQL, raw_expr="seg_raw",
            ),
            _tagged_sql(
                "numeric_lenient", "o_orderkey",
                "CAST(CAST(numeric_value AS DECIMAL(18,2)) AS VARCHAR)", EXTRACT_NUMERIC_SQL,
            ),
            _tagged_sql(
                "integer", "p_partkey", "CAST(normalized_int AS VARCHAR)", INTEGER_ROUNDTRIP_SQL,
            ),
            _tagged_sql(
                "email", "c_custkey", "from_address", _EMAIL_PARSED_SQL_REF(),
                raw_expr="from_header",
            ),
        ]
    )
    + "\n) ORDER BY kind, key_id"
)


QUERIES: dict[str, QuerySpec] = {
    "normalize_roundtrips": QuerySpec(normalize_roundtrips, NORMALIZE_ROUNDTRIPS_SQL, ("normalize",)),
}
