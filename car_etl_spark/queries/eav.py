"""EAV pivot + versioning + override queries — the extraction
persistence spine (SURVEY.md §7.3.3, A7/W3/X10, §1.1 extraction_fields).

Each query *constructs* an extraction_fields-shaped tall table
deterministically from the TPC-H-ish base tables inside the query (both
engines build identical rows), then runs the pipeline operators over it
— so the pivot/versioning/override dataflow itself is what the oracle
checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from car_etl_spark.functions import normalizers as N
from car_etl_spark.operators import pipeline as P
from car_etl_spark.queries import QuerySpec
from car_etl_spark.queries.parity import drow, sql_drow
from car_etl_spark.tables import load_tables


def _tall_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize tall extraction_fields rows from orders+customer:
    one extraction per order, four fields each, values as the messy
    formatted strings the normalizers exist for."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    base = t["orders"].join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
    price_s = F.round("o_totalprice", 2).cast("string")
    rows = F.array(
        F.struct(F.lit("tenant_name").alias("field_name"), F.col("c_name").alias("field_value")),
        F.struct(F.lit("base_rent").alias("field_name"), F.concat(F.lit("$"), price_s).alias("field_value")),
        F.struct(
            F.lit("lease_start_date").alias("field_name"),
            F.date_format("o_orderdate", "MM/dd/yyyy").alias("field_value"),
        ),
        F.struct(
            F.lit("escalation_rate_percent").alias("field_name"),
            F.concat((F.col("o_custkey") % 5).cast("string"), F.lit("%")).alias("field_value"),
        ),
    )
    return base.select(
        F.col("o_orderkey").alias("extraction_id"), F.explode(rows).alias("f")
    ).select("extraction_id", "f.field_name", "f.field_value")


def eav_pivot_effective_rent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tall EAV -> wide pivot with normalizers -> effective-rent rowwise
    composition (the reference's §3.3 persistence + §2.4 A9 read in one
    dataflow).  Pivot is conditional max() aggregation — one shuffle,
    fixed schema."""
    # r12: RANGE-partition the tall frame on the pivot key.  The one
    # range exchange then serves the whole tail: the pivot's grouping
    # is satisfied (no agg exchange), and the final orderBy on the same
    # key is satisfied by range-ordered partitions + the SortAggregate's
    # in-partition order, so Catalyst drops the global Sort node — which
    # also removes the range-sort SAMPLING pass that was re-executing
    # the pivot + normalizer chains (plans/r12/..._before.txt: Exchange
    # (13) + Exchange(18); after: one Exchange).  Measured 2.59 -> 2.23s
    # interleaved (scripts/profile_eav_variants.py at commit d864714).
    # Partition count comes from spark.sql.shuffle.partitions —
    # scale-adaptive, not a local constant.
    fields = _tall_fields(spark, sf_dir).repartitionByRange("extraction_id")
    wide = P.pivot_eav(
        fields,
        {
            "tenant_name": None,
            "base_rent": N.normalize_currency,
            "lease_start_date": N.normalize_date_str,
            "escalation_rate_percent": N.normalize_percent,
        },
    )
    annual = F.col("base_rent") * 12 * (1 + F.coalesce(F.col("escalation_rate_percent"), F.lit(0.0)))
    return (
        wide.select(
            "extraction_id",
            "tenant_name",
            drow(F.col("base_rent")).alias("base_rent"),
            "lease_start_date",
            F.round("escalation_rate_percent", 6).alias("escalation_rate_percent"),
            drow(annual).alias("annual_effective_rent"),
        )
        .filter(F.col("base_rent") > 0)
        .orderBy("extraction_id")
    )


EAV_PIVOT_SQL = f"""
WITH tall AS (
  SELECT o_orderkey AS extraction_id, 'tenant_name' AS field_name, c_name AS field_value
  FROM orders JOIN customer ON o_custkey = c_custkey
  UNION ALL
  SELECT o_orderkey, 'base_rent', '$' || CAST(ROUND(o_totalprice, 2) AS VARCHAR)
  FROM orders JOIN customer ON o_custkey = c_custkey
  UNION ALL
  SELECT o_orderkey, 'lease_start_date', strftime(o_orderdate, '%m/%d/%Y')
  FROM orders JOIN customer ON o_custkey = c_custkey
  UNION ALL
  SELECT o_orderkey, 'escalation_rate_percent', CAST(o_custkey % 5 AS VARCHAR) || '%'
  FROM orders JOIN customer ON o_custkey = c_custkey
), wide AS (
  SELECT extraction_id,
         MAX(CASE WHEN field_name = 'tenant_name' THEN field_value END) AS tenant_name,
         MAX(CASE WHEN field_name = 'base_rent' THEN field_value END) AS base_rent_raw,
         MAX(CASE WHEN field_name = 'lease_start_date' THEN field_value END) AS date_raw,
         MAX(CASE WHEN field_name = 'escalation_rate_percent' THEN field_value END) AS pct_raw
  FROM tall GROUP BY extraction_id
), norm AS (
  SELECT extraction_id, tenant_name,
         TRY_CAST(regexp_replace(TRIM(base_rent_raw), '[$, \t]', '', 'g') AS DOUBLE) AS base_rent,
         strftime(strptime(date_raw, '%m/%d/%Y'), '%Y-%m-%d') AS lease_start_date,
         CASE WHEN TRY_CAST(regexp_replace(TRIM(pct_raw), '[,%]', '', 'g') AS DOUBLE) > 1
              THEN TRY_CAST(regexp_replace(TRIM(pct_raw), '[,%]', '', 'g') AS DOUBLE) / 100.0
              ELSE TRY_CAST(regexp_replace(TRIM(pct_raw), '[,%]', '', 'g') AS DOUBLE) END AS pct
  FROM wide
)
SELECT extraction_id, tenant_name,
       {sql_drow('base_rent')} AS base_rent,
       lease_start_date,
       ROUND(pct, 6) AS escalation_rate_percent,
       {sql_drow('base_rent * 12 * (1 + COALESCE(pct, 0))')} AS annual_effective_rent
FROM norm
WHERE base_rent > 0
ORDER BY extraction_id
"""


def versioned_extractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+W3 as a pipeline: treat each order as an extraction of its
    customer-document; assign deterministic per-batch versions, then
    derive ``is_current`` — the trigger pair
    (``030_extractions.sql:84-121``) as pure dataflow."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    batch = orders.select(
        F.col("o_custkey").alias("document_id"),
        F.col("o_orderkey").alias("extraction_id"),
        F.col("o_orderdate").alias("extracted_at"),
    )
    # tiebreak equal timestamps deterministically for the oracle
    versioned = P.assign_versions(
        batch.withColumn(
            "extracted_at",
            F.concat(
                F.date_format("extracted_at", "yyyyMMdd"),
                F.lpad(F.col("extraction_id").cast("string"), 12, "0"),
            ),
        ),
        existing=None,
        order_col="extracted_at",
    )
    current = P.mark_current(versioned)
    return (
        current.select(
            "document_id",
            "extraction_id",
            F.col("version").cast("long").alias("version"),
            "is_current",
        )
        .orderBy("document_id", "version")
    )


VERSIONED_EXTRACTIONS_SQL = """
WITH batch AS (
  SELECT o_custkey AS document_id, o_orderkey AS extraction_id,
         strftime(o_orderdate, '%Y%m%d') || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS extracted_at
  FROM orders
), versioned AS (
  SELECT document_id, extraction_id,
         ROW_NUMBER() OVER (PARTITION BY document_id ORDER BY extracted_at ASC) AS version
  FROM batch
)
SELECT document_id, extraction_id, CAST(version AS BIGINT) AS version,
       version = MAX(version) OVER (PARTITION BY document_id) AS is_current
FROM versioned
ORDER BY document_id, version
"""


def field_override_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: override MERGE — corrected values win, provenance kept,
    confidence promoted to 1.0 (reference ``field_override.py:54-150``)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    fields = li.select(
        F.col("l_orderkey").alias("extraction_id"),
        F.concat(F.lit("line_"), F.col("l_linenumber").cast("string")).alias("field_name"),
        F.round("l_extendedprice", 2).cast("string").alias("field_value"),
        F.round(F.col("l_discount") * 10, 4).alias("confidence"),
    )
    overrides = fields.filter(F.col("extraction_id") % 37 == 0).select(
        "extraction_id",
        "field_name",
        F.lit("9999.99").alias("field_value"),
        F.lit("reviewer-1").alias("overridden_by"),
    )
    merged = P.apply_field_overrides(fields, overrides)
    return (
        merged.select(
            "extraction_id",
            "field_name",
            "field_value",
            F.round("confidence", 4).alias("confidence"),
            "is_override",
            "overridden_by",
        )
        .orderBy("extraction_id", "field_name")
    )


FIELD_OVERRIDE_SQL = """
WITH fields AS (
  SELECT l_orderkey AS extraction_id,
         'line_' || CAST(l_linenumber AS VARCHAR) AS field_name,
         CAST(ROUND(l_extendedprice, 2) AS VARCHAR) AS field_value,
         ROUND(l_discount * 10, 4) AS confidence
  FROM lineitem
), overrides AS (
  SELECT extraction_id, field_name, '9999.99' AS ov_value, 'reviewer-1' AS ov_by
  FROM fields WHERE extraction_id % 37 = 0
)
SELECT f.extraction_id, f.field_name,
       COALESCE(o.ov_value, f.field_value) AS field_value,
       ROUND(CASE WHEN o.ov_value IS NOT NULL THEN 1.0 ELSE f.confidence END, 4) AS confidence,
       o.ov_value IS NOT NULL AS is_override,
       o.ov_by AS overridden_by
FROM fields f LEFT JOIN overrides o
  ON f.extraction_id = o.extraction_id AND f.field_name = o.field_name
ORDER BY f.extraction_id, f.field_name
"""


QUERIES: dict[str, QuerySpec] = {
    "eav_pivot_effective_rent": QuerySpec(eav_pivot_effective_rent, EAV_PIVOT_SQL, ("eav", "pivot")),
    # versioned_extractions + field_override_merge ->
    # suites.extraction_pipeline_versions (r5 consolidation)
}
