"""Confidence + financial-validation queries (F26-F29) — synthesized OM
fields over orders, oracle-checked.

Both engines derive the same deterministic "extracted OM" values from
order rows (with planted inconsistencies on modulo keys), so the
penalty/factor/clamp dataflow is what the oracle verifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from car_etl_spark.functions import confidence as C
from car_etl_spark.queries import QuerySpec
from car_etl_spark.queries.parity import drow, sql_drow
from car_etl_spark.tables import load_tables


def _om_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic OM-shaped fields per order, with planted issues:
    every 5th order misstates cap rate, every 7th misstates price/SF,
    occupancy cycles through [0, 1.09], NOI growth cycles 1.0-1.75."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    k = F.col("o_orderkey")
    asking = F.round(F.col("o_totalprice") * 10, 2)
    noi = F.round(asking * 0.06, 2)
    stated_cap = F.round(
        F.lit(0.06) + F.when(k % 5 == 0, 0.02).otherwise(0.0), 4
    )
    total_sf = (k % 40 + 10) * 1000
    psf = F.round(
        asking / total_sf * (1 + F.when(k % 7 == 0, 0.05).otherwise(0.0)), 4
    )
    occ = F.round((k % 110).cast("double") / 100.0, 2)
    noi_pf = F.round(noi * (1 + (k % 8).cast("double") / 10.0 * 1.07), 2)
    sources = ["executive_summary", "financial_summary_page", "detailed_exhibits",
               "investment_highlights", "market_overview", "pro_forma_projections",
               "broker_assumptions", "unknown_section"]
    vtypes = ["actual", "trailing_12", "annualized", "pro_forma", "stabilized",
              "broker_estimate", "unlabeled"]
    source = F.element_at(F.array(*[F.lit(s) for s in sources]), (k % 8 + 1).cast("int"))
    vtype = F.element_at(F.array(*[F.lit(v) for v in vtypes]), (k % 7 + 1).cast("int"))
    return orders.select(
        F.col("o_orderkey").alias("orderkey"),
        asking.alias("asking_price"),
        noi.alias("noi_in_place"),
        stated_cap.alias("stated_cap"),
        total_sf.alias("total_sf"),
        psf.alias("price_psf"),
        occ.alias("occupancy"),
        noi_pf.alias("noi_pro_forma"),
        source.alias("source_section"),
        vtype.alias("value_type"),
    )


_OM_FIELDS_SQL = """
  SELECT o_orderkey AS orderkey,
         ROUND(o_totalprice * 10, 2) AS asking_price,
         ROUND(ROUND(o_totalprice * 10, 2) * 0.06, 2) AS noi_in_place,
         ROUND(0.06 + CASE WHEN o_orderkey % 5 = 0 THEN 0.02 ELSE 0.0 END, 4) AS stated_cap,
         (o_orderkey % 40 + 10) * 1000 AS total_sf,
         ROUND(ROUND(o_totalprice * 10, 2) / ((o_orderkey % 40 + 10) * 1000)
               * (1 + CASE WHEN o_orderkey % 7 = 0 THEN 0.05 ELSE 0.0 END), 4) AS price_psf,
         ROUND(CAST(o_orderkey % 110 AS DOUBLE) / 100.0, 2) AS occupancy,
         ROUND(ROUND(ROUND(o_totalprice * 10, 2) * 0.06, 2)
               * (1 + CAST(o_orderkey % 8 AS DOUBLE) / 10.0 * 1.07), 2) AS noi_pro_forma,
         (['executive_summary','financial_summary_page','detailed_exhibits',
           'investment_highlights','market_overview','pro_forma_projections',
           'broker_assumptions','unknown_section'])[CAST(o_orderkey % 8 AS INT) + 1] AS source_section,
         (['actual','trailing_12','annualized','pro_forma','stabilized',
           'broker_estimate','unlabeled'])[CAST(o_orderkey % 7 AS INT) + 1] AS value_type
  FROM orders
"""


OM_CONSISTENCY_SQL = f"""
WITH om AS ({_OM_FIELDS_SQL})
SELECT orderkey,
       ROUND(CASE WHEN asking_price IS NOT NULL AND asking_price <> 0
                   AND ABS(noi_in_place / asking_price - stated_cap) > 0.005
             THEN 0.85 ELSE 1.0 END, 2) AS cap_rate_penalty,
       ROUND(CASE WHEN price_psf IS NOT NULL AND price_psf <> 0
                   AND total_sf IS NOT NULL AND total_sf <> 0
                   AND ABS(asking_price / total_sf - price_psf) / price_psf > 0.02
             THEN 0.90 ELSE 1.0 END, 2) AS price_psf_penalty,
       ROUND(CASE WHEN occupancy IS NULL THEN 1.0
                  WHEN occupancy > 1.0 OR occupancy < 0 THEN 0.50
                  WHEN occupancy > 0.98 THEN 0.85
                  ELSE 1.0 END, 2) AS occupancy_penalty,
       ROUND(CASE WHEN noi_in_place IS NULL OR noi_in_place = 0 OR noi_pro_forma IS NULL THEN 1.0
                  WHEN noi_pro_forma / noi_in_place > 1.5 THEN 0.70
                  WHEN noi_pro_forma / noi_in_place > 1.3 THEN 0.80
                  ELSE 1.0 END, 2) AS noi_growth_penalty
FROM om ORDER BY orderkey
"""


_SRC_CASE = "CASE source_section " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in C.SOURCE_RELIABILITY.items()
) + f" ELSE {C.DEFAULT_SOURCE_FACTOR} END"
_VT_CASE = "CASE value_type " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in C.VALUE_TYPE_FACTORS.items()
) + f" ELSE {C.DEFAULT_VALUE_FACTOR} END"

OM_FIELD_CONFIDENCE_SQL = f"""
WITH om AS ({_OM_FIELDS_SQL}),
scored AS (
  SELECT orderkey, source_section, value_type,
         GREATEST(0.0, LEAST(1.0,
           0.9 * {_SRC_CASE} * {_VT_CASE} *
           CASE WHEN asking_price IS NOT NULL AND asking_price <> 0
                 AND ABS(noi_in_place / asking_price - stated_cap) > 0.005
                THEN 0.85 ELSE 1.0 END)) AS conf
  FROM om
)
SELECT orderkey, source_section, value_type,
       {sql_drow('conf', 6)} AS cap_rate_confidence
FROM scored ORDER BY orderkey
"""


PRO_FORMA_SQL = f"""
WITH om AS ({_OM_FIELDS_SQL}),
flags AS (
  SELECT orderkey,
         ROUND(CAST(orderkey % 9 AS DOUBLE) / 100.0, 2) AS rent_growth_assumption,
         ROUND(CAST(orderkey % 9 AS DOUBLE) / 100.0, 2) > 0.05 AS rent_growth_warning,
         (noi_in_place IS NOT NULL AND noi_in_place <> 0 AND noi_pro_forma IS NOT NULL
          AND noi_pro_forma / noi_in_place - 1 > 0.30) AS noi_uplift_warning,
         (occupancy IS NOT NULL AND occupancy > 0.97) AS occupancy_warning
  FROM om
)
SELECT orderkey, rent_growth_assumption, rent_growth_warning, noi_uplift_warning,
       occupancy_warning,
       CAST(CAST(rent_growth_warning AS INT) + CAST(noi_uplift_warning AS INT)
            + CAST(occupancy_warning AS INT) AS BIGINT) AS warning_count
FROM flags ORDER BY orderkey
"""


CALIBRATION_SQL = f"""
WITH om AS ({_OM_FIELDS_SQL}),
cal AS (
  SELECT orderkey, asking_price,
         CASE WHEN orderkey % 11 = 0 THEN CAST(0.0 AS DOUBLE)
              WHEN orderkey % 13 = 0 THEN NULL
              ELSE CAST(ROUND(CAST(asking_price * 0.97 AS DECIMAL(30,6)), 2) AS DOUBLE) END AS closing_price
  FROM om
)
SELECT orderkey,
       closing_price,
       ROUND(CASE WHEN closing_price IS NOT NULL AND closing_price <> 0 AND asking_price IS NOT NULL
                  THEN (asking_price - closing_price) / closing_price END, 6) AS price_variance
FROM cal ORDER BY orderkey
"""


def om_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F26+F27+F28+F29 in ONE oracle entry: consistency penalties,
    marketing-aware field confidence, pro-forma warning flags, and
    calibration variances — the full OM validation report a platform
    user reads, and one registry slot instead of four.

    ONE projection over ONE _om_fields scan: every output is a pure
    column expression over the same per-orderkey fields, so the
    previous four-sub-query composition paid 4 table scans + 3 shuffle
    joins for what a single select produces byte-identically (the four
    facet SQL statements remain as the oracle's sub-queries).

    F27's factor products are exact finite decimals (e.g.
    0.9*0.85*0.85*0.85 = 0.55271250) that land ON the 6-dp rounding
    tie, so the whole product is computed in DECIMAL (DuckDB's literals
    already are) — double math would tie-break differently per engine.
    """
    om = _om_fields(spark, sf_dir)
    k = F.col("orderkey")
    cap_penalty = C.cap_rate_penalty(
        F.col("noi_in_place"), F.col("asking_price"), F.col("stated_cap")
    )
    dec = "decimal(12,6)"
    conf = (
        F.lit(0.9).cast(dec)
        * C.source_reliability(F.col("source_section")).cast(dec)
        * C.value_type_factor(F.col("value_type")).cast(dec)
        * cap_penalty.cast(dec)
    )
    clamped = F.greatest(F.lit(0).cast(dec), F.least(F.lit(1).cast(dec), conf))
    rent_growth = F.round((k % 9).cast("double") / 100.0, 2)
    rent_w, noi_w, occ_w = C.pro_forma_warnings(
        rent_growth, F.col("noi_in_place"), F.col("noi_pro_forma"), F.col("occupancy")
    )
    baseline = (
        F.when(k % 11 == 0, F.lit(0.0))
        .when(k % 13 == 0, F.lit(None))
        .otherwise(drow(F.col("asking_price") * 0.97))
    )
    return om.select(
        "orderkey",
        F.round(cap_penalty, 2).alias("cap_rate_penalty"),
        F.round(
            C.price_psf_penalty(F.col("asking_price"), F.col("total_sf"), F.col("price_psf")), 2
        ).alias("price_psf_penalty"),
        F.round(C.occupancy_penalty(F.col("occupancy")), 2).alias("occupancy_penalty"),
        F.round(
            C.noi_growth_penalty(F.col("noi_in_place"), F.col("noi_pro_forma")), 2
        ).alias("noi_growth_penalty"),
        "source_section",
        "value_type",
        F.round(clamped, 6).cast("double").alias("cap_rate_confidence"),
        rent_growth.alias("rent_growth_assumption"),
        rent_w.alias("rent_growth_warning"),
        noi_w.alias("noi_uplift_warning"),
        occ_w.alias("occupancy_warning"),
        (rent_w.cast("int") + noi_w.cast("int") + occ_w.cast("int")).cast("long").alias(
            "warning_count"
        ),
        baseline.alias("closing_price"),
        F.round(C.calibration_variance(F.col("asking_price"), baseline), 6).alias(
            "price_variance"
        ),
    ).orderBy("orderkey")


OM_VALIDATION_REPORT_SQL = f"""
WITH consistency AS ({OM_CONSISTENCY_SQL}),
field_conf AS ({OM_FIELD_CONFIDENCE_SQL}),
pro_forma AS ({PRO_FORMA_SQL}),
calibration AS ({CALIBRATION_SQL})
SELECT consistency.*,
       source_section, value_type, cap_rate_confidence,
       rent_growth_assumption, rent_growth_warning, noi_uplift_warning,
       occupancy_warning, warning_count,
       closing_price, price_variance
FROM consistency
JOIN field_conf USING (orderkey)
JOIN pro_forma USING (orderkey)
JOIN calibration USING (orderkey)
ORDER BY orderkey
"""


# registered through suites.om_full_validation_report (joined with the
# document-level confidence) since round 5
QUERIES: dict[str, QuerySpec] = {}
