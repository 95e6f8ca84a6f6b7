"""Marketing-aware confidence + financial validation functions
(SURVEY.md §2.8 F26-F29; reference ``src/extraction/om_confidence.py``,
``pro_forma_validator.py``, ``om_calibration.py``).

All pure Column expressions: factor lookups are when-chains over the
published tables, consistency checks are cross-column validations, and
everything clamps to [0, 1] exactly like the reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# reference om_confidence.py:25-42
SOURCE_RELIABILITY = {
    "executive_summary": 0.95,
    "financial_summary_page": 0.92,
    "detailed_exhibits": 0.98,
    "investment_highlights": 0.75,
    "market_overview": 0.80,
    "pro_forma_projections": 0.70,
    "broker_assumptions": 0.65,
}
DEFAULT_SOURCE_FACTOR = 0.85

VALUE_TYPE_FACTORS = {
    "actual": 1.0,
    "trailing_12": 0.98,
    "annualized": 0.92,
    "pro_forma": 0.80,
    "stabilized": 0.75,
    "broker_estimate": 0.70,
}
DEFAULT_VALUE_FACTOR = 0.85


def _lookup(c: Column, table: dict[str, float], default: float) -> Column:
    expr = None
    for key, factor in table.items():
        cond = c == key
        expr = F.when(cond, F.lit(factor)) if expr is None else expr.when(cond, F.lit(factor))
    return expr.otherwise(F.lit(default))


def source_reliability(c: Column) -> Column:
    return _lookup(c, SOURCE_RELIABILITY, DEFAULT_SOURCE_FACTOR)


def value_type_factor(c: Column) -> Column:
    return _lookup(c, VALUE_TYPE_FACTORS, DEFAULT_VALUE_FACTOR)


def cap_rate_penalty(noi: Column, asking_price: Column, stated_cap: Column) -> Column:
    """F26: |NOI/price - stated cap| > 0.005 -> 0.85 penalty
    (reference ``om_confidence.py:52-59``)."""
    calc = noi / asking_price
    return F.when(
        asking_price.isNotNull()
        & (asking_price != 0)
        & (F.abs(calc - stated_cap) > 0.005),
        F.lit(0.85),
    ).otherwise(F.lit(1.0))


def price_psf_penalty(asking_price: Column, total_sf: Column, stated_psf: Column) -> Column:
    """F26: |price/sf - stated psf| / stated > 2% -> 0.90
    (``om_confidence.py:61-67``)."""
    calc = asking_price / total_sf
    return F.when(
        stated_psf.isNotNull()
        & (stated_psf != 0)
        & total_sf.isNotNull()
        & (total_sf != 0)
        & (F.abs(calc - stated_psf) / stated_psf > 0.02),
        F.lit(0.90),
    ).otherwise(F.lit(1.0))


def occupancy_penalty(occ: Column) -> Column:
    """F26: occupancy outside [0,1] -> 0.50; suspicious > 0.98 -> 0.85
    (``om_confidence.py:69-75``)."""
    return (
        F.when(occ.isNull(), F.lit(1.0))
        .when((occ > 1.0) | (occ < 0), F.lit(0.50))
        .when(occ > 0.98, F.lit(0.85))
        .otherwise(F.lit(1.0))
    )


def noi_growth_penalty(noi_in_place: Column, noi_pro_forma: Column) -> Column:
    """F26: pro-forma/in-place > 1.5 -> 0.70; > 1.3 -> 0.80
    (``om_confidence.py:77-85``)."""
    growth = noi_pro_forma / noi_in_place
    return (
        F.when(
            noi_in_place.isNull() | (noi_in_place == 0) | noi_pro_forma.isNull(), F.lit(1.0)
        )
        .when(growth > 1.5, F.lit(0.70))
        .when(growth > 1.3, F.lit(0.80))
        .otherwise(F.lit(1.0))
    )


def pro_forma_warnings(
    rent_growth: Column, noi_in_place: Column, noi_pro_forma: Column, occ_pro_forma: Column
) -> tuple[Column, Column, Column]:
    """F28: benchmark warnings (``pro_forma_validator.py:28-68``):
    rent growth > 5%, NOI uplift > 30%, stabilized occupancy > 97%."""
    rent_warn = rent_growth.isNotNull() & (rent_growth > 0.05)
    noi_warn = (
        noi_in_place.isNotNull()
        & (noi_in_place != 0)
        & noi_pro_forma.isNotNull()
        & ((noi_pro_forma / noi_in_place - 1) > 0.30)
    )
    occ_warn = occ_pro_forma.isNotNull() & (occ_pro_forma > 0.97)
    return rent_warn, noi_warn, occ_warn


def calibration_variance(actual: Column, baseline: Column) -> Column:
    """F29: (actual - baseline) / baseline with zero/NULL guards
    (``om_calibration.py:20-65``)."""
    return F.when(
        baseline.isNotNull() & (baseline != 0) & actual.isNotNull(),
        (actual - baseline) / baseline,
    )
