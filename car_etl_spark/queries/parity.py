"""Cross-engine numeric parity helpers.

The driver's correctness gate hashes result values, so Spark and the
DuckDB oracle must produce *bit-identical* doubles.  Two failure modes
and their cures, learned empirically:

1. **Sum order.**  Double addition is not associative; Spark's partial
   aggregation and DuckDB's scan order accumulate differently, so large
   SUM/AVG values differ in the last ulps and can flip a ROUND digit.
   Cure: sum in ``DECIMAL(30,6)`` — exact, order-independent, identical
   in both engines.  Our money columns carry <= 6 true decimals, so the
   cast itself is exact.

2. **Round-at-tie.**  ``ROUND(x, 2)`` on a double lying at/near the
   ``.xx5`` tie disagrees between engines (Java BigDecimal HALF_UP on
   the exact binary expansion vs DuckDB's scaling).  Finite-decimal
   money values hit exact ties ~1% of the time.  Cure: round while the
   value is still an exact DECIMAL (both engines round exact decimal
   ties away from zero), casting to double only at the very end.

Rounding a *generic* real (ratios, averages after exact-sum division)
is safe natively: both engines hold the identical double and ties are
measure-zero.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(30,6)"
SQL_DEC = "DECIMAL(30,6)"


def dsum(c: Column, scale: int = 2) -> Column:
    """Exact decimal sum rounded at ``scale``, returned as double."""
    return F.round(F.sum(c.cast(DEC)), scale).cast("double")


def dsum_raw(c: Column) -> Column:
    """Exact decimal sum as double (for downstream ratios/sorts)."""
    return F.sum(c.cast(DEC)).cast("double")


def davg(c: Column, scale: int = 4) -> Column:
    """Average via exact sum / count (deterministic double division)."""
    return F.round(F.sum(c.cast(DEC)).cast("double") / F.count(F.lit(1)), scale)


def drow(c: Column, scale: int = 2) -> Column:
    """Row-wise money rounding through exact decimal (tie-stable)."""
    return F.round(c.cast(DEC), scale).cast("double")


def sql_dsum(expr: str, scale: int = 2) -> str:
    return f"CAST(ROUND(SUM(CAST({expr} AS {SQL_DEC})), {scale}) AS DOUBLE)"


def sql_dsum_raw(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {SQL_DEC})) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 4) -> str:
    return f"ROUND(CAST(SUM(CAST({expr} AS {SQL_DEC})) AS DOUBLE) / COUNT(*), {scale})"


def sql_drow(expr: str, scale: int = 2) -> str:
    return f"CAST(ROUND(CAST({expr} AS {SQL_DEC}), {scale}) AS DOUBLE)"


def rnd(c: Column, scale: int = 6) -> Column:
    """Engine-portable rounding for doubles that are bit-identical across
    engines but may sit ON a rounding tie (e.g. ratios of small
    integers): floor(x * 10^s + 0.5) / 10^s is pure IEEE double
    arithmetic, so both engines compute the identical result where their
    native ROUNDs tie-break differently."""
    factor = float(10**scale)
    return F.floor(c * factor + 0.5) / factor


# ---------------------------------------------------------------------------
# r13 fast path: int64-cents partial aggregation for fixed-scale money
# columns.  DECIMAL(30,6) sums are exact and order-independent, but any
# Spark decimal accumulator above precision 18 is BigDecimal-backed and
# costs a measured ~4.7x per row over a primitive sum (the r12 q1
# profile: 1.37 s decimal vs 0.29 s double on the isolated aggregate).
# When the inputs provably carry <= 6 true decimals AND the sum provably
# fits int64, the identical exact value can be accumulated as a
# primitive LONG of 10^-6 units ("cents6") and converted to the same
# exact decimal once per GROUP instead of once per row.
#
# Value-identity proof (why csum == dsum bit-for-bit):
#  1. Per-row extraction: the input double x approximates a true
#     <= 6-decimal value v (|x - v| <= ~7e-16 * |v|, a few ulps from the
#     row arithmetic).  cents6(x) = floor(x * 1e6 + 0.5): the double
#     product x * 1e6 differs from the integer v * 1e6 by
#     (|x - v| * 1e6 + ulp), which for |v| < 1e8 is < 0.1 — far from the
#     0.5 boundary — so floor(+0.5) recovers EXACTLY the integer
#     v * 1e6, for either sign (no tie can occur: the target is an
#     integer, not a half).  dsum's CAST(x AS DECIMAL(30,6)) recovers
#     the same v (its error budget is 0.5e-6).
#  2. Accumulation: SUM(long) is exact integer arithmetic given no
#     overflow; SUM(DECIMAL) is exact.  Same integer.
#  3. Finish: the long total T casts to DECIMAL(38,0) exactly and
#     T / 1e6 is an exact DECIMAL(38,6) (quotient needs <= 6 decimals,
#     Spark's division result scale here is 6, so no rounding occurs);
#     the same ROUND/CAST(double) tail as dsum/davg then operates on
#     the identical exact decimal.
#
# The proof obligations (<= 6 true decimals; |v| < 1e8; n * |v|max * 1e6
# < 2^62) are checked per query from parquet FOOTER statistics via
# :func:`int64_cents_safe` — at row counts or magnitudes where the
# proof fails (e.g. 10^12-row corpora where 10^23 cents overflows
# int64), callers FALL BACK to the decimal forms above, which remain
# the always-correct path.  The <= 6-true-decimals property is the
# repo's money contract (module docstring above; the corpus generates
# 2-decimal money values, asserted by the oracle hash at every SF).

INT64_CENTS = 10**6


def int64_cents_safe(n_rows: int | None, max_abs: float | None) -> bool:
    """True when the int64-cents path is PROVABLY exact and overflow-free
    for a sum of ``n_rows`` values bounded by ``|v| <= max_abs``:
    extraction exactness needs max_abs < 1e8 (error << 0.5 cents6), and
    the accumulator needs (n_rows+1) * (max_abs+1) * 1e6 < 2^62 (2x
    margin under int64).  ``None``/negative inputs (unreadable footer)
    fail the proof -> callers keep the decimal path."""
    return (
        n_rows is not None
        and n_rows >= 0
        and max_abs is not None
        and 0.0 <= max_abs < 1e8
        and (n_rows + 1) * (max_abs + 1.0) * 1e6 < float(2**62)
    )


def cents6(c: Column) -> Column:
    """Exact 10^-6-unit integer of a <= 6-true-decimal double (proof
    above; only valid under :func:`int64_cents_safe`)."""
    return F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")


def _dec6(total_cents: Column) -> Column:
    """Exact DECIMAL(38,6) from a long cents6 total (exact division)."""
    return total_cents.cast("decimal(38,0)") / F.lit(INT64_CENTS)


def csum(c: Column, scale: int = 2) -> Column:
    """int64-cents twin of :func:`dsum` — bit-identical output."""
    return F.round(_dec6(F.sum(cents6(c))), scale).cast("double")


def csum_raw(c: Column) -> Column:
    """int64-cents twin of :func:`dsum_raw` — bit-identical output."""
    return _dec6(F.sum(cents6(c))).cast("double")


def cavg(c: Column, scale: int = 4) -> Column:
    """int64-cents twin of :func:`davg` — bit-identical output."""
    return F.round(
        _dec6(F.sum(cents6(c))).cast("double") / F.count(F.lit(1)), scale
    )


def money_fns(ok: bool):
    """(sum, sum_raw, avg) triple: the int64-cents twins when the
    footer-derived proof holds, the decimal forms otherwise."""
    return (csum, csum_raw, cavg) if ok else (dsum, dsum_raw, davg)
