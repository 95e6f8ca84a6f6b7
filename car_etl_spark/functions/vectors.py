"""Vector math over ``array<float>`` embedding columns.

Exact-parity replacement for the reference's pgvector cosine operator
(``1 - (embedding <=> q)``, reference
``supabase/migrations/042_match_function.sql:37-44``): dot products and
norms as higher-order-function expressions that run inside codegen —
no UDF, no Python round-trip.  Elements are cast to double *before*
multiplication so accumulation order and precision are deterministic and
engine-portable (the DuckDB oracle computes the same left-to-right sum).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType


def dot(a: Column, b: Column) -> Column:
    products = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(products, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def literal_doubles(values) -> Column:
    """A list of doubles as ONE string literal that Catalyst folds into
    one ``array<double>`` literal: ``split(lit(csv), ",")`` cast to
    ``array<double>``.

    Per-request values (a query vector, an ADC table) reach the JVM in
    one py4j call and are parsed by ``Double.parseDouble``, which reads
    ``repr``'s shortest round-trip form back bit for bit (subnormals and
    -0.0 included) — no SQL parse, no per-element ``F.lit`` round trip.
    The folded array literal is held by reference in generated code,
    not inlined into its source, so fresh values compile no new class.
    NaN and infinities raise ``ValueError``: the cast would read them
    as the IEEE specials, which no serving path can rank."""
    vals = [float(x) for x in values]
    bad = [x for x in vals if not math.isfinite(x)]
    if bad:
        raise ValueError(f"literal_doubles: non-finite value {bad[0]!r}")
    if not vals:
        return F.array().cast(ArrayType(DoubleType()))
    return F.split(F.lit(",".join(map(repr, vals))), ",").cast(ArrayType(DoubleType()))


def literal_vector(values) -> Column:
    """A query vector as one array literal (:func:`literal_doubles`).
    The query-side norm in :func:`cosine_similarity` folds once at
    optimization."""
    return literal_doubles(values)
