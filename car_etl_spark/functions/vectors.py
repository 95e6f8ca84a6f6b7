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

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    products = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(products, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def literal_vector(values) -> Column:
    """A query vector as ONE SQL literal expression.

    Serving-path latency note: building the same array with 1536
    ``F.lit`` calls costs 1536 py4j round-trips (~1 s of pure driver
    overhead at reference embedding size); one ``F.expr`` string is a
    single round-trip and parses JVM-side.  Constant-folds, so the
    query-side norm in :func:`cosine_similarity` is computed once."""
    body = ",".join(f"CAST({float(x)!r} AS DOUBLE)" for x in values)
    return F.expr(f"array({body})")
