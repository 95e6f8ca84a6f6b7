"""Oracle-checked query registry — the driver contract surface.

Each entry pairs a Spark DataFrame program with (where expressible) an
equivalent ANSI-SQL string the driver runs through DuckDB over the same
parquet tables.  Parity conventions that make order-insensitive
value-hash comparison robust across engines:

- every computed column is explicitly aliased, identically on both sides;
- every double output is ``round()``-ed (2 dp for money, 4-6 dp for
  ratios) on both sides, so accumulation-order float noise cannot flip
  the hash;
- temporal outputs are formatted to ISO strings on both sides;
- every LIMIT carries a total deterministic ORDER BY (score, then key).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One registered query: Spark program + optional DuckDB oracle SQL.

    ``oracle`` is either the SQL string itself or a builder
    ``sf_dir -> SQL`` for oracles that depend on corpus-derived
    artifacts (the learned-BPE vocabulary twin): the builder constructs
    (and if needed materializes) the artifact for the SAME corpus the
    Spark side will read, then returns the SQL referencing it.  Resolve
    with :func:`resolve_oracle`; ``__spark_entry__.oracle_sql()``
    resolves at the driver's correctness dir (sf0.01)."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | Callable[[str], str] | None
    tags: tuple[str, ...] = field(default_factory=tuple)


def resolve_oracle(oracle: str | Callable[[str], str] | None, sf_dir: str) -> str | None:
    """Materialize a QuerySpec oracle for a concrete corpus dir."""
    return oracle(sf_dir) if callable(oracle) else oracle


#: prepared-statement cache for the serving-shaped queries, keyed by
#: (Spark application id, query name, corpus dir, source file identities).
_PREPARED: dict[tuple, DataFrame] = {}


def prepared(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    sources: tuple[str, ...],
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Memoize the ANALYZED DataFrame of a fixed serving query — the
    prepared-statement discipline of a long-running search service.

    A DataFrame is a lazy plan: re-executing the same object rescans its
    (immutable, content-addressed) inputs, so caching it only skips the
    per-call plan construction + analysis + file-listing overhead —
    measured ~0.35 s of a 0.51 s vector_topk call at sf0.1, i.e. the
    majority of sub-second serving latency.  The cache key carries each
    source's file identity (``tables.file_identity``: every parquet
    file's path, mtime and size, so a regenerated corpus or a part file
    rewritten in place gets a fresh plan) and the Spark application id
    (a restarted session never sees another session's plans).  Only
    STATIC queries (fixed terms / fixed query vector per corpus) may use
    this; anything parameterized per call must build its plan per
    call."""
    import os

    from car_etl_spark.tables import file_identity

    stamps = tuple(file_identity(os.path.join(sf_dir, s)) for s in sources)
    if None in stamps:
        return build()  # non-filesystem layout: skip caching, never serve stale
    key = (spark.sparkContext.applicationId, name, os.path.realpath(sf_dir), stamps)
    df = _PREPARED.get(key)
    if df is None:
        df = build()
        _PREPARED[key] = df
    return df


def build_registry() -> dict[str, QuerySpec]:
    from car_etl_spark.queries import (
        analytics,
        asofq,
        confidenceq,
        dedup,
        eav,
        entity,
        eventsq,
        extraction,
        fts,
        media,
        misc,
        mix,
        normalize,
        pii,
        rag,
        relational,
        search,
        suites,
        textops,
        vector,
    )

    registry: dict[str, QuerySpec] = {}
    for mod in (relational, analytics, normalize, entity, textops, vector, eventsq, search, dedup, eav, rag, confidenceq, misc, fts, extraction, pii, media, mix, asofq):
        for name, spec in mod.QUERIES.items():
            if name in registry:
                raise ValueError(f"duplicate query name: {name}")
            registry[name] = spec
    for name, spec in suites.build_suite_queries().items():
        if name in registry:
            raise ValueError(f"duplicate query name: {name}")
        registry[name] = spec
    # the external driver checks a 50-entry window; the registry must
    # never outgrow it again (r4 verdict item 3)
    if len(registry) > 50:
        raise ValueError(f"registry has {len(registry)} entries (> driver's 50-row window)")
    return registry
