"""Session set-up that every warm call relies on."""

from __future__ import annotations

from car_etl_spark.queries import build_registry
from car_etl_spark.queries.suites import fine_grained_queries
from tests.conftest import SF_ORACLE

#: the perfbench ``batch`` rows, resolved the same way (fine-grained
#: form first)
BATCH_ROWS = ("q1_pricing_summary", "flagship_portfolio_rollup", "minhash_lsh_neardup", "pii_entity_counts")


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_plans_compile_nothing(spark):
    """Spark's generated-class cache must hold the rows' whole working
    set: with the default 100 entries (4 LRU segments of 25) the second
    round recompiled evicted classes."""
    reg, fine = build_registry(), fine_grained_queries()
    fns = [fine[n] if n in fine else reg[n].fn for n in BATCH_ROWS]
    counts = []
    for _ in range(2):
        for fn in fns:
            fn(spark, SF_ORACLE).toPandas()
        counts.append(_compiles(spark))
    assert counts[1] == counts[0], f"warm round compiled {counts[1] - counts[0]} classes"
