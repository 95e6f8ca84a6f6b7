"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings are
what we would ship on a multi-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting) so plans
  re-optimize when real data sizes diverge from estimates — essential at
  100 TB where static `shuffle.partitions` is always wrong for someone.
- Arrow-enabled so any Pandas-UDF boundary pays one columnar batch
  transfer instead of per-row pickling.
- UTC session timezone so temporal results are deployment-independent.
- A generated-class cache (:data:`CODEGEN_CACHE_ENTRIES`) that holds the
  working set of every warm plan, so whole-stage codegen compiles each
  class once per session instead of once per call.  It is a static conf:
  only sessions built by :func:`get_spark` get it.  A driver-owned
  session (the verify harness's, passed to ``__spark_entry__`` and
  tuned by :func:`tune_session`) keeps Spark's default of 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: ``spark.sql.codegen.cache.maxEntries``.  Spark's default of 100 is
#: split over 4 Guava LRU segments of 25 entries.  The perfbench batch
#: rows use 92 distinct generated classes and a serve run 308, so with
#: the default every warm batch pass recompiled 22 Janino classes and a
#: serve run compiled 552.  At 1000 (250 per segment) a warm batch pass
#: compiles none and a serve run compiles each class once.  Static: the
#: cache is built once per JVM, so it cannot be set on a live session
#: (see the module docstring).
CODEGEN_CACHE_ENTRIES = 1000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime (mutable) confs to an existing session.

    Used both by :func:`get_spark` and on driver-owned sessions we did not
    create (the verify harness passes its own session into the entry
    point).  Only runtime-settable confs belong here: a static conf such
    as the codegen cache size (:data:`CODEGEN_CACHE_ENTRIES`) cannot
    reach a driver-owned session, because its context already exists
    when this runs.  Idempotent and
    memoized per session object: every query path calls this via
    ``load_tables``, and each conf.set is a py4j round-trip — skipping
    the ~8 of them after the first call shaves fixed latency off every
    serving-shaped query.
    """
    if getattr(spark, "_car_etl_tuned", False):
        return spark
    conf = {
        "spark.sql.session.timeZone": "UTC",
        # events.parquet carries TIMESTAMP(NANOS) which vanilla Spark
        # rejects; read as long and convert in load_tables.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Spark's default INT96 timestamps carry NO parquet min/max
        # statistics, so timestamp predicates can never skip files or
        # row groups on tables we write — a silent full-scan tax on
        # every time-ranged query at 100 TB.  TIMESTAMP_MICROS restores
        # footer stats (and is the modern spec type).
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # 10 MB default is conservative; dims (region/nation/part/supplier)
        # comfortably broadcast far beyond it on real executors.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Driver session may pin some confs; never fail a query on tuning.
            pass
    try:
        spark._car_etl_tuned = True
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "car-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned session.  ``extra_conf`` carries
    context-creation-time confs a caller needs beyond the standard set —
    e.g. ``spark.scheduler.mode=FAIR`` for the concurrent-serving bench,
    which cannot be set on a live context."""
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Wide codegen'd aggregates (48-hash MinHash signatures) exceed
        # HotSpot's huge-method JIT limit; without this flag they run
        # interpreted with wildly variable latency (measured 8s-137s).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return tune_session(builder.getOrCreate())
