#!/usr/bin/env python
"""Continuous-aggregate scale curve: the state-is-aggregate-grain
evidence for the rollup store.

Claim (streaming/rollup_store.py): store size tracks buckets x groups
(here FIXED: 30 days x minute grain x 5 event types), not event
volume; serving a day-grain dashboard read is flat while the raw-scan
rollup grows with the corpus; and apply_batch cost tracks the BATCH,
not history.  This script grows the event corpus 256x (125k -> 32M rows
over the same 30-day window), builds a store per corpus, and measures
all three, plus the raw groupBy twin.

Corpora/stores land under .cache/rollupcurve; re-runs reuse them.
Usage: python scripts/bench_rollup_curve.py   (one JSON line on stdout)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from car_etl_spark.operators.indexing import _tree_bytes  # noqa: E402
from car_etl_spark.session import get_spark  # noqa: E402
from car_etl_spark.streaming.rollup_store import RollupStore  # noqa: E402

ROOT = os.path.join(REPO, ".cache", "rollupcurve")
SIZES = (125_000, 1_000_000, 8_000_000, 32_000_000)
MINUTES = 30 * 24 * 60  # fixed 30-day window at minute grain
BATCH_ROWS = 10_000


def make_events(spark, n: int) -> str:
    """n events spread over the SAME 30-day window: bucket cardinality
    is constant, only volume grows — the dashboard-workload shape."""
    path = os.path.join(ROOT, f"events-{n}.parquet")
    if os.path.isdir(path):
        return path
    base = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        (base + F.make_interval(mins=F.pmod(F.xxhash64("id"), F.lit(MINUTES)).cast("int")))
            .alias("ts"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).alias("user_id"),
        F.concat(F.lit("t"), F.pmod(F.xxhash64("id", F.lit(2)), F.lit(5)).cast("string"))
            .alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(10_000)) / 100.0).alias("value"),
    )
    df.coalesce(max(1, n // 2_000_000)).write.mode("overwrite").parquet(path)
    return path


def timed(fn, runs: int = 3) -> float:
    vals = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        vals.append(time.perf_counter() - t0)
    return round(min(vals), 4)


def main() -> None:
    spark = get_spark("car-etl-spark-rollup-curve")
    os.makedirs(ROOT, exist_ok=True)
    out: dict = {"metric": "rollup_scale_curve", "rows": []}
    for n in SIZES:
        src = make_events(spark, n)
        events = spark.read.parquet(src)
        store = RollupStore(os.path.join(ROOT, f"roll-{n}"))
        build_s = None
        if store.snapshot() is None:
            t0 = time.perf_counter()
            store.build(events)
            build_s = round(time.perf_counter() - t0, 2)

        def served():
            store.read(spark, "day").collect()

        def raw():
            (
                events.groupBy(F.date_trunc("day", "ts").alias("d"), "event_type")
                .agg(F.count(F.lit(1)), F.sum("value"), F.min("value"), F.max("value"))
                .collect()
            )

        served()
        raw()
        # maintenance cost for a FIXED-size micro-batch (late rows
        # included): must track the batch, not the corpus
        batch_df = events.limit(BATCH_ROWS)
        t0 = time.perf_counter()
        store.apply_batch(spark, batch_df, batch=store.snapshot().upper + 1)
        apply_s = round(time.perf_counter() - t0, 4)
        row = {
            "events": n,
            "store_mb": round(_tree_bytes(store.base_dir) / 1e6, 2),
            "events_mb": round(_tree_bytes(src) / 1e6, 2),
            "served_day_warm_sec": timed(served),
            "raw_day_scan_warm_sec": timed(raw),
            "apply_10k_batch_sec": apply_s,
        }
        if build_s is not None:
            row["build_sec"] = build_s
        out["rows"].append(row)
        print(f"# {row}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
