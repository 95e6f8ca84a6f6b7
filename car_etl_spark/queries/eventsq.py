"""Event-stream analytics over the ``events`` table (batch views of the
reference's queue/worker semantics, SURVEY.md §2.9, plus the standard
time-window aggregations the reference lacked).

These run identically as Structured Streaming jobs (see
``car_etl_spark.streaming``); the batch forms here are the
oracle-checked versions of the same dataflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from car_etl_spark.queries import QuerySpec
from car_etl_spark.queries.parity import (
    cents6,
    davg,
    dsum,
    int64_cents_safe,
    money_fns,
    sql_davg,
    sql_dsum,
)
from car_etl_spark.tables import load_tables, parquet_column_min, parquet_sum_bound


def _ev_money_fns(sf_dir: str):
    """(sum, sum_raw, avg) for events.value — the int64-cents twins when
    the events footer proves no overflow (r13 decimal tail; see
    parity.int64_cents_safe), the DECIMAL(30,6) forms otherwise."""
    return money_fns(int64_cents_safe(*parquet_sum_bound(sf_dir, "events", "value")))


def _events_hourly_rollup_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window x type (T7 / streaming window
    analog): the batch equivalent of
    ``groupBy(window('ts','1 hour'), 'event_type')``.  Unordered — suites
    consume it so a declared per-arm sort (dead under their union, and
    paying its own range-bound sampling job) never enters the plan
    (r13; the r12 ``lsh_neardup_suite`` pattern)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    vsum = _ev_money_fns(sf_dir)[0]
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("event_count"),
        vsum(F.col("value")).alias("total_value"),
        F.countDistinct("user_id").alias("active_users"),
    )


def events_user_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 frame spec: per-user running sum in event order
    (rowsBetween(unboundedPreceding, currentRow)) — the cumulative-%
    loop of ``effective_rent.py:396-410`` distributed per key."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 2).alias("running_value"),
        )
        .orderBy("user_id", "event_id")
    )


EVENTS_RUNNING_TOTAL_SQL = """
SELECT user_id, event_id,
       ROUND(SUM(value) OVER (
         PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
FROM events
WHERE event_type = 'purchase'
ORDER BY user_id, event_id
"""


def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAV-style tall->wide pivot (§1.1 extraction_fields analog):
    conditional aggregation with a fixed column vocabulary — the
    scale-safe pivot (explicit values, no schema inference pass)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    vsum = _ev_money_fns(sf_dir)[0]
    aggs = []
    for et in ("click", "view", "purchase", "signup", "error"):
        aggs.append(
            vsum(
                F.when(F.col("event_type") == et, F.col("value")).otherwise(F.lit(0.0))
            ).alias(f"{et}_value")
        )
        aggs.append(
            F.sum(F.when(F.col("event_type") == et, 1).otherwise(0)).cast("long").alias(f"{et}_count")
        )
    wide = ev.groupBy("user_id").agg(*aggs)
    # Retry/DLQ queue stats (T5 batch analog, reference
    # extraction_worker.py:36-37,416-443) ride on the same pivot:
    # attempts capped at max_attempts=3, overflow dead-lettered.
    return wide.select(
        "*",
        F.least(F.col("error_count"), F.lit(3)).alias("attempts_used"),
        (F.col("error_count") > 3).alias("dead_lettered"),
    ).orderBy("user_id")


EVENTS_TYPE_PIVOT_SQL = """
SELECT *, LEAST(error_count, 3) AS attempts_used, error_count > 3 AS dead_lettered
FROM (
SELECT user_id,
       CAST(ROUND(SUM(CAST(CASE WHEN event_type = 'click' THEN value ELSE 0 END AS DECIMAL(30,6))), 2) AS DOUBLE) AS click_value,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_count,
       CAST(ROUND(SUM(CAST(CASE WHEN event_type = 'view' THEN value ELSE 0 END AS DECIMAL(30,6))), 2) AS DOUBLE) AS view_value,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
       CAST(ROUND(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS DECIMAL(30,6))), 2) AS DOUBLE) AS purchase_value,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count,
       CAST(ROUND(SUM(CAST(CASE WHEN event_type = 'signup' THEN value ELSE 0 END AS DECIMAL(30,6))), 2) AS DOUBLE) AS signup_value,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup_count,
       CAST(ROUND(SUM(CAST(CASE WHEN event_type = 'error' THEN value ELSE 0 END AS DECIMAL(30,6))), 2) AS DOUBLE) AS error_value,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count
FROM events GROUP BY user_id
) ORDER BY user_id
"""


def _events_json_props_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered core (suite arm — see :func:`_events_hourly_rollup_core`)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    k = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), _ev_money_fns(sf_dir)[2](F.col("value")).alias("avg_value"))
    )


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15: JSON attribute access (``field_value->>'value'`` analog,
    reference ``effective_rent.py:82-83``) + bucketed rollup."""
    return _events_json_props_core(spark, sf_dir).orderBy("k_bucket")


EVENTS_JSON_PROPS_SQL = """
SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 4) AS avg_value
FROM events
GROUP BY 1 ORDER BY k_bucket
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows via gap detection (lag + cumulative flag sum) —
    the batch equivalent of a 30-minute session window, per user."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w_order = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long"), 1).over(w_order)
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_session = ev.withColumn("session_id", F.sum(new_session).over(w_cum))
    # r13 (decimal tail): the nested dsum pair (per-session sum rounded
    # at 2 dp, then per-user sum of the rounded values) replays in pure
    # int64 when the events footer proves no overflow AND value >= 0
    # (integer HALF_UP needs a sign): per-session cents6 total ->
    # HALF_UP to cents2 via integer div (exactly DECIMAL's 2-dp round on
    # non-negatives) -> per-user long sum -> one exact decimal finish.
    # Bit-identical to the decimal path (never leaves integers between
    # the levels); falls back to DECIMAL(30,6) when unprovable.
    int_ok = int64_cents_safe(*parquet_sum_bound(sf_dir, "events", "value"))
    if int_ok:
        mn = parquet_column_min(sf_dir, "events", "value")
        int_ok = mn is not None and mn >= 0.0
    if int_ok:
        lvl1 = (
            with_session.groupBy("user_id", "session_id")
            .agg(
                F.count(F.lit(1)).alias("events_in_session"),
                F.sum(cents6(F.col("value"))).alias("__c6"),
            )
            .withColumn("__c2", F.expr("(__c6 + 5000) div 10000"))
        )
        return (
            lvl1.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("session_count"),
                F.max("events_in_session").alias("max_session_events"),
                F.round(
                    F.sum("__c2").cast("decimal(38,0)") / F.lit(100), 2
                ).cast("double").alias("total_value"),
            )
            .orderBy("user_id")
        )
    return (
        with_session.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("events_in_session"),
            dsum(F.col("value")).alias("session_value"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("session_count"),
            F.max("events_in_session").alias("max_session_events"),
            dsum(F.col("session_value")).alias("total_value"),
        )
        .orderBy("user_id")
    )


EVENTS_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w IS NULL
                OR CAST(FLOOR(epoch(ts)) AS BIGINT) - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sessions AS (
  SELECT user_id, event_id, value,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS events_in_session,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS session_value
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id, COUNT(*) AS session_count,
       MAX(events_in_session) AS max_session_events,
       CAST(ROUND(SUM(CAST(session_value AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_value
FROM per_session GROUP BY user_id ORDER BY user_id
"""


#: trailing-window ingestion rate gate — the reference's email rate
#: limiter (``src/services/email_rate_limiter.py``: count this sender's
#: ingestions in the trailing window, refuse the request at the limit;
#: its production parameters are 100/hour).  The batch-replay form
#: gates every event against its user's trailing count; window/limit
#: are scaled to this corpus's density (~3 events/user/day — 100/hour
#: would throttle nothing and make a degenerate oracle row).
RATE_WINDOW_SEC = 86_400
RATE_LIMIT = 5
_RATE_WINDOW_US = RATE_WINDOW_SEC * 1_000_000


def events_rate_limit_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rate-gate report: for each event, the trailing-window
    event count (RANGE frame over exact integer microseconds — peers
    at the same timestamp count together, so the decision is
    arrival-order-free and engine-identical); an event is THROTTLED
    when its window count exceeds the limit (i.e. more than
    ``RATE_LIMIT`` arrivals inside one window, the reference's
    ">= limit prior arrivals -> refuse" decision).  Rolled up per user:
    events, throttled count/fraction, and the peak window count.

    Scale shape: one hash exchange on user_id serves the RANGE window
    and the rollup; per-user event volume is bounded by retention, the
    same discipline as the session windows."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-(_RATE_WINDOW_US - 1), 0)
    )
    g = ev.select("user_id", F.count(F.lit(1)).over(w).alias("cnt_win"))
    thr = F.sum(F.when(F.col("cnt_win") > RATE_LIMIT, 1).otherwise(0)).cast("long")
    n = F.count(F.lit(1)).cast("long")
    return (
        g.groupBy("user_id")
        .agg(
            n.alias("rate_events"),
            thr.alias("rate_throttled"),
            F.max("cnt_win").cast("long").alias("rate_peak_window"),
        )
        .select(
            "user_id",
            "rate_events",
            "rate_throttled",
            F.round(
                F.col("rate_throttled").cast("double") / F.col("rate_events"), 6
            ).alias("rate_throttled_frac"),
            "rate_peak_window",
        )
        .orderBy("user_id")
    )


EVENTS_RATE_LIMIT_SQL = f"""
WITH c AS (
  SELECT user_id,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                        RANGE BETWEEN {_RATE_WINDOW_US - 1} PRECEDING AND CURRENT ROW) AS cnt_win
  FROM events
)
SELECT user_id,
       COUNT(*) AS rate_events,
       CAST(SUM(CASE WHEN cnt_win > {RATE_LIMIT} THEN 1 ELSE 0 END) AS BIGINT) AS rate_throttled,
       ROUND(CAST(SUM(CASE WHEN cnt_win > {RATE_LIMIT} THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS rate_throttled_frac,
       CAST(MAX(cnt_win) AS BIGINT) AS rate_peak_window
FROM c GROUP BY user_id ORDER BY user_id
"""


QUERIES: dict[str, QuerySpec] = {
    "events_user_running_total": QuerySpec(events_user_running_total, EVENTS_RUNNING_TOTAL_SQL, ("events", "window")),
    # events_type_pivot + events_sessionize registry slots consolidated
    # into the user-grain events_user_report suite (round 6); both
    # functions stay exported and individually benched
}


def _events_sliding_window_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 batch form of the sliding window (1 h window, 30 min slide):
    each event lands in two overlapping windows — explode the two
    window starts, aggregate per (window_start, type).  Matches the
    streaming `sliding_window_value` job expression-for-expression.
    Unordered suite arm (see :func:`_events_hourly_rollup_core`)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    half_hour = F.date_trunc("hour", F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
    starts = F.array(
        F.date_trunc("hour", F.col("ts")),
        half_hour + F.expr("INTERVAL 30 MINUTES"),
    )
    exploded = ev.select(
        F.explode(F.array_distinct(starts)).alias("window_start"),
        "event_type",
        "value",
        "ts",
    ).filter(
        (F.col("ts") >= F.col("window_start"))
        & (F.col("ts") < F.col("window_start") + F.expr("INTERVAL 1 HOUR"))
    )
    return exploded.groupBy(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"), _ev_money_fns(sf_dir)[0](F.col("value")).alias("total_value"))


# NOTE the dedup carries event_id: two distinct events sharing the same
# (type, value, ts) must stay two rows, exactly like the Spark side's
# per-event array_distinct over window starts.
EVENTS_SLIDING_SQL = f"""
WITH starts AS (
  SELECT event_id, event_type, value, ts, date_trunc('hour', ts) AS window_start FROM events
  UNION ALL
  SELECT event_id, event_type, value, ts,
         date_trunc('hour', ts - INTERVAL 30 MINUTE) + INTERVAL 30 MINUTE AS window_start
  FROM events
), dedup AS (
  SELECT DISTINCT event_id, event_type, value, ts, window_start FROM starts
  WHERE ts >= window_start AND ts < window_start + INTERVAL 1 HOUR
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n,
       {sql_dsum('value')} AS total_value
FROM dedup GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def _events_time_windows_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered union of the two window arms.  r13: the arms' declared
    per-arm sorts were dead under this union (the final sort re-orders
    everything) and each paid its own range-bound sampling job that
    re-executed the arm's aggregate read — the r12 suite defect, third
    family.  ``events_window_rollups`` consumes this core so the outer
    union is sorted exactly once."""
    hourly = _events_hourly_rollup_core(spark, sf_dir).select(
        F.lit("tumbling_1h").alias("window_kind"),
        F.col("hour_start").alias("window_start"),
        "event_type",
        F.col("event_count").alias("n"),
        "total_value",
        "active_users",
    )
    sliding = _events_sliding_window_core(spark, sf_dir).select(
        F.lit("sliding_1h_30m").alias("window_kind"),
        "window_start",
        "event_type",
        "n",
        "total_value",
        F.lit(None).cast("long").alias("active_users"),
    )
    return hourly.unionByName(sliding)


def events_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 in one entry: the tumbling 1-hour rollup and the sliding
    (1 h window / 30 min slide) rollup union-tagged by window kind — both
    streaming-window batch twins keep a driver correctness row in one
    registry slot.  ``active_users`` (countDistinct) only applies to the
    tumbling form; the sliding rows carry NULL.

    (window_kind, window_start, event_type) is the union's unique grain,
    so the declared sort is a total order and dropping the dead per-arm
    sorts cannot change the returned row order."""
    return _events_time_windows_core(spark, sf_dir).orderBy(
        "window_kind", "window_start", "event_type"
    )


EVENTS_TIME_WINDOWS_SQL = f"""
SELECT 'tumbling_1h' AS window_kind, hour_start AS window_start, event_type, n,
       total_value, active_users
FROM (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
         event_type,
         COUNT(*) AS n,
         {sql_dsum('value')} AS total_value,
         COUNT(DISTINCT user_id) AS active_users
  FROM events GROUP BY 1, 2
)
UNION ALL
SELECT 'sliding_1h_30m' AS window_kind, window_start, event_type, n, total_value,
       CAST(NULL AS BIGINT) AS active_users
FROM ({EVENTS_SLIDING_SQL})
ORDER BY window_kind, window_start, event_type
"""

# events_time_windows + events_multires_rollup -> suites.events_window_rollups;
# events_json_props + events_value_percentiles -> suites.events_profile


def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90/p99) of event value per
    type — the latency/value-distribution rollup every ops dashboard
    needs.  EXACT ``percentile`` (not percentile_approx) so the DuckDB
    ``quantile_cont`` twin matches bit-for-bit after rounding: both
    engines use the same linear-interpolation definition over the
    sorted values.

    Scale note: exact percentiles sort within each group — at 100 TB
    prefer per-day partitions (bounded groups) or switch to
    ``percentile_approx`` with a declared error budget; the exact form
    here is the oracle-checkable ground truth the approx form would be
    validated against."""
    return _events_value_percentiles_core(spark, sf_dir).orderBy("event_type")


def _events_value_percentiles_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered core (suite arm — see :func:`_events_hourly_rollup_core`)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.percentile("value", 0.5), 6).alias("p50_value"),
        F.round(F.percentile("value", 0.9), 6).alias("p90_value"),
        F.round(F.percentile("value", 0.99), 6).alias("p99_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


EVENTS_PERCENTILES_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(quantile_cont(value, 0.5), 6) AS p50_value,
       ROUND(quantile_cont(value, 0.9), 6) AS p90_value,
       ROUND(quantile_cont(value, 0.99), 6) AS p99_value,
       ROUND(MAX(value), 6) AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""

#: (quantile, output column) spec shared by the exact arm above and the
#: histogram-sketch arm below — same names, so the suite unions cleanly
HIST_QUANTILES = [(0.5, "p50_value"), (0.9, "p90_value"), (0.99, "p99_value")]
HIST_BINS = 64


def _events_hist_quantiles_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-state percentile path the exact arm's scale note
    promises: equi-width histogram quantiles
    (``functions/sketches.py``) — at most 64 counters per group with
    full map-side combine, vs the exact form's per-group sort.  Served
    beside the exact arm in the ``events_profile`` suite so the
    sketch's cross-engine portability AND its error on this corpus are
    both in the oracle-checked hash every round.  Unordered suite arm (see
    :func:`_events_hourly_rollup_core`)."""
    from car_etl_spark.functions.sketches import (
        histogram_quantiles,
        histogram_state,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    state = histogram_state(ev, ["event_type"], F.col("value"), HIST_BINS)
    est = histogram_quantiles(state, ["event_type"], HIST_QUANTILES, HIST_BINS)
    nm = state.groupBy("event_type").agg(
        F.sum("__cnt").alias("n_events"),
        F.round(F.max("__hi"), 6).alias("max_value"),
    )
    return est.join(nm, "event_type").select(
        "event_type", "n_events", "p50_value", "p90_value", "p99_value", "max_value"
    )


def events_hist_quantiles_sql() -> str:
    from car_etl_spark.functions.sketches import histogram_quantiles_sql_ctes

    ctes = histogram_quantiles_sql_ctes(
        "events", ["event_type"], "value", HIST_QUANTILES, HIST_BINS
    )
    return f"""
WITH {ctes}, qq_nm AS (
  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_events,
         ROUND(MAX(hi), 6) AS max_value
  FROM qq_hist GROUP BY event_type
)
SELECT qq_out.event_type, n_events, p50_value, p90_value, p99_value, max_value
FROM qq_out JOIN qq_nm ON qq_nm.event_type = qq_out.event_type
ORDER BY qq_out.event_type
"""


#: fixed per-user activity probes for the count-min arm (user ids are
#: dense from 0 at every SF, so the probe set exists at all scales)
CMS_PROBE_USERS = tuple(str(u) for u in range(8))
CMS_D = 4
CMS_W = 1024


def _events_user_cms_freq_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point-frequency estimates of per-user event counts
    (``functions/sketches.py``) — the frequency member of the sketch
    family, the distinct-activity reporting shape over the reference's
append-only audit events (``src/audit/logger.py``) at
    100 TB: state fixed at d·w counters with full map-side combine and
    counter-sum shard merge, vs the exact groupBy whose state grows
    with user cardinality.  Probes are driver-side literals (no
    in-engine hashing); served beside the exact arm in the
    ``events_profile`` suite so portability AND real over-count on this
    corpus sit in the oracle-checked hash.  Unordered suite arm (see
    :func:`_events_hourly_rollup_core`)."""
    from car_etl_spark.functions.sketches import cms_estimate, cms_state

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    state = cms_state(ev, [], F.col("user_id").cast("string"), CMS_D, CMS_W)
    return cms_estimate(
        state, [], list(CMS_PROBE_USERS), CMS_D, CMS_W,
        alias="n_events", item_alias="user_key",
    )


def _events_user_exact_freq_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact twin of the CMS probes: true per-user event counts for
    the same probe set (absent users count 0, mirroring the sketch's
    absent-counter semantics).  Unordered suite arm (see
    :func:`_events_hourly_rollup_core`)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    spark_probes = spark.createDataFrame(
        [(u,) for u in CMS_PROBE_USERS], "user_key string"
    )
    counts = (
        ev.select(F.col("user_id").cast("string").alias("user_key"))
        .filter(F.col("user_key").isin(list(CMS_PROBE_USERS)))
        .groupBy("user_key")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    return spark_probes.join(counts, "user_key", "left").select(
        "user_key",
        F.coalesce(F.col("__cnt"), F.lit(0).cast("long")).alias("n_events"),
    )


def events_user_cms_sql() -> str:
    from car_etl_spark.functions.sketches import cms_sql_ctes

    ctes = cms_sql_ctes(
        "(SELECT CAST(user_id AS VARCHAR) AS uk FROM events)",
        [], "uk", list(CMS_PROBE_USERS), CMS_D, CMS_W,
        alias="n_events", item_alias="user_key",
    )
    return f"WITH {ctes} SELECT user_key, n_events FROM cq_out ORDER BY user_key"


def events_user_exact_sql() -> str:
    esc = [u.replace("'", "''") for u in CMS_PROBE_USERS]
    probes = ", ".join(f"('{u}')" for u in esc)
    in_list = ", ".join(f"'{u}'" for u in esc)
    return f"""
WITH pr(user_key) AS (VALUES {probes}), cnt AS (
  SELECT CAST(user_id AS VARCHAR) AS user_key, COUNT(*) AS n
  FROM events WHERE CAST(user_id AS VARCHAR) IN ({in_list})
  GROUP BY CAST(user_id AS VARCHAR)
)
SELECT pr.user_key, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_events
FROM pr LEFT JOIN cnt ON pr.user_key = cnt.user_key
ORDER BY pr.user_key
"""


def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): attribute each purchase to the
    user's most recent click at-or-before it — the canonical backward
    as-of enrichment, one keyed shuffle + sort, zero row amplification.
    DuckDB's native ASOF JOIN is the oracle twin, so the operator's
    semantics (inclusive ties, left-join nulls, per-key independence)
    are pinned engine-to-engine."""
    from car_etl_spark.operators.asof import as_of_join

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 2).alias("purchase_value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.round("value", 2).alias("click_value")
    )
    joined = as_of_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts",
        right_values=["click_value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        "purchase_value",
        F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        "click_value_asof",
        F.round(
            (F.unix_micros("ts") - F.unix_micros("ts_asof")) / 1e6, 3
        ).alias("gap_seconds"),
    ).orderBy("event_id")


EVENTS_ASOF_SQL = """
WITH purchases AS (
  SELECT event_id, user_id, ts, ROUND(value, 2) AS purchase_value
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, ROUND(value, 2) AS click_value
  FROM events WHERE event_type = 'click'
)
SELECT p.event_id,
       p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       p.purchase_value,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       c.click_value AS click_value_asof,
       ROUND((epoch_us(p.ts) - epoch_us(c.ts)) / 1e6, 3) AS gap_seconds
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND c.ts <= p.ts
ORDER BY p.event_id
"""

QUERIES["events_asof_attribution"] = QuerySpec(
    events_asof_attribution, EVENTS_ASOF_SQL, ("events", "asof")
)


def events_in_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (operators/rangejoin.py): purchases landing
    inside ANY error's 10-minute aftermath window, with NO equi key —
    the shape that degenerates to a nested-loop join unless binned.
    Bin width = the window length, so interval amplification is <= 2
    rows and each pair meets in exactly one bin.  Oracle: DuckDB's
    plain BETWEEN join (its IEJoin handles the inequality natively)."""
    from car_etl_spark.operators.rangejoin import interval_point_join

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    windows = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("win_end"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("ts").alias("p_ts"), F.round("value", 2).alias("p_value")
    )
    hits = interval_point_join(
        purchases, windows, point_ts="p_ts",
        start_ts="win_start", end_ts="win_end", bin_seconds=600,
    )
    from car_etl_spark.queries.parity import dsum

    return (
        hits.groupBy("error_id")
        .agg(
            F.count(F.lit(1)).alias("purchases_in_window"),
            _ev_money_fns(sf_dir)[0](F.col("p_value"), 2).alias("purchase_value_sum"),
        )
        .orderBy("error_id")
    )


EVENTS_ERROR_WINDOWS_SQL = """
WITH windows AS (
  SELECT event_id AS error_id, ts AS win_start, ts + INTERVAL 10 MINUTE AS win_end
  FROM events WHERE event_type = 'error'
), purchases AS (
  SELECT ts AS p_ts, ROUND(value, 2) AS p_value
  FROM events WHERE event_type = 'purchase'
)
SELECT w.error_id,
       COUNT(*) AS purchases_in_window,
       CAST(ROUND(SUM(CAST(p.p_value AS DECIMAL(30,6))), 2) AS DOUBLE) AS purchase_value_sum
FROM windows w JOIN purchases p
  ON p.p_ts >= w.win_start AND p.p_ts <= w.win_end
GROUP BY w.error_id
ORDER BY w.error_id
"""

QUERIES["events_in_error_windows"] = QuerySpec(
    events_in_error_windows, EVENTS_ERROR_WINDOWS_SQL, ("events", "rangejoin")
)


def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered public form of :func:`_events_multires_rollup_core`."""
    return _events_multires_rollup_core(spark, sf_dir).orderBy("day", "event_type")


def _events_multires_rollup_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: minute buckets
    from raw events, hour buckets RE-AGGREGATED from the minute level,
    day buckets from the hour level — each resolution is one tiny
    shuffle over already-aggregated rows, never a re-scan of raw data
    (count/sum/max are associative; avg is carried as sum+count and
    finalized per level).  That is exactly how a continuous aggregate
    stays cheap at 100 TB: the raw scan happens once at the finest
    grain, and coarser grains cost O(finer-grain cardinality).

    Output: the DAY level with per-day event stats; the oracle
    aggregates raw->day directly, so the hash match PROVES the cascade
    is lossless."""
    from car_etl_spark.queries.parity import DEC, INT64_CENTS

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    # partial sums accumulate EXACTLY so the cascade is order-
    # independent — double addition is not associative, and the
    # minute->hour->day regrouping WILL hit last-ulp drift vs the
    # oracle's raw->day sum otherwise (bit us at sf0.01).  r13: the
    # exact carrier is int64 cents6 when the events footer proves no
    # overflow (integer sums re-group losslessly just like decimals,
    # without the BigDecimal per-row cost); DECIMAL(30,6) otherwise.
    int_ok = int64_cents_safe(*parquet_sum_bound(sf_dir, "events", "value"))
    vpart = cents6(F.col("value")) if int_ok else F.col("value").cast(DEC)
    minute = ev.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("minute_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vpart).alias("value_sum"),
        F.max("value").alias("value_max"),
    )
    hour = minute.groupBy(
        F.date_trunc("hour", F.col("minute_start")).alias("hour_start"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.sum("value_sum").alias("value_sum"),
        F.max("value_max").alias("value_max"),
    )
    day_sum = (
        F.col("__vs").cast("decimal(38,0)") / F.lit(INT64_CENTS)
        if int_ok
        else F.col("__vs")
    )
    day = (
        hour.groupBy(
            F.date_trunc("day", F.col("hour_start")).alias("day_start"), "event_type"
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("value_sum").alias("__vs"),
            F.max("value_max").alias("__vm"),
        )
        .select(
            "day_start",
            "event_type",
            "n_events",
            F.round(day_sum, 2).cast("double").alias("value_sum"),
            F.round(day_sum.cast("double") / F.col("n_events"), 6).alias("value_avg"),
            F.round(F.col("__vm"), 2).alias("value_max"),
        )
    )
    return day.select(
        F.date_format("day_start", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "value_sum",
        "value_avg",
        "value_max",
    )


EVENTS_MULTIRES_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS value_sum,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6) AS value_avg,
       ROUND(MAX(value), 2) AS value_max
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""

# (registered through suites.events_window_rollups)
