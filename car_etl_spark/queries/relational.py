"""Relational core: scans, filters, joins, aggregations, set ops.

Covers SURVEY.md §2.1 S1, §2.2 P1-P10, §2.3 J1/J2/J6/J7, §2.4 A1-A6,
§2.6 O3, §2.7 U1-U5 over the TPC-H-ish tables.  Scale notes inline: every
join states its intended physical strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from car_etl_spark.queries import QuerySpec
from car_etl_spark.functions.sketches import (
    hll_distinct,
    hll_sql_ctes,
    kmv_distinct,
    kmv_sql_ctes,
)
from car_etl_spark.queries.parity import (
    davg,
    dsum,
    dsum_raw,
    int64_cents_safe,
    money_fns,
    sql_davg,
    sql_dsum,
    sql_dsum_raw,
)
from car_etl_spark.tables import (
    load_tables,
    parquet_column_absmax,
    parquet_rowcount,
    parquet_sum_bound,
)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped scan+agg (A1/A2/A6, P3).

    One wide fact scan, map-side partial agg into 6 groups — the shape
    Catalyst executes as scan -> partial HashAggregate -> tiny exchange ->
    final HashAggregate.  The shipdate filter pushes to the parquet scan.
    """
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    # r13 (decimal tail): the DECIMAL(30,6) partials were a measured
    # 4.7x per-row floor (BigDecimal-backed above precision 18).  When
    # the parquet footer PROVES the int64-cents sum cannot overflow
    # (charge bound = maxprice * (1+maxdisc) * (1+maxtax); see
    # parity.int64_cents_safe), the same exact values accumulate as
    # primitive longs — bit-identical output, oracle unchanged.  At row
    # counts/magnitudes where the proof fails, the decimal path stays.
    s_, _sr, a_ = money_fns(_q1_int64_ok(sf_dir))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            s_(F.col("l_quantity")).alias("sum_qty"),
            s_(F.col("l_extendedprice")).alias("sum_base_price"),
            s_(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            s_(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            a_(F.col("l_quantity")).alias("avg_qty"),
            a_(F.col("l_extendedprice")).alias("avg_price"),
            a_(F.col("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _lineitem_money_bound(sf_dir: str) -> tuple[int, float | None]:
    """(row count, provable |value| bound over every lineitem money
    expression the relational queries sum) from footer metadata.  The
    bound covers l_quantity, l_extendedprice, and the disc_price/charge
    products: |price * (1 +- disc) * (1 +- tax)| <= maxprice *
    (1 + maxabs(disc)) * (1 + maxabs(tax)).  The column statistics are
    not walked when the row count is unknown: that alone fails the
    proof."""
    n = parquet_rowcount(sf_dir, "lineitem")
    if n < 0:
        return n, None
    mq = parquet_column_absmax(sf_dir, "lineitem", "l_quantity")
    mp = parquet_column_absmax(sf_dir, "lineitem", "l_extendedprice")
    md = parquet_column_absmax(sf_dir, "lineitem", "l_discount")
    mt = parquet_column_absmax(sf_dir, "lineitem", "l_tax")
    if any(v is None for v in (mq, mp, md, mt)):
        return n, None
    return n, max(mq, mp * (1.0 + md) * (1.0 + mt))


def _q1_int64_ok(sf_dir: str) -> bool:
    n, bound = _lineitem_money_bound(sf_dir)
    return int64_cents_safe(n, bound)


def _li_sum(sf_dir: str):
    """dsum or its int64-cents twin, under the lineitem footer proof."""
    s_, _sr, _a = money_fns(_q1_int64_ok(sf_dir))
    return s_


def _orders_int64_ok(sf_dir: str) -> bool:
    """Footer proof for o_totalprice sums/averages."""
    return int64_cents_safe(*parquet_sum_bound(sf_dir, "orders", "o_totalprice"))


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped 3-way join + top-k (J1/J2, O4).

    customer is the selective side (1/5 segment); orders joins shuffle on
    orderkey/custkey; the final top-10 is TakeOrderedAndProject — no
    global sort at scale.
    """
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    cutoff = F.lit("1998-06-30").cast("timestamp")
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cutoff)
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_li_sum(sf_dir)(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_iso"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_iso,
       o_orderpriority,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30'
  AND l_shipdate > TIMESTAMP '1998-06-30'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped snowflake join (J2 broadcast dims).

    region/nation/supplier broadcast (bounded dims at any scale); the
    lineitem<->orders shuffle join dominates and co-partitions on
    orderkey.  Customer-nation must equal supplier-nation.
    """
    t = load_tables(spark, sf_dir, ("region", "nation", "customer", "orders", "lineitem", "supplier"))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(_li_sum(sf_dir)(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_SQL = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def order_priority_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queue-fetch ordering (O3): priority first, FIFO within priority,
    bounded batch — the reference worker's
    ``ORDER BY priority DESC, created_at LIMIT n``
    (reference ``src/workers/extraction_worker.py:288-296``)."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    return (
        orders.filter(F.col("o_orderstatus") == "O")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_iso"),
        )
        .orderBy(F.asc("o_orderpriority"), F.asc("o_orderdate_iso"), F.asc("o_orderkey"))
        .limit(50)
    )


ORDER_PRIORITY_QUEUE_SQL = """
SELECT o_orderkey, o_orderpriority,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_iso
FROM orders
WHERE o_orderstatus = 'O'
ORDER BY o_orderpriority ASC, o_orderdate_iso ASC, o_orderkey ASC
LIMIT 50
"""


def _customers_with_orders_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (J7/P8) — the RLS EXISTS-subquery shape
    (reference ``031_extraction_fields.sql:46-52``).  Unordered: the
    presence suite consumes it so a per-arm sort (dead under its union, and
    paying a range-bound sampling job that re-executes the semi-join)
    never enters the plan (r13; the r12 lsh-suite pattern)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def _customers_without_orders_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (J6) — the ingest-dedup shape: rows whose key
    already exists are dropped (reference ``020_documents.sql:31``).
    Unordered suite arm (see :func:`_customers_with_orders_core`)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
    )


def customers_order_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/J7/P8 in one entry: the left-semi (RLS EXISTS) branch and the
    left-anti (ingest-dedup NOT EXISTS) branch union-tagged, so both
    join operators keep a driver correctness row in one registry slot."""
    semi = _customers_with_orders_core(spark, sf_dir).select(
        F.lit("has_urgent_orders").alias("presence"), "c_custkey", "c_name"
    )
    anti = _customers_without_orders_core(spark, sf_dir).select(
        F.lit("no_orders").alias("presence"), "c_custkey", "c_name"
    )
    # r13: arms consumed UNSORTED (each per-arm sort was dead under the
    # union AND re-ran its join in the range sampler) and the union is
    # hash-materialized once below the single declared sort, so the
    # final sort's sampling job reads shuffle files instead of
    # re-executing both joins.  (presence, c_custkey) is the unique
    # grain — the declared order is a total order, unchanged.
    return (
        semi.unionByName(anti)
        .repartition("presence", "c_custkey")
        .orderBy("presence", "c_custkey")
    )


CUSTOMERS_ORDER_PRESENCE_SQL = """
SELECT 'has_urgent_orders' AS presence, c_custkey, c_name
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
UNION ALL
SELECT 'no_orders' AS presence, c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY presence, c_custkey
"""


def union_pending_retryable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: union of two predicate branches with dedup — pending plus
    retryable-failed queue fetch (reference
    ``src/workers/extraction_worker.py:288-317``), mapped to orders."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    pending = orders.filter(F.col("o_orderstatus") == "O")
    retryable = orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000.0)
    )
    return (
        pending.unionByName(retryable)
        .select("o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("totalprice"))
        .distinct()
        .orderBy("o_orderkey")
    )


UNION_PENDING_RETRYABLE_SQL = """
SELECT DISTINCT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS totalprice
FROM (
  SELECT * FROM orders WHERE o_orderstatus = 'O'
  UNION ALL
  SELECT * FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0
)
ORDER BY o_orderkey
"""


def segment_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: count-distinct per group — the exact form side by side with
    the two portable sketch estimators (``functions/sketches.py``),
    all three value-checked in ONE oracle row.

    Exact ``countDistinct`` is correct but its shuffle state grows with
    cardinality; at 100 TB the per-group distinct-user counts of
    the reference's audit-event reporting (``src/audit/logger.py``)
run on the HLL form (fixed 2^p-register
    state, full map-side combine).  Putting estimate and truth in the
    same hashed row pins BOTH the cross-engine portability of the
    sketch arithmetic and its real error on this corpus every round."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    src = t["orders"].join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
    base = (
        src.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("distinct_customers"),
            F.count(F.lit(1)).alias("order_count"),
            money_fns(_orders_int64_ok(sf_dir))[0](F.col("o_totalprice")).alias("total_price"),
        )
    )
    key = F.col("o_custkey").cast("string")
    hll = hll_distinct(src, ["c_mktsegment"], key, alias="hll_distinct_customers")
    kmv = kmv_distinct(src, ["c_mktsegment"], key, alias="kmv_distinct_customers")
    return (
        base.join(F.broadcast(hll), "c_mktsegment")
        .join(F.broadcast(kmv), "c_mktsegment")
        .orderBy("c_mktsegment")
    )


def _segment_distinct_counts_sql() -> str:
    hll_ctes = hll_sql_ctes("src", ["c_mktsegment"], "CAST(o_custkey AS VARCHAR)",
                            alias="hll_distinct_customers")
    kmv_ctes = kmv_sql_ctes("src", ["c_mktsegment"], "CAST(o_custkey AS VARCHAR)",
                            alias="kmv_distinct_customers")
    return f"""
WITH src AS MATERIALIZED (
  SELECT c_mktsegment, o_custkey, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey
), base AS (
  SELECT c_mktsegment,
         COUNT(DISTINCT o_custkey) AS distinct_customers,
         COUNT(*) AS order_count,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_price
  FROM src GROUP BY c_mktsegment
), {hll_ctes}, {kmv_ctes}
SELECT base.c_mktsegment, distinct_customers, order_count, total_price,
       hll_distinct_customers, kmv_distinct_customers
FROM base
JOIN hq_out ON hq_out.c_mktsegment = base.c_mktsegment
JOIN kq_out ON kq_out.c_mktsegment = base.c_mktsegment
ORDER BY base.c_mktsegment
"""


SEGMENT_DISTINCT_COUNTS_SQL = _segment_distinct_counts_sql()


def weighted_avg_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: weighted average (sum(w*x)/sum(w)) per group — the reference's
    confidence weighting (``src/extraction/extractor.py:234-264``)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    _s, sr_, a_ = money_fns(_q1_int64_ok(sf_dir))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                sr_(F.col("l_extendedprice") * F.col("l_discount"))
                / sr_(F.col("l_extendedprice")),
                6,
            ).alias("weighted_avg_disc"),
            a_(F.col("l_discount"), 6).alias("plain_avg_disc"),
        )
        .orderBy("l_returnflag")
    )


WEIGHTED_AVG_DISCOUNT_SQL = """
SELECT l_returnflag,
       ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE) / CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS weighted_avg_disc,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6) AS plain_avg_disc
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def optional_filter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: the reference's optional-filter pattern
    (``filter IS NULL OR col = ANY(filter)``,
    ``042_match_function.sql:41``) with a set filter applied."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    statuses = ["O", "P"]  # the "filter present" case; None -> no filter
    df = orders
    if statuses is not None:
        df = df.filter(F.col("o_orderstatus").isin(statuses))
    return (
        df.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_fns(_orders_int64_ok(sf_dir))[2](F.col("o_totalprice"), 2).alias("avg_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


OPTIONAL_FILTER_ORDERS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 2) AS avg_price
FROM orders
WHERE o_orderstatus IN ('O', 'P')
GROUP BY o_orderstatus, o_orderpriority
ORDER BY o_orderstatus, o_orderpriority
"""


QUERIES: dict[str, QuerySpec] = {
    "q1_pricing_summary": QuerySpec(q1_pricing_summary, Q1_SQL, ("agg", "scan")),
    "q3_shipping_priority": QuerySpec(q3_shipping_priority, Q3_SQL, ("join", "topk")),
    "q5_local_supplier_volume": QuerySpec(q5_local_supplier_volume, Q5_SQL, ("join", "broadcast")),
    "order_priority_queue": QuerySpec(order_priority_queue, ORDER_PRIORITY_QUEUE_SQL, ("sort", "limit")),
    "customers_order_presence": QuerySpec(
        customers_order_presence, CUSTOMERS_ORDER_PRESENCE_SQL, ("semi-join", "anti-join")
    ),
    "union_pending_retryable": QuerySpec(union_pending_retryable, UNION_PENDING_RETRYABLE_SQL, ("set-op",)),
    "segment_distinct_counts": QuerySpec(segment_distinct_counts, SEGMENT_DISTINCT_COUNTS_SQL, ("agg",)),
    "weighted_avg_discount": QuerySpec(weighted_avg_discount, WEIGHTED_AVG_DISCOUNT_SQL, ("agg",)),
    "optional_filter_orders": QuerySpec(optional_filter_orders, OPTIONAL_FILTER_ORDERS_SQL, ("filter",)),
}
