"""Portfolio-analytics queries — the effective-rent service semantics.

Re-expresses the reference's hand-rolled analytics loops
(``src/services/effective_rent.py:93-242,311-428,544-591``, SURVEY.md
§2.4 A1-A3/A8-A10, §2.5 W1-W4) as DataFrame aggregation + window
dataflow.  The reference computed these with driver-side Python loops
over fetched rows; here every step is distributed:

- grand totals come from an agg + broadcast cross-join (never a
  single-partition global window over the full fact table);
- top-k uses orderBy+limit (TakeOrderedAndProject) so no global sort;
- ranking/cumulative windows run only over the tiny top-k slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from car_etl_spark.queries import QuerySpec
from car_etl_spark.queries.parity import (
    DEC,
    davg,
    drow,
    dsum,
    dsum_raw,
    int64_cents_safe,
    money_fns,
    sql_davg,
    sql_drow,
    sql_dsum,
    sql_dsum_raw,
)
from car_etl_spark.tables import load_tables, parquet_sum_bound


def _customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer revenue — the 'monthly rent per tenant' analog.

    Skip rules per the reference (P9, ``effective_rent.py:147-173``):
    drop rows with no name or zero total.
    """
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    # r13 (decimal tail): int64-cents partials when the lineitem footer
    # proves no overflow — see relational._lineitem_money_bound and
    # parity.int64_cents_safe; bit-identical values, decimal fallback
    from car_etl_spark.queries.relational import _lineitem_money_bound

    _s, sr_, _a = money_fns(int64_cents_safe(*_lineitem_money_bound(sf_dir)))
    rev = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            sr_(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue_raw"),
            F.countDistinct("o_orderkey").alias("order_count"),
        )
    )
    return (
        rev.join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_name").isNotNull() & (F.col("revenue_raw") != 0))
        .select("c_custkey", "c_name", "c_mktsegment", "revenue_raw", "order_count")
    )


def flagship_portfolio_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: tenant-concentration report (SURVEY.md §7.2).

    Top-25 customers by revenue with share-of-portfolio and cumulative
    share in rank order — A1/A3 + W1/W2/W4 + O4 in one DAG.
    """
    # Materialize the customer-grain aggregate ONCE (r12): the total and
    # top-k branches prune different columns, so their exchanges never
    # canonicalize equal and ReusedExchange cannot fire — without this
    # the full lineitem⋈orders⋈customer + two-level aggregate subtree
    # executes twice (verified in plans/r12/flagship_portfolio_rollup
    # _before.txt: two disjoint scan trees).  Customer grain is bounded
    # (~rows = |customer|), so the checkpoint is small at any scale.
    rev = _customer_revenue(spark, sf_dir).localCheckpoint(eager=True)
    total = rev.agg(F.sum(F.col("revenue_raw").cast(DEC)).cast("double").alias("portfolio_total"))
    topk = (
        rev.crossJoin(F.broadcast(total))
        .orderBy(F.desc("revenue_raw"), F.asc("c_custkey"))
        .limit(25)
    )
    w_rank = Window.orderBy(F.desc("revenue_raw"), F.asc("c_custkey"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return topk.select(
        F.row_number().over(w_rank).cast("long").alias("rank"),
        "c_custkey",
        "c_name",
        "c_mktsegment",
        drow(F.col("revenue_raw")).alias("revenue"),
        "order_count",
        F.round(F.col("revenue_raw") / F.col("portfolio_total"), 6).alias("pct_of_total"),
        F.round(
            F.sum(F.col("revenue_raw") / F.col("portfolio_total")).over(w_cum), 6
        ).alias("cumulative_pct"),
    )


FLAGSHIP_SQL = """
WITH rev AS (
  SELECT c_custkey, c_name, c_mktsegment,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue_raw,
         COUNT(DISTINCT o_orderkey) AS order_count
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_name IS NOT NULL
  GROUP BY c_custkey, c_name, c_mktsegment
  HAVING CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) <> 0
), topk AS (
  SELECT rev.*, (SELECT CAST(SUM(CAST(revenue_raw AS DECIMAL(30,6))) AS DOUBLE) FROM rev) AS portfolio_total
  FROM rev
  ORDER BY revenue_raw DESC, c_custkey ASC
  LIMIT 25
)
SELECT ROW_NUMBER() OVER (ORDER BY revenue_raw DESC, c_custkey ASC) AS rank,
       c_custkey, c_name, c_mktsegment,
       CAST(ROUND(CAST(revenue_raw AS DECIMAL(30,6)), 2) AS DOUBLE) AS revenue,
       order_count,
       ROUND(revenue_raw / portfolio_total, 6) AS pct_of_total,
       ROUND(SUM(revenue_raw / portfolio_total) OVER (
             ORDER BY revenue_raw DESC, c_custkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cumulative_pct
FROM topk
"""


def top5_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: top-5 share of total — single-row concentration metric
    (reference ``effective_rent.py:413-414,577-584``)."""
    # same ReusedExchange-defeat as flagship (r12): materialize the
    # customer-grain aggregate once for the total and top-5 branches
    rev = _customer_revenue(spark, sf_dir).localCheckpoint(eager=True)
    total = rev.agg(
        F.sum(F.col("revenue_raw").cast(DEC)).alias("portfolio_total"),
        F.count(F.lit(1)).alias("customer_count"),
    )
    top5 = (
        rev.orderBy(F.desc("revenue_raw"), F.asc("c_custkey"))
        .limit(5)
        .agg(F.sum(F.col("revenue_raw").cast(DEC)).alias("top5_revenue"))
    )
    return top5.crossJoin(F.broadcast(total)).select(
        F.round("top5_revenue", 2).cast("double").alias("top5_revenue"),
        F.round("portfolio_total", 2).cast("double").alias("portfolio_total"),
        F.round(
            F.col("top5_revenue").cast("double") / F.col("portfolio_total").cast("double"), 6
        ).alias("top5_share"),
        "customer_count",
    )


TOP5_CONCENTRATION_SQL = """
WITH rev AS (
  SELECT c_custkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue_raw
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_name IS NOT NULL
  GROUP BY c_custkey
  HAVING CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) <> 0
), top5 AS (
  SELECT SUM(CAST(revenue_raw AS DECIMAL(30,6))) AS top5_revenue
  FROM (SELECT revenue_raw FROM rev ORDER BY revenue_raw DESC, c_custkey ASC LIMIT 5)
), tot AS (
  SELECT SUM(CAST(revenue_raw AS DECIMAL(30,6))) AS portfolio_total,
         COUNT(*) AS customer_count
  FROM rev
)
SELECT CAST(ROUND(top5_revenue, 2) AS DOUBLE) AS top5_revenue,
       CAST(ROUND(portfolio_total, 2) AS DOUBLE) AS portfolio_total,
       ROUND(CAST(top5_revenue AS DOUBLE) / CAST(portfolio_total AS DOUBLE), 6) AS top5_share,
       customer_count
FROM top5, tot
"""


def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: ``is_current`` derivation — latest version per key via
    row_number, the Spark form of the reference's demote-trigger
    (``030_extractions.sql:84-105``)."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_orderdate"),
            F.round("o_totalprice", 2).alias("latest_totalprice"),
        )
        .orderBy("o_custkey")
    )


def next_version_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: MAX(version)+1 per key — the extraction-versioning rule
    (``030_extractions.sql:84-105``) computed deterministically per
    batch instead of via a serialized trigger."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("current_versions"),
            (F.max("o_orderkey") + 1).alias("next_version_key"),
        )
        .orderBy("o_custkey")
    )


def customer_order_versioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 + A7 in one entry: is_current (latest order via row_number)
    joined with MAX(version)+1 per customer — one registry slot, both
    operators driver-checked.  Same grain (o_custkey), co-partitioned
    join on the grouping key (no extra shuffle beyond the window's)."""
    latest = latest_order_per_customer(spark, sf_dir)
    nextv = next_version_per_customer(spark, sf_dir)
    return latest.join(nextv, "o_custkey").orderBy("o_custkey")


CUSTOMER_ORDER_VERSIONING_SQL = """
WITH latest AS (
  SELECT o_custkey,
         o_orderkey AS latest_orderkey,
         strftime(o_orderdate, '%Y-%m-%d') AS latest_orderdate,
         ROUND(o_totalprice, 2) AS latest_totalprice
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders)
  WHERE rn = 1
), nextv AS (
  SELECT o_custkey, COUNT(*) AS current_versions,
         MAX(o_orderkey) + 1 AS next_version_key
  FROM orders GROUP BY o_custkey
)
SELECT latest.*, current_versions, next_version_key
FROM latest JOIN nextv USING (o_custkey)
ORDER BY o_custkey
"""


def effective_components_rowwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: row-wise sum of coalesced components — the 6-component
    effective-rent composition (``effective_rent.py:151-169``) as pure
    column arithmetic with null guards."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    base = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    tax_part = F.col("l_extendedprice") * F.col("l_tax")
    return (
        li.filter(F.col("l_quantity") >= 45)
        .select(
            "l_orderkey",
            "l_linenumber",
            drow(base).alias("net_price"),
            drow(tax_part).alias("tax_amount"),
            drow(
                F.coalesce(base, F.lit(0.0))
                + F.coalesce(tax_part, F.lit(0.0))
                + F.coalesce(F.col("l_quantity"), F.lit(0.0))
            ).alias("effective_total"),
        )
        # hash-materialize below the sort (§2 sampling tax: the range
        # sampler re-ran the rowwise decimal arithmetic over the scan)
        .repartition("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    )


EFFECTIVE_COMPONENTS_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)), 2) AS DOUBLE) AS net_price,
       CAST(ROUND(CAST(l_extendedprice * l_tax AS DECIMAL(30,6)), 2) AS DOUBLE) AS tax_amount,
       CAST(ROUND(CAST(COALESCE(l_extendedprice * (1 - l_discount), 0) + COALESCE(l_extendedprice * l_tax, 0) + COALESCE(l_quantity, 0) AS DECIMAL(30,6)), 2) AS DOUBLE) AS effective_total
FROM lineitem
WHERE l_quantity >= 45
ORDER BY l_orderkey, l_linenumber
"""


def _o_sum(sf_dir: str):
    """dsum or its int64-cents twin under the orders footer proof."""
    ok = int64_cents_safe(*parquet_sum_bound(sf_dir, "orders", "o_totalprice"))
    return money_fns(ok)[0]


def _o_avg(sf_dir: str):
    ok = int64_cents_safe(*parquet_sum_bound(sf_dir, "orders", "o_totalprice"))
    return money_fns(ok)[2]


def nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A10: per-group sums + ratio-of-sums (per-SF-average analog,
    ``effective_rent.py:492-497``), dims broadcast."""
    t = load_tables(spark, sf_dir, ("nation", "customer", "orders"))
    return (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.countDistinct("c_custkey").alias("customer_count"),
            _o_sum(sf_dir)(F.col("o_totalprice")).alias("total_price"),
            _o_avg(sf_dir)(F.col("o_totalprice")).alias("avg_price_per_order"),
        )
        .orderBy("n_name")
    )


NATION_ROLLUP_SQL = """
SELECT n_name,
       COUNT(*) AS order_count,
       COUNT(DISTINCT c_custkey) AS customer_count,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_price,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 4) AS avg_price_per_order
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


QUERIES: dict[str, QuerySpec] = {
    "flagship_portfolio_rollup": QuerySpec(flagship_portfolio_rollup, FLAGSHIP_SQL, ("window", "topk")),
    "top5_concentration": QuerySpec(top5_concentration, TOP5_CONCENTRATION_SQL, ("agg",)),
    "customer_order_versioning": QuerySpec(
        customer_order_versioning, CUSTOMER_ORDER_VERSIONING_SQL, ("window", "agg")
    ),
    "effective_components_rowwise": QuerySpec(effective_components_rowwise, EFFECTIVE_COMPONENTS_SQL, ("project",)),
    "nation_rollup": QuerySpec(nation_rollup, NATION_ROLLUP_SQL, ("agg", "broadcast")),
}
