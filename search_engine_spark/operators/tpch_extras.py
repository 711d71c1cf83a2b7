"""TPC-H-shaped relational extras, each with an exact DuckDB twin.

Four more canonical warehouse plans (Q1/Q3/Q10/Q22 shapes already
exist), chosen for the PLAN shapes they exercise at 100 TB:

- ``local_supplier_volume`` (Q5 shape) — the 6-table snowflake join
  with a cross-dimension equality (customer and supplier must share a
  nation): region/nation/supplier/customer are broadcast dims, the
  orders date range pushes into the scan, and the only big shuffle is
  lineitem⋈orders on the order key.
- ``revenue_forecast`` (Q6 shape) — the pure scan-aggregate: every
  predicate (ship-date range, discount band, quantity cap) pushes into
  the parquet scan; no shuffle at all until the single global sum.
- ``late_shipment_priority`` (Q4 shape) — the EXISTS semi-join: orders
  kept when ANY lineitem shipped >90 days after the order date; the
  semi-join emits each order once, so no distinct pass.
- ``promo_revenue_share`` (Q14 shape) — fact⋈broadcast-dim with a
  conditional aggregate: promo share of one month's revenue.

Money convention as in ``returned_revenue``: line revenue rides int64
cents × (100 − discount-percent) units through the SUM, one division
back to dollars at the end; ratios are a single IEEE division of exact
int64 sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


Q5_REGION = "ASIA"
Q5_DATE_LO = "1996-01-01"
Q5_DATE_HI = "1997-01-01"

Q6_DATE_LO = "1996-01-01"
Q6_DATE_HI = "1997-01-01"
Q6_DISC_LO = 0.02
Q6_DISC_HI = 0.04
Q6_QTY_CAP = 24

Q4_DATE_LO = "1996-01-01"
Q4_DATE_HI = "1996-07-01"
Q4_LATE_DAYS = 90

Q14_DATE_LO = "1996-03-01"
Q14_DATE_HI = "1996-04-01"


def _rev_units():
    """Exact int64 revenue units: cents × (100 − discount-percent).
    Divide by 10000.0 once after the SUM to get dollars."""
    return F.round(F.col("l_extendedprice") * 100.0, 0).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100.0, 0).cast("long")
    )


_REV_UNITS_SQL = (
    "CAST(round(l_extendedprice * 100.0) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100.0) AS BIGINT))"
)


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# --------------------------------------------------------------------------
# Q5 shape: local supplier volume per nation
# --------------------------------------------------------------------------

def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation where the supplier and the customer share the
    nation, for one region and one order year. All four dimension
    tables (region 5 rows → nation 25 → supplier, customer) broadcast;
    the date filter pushes into the orders scan; lineitem⋈orders on
    l_orderkey is the single large shuffle."""
    nations = (
        _read(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                _read(spark, sf_dir, "region").filter(
                    F.col("r_name") == Q5_REGION
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q5_DATE_LO))
        & (F.col("o_orderdate") < F.lit(Q5_DATE_HI))
    )
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(
            F.broadcast(nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    return (
        j.groupBy("n_name")
        .agg((F.sum(_rev_units()) / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


SQL_LOCAL_SUPPLIER_VOLUME = f"""
SELECT n_name,
       CAST(sum({_REV_UNITS_SQL}) AS BIGINT) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{Q5_REGION}'
  AND o_orderdate >= TIMESTAMP '{Q5_DATE_LO}'
  AND o_orderdate < TIMESTAMP '{Q5_DATE_HI}'
GROUP BY n_name ORDER BY revenue DESC, n_name
"""


# --------------------------------------------------------------------------
# Q6 shape: forecast revenue change (pure scan-aggregate)
# --------------------------------------------------------------------------

def q_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue that would vanish if discounts in a band were dropped:
    Σ extendedprice·discount over one ship year. Every predicate is a
    parquet pushdown; the plan is scan → partial sum → one row. Units:
    cents × discount-percent, exact int64."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q6_DATE_LO))
        & (F.col("l_shipdate") < F.lit(Q6_DATE_HI))
        & (F.col("l_discount") >= Q6_DISC_LO)
        & (F.col("l_discount") <= Q6_DISC_HI)
        & (F.col("l_quantity") < Q6_QTY_CAP)
    )
    units = F.round(F.col("l_extendedprice") * 100.0, 0).cast("long") * (
        F.round(F.col("l_discount") * 100.0, 0).cast("long")
    )
    return li.agg(
        (F.sum(units) / F.lit(10000.0)).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


SQL_REVENUE_FORECAST = f"""
SELECT CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
                * CAST(round(l_discount * 100.0) AS BIGINT))
            AS BIGINT) / 10000.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q6_DATE_LO}'
  AND l_shipdate < TIMESTAMP '{Q6_DATE_HI}'
  AND l_discount >= {Q6_DISC_LO} AND l_discount <= {Q6_DISC_HI}
  AND l_quantity < {Q6_QTY_CAP}
"""


# --------------------------------------------------------------------------
# Q4 shape: late-shipment order counts per priority (EXISTS semi-join)
# --------------------------------------------------------------------------

def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders (one half-year) with AT LEAST ONE lineitem shipped more
    than 90 days after the order date, counted per priority. The
    left-semi join IS the EXISTS — each order emits once regardless of
    how many late items it has, so no distinct pass; the date range
    pushes into the orders scan and the join stays keyed on
    l_orderkey."""
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q4_DATE_LO))
        & (F.col("o_orderdate") < F.lit(Q4_DATE_HI))
    )
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


SQL_LATE_SHIPMENT_PRIORITY = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{Q4_DATE_LO}'
  AND o_orderdate < TIMESTAMP '{Q4_DATE_HI}'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL {Q4_LATE_DAYS} DAY
  )
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Q14 shape: promo revenue share for one month
# --------------------------------------------------------------------------

def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of one month's revenue from PROMO-type parts: fact scan
    (date-pruned) ⋈ broadcast part dim, conditional int64 sum over the
    same exact revenue units, one IEEE division for the percentage."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q14_DATE_LO))
        & (F.col("l_shipdate") < F.lit(Q14_DATE_HI))
    )
    part = _read(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    units = _rev_units()
    sums = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", units).otherwise(0))
        .cast("long")
        .alias("promo_u"),
        F.sum(units).cast("long").alias("total_u"),
    )
    return sums.select(
        F.round(
            100.0 * F.col("promo_u") / F.col("total_u"), 6
        ).alias("promo_share"),
        (F.col("total_u") / F.lit(10000.0)).alias("total_revenue"),
    )


SQL_PROMO_REVENUE_SHARE = f"""
WITH s AS (
  SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV_UNITS_SQL}
                       ELSE 0 END) AS BIGINT) AS promo_u,
         CAST(sum({_REV_UNITS_SQL}) AS BIGINT) AS total_u
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '{Q14_DATE_LO}'
    AND l_shipdate < TIMESTAMP '{Q14_DATE_HI}'
)
SELECT round(100.0 * promo_u / total_u, 6) AS promo_share,
       total_u / 10000.0 AS total_revenue
FROM s
"""


EXTRA_QUERIES = {
    "local_supplier_volume": (
        q_local_supplier_volume,
        SQL_LOCAL_SUPPLIER_VOLUME,
    ),
    "revenue_forecast": (q_revenue_forecast, SQL_REVENUE_FORECAST),
    "late_shipment_priority": (
        q_late_shipment_priority,
        SQL_LATE_SHIPMENT_PRIORITY,
    ),
    "promo_revenue_share": (q_promo_revenue_share, SQL_PROMO_REVENUE_SHARE),
}
