"""More TPC-H-shaped relational plans, each with an exact DuckDB twin.

Three further canonical warehouse shapes (joins the Q1/Q3/Q4/Q5/Q6/Q10/
Q14/Q22 family in corpus_queries/tpch_extras), chosen for what they
exercise at 100 TB:

- ``customer_order_distribution`` (Q13 shape) — the LEFT join + double
  aggregation: order counts per customer INCLUDING zero-order customers,
  then the distribution of those counts. The left side must not lose
  rows; the second aggregate runs over a customer-sized frame.
- ``large_orders`` (Q18 shape) — groupBy-HAVING feeding a join back to
  the fact: only orders whose total quantity clears a threshold survive
  into the final join, so the big table self-prunes before any wide row
  is built.
- ``banded_brand_revenue`` (Q19 shape) — the OR-of-ANDs predicate: three
  (brand, size-band, quantity-band) conjunct groups OR'd together across
  a fact⋈broadcast-dim join. Catalyst keeps the common join key and
  evaluates the disjunction post-join; each conjunct alone would push to
  the scans.

Quantity sums ride int64 (values are integral in this corpus — the cast
is asserted by the round) and money uses the shared exact revenue units
from tpch_extras.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tpch_extras import _read, _rev_units, _REV_UNITS_SQL

Q18_QTY_MIN = 250  # order survives iff sum(l_quantity) > this

Q19_BANDS = (
    # (brand, size_lo, size_hi, qty_lo, qty_hi)
    ("Brand#1", 1, 10, 1, 20),
    ("Brand#13", 5, 20, 10, 30),
    ("Brand#20", 20, 40, 20, 50),
)


# --------------------------------------------------------------------------
# Q13 shape: distribution of orders per customer (left join keeps zeros)
# --------------------------------------------------------------------------

def q_customer_order_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How many customers placed exactly N orders, N >= 0. The LEFT join
    is load-bearing: inner would silently drop never-ordered customers
    and the N=0 row. Plan: one shuffle join on the customer key (orders
    side partial-counts first, so the join carries one row per customer
    per side), then a tiny second aggregation over |distinct counts|
    rows. At 100 TB the pre-aggregation means the join never sees raw
    orders."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        _read(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    counts = cust.join(
        per_cust, cust.c_custkey == per_cust.o_custkey, "left"
    ).select(F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_orders"))
    return (
        counts.groupBy("n_orders")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


SQL_CUSTOMER_ORDER_DISTRIBUTION = """
WITH per_cust AS (
  SELECT c_custkey, CAST(COALESCE(n, 0) AS BIGINT) AS n_orders
  FROM customer
  LEFT JOIN (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1) o
    ON c_custkey = o_custkey
)
SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
FROM per_cust GROUP BY n_orders
ORDER BY n_customers DESC, n_orders DESC
"""


# --------------------------------------------------------------------------
# Q18 shape: large-volume orders (HAVING feeds a join back to the fact)
# --------------------------------------------------------------------------

def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 orders by total quantity above Q18_QTY_MIN, with the
    customer name. The quantity aggregate runs FIRST and its HAVING
    prunes to a sliver; only survivors join customer (broadcast) and
    orders — the classic build-small-then-enrich shape. Quantities are
    integral doubles in this corpus; both engines sum them as int64
    units so the threshold compare is exact."""
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    big = (
        _read(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(qty).cast("long").alias("total_qty"))
        .filter(F.col("total_qty") > Q18_QTY_MIN)
    )
    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_name")
    price_cents = F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            (price_cents / F.lit(100.0)).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("orderkey"))
        .limit(100)
    )


SQL_LARGE_ORDERS = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING total_qty > {Q18_QTY_MIN}
)
SELECT c_name, o_orderkey AS orderkey, o_orderdate AS orderdate,
       CAST(round(o_totalprice * 100.0) AS BIGINT) / 100.0 AS totalprice,
       total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, orderkey ASC LIMIT 100
"""


# --------------------------------------------------------------------------
# Q19 shape: OR-of-ANDs banded revenue across a fact ⋈ dim join
# --------------------------------------------------------------------------

def _band_pred():
    pred = None
    for brand, slo, shi, qlo, qhi in Q19_BANDS:
        c = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(float(qlo), float(qhi))
        )
        pred = c if pred is None else (pred | c)
    return pred


def q_banded_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from three OR'd (brand, size-band, quantity-band)
    conjunct groups — the disjunctive-predicate join. The part dim
    broadcasts; the disjunction mixes columns from both sides so it
    evaluates post-join, but each conjunct's single-side pieces
    (quantity ceiling, size ceiling) still prune the scans. Revenue uses
    the shared exact int64 units."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = _read(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    j = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).filter(_band_pred())
    return j.agg(
        (F.sum(_rev_units()) / F.lit(10000.0)).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


_BANDS_SQL = " OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi}"
    f" AND l_quantity BETWEEN {qlo} AND {qhi})"
    for b, slo, shi, qlo, qhi in Q19_BANDS
)

SQL_BANDED_BRAND_REVENUE = f"""
SELECT CAST(sum({_REV_UNITS_SQL}) AS BIGINT) / 10000.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {_BANDS_SQL}
"""


EXTRA_QUERIES = {
    "customer_order_distribution": (
        q_customer_order_distribution,
        SQL_CUSTOMER_ORDER_DISTRIBUTION,
    ),
    "large_orders": (q_large_orders, SQL_LARGE_ORDERS),
    "banded_brand_revenue": (
        q_banded_brand_revenue,
        SQL_BANDED_BRAND_REVENUE,
    ),
}
