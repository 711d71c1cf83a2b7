"""The remaining TPC-H plan shapes, completing all 22 — exact DuckDB twins.

With these eleven, every TPC-H query's PLAN SHAPE is represented in the
operator inventory (Q1/Q3/Q4/Q5/Q6/Q10/Q13/Q14/Q18/Q19/Q22 live in
corpus_queries / tpch_extras / relational_extras). The corpus lacks a
``partsupp`` table and the lineitem columns ``l_commitdate`` /
``l_receiptdate`` / ``l_shipmode``, so five queries are HONEST
ADAPTATIONS: the filter columns change but the distributed plan shape —
the thing that matters at 100 TB — is the canonical one:

- ``nation_trade_volume`` (Q7) — two-nation volume by ship year: the
  double dimension-role join (supplier nation ≠ customer nation) with a
  symmetric pair predicate; both nation sides broadcast.
- ``regional_market_share`` (Q8) — market share per year: conditional
  share of an 6-table join, two exact int64 sums, one IEEE division.
- ``nation_profit`` (Q9, adapted: cost = retailprice×qty, no partsupp) —
  profit per (nation, year) where profit units = revenue units − cost
  units, both exact int64 at the same 1e-4-dollar scale.
- ``top_revenue_supplier`` (Q15) — revenue-per-supplier for a quarter,
  keep argmax: the aggregate→scalar-max→equality-join-back shape on
  EXACT int64 units (no float-equality hazard).
- ``priority_shipping_buckets`` (Q12, adapted: late-bucket instead of
  shipmode) — two conditional counts per bucket.
- ``important_parts`` (Q11, adapted: value from lineitem, no partsupp) —
  groupBy-HAVING against a scalar fraction of the global total (the
  1-row broadcast crossJoin pattern).
- ``supplier_count_by_part`` (Q16, adapted: relation from lineitem,
  complaint filter → negative-acctbal anti-join) — count DISTINCT
  suppliers per part attribute triple after a broadcast anti-join.
- ``small_order_revenue`` (Q17) — revenue of below-20%-of-part-average
  quantity lines: the per-group average correlated subquery as an
  aggregate + join-back; the threshold is one IEEE multiply of an exact
  int64 ratio on both engines.
- ``large_order_topk`` is Q18 (already present as ``large_orders``).
- ``min_price_supplier`` (Q2, adapted: min lineitem unit price instead
  of min partsupp supplycost) — the argmin join-back: per-part minimum
  of an int64-quantized unit price, equality-joined back to recover the
  supplier(s), dimension sides broadcast.
- ``excess_supply_suppliers`` (Q20, adapted: shipped-share instead of
  availqty) — nested aggregation (per part×supplier over per part)
  feeding a semi-join into the supplier dimension.
- ``sole_late_supplier`` (Q21, adapted: late = shipped >60d after order
  date) — reformulated from the EXISTS/NOT-EXISTS double self-join into
  ONE per-order aggregation (distinct suppliers, distinct late
  suppliers, the unique late supplier) — same result set, one shuffle
  instead of three self-joins of the fact table; the canonical Q21
  shape's point (find orders where exactly one supplier is at fault)
  survives, its execution is strictly better distributed.

Money and quantity exactness follow tpch_extras: int64 cents ×
discount-percent units through every SUM, quantities ride int64
(integral in this corpus), one floating division at the very end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tpch_extras import _read, _rev_units, _REV_UNITS_SQL

Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"
Q7_DATE_LO = "1996-01-01"
Q7_DATE_HI = "1998-01-01"

Q8_REGION = "ASIA"
Q8_TYPE = "ECONOMY"
Q8_NATION = "NATION_8"
Q8_DATE_LO = "1996-01-01"
Q8_DATE_HI = "1998-01-01"

Q9_NAME_TOKEN = "red"

Q15_DATE_LO = "1996-01-01"
Q15_DATE_HI = "1996-04-01"

Q12_LATE_DAYS = 30
Q12_DATE_LO = "1996-01-01"
Q12_DATE_HI = "1997-01-01"

Q11_FRACTION = 0.0006

Q16_EXCL_BRAND = "Brand#13"
Q16_SIZES = (1, 7, 14, 21, 28, 35, 42, 49)

Q17_BRAND = "Brand#3"
Q17_SIZE_LO = 1
Q17_SIZE_HI = 25

Q2_SIZE = 15

Q20_NAME_PREFIX = "red"
# share > 3/20 (15%): high enough to mean "disproportionate supplier",
# low enough to be non-empty on this corpus's near-uniform supplier mix
# (majority-share suppliers don't exist when ~30 lineitems/part spread
# over 100 suppliers) — compared as 20·sq > 3·tq, exact integers
Q20_SHARE_NUM = 3
Q20_SHARE_DEN = 20

Q21_LATE_DAYS = 60


def _qty_units():
    """Quantities are integral in this corpus; ride them as int64."""
    return F.round(F.col("l_quantity"), 0).cast("long")


_QTY_UNITS_SQL = "CAST(round(l_quantity) AS BIGINT)"


# --------------------------------------------------------------------------
# Q7: volume shipping between two nations by ship year
# --------------------------------------------------------------------------

def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue shipped between two nations (either direction) per ship
    year. The same broadcast nation dim plays two roles (supplier's and
    customer's); the symmetric pair predicate evaluates post-join; the
    only big shuffle is lineitem⋈orders."""
    nation = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        _read(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _read(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q7_DATE_LO))
        & (F.col("l_shipdate") < F.lit(Q7_DATE_HI))
    )
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            (
                (F.col("supp_nation") == Q7_NATION_A)
                & (F.col("cust_nation") == Q7_NATION_B)
            )
            | (
                (F.col("supp_nation") == Q7_NATION_B)
                & (F.col("cust_nation") == Q7_NATION_A)
            )
        )
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(_rev_units()) / F.lit(10000.0)).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


SQL_NATION_TRADE_VOLUME = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
       CAST(sum({_REV_UNITS_SQL}) AS BIGINT) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '{Q7_DATE_LO}'
  AND l_shipdate < TIMESTAMP '{Q7_DATE_HI}'
  AND ((sn.n_name = '{Q7_NATION_A}' AND cn.n_name = '{Q7_NATION_B}')
    OR (sn.n_name = '{Q7_NATION_B}' AND cn.n_name = '{Q7_NATION_A}'))
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Q8: national market share within a region per order year
# --------------------------------------------------------------------------

def q_regional_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of one part type's revenue (sold into one region) supplied
    by one nation, per order year. Six-table join where every dimension
    side broadcasts; the share is a conditional int64 sum over the total
    int64 sum — ONE IEEE division per year row."""
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    rnations = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("rn_key"))
    cust = _read(spark, sf_dir, "customer").join(
        F.broadcast(rnations), F.col("c_nationkey") == F.col("rn_key")
    ).select("c_custkey")
    supp = (
        _read(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = _read(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q8_DATE_LO))
        & (F.col("o_orderdate") < F.lit(Q8_DATE_HI))
    )
    li = _read(spark, sf_dir, "lineitem")
    j = (
        li.join(F.broadcast(part.select("p_partkey")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    units = _rev_units()
    per_year = j.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.sum(F.when(F.col("supp_nation") == Q8_NATION, units).otherwise(0))
        .cast("long")
        .alias("nation_u"),
        F.sum(units).cast("long").alias("total_u"),
    )
    return per_year.select(
        "o_year",
        F.round(F.col("nation_u") / F.col("total_u"), 9).alias("mkt_share"),
    ).orderBy("o_year")


SQL_REGIONAL_MARKET_SHARE = f"""
WITH j AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(sum(CASE WHEN sn.n_name = '{Q8_NATION}'
                       THEN {_REV_UNITS_SQL} ELSE 0 END) AS BIGINT)
           AS nation_u,
         CAST(sum({_REV_UNITS_SQL}) AS BIGINT) AS total_u
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = '{Q8_REGION}' AND p_type = '{Q8_TYPE}'
    AND o_orderdate >= TIMESTAMP '{Q8_DATE_LO}'
    AND o_orderdate < TIMESTAMP '{Q8_DATE_HI}'
  GROUP BY 1
)
SELECT o_year, round(nation_u / total_u, 9) AS mkt_share
FROM j ORDER BY o_year
"""


# --------------------------------------------------------------------------
# Q9 (adapted): profit per nation per year, cost = retailprice × quantity
# --------------------------------------------------------------------------

def q_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit per (supplier nation, ship year) for parts whose name
    contains a token. No partsupp table exists, so unit cost is the
    part's retail price (same join shape, cost rides the broadcast part
    dim instead of a partsupp fact). Both revenue and cost are exact
    int64 at the 1e-4-dollar scale, so the profit SUM is reorder-proof."""
    part = _read(spark, sf_dir, "part").filter(
        F.col("p_name").contains(Q9_NAME_TOKEN)
    ).select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100.0, 0).cast("long").alias("cost_c"),
    )
    supp = (
        _read(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_read(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = _read(spark, sf_dir, "lineitem")
    profit_units = _rev_units() - F.col("cost_c") * _qty_units() * F.lit(100)
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")).join(
        F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
    )
    return (
        j.groupBy(
            "nation", F.year("l_shipdate").cast("long").alias("o_year")
        )
        .agg((F.sum(profit_units) / F.lit(10000.0)).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


SQL_NATION_PROFIT = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS o_year,
       CAST(sum({_REV_UNITS_SQL}
                - CAST(round(p_retailprice * 100.0) AS BIGINT)
                  * {_QTY_UNITS_SQL} * 100) AS BIGINT) / 10000.0 AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%{Q9_NAME_TOKEN}%'
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


# --------------------------------------------------------------------------
# Q15: top supplier by quarterly revenue (argmax join-back on exact units)
# --------------------------------------------------------------------------

def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum revenue over one quarter. Revenue
    stays in exact int64 units through the argmax, so the max-equality
    join-back has no float-equality hazard; the 1-row max aggregate is
    broadcast (the scalar-subquery pattern)."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q15_DATE_LO))
        & (F.col("l_shipdate") < F.lit(Q15_DATE_HI))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_rev_units()).cast("long").alias("rev_u")
    )
    mx = rev.agg(F.max("rev_u").alias("max_u"))
    top = rev.join(F.broadcast(mx), F.col("rev_u") == F.col("max_u"))
    supp = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        top.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_u") / F.lit(10000.0)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


SQL_TOP_REVENUE_SUPPLIER = f"""
WITH rev AS (
  SELECT l_suppkey, CAST(sum({_REV_UNITS_SQL}) AS BIGINT) AS rev_u
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_DATE_LO}'
    AND l_shipdate < TIMESTAMP '{Q15_DATE_HI}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, rev_u / 10000.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_u = (SELECT max(rev_u) FROM rev)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# Q12 (adapted): shipping-delay buckets × order priority counts
# --------------------------------------------------------------------------

def q_priority_shipping_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per delay bucket (late = shipped >30d after order date), how many
    lineitems belong to high- vs low-priority orders — Q12's two
    conditional counts, bucketed on a date-arithmetic predicate instead
    of the absent l_shipmode column."""
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q12_DATE_LO))
        & (F.col("o_orderdate") < F.lit(Q12_DATE_HI))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    bucket = F.when(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {Q12_LATE_DAYS} DAYS"),
        F.lit("late"),
    ).otherwise(F.lit("ontime"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_count"),
        )
        .orderBy("delay_bucket")
    )


SQL_PRIORITY_SHIPPING_BUCKETS = f"""
SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL {Q12_LATE_DAYS} DAY
            THEN 'late' ELSE 'ontime' END AS delay_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '{Q12_DATE_LO}'
  AND o_orderdate < TIMESTAMP '{Q12_DATE_HI}'
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Q11 (adapted): parts whose traded value exceeds a fraction of the total
# --------------------------------------------------------------------------

def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose total traded value (Σ cents × quantity from lineitem;
    the corpus has no partsupp) exceeds a fixed fraction of the global
    total — Q11's groupBy-HAVING against a scalar subquery. The global
    total is a 1-row aggregate broadcast into the HAVING comparison; both
    operands are exact int64 so the fraction multiply is the only IEEE
    op."""
    li = _read(spark, sf_dir, "lineitem")
    units = (
        F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
        * _qty_units()
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum(units).cast("long").alias("value_u")
    )
    total = per_part.agg(F.sum("value_u").cast("long").alias("total_u"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_u") > F.col("total_u") * F.lit(Q11_FRACTION))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("value_u") / F.lit(100.0)).alias("value"),
        )
        .orderBy(F.desc("value"), "p_partkey")
    )


SQL_IMPORTANT_PARTS = f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
                  * {_QTY_UNITS_SQL}) AS BIGINT) AS value_u
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, value_u / 100.0 AS value
FROM per_part
WHERE value_u > (SELECT CAST(sum(value_u) AS BIGINT) FROM per_part)
                * {Q11_FRACTION}
ORDER BY value DESC, p_partkey
"""


# --------------------------------------------------------------------------
# Q16 (adapted): supplier counts per part attribute triple
# --------------------------------------------------------------------------

def q_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many distinct suppliers ship each (brand, type, size) triple —
    Q16 with the part↔supplier relation taken from lineitem (no partsupp)
    and the complaint-comment exclusion replaced by a broadcast ANTI-join
    on negative-balance suppliers (same plan role: subtract a small
    denylist before the distinct count)."""
    bad = _read(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    part = _read(spark, sf_dir, "part").filter(
        (F.col("p_brand") != Q16_EXCL_BRAND)
        & F.col("p_size").isin(*Q16_SIZES)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = _read(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    j = li.join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    ).join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    return (
        j.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


SQL_SUPPLIER_COUNT_BY_PART = f"""
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> '{Q16_EXCL_BRAND}'
  AND p_size IN {Q16_SIZES}
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --------------------------------------------------------------------------
# Q17: revenue from small-quantity lines of one brand/size band
# --------------------------------------------------------------------------

def q_small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue lost to small orders: lineitems of one
    brand/size band whose quantity is below 20% of that part's average.
    The correlated AVG subquery becomes a per-part aggregate joined back
    to the same fact slice; the average is an exact int64 sum over an
    int64 count (one IEEE division), the 0.2 multiply happens identically
    on both engines."""
    part = _read(spark, sf_dir, "part").filter(
        (F.col("p_brand") == Q17_BRAND)
        & (F.col("p_size") >= Q17_SIZE_LO)
        & (F.col("p_size") <= Q17_SIZE_HI)
    ).select("p_partkey")
    li = _read(spark, sf_dir, "lineitem").join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    avg_q = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.sum(_qty_units()).cast("long").alias("q_sum"),
        F.count(F.lit(1)).cast("long").alias("q_cnt"),
    )
    j = li.join(
        F.broadcast(avg_q), F.col("l_partkey") == F.col("a_partkey")
    ).filter(
        F.col("l_quantity")
        < F.lit(0.2) * (F.col("q_sum") / F.col("q_cnt"))
    )
    return j.agg(
        (
            F.sum(F.round(F.col("l_extendedprice") * 100.0, 0).cast("long"))
            / F.lit(700.0)
        ).alias("avg_yearly"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


SQL_SMALL_ORDER_REVENUE = f"""
WITH sel AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '{Q17_BRAND}'
    AND p_size >= {Q17_SIZE_LO} AND p_size <= {Q17_SIZE_HI}
), avg_q AS (
  SELECT l_partkey AS a_partkey,
         CAST(sum({_QTY_UNITS_SQL}) AS BIGINT) AS q_sum,
         CAST(count(*) AS BIGINT) AS q_cnt
  FROM sel GROUP BY 1
)
SELECT CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
         / 700.0 AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_lines
FROM sel JOIN avg_q ON l_partkey = a_partkey
WHERE l_quantity < 0.2 * (q_sum / q_cnt)
"""


# --------------------------------------------------------------------------
# Q2 (adapted): supplier(s) offering the minimum unit price per part
# --------------------------------------------------------------------------

def q_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For parts of one size, the supplier(s) whose lineitem unit price
    (extendedprice/quantity, quantized to int64 micro-dollars) is the
    part's minimum — Q2's correlated-MIN argmin as an aggregate +
    equality join-back on exact units. Dimension sides broadcast; ties
    keep every minimal supplier, exactly like the reference query."""
    part = _read(spark, sf_dir, "part").filter(
        F.col("p_size") == Q2_SIZE
    ).select("p_partkey", "p_name")
    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round((F.col("l_extendedprice") / F.col("l_quantity")) * 1000000.0, 0)
        .cast("long")
        .alias("unit_u"),
    ).join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    mins = li.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("unit_u").alias("min_u")
    )
    best = (
        li.join(
            F.broadcast(mins),
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("unit_u") == F.col("min_u")),
        )
        .select("p_partkey", "p_name", "l_suppkey", "unit_u")
        .distinct()
    )
    supp = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        best.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            (F.col("unit_u") / F.lit(1000000.0)).alias("unit_price"),
        )
        .orderBy("p_partkey", "s_name")
    )


SQL_MIN_PRICE_SUPPLIER = f"""
WITH li AS (
  SELECT l_partkey, l_suppkey, p_partkey, p_name,
         CAST(round((l_extendedprice / l_quantity) * 1000000.0) AS BIGINT)
           AS unit_u
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size = {Q2_SIZE}
), mins AS (
  SELECT l_partkey AS m_partkey, min(unit_u) AS min_u FROM li GROUP BY 1
)
SELECT DISTINCT p_partkey, p_name, s_name, unit_u / 1000000.0 AS unit_price
FROM li
JOIN mins ON l_partkey = m_partkey AND unit_u = min_u
JOIN supplier ON l_suppkey = s_suppkey
ORDER BY p_partkey, s_name
"""


# --------------------------------------------------------------------------
# Q20 (adapted): suppliers shipping the majority of a part's volume
# --------------------------------------------------------------------------

def q_excess_supply_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped a disproportionate share (>15%) of the total
    shipped quantity of some part whose name starts with a prefix —
    Q20's nested aggregation (per part×supplier against per part)
    feeding a semi-join into the supplier dimension. Shares compare
    exact int64 quantities (den·supplier_qty > num·part_qty avoids the
    division entirely)."""
    part = _read(spark, sf_dir, "part").filter(
        F.col("p_name").startswith(Q20_NAME_PREFIX)
    ).select("p_partkey")
    li = _read(spark, sf_dir, "lineitem").join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_qty_units()).cast("long").alias("sq")
    )
    per_p = per_ps.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("sq").cast("long").alias("tq")
    )
    dominant = (
        per_ps.join(per_p, F.col("l_partkey") == F.col("t_partkey"))
        .filter(
            F.lit(Q20_SHARE_DEN) * F.col("sq")
            > F.lit(Q20_SHARE_NUM) * F.col("tq")
        )
        .select("l_suppkey")
        .distinct()
    )
    supp = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        supp.join(
            F.broadcast(dominant),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


SQL_EXCESS_SUPPLY_SUPPLIERS = f"""
WITH per_ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum({_QTY_UNITS_SQL}) AS BIGINT) AS sq
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '{Q20_NAME_PREFIX}%'
  GROUP BY 1, 2
), per_p AS (
  SELECT l_partkey AS t_partkey, CAST(sum(sq) AS BIGINT) AS tq
  FROM per_ps GROUP BY 1
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM per_ps JOIN per_p ON l_partkey = t_partkey
  WHERE {Q20_SHARE_DEN} * sq > {Q20_SHARE_NUM} * tq
)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# Q21 (adapted): the only late supplier on a multi-supplier order
# --------------------------------------------------------------------------

def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the ONLY late shipper (>60d after order date)
    on finished multi-supplier orders. Q21's EXISTS + NOT EXISTS double
    self-join is reformulated as ONE per-order aggregate — distinct
    suppliers ≥ 2, distinct late suppliers = 1, and min() recovers that
    unique supplier — which shuffles the fact table once instead of
    three times."""
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {Q21_LATE_DAYS} DAYS"
    )
    per_order = j.groupBy("o_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
        F.min(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
    )
    waiting = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
    )
    supp = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.groupBy("late_supp")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .join(F.broadcast(supp), F.col("late_supp") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


SQL_SOLE_LATE_SUPPLIER = f"""
WITH per_order AS (
  SELECT o_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l_shipdate >
                 o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
               THEN l_suppkey END) AS n_late,
         min(CASE WHEN l_shipdate >
                 o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
             THEN l_suppkey END) AS late_supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY o_orderkey
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_order JOIN supplier ON late_supp = s_suppkey
WHERE n_supp >= 2 AND n_late = 1
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
"""


EXTRA_QUERIES = {
    "nation_trade_volume": (q_nation_trade_volume, SQL_NATION_TRADE_VOLUME),
    "regional_market_share": (
        q_regional_market_share,
        SQL_REGIONAL_MARKET_SHARE,
    ),
    "nation_profit": (q_nation_profit, SQL_NATION_PROFIT),
    "top_revenue_supplier": (q_top_revenue_supplier, SQL_TOP_REVENUE_SUPPLIER),
    "priority_shipping_buckets": (
        q_priority_shipping_buckets,
        SQL_PRIORITY_SHIPPING_BUCKETS,
    ),
    "important_parts": (q_important_parts, SQL_IMPORTANT_PARTS),
    "supplier_count_by_part": (
        q_supplier_count_by_part,
        SQL_SUPPLIER_COUNT_BY_PART,
    ),
    "small_order_revenue": (q_small_order_revenue, SQL_SMALL_ORDER_REVENUE),
    "min_price_supplier": (q_min_price_supplier, SQL_MIN_PRICE_SUPPLIER),
    "excess_supply_suppliers": (
        q_excess_supply_suppliers,
        SQL_EXCESS_SUPPLY_SUPPLIERS,
    ),
    "sole_late_supplier": (q_sole_late_supplier, SQL_SOLE_LATE_SUPPLIER),
}
