"""Batch relational query surface (SURVEY.md §2C: everything the reference
delegates to Spark, expressed Catalyst-first over the driver's tables).

Design-for-scale notes, applied throughout:
- Dimension tables (region, nation, supplier, customer at TPC-H ratios) are
  explicitly ``F.broadcast``-hinted in joins against the fact tables
  (lineitem/orders) so a 100 TB fact scan never shuffles for a MB-scale dim.
- Filters appear before joins/aggregations so Catalyst pushes them into the
  parquet scan (verify with ``.explain``: PushedFilters).
- Aggregates use built-in functions only → whole-stage codegen, partial
  (map-side) aggregation, AQE coalescing all apply.
- Money aggregates run in exact DECIMAL and surface as double
  (functions.numeric): deterministic across engines/partitionings, and
  penny-exact at 100 TB where double sums drift.

Reference provenance: the reference exercises only map/window-reduce/print
on its stream (AMQPTemperature.scala:94-99, AMQPBrokerStreamSuite.scala);
the relational surface below is what its BASELINE.json north star requires
of the new engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from streaming_amqp_spark.functions.numeric import davg, dec, dsum
from streaming_amqp_spark.tables import fan_out, load_table

RATIO = 4  # decimals for genuinely-irrational outputs (log etc.)

# Exact decimal revenue term: extendedprice * (1 - discount), optionally
# * (1 + tax).  Mirrored verbatim in the oracle SQL strings below.
def _revenue_term() -> F.Column:
    return dec("l_extendedprice") * (F.lit(1).cast("decimal(8,2)") - dec("l_discount"))


_REV_SQL = (
    # DECIMAL(28,2): value-identical to the 18,2 cast, but forces
    # DuckDB's multiply onto the int128 path — with extreme-but-valid
    # money values the 18,2×(1±d) product otherwise overflows DuckDB's
    # int64 decimal multiply mid-query (r12 extreme-corpus probe)
    "CAST(l_extendedprice AS DECIMAL(28,2))"
    " * (1 - CAST(l_discount AS DECIMAL(8,2)))"
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# TPC-H-flavored analytical queries
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 8-aggregate DECIMAL partial agg is the whole query; fan_out
    # spreads it over the cores when the scan is narrower (sf0.1: 1.21 ->
    # 0.96 s; a forced repartition of a core-wide sf1 scan was 1.19 ->
    # 1.53 s).  Keyed on l_shipdate, a column the query already reads:
    # keying on l_orderkey would widen ReadSchema, and ~2.5k distinct
    # dates spread fine.  The shipdate filter still pushes down.
    li = fan_out(_t(spark, sf_dir, "lineitem"), "l_shipdate")
    charge = _revenue_term() * (F.lit(1).cast("decimal(8,2)") + dec("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(_revenue_term(), "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum({_REV_SQL}) AS DOUBLE)                             AS sum_disc_price,
       CAST(sum({_REV_SQL} * (1 + CAST(l_tax AS DECIMAL(8,2)))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity)
         AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice)
         AS avg_price,
       CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount)
         AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    # Broadcast the segment-filtered customers onto orders BEFORE the
    # orderkey shuffle (map-side): only BUILDING-segment orders (~1/5)
    # reach the fact-fact exchange.
    orders_scoped = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        li.join(
            orders_scoped, li.l_orderkey == orders.o_orderkey
        )  # fact-fact equi-join: sort-merge/shuffle-hash, AQE-planned
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(_revenue_term(), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


_Q3_SQL = f"""
SELECT o_orderkey,
       CAST(sum({_REV_SQL}) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate  > TIMESTAMP '1998-06-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    # All dims broadcast; the only shuffles are lineitem⋈orders + final agg.
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(dsum(_revenue_term(), "revenue"))
        .select("n_name", "revenue")
    )


_Q5_SQL = f"""
SELECT n_name,
       CAST(sum({_REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # Single pushed-down filter + global agg: the minimal-shuffle shape.
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(dec("l_extendedprice") * dec("l_discount"), "revenue"),
        F.count("*").alias("n_items"),
    )


_Q6_SQL = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))
                * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


# What-if grid: 3 discount bands × 3 quantity caps, all evaluated in the
# single q6-shaped scan (conditional aggregation + stack), not 9 scans.
_WHATIF_BANDS = ((0.02, 0.04), (0.04, 0.06), (0.06, 0.08))
_WHATIF_CAPS = (24, 35, 50)


def q6_whatif_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue what-if grid over q6's forecast question: every
    (discount-band, quantity-cap) scenario computed as a conditional
    DECIMAL sum inside ONE aggregate over one pushed-down scan, then
    unpivoted to a 9-row grid.  At 100 TB this replaces 9 full scans
    with 1 — the parameter sweep costs columns, not reads.

    Band semantics (deliberate, ADVICE r4): each band is a CLOSED
    interval (>= lo AND <= hi), mirroring q6's ``BETWEEN`` — every
    scenario is a standalone what-if answer ("discount in [lo, hi]"),
    not a partition of rows, so adjacent bands intentionally share
    their endpoint (a row at l_discount = 0.04 belongs to both the
    [0.02, 0.04] and [0.04, 0.06] scenarios in both engines)."""
    li = _t(spark, sf_dir, "lineitem")
    year = (
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    ) & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    aggs = []
    for bi, (lo, hi) in enumerate(_WHATIF_BANDS):
        for ci, cap in enumerate(_WHATIF_CAPS):
            cond = (
                (F.col("l_discount") >= lo)
                & (F.col("l_discount") <= hi)
                & (F.col("l_quantity") < cap)
            )
            aggs.append(
                F.sum(
                    F.when(cond, dec("l_extendedprice") * dec("l_discount"))
                )
                .cast("double")
                .alias(f"rev_{bi}_{ci}")
            )
            aggs.append(F.sum(cond.cast("long")).alias(f"n_{bi}_{ci}"))
    one = li.where(year).agg(*aggs)
    cells = ", ".join(
        f"{lo!r}D, {hi!r}D, {cap}, rev_{bi}_{ci}, n_{bi}_{ci}"
        for bi, (lo, hi) in enumerate(_WHATIF_BANDS)
        for ci, cap in enumerate(_WHATIF_CAPS)
    )
    return one.selectExpr(
        f"stack(9, {cells}) AS (d_lo, d_hi, qty_cap, revenue, n_items)"
    )


def _whatif_sql() -> str:
    aggs = []
    rows = []
    for bi, (lo, hi) in enumerate(_WHATIF_BANDS):
        for ci, cap in enumerate(_WHATIF_CAPS):
            cond = (
                f"l_discount >= {lo!r} AND l_discount <= {hi!r}"
                f" AND l_quantity < {cap}"
            )
            aggs.append(
                f"CAST(sum(CASE WHEN {cond} THEN"
                " CAST(l_extendedprice AS DECIMAL(28,2))"
                " * CAST(l_discount AS DECIMAL(8,2)) END) AS DOUBLE)"
                f" AS rev_{bi}_{ci}"
            )
            aggs.append(
                f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"
                f" AS n_{bi}_{ci}"
            )
            rows.append(
                f"SELECT CAST({lo!r} AS DOUBLE) AS d_lo,"
                f" CAST({hi!r} AS DOUBLE) AS d_hi,"
                f" CAST({cap} AS INTEGER) AS qty_cap,"
                f" rev_{bi}_{ci} AS revenue, n_{bi}_{ci} AS n_items FROM g"
            )
    return f"""
WITH g AS (
  SELECT {', '.join(aggs)}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
)
{' UNION ALL '.join(rows)}
"""


def revenue_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue trend per return flag: exact-DECIMAL
    monthly revenue, previous month via lag, and the MoM percentage
    change — the standard BI trend panel.  The lag window partitions by
    return flag over |months| aggregated rows, never raw lineitems."""
    li = _t(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        "l_returnflag",
        F.date_trunc("month", F.col("l_shipdate")).alias("month"),
    ).agg(dsum(_revenue_term(), "revenue"))
    w = W.partitionBy("l_returnflag").orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "l_returnflag",
        "month",
        "revenue",
        prev.alias("prev_revenue"),
        (
            (F.col("revenue") - prev) / prev * F.lit(100.0)
        ).alias("mom_pct"),
    )


_MOM_SQL = f"""
WITH monthly AS (
  SELECT l_returnflag,
         CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
         CAST(sum({_REV_SQL}) AS DOUBLE) AS revenue
  FROM lineitem
  GROUP BY 1, 2
)
SELECT l_returnflag, month, revenue,
       lag(revenue) OVER (PARTITION BY l_returnflag ORDER BY month)
         AS prev_revenue,
       (revenue - lag(revenue) OVER (PARTITION BY l_returnflag
                                     ORDER BY month))
         / lag(revenue) OVER (PARTITION BY l_returnflag ORDER BY month)
         * 100.0 AS mom_pct
FROM monthly
"""


def order_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority: the
    co-keyed orders⋈lineitem fact-fact join (AQE-planned equi-join on
    orderkey), exact integer day differences, percentile rollup to the
    5-row priority report."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias(
            "latency_days"
        ),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lineitems"),
        F.percentile("latency_days", F.lit(0.5)).alias("median_days"),
        F.percentile("latency_days", F.lit(0.9)).alias("p90_days"),
        F.max("latency_days").alias("max_days"),
    )


_FULFILL_SQL = """
SELECT o_orderpriority,
       count(*) AS n_lineitems,
       quantile_cont(datediff('day', o_orderdate, l_shipdate), 0.5)
         AS median_days,
       quantile_cont(datediff('day', o_orderdate, l_shipdate), 0.9)
         AS p90_days,
       max(datediff('day', o_orderdate, l_shipdate)) AS max_days
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(_revenue_term(), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


_Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       CAST(sum({_REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with ≥1 late lineitem (EXISTS → left-semi),
    counted per priority."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    # "late" ≡ shipped more than 60 days after order: the predicate needs
    # both sides, so it lives inside the semi-join condition.
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation after a fact-fact join —
    high/low-priority line counts per return flag."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


_Q12_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
"""


def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: ratio of conditional to total revenue (exact
    decimal sums → one double division, deterministic)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    promo = F.when(
        F.col("p_type").startswith("PROMO"), _revenue_term()
    ).otherwise(F.lit(0).cast("decimal(8,2)"))
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(_revenue_term()).cast("double")
        ).alias("promo_revenue_pct"),
        F.count("*").alias("n_lines"),
    )


_Q14_SQL = f"""
SELECT 100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN {_REV_SQL}
                             ELSE CAST(0 AS DECIMAL(8,2)) END) AS DOUBLE)
             / CAST(sum({_REV_SQL}) AS DOUBLE) AS promo_revenue_pct,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate <  TIMESTAMP '1997-10-01'
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a grouped fact, joined back to dims."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "total_qty"))
        .where(F.col("total_qty") > 120)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
    )


_Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
FROM (SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 120) big
JOIN orders   ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
"""


def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate across join columns — the
    optimizer extracts the common l_partkey=p_partkey conjunct so the join
    stays an equi-join."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("l_quantity") >= 10))
        | ((F.col("p_size") >= 40) & (F.col("l_quantity") < 5))
        | ((F.col("p_type").contains("ECONOMY")) & (F.col("l_discount") <= 0.02))
    )
    return j.where(cond).agg(
        dsum(_revenue_term(), "revenue"), F.count("*").alias("n_lines")
    )


_Q19_SQL = f"""
SELECT CAST(sum({_REV_SQL}) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity >= 10)
   OR (p_size >= 40 AND l_quantity < 5)
   OR (p_type LIKE '%ECONOMY%' AND l_discount <= 0.02)
"""


# --------------------------------------------------------------------------
# Join forms: semi / anti / range / as-of
# --------------------------------------------------------------------------

def semi_join_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    big = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return orders.join(
        big, orders.o_orderkey == big.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


_SEMI_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
"""


def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with NO order since 1998 — the churn list.  (The
    original no-order-ever formulation was vacuously empty at every test
    scale, so the anti-join never produced a row; the recency predicate
    pushes into the orders scan and yields a real survivor set.)"""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    return cust.join(
        recent, cust.c_custkey == recent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1998-01-01')
"""


def range_join_signup_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks of the same user within 24h after each signup.

    Equi-key (user_id) + range predicate — Catalyst plans the equi part as a
    hash/sort-merge join and evaluates the range as a post-join filter, so
    this scales like a normal keyed join (no cartesian explosion).
    """
    ev = _t(spark, sf_dir, "events")
    signups = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("su_user"),
        F.col("ts").alias("signup_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cl_user"), F.col("ts").alias("click_ts")
    )
    return (
        signups.join(
            clicks,
            (F.col("su_user") == F.col("cl_user"))
            & (F.col("click_ts") >= F.col("signup_ts"))
            & (F.col("click_ts") <= F.col("signup_ts") + F.expr("INTERVAL 24 HOURS")),
            "left",
        )
        .groupBy("signup_id")
        .agg(F.count("cl_user").alias("n_clicks_24h"))
    )


_RANGE_SQL = """
SELECT s.event_id AS signup_id, count(c.user_id) AS n_clicks_24h
FROM (SELECT * FROM events WHERE event_type = 'signup') s
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = s.user_id
 AND c.ts >= s.ts AND c.ts <= s.ts + INTERVAL 24 HOUR
GROUP BY s.event_id
"""


def asof_join_error_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark lacks a native one): for each 'error' event, the
    most recent 'purchase' timestamp of the same user at or before it.

    Implemented as the scalable union+window pattern (one shuffle on
    user_id, no per-row subquery): tag both streams, sort within user by
    (ts, tag), carry the last non-null purchase ts forward.
    """
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("ts").alias("p_ts"),
    )
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(1).alias("kind"),
        F.col("event_id"),
        F.lit(None).cast("timestamp").alias("p_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        purchases.unionByName(errors)
        .withColumn("asof_purchase_ts", F.last("p_ts", ignorenulls=True).over(w))
        .where(F.col("kind") == 1)
        .select("event_id", "user_id", F.col("ts").alias("error_ts"), "asof_purchase_ts")
    )


_ASOF_SQL = """
SELECT e.event_id, e.user_id, e.ts AS error_ts,
       (SELECT max(p.ts) FROM events p
        WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
          AND p.ts <= e.ts) AS asof_purchase_ts
FROM events e
WHERE e.event_type = 'error'
"""


def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: for each 'error' event, the first 'purchase' of the
    same user at or after it — the mirror of ``asof_join_error_purchase``
    (same union+window pattern, forward frame).  Purchases sort after
    errors at equal ts so a same-instant purchase is included."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(1).alias("kind"),
        F.col("event_id"),
        F.lit(None).cast("timestamp").alias("p_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(2).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("ts").alias("p_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(0, W.unboundedFollowing)
    )
    return (
        errors.unionByName(purchases)
        .withColumn("next_purchase_ts", F.first("p_ts", ignorenulls=True).over(w))
        .where(F.col("kind") == 1)
        .select(
            "event_id", "user_id", F.col("ts").alias("error_ts"), "next_purchase_ts"
        )
    )


_ASOF_FWD_SQL = """
SELECT e.event_id, e.user_id, e.ts AS error_ts,
       (SELECT min(p.ts) FROM events p
        WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
          AND p.ts >= e.ts) AS next_purchase_ts
FROM events e
WHERE e.event_type = 'error'
"""


def scd_priority_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 dimension reconstruction + as-of fact join (VERDICT r5 #5),
    the classic warehouse shape: each customer's order-priority history
    IS a slowly-changing dimension (a version becomes effective at its
    order date and is superseded by the customer's next order), and
    every lineitem shipment joins to the version PREVAILING at its ship
    date.  Output per prevailing priority: shipment count, exact-DECIMAL
    revenue, and n_changed = shipments whose prevailing priority differs
    from their own order's priority — the SCD effect itself (0 would
    mean the as-of collapsed to the plain equality join; at sf0.01 it is
    thousands — customers order again between a shipment's order and
    ship dates).

    No interval table is materialized: dimension versions and facts are
    tagged, unioned, and swept by ONE customer-partitioned window
    carrying the last dimension attribute forward (the
    asof_join_error_purchase union+window pattern — one shuffle on
    custkey, no per-row subquery, no range join).  Ties are total:
    same-instant versions resolve by orderkey, and a version dated at a
    fact's exact timestamp precedes it (kind sorts dimension first) —
    `<=` as-of semantics.

    Scale: the fact->orders equi-join shuffles on orderkey (both sides
    big — the layout bucketing would co-locate it); the sweep is one
    custkey shuffle.  State per customer during the window is one
    string, independent of history length.

    The fixture ships some lines BEFORE their customer's first order
    date (ship dates are synthesized independently), so a NULL-prevailing
    group legitimately exists — the "fact precedes every dimension
    version" branch every production as-of join must define.  It keeps
    priority NULL and counts as changed (null-safe inequality: IS
    DISTINCT FROM in the oracle, negated eqNullSafe here)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dim = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("kind"),
        F.col("o_orderkey").alias("ok"),
        F.col("o_orderpriority").alias("dim_pr"),
        F.lit(None).cast("string").alias("own_pr"),
        F.lit(None).cast("double").alias("ep"),
        F.lit(None).cast("double").alias("disc"),
    )
    facts = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("ck"),
        F.col("l_shipdate").alias("ts"),
        F.lit(1).alias("kind"),
        F.col("l_orderkey").alias("ok"),
        F.lit(None).cast("string").alias("dim_pr"),
        F.col("o_orderpriority").alias("own_pr"),
        F.col("l_extendedprice").alias("ep"),
        F.col("l_discount").alias("disc"),
    )
    w = (
        W.partitionBy("ck")
        .orderBy("ts", "kind", "ok")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    swept = dim.unionByName(facts).withColumn(
        "prevailing", F.last("dim_pr", ignorenulls=True).over(w)
    )
    rev = dec("ep") * (F.lit(1).cast("decimal(8,2)") - dec("disc"))
    return (
        swept.where(F.col("kind") == 1)
        .groupBy(F.col("prevailing").alias("priority"))
        .agg(
            F.count("*").alias("n_shipments"),
            F.sum(
                (~F.col("prevailing").eqNullSafe(F.col("own_pr"))).cast("long")
            ).alias("n_changed"),
            dsum(rev, "revenue"),
        )
    )


_SCD_ASOF_SQL = """
WITH dim AS (
  SELECT o_custkey AS ck, o_orderdate AS ts, 0 AS kind, o_orderkey AS ok,
         o_orderpriority AS dim_pr, CAST(NULL AS VARCHAR) AS own_pr,
         CAST(NULL AS DOUBLE) AS ep, CAST(NULL AS DOUBLE) AS disc
  FROM orders
),
fact AS (
  SELECT o.o_custkey AS ck, l.l_shipdate AS ts, 1 AS kind,
         l.l_orderkey AS ok, CAST(NULL AS VARCHAR) AS dim_pr,
         o.o_orderpriority AS own_pr, l.l_extendedprice AS ep,
         l.l_discount AS disc
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
u AS (SELECT * FROM dim UNION ALL SELECT * FROM fact),
w AS (
  SELECT *, last_value(dim_pr IGNORE NULLS) OVER (
    PARTITION BY ck ORDER BY ts, kind, ok
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS prevailing
  FROM u
)
SELECT prevailing AS priority,
       count(*) AS n_shipments,
       CAST(sum(CASE WHEN prevailing IS DISTINCT FROM own_pr
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(sum(CAST(ep AS DECIMAL(18,2))
                * (1 - CAST(disc AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
FROM w
WHERE kind = 1
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Aggregation forms: rollup / cube / grouping sets / distinct / pivot
# --------------------------------------------------------------------------

def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal", "sum_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
            "n_customers",
            "sum_acctbal",
        )
    )


_ROLLUP_SQL = """
SELECT coalesce(r_name, 'ALL') AS r_name,
       coalesce(n_name, 'ALL') AS n_name,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def agg_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            F.count("*").alias("n_items"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "sum_qty",
            "n_items",
        )
    )


_CUBE_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(*) AS n_items
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def agg_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL')   AS o_orderstatus,
               coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


_GROUPING_SETS_SQL = """
SELECT coalesce(o_orderstatus, 'ALL')   AS o_orderstatus,
       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def agg_distinct_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count("*").alias("n_customers"),
        davg("c_acctbal", "avg_acctbal"),
    )


_DISTINCT_SQL = """
SELECT c_mktsegment,
       count(DISTINCT c_nationkey) AS n_nations,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(c_acctbal)
         AS avg_acctbal
FROM customer
GROUP BY c_mktsegment
"""


def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot expressed as conditional aggregation — the portable (and
    Catalyst-identical) formulation of ``groupBy().pivot()``."""
    orders = _t(spark, sf_dir, "orders")
    statuses = ["O", "F", "P"]
    aggs = [
        F.count(F.when(F.col("o_orderstatus") == s, 1)).alias(f"n_status_{s}")
        for s in statuses
    ]
    return orders.groupBy("o_orderpriority").agg(*aggs)


_PIVOT_SQL = """
SELECT o_orderpriority,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_status_O,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_status_F,
       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_status_P
FROM orders
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Window functions, sorts/limits, set ops, correlated subquery
# --------------------------------------------------------------------------

def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


_TOPK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
WHERE rk <= 3
"""


def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
FROM orders
"""


def window_lag_event_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # Raw double subtraction of identical inputs is bit-deterministic.
    return ev.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
        F.lead("event_type").over(w).alias("next_event_type"),
    )


_LAG_SQL = """
SELECT event_id, user_id,
       value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS value_delta,
       lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS next_event_type
FROM events
"""


def window_range_frame_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-customer revenue over the trailing 7 days
    (value-based frame, peers included — vs the ROWS frames above).
    Ordering key is epoch seconds so Spark's numeric rangeBetween and the
    oracle's RANGE ... PRECEDING agree exactly."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-7 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("trailing_7d"),
        F.count("*").over(w).alias("n_orders_7d"),
    )


_RANGE_FRAME_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS trailing_7d,
       count(*) OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                      RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
         AS n_orders_7d
FROM orders
"""


def full_outer_nation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: per-nation premium-customer counts vs premium-
    supplier counts — either side may be absent for a nation, and the
    unmatched rows survive with nulls.  Shuffles both (tiny) aggregates on
    the join key; at scale a full outer of two pre-aggregated sides is the
    cheap formulation (never full-outer the raw facts)."""
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_rich_customers"))
    )
    sup = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 8000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_rich_suppliers"))
    )
    return cust.join(sup, "nationkey", "full_outer").select(
        "nationkey", "n_rich_customers", "n_rich_suppliers"
    )


_FULL_OUTER_SQL = """
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
       n_rich_customers, n_rich_suppliers
FROM (SELECT c_nationkey AS nationkey, count(*) AS n_rich_customers
      FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey) c
FULL OUTER JOIN
     (SELECT s_nationkey AS nationkey, count(*) AS n_rich_suppliers
      FROM supplier WHERE s_acctbal > 8000 GROUP BY s_nationkey) s
  USING (nationkey)
"""


def sort_limit_top_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # orderBy().limit() compiles to TakeOrderedAndProject: per-partition
    # top-K + driver merge, never a global sort of 100 TB.
    return (
        li.orderBy(
            F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
        )
        .limit(20)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
    )


_SORT_LIMIT_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 20
"""


def set_ops_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer vs supplier nations, tagged
    into one result so a single query exercises all three set ops."""
    cust_n = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    sup_n = (
        _t(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    union = cust_n.union(sup_n).distinct().withColumn("set_op", F.lit("union"))
    inter = cust_n.intersect(sup_n).withColumn("set_op", F.lit("intersect"))
    diff = cust_n.exceptAll(sup_n).withColumn("set_op", F.lit("except"))
    return union.unionByName(inter).unionByName(diff).select("set_op", "nationkey")


_SET_OPS_SQL = """
SELECT 'union' AS set_op, nationkey FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  UNION
  SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT 'intersect', nationkey FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT 'except', nationkey FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  EXCEPT
  SELECT DISTINCT s_nationkey FROM supplier)
"""


def priciest_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (TPC-H Q2 flavor), decorrelated into a
    broadcast join against the per-brand max — the scalable rewrite."""
    part = _t(spark, sf_dir, "part")
    brand_max = part.groupBy(F.col("p_brand").alias("bm_brand")).agg(
        F.max("p_retailprice").alias("max_price")
    )
    return part.join(
        F.broadcast(brand_max),
        (part.p_brand == brand_max.bm_brand)
        & (part.p_retailprice == brand_max.max_price),
    ).select("p_partkey", "p_brand", "p_retailprice")


_PRICIEST_SQL = """
SELECT p_partkey, p_brand, p_retailprice
FROM part p
WHERE p_retailprice = (SELECT max(p2.p_retailprice) FROM part p2
                       WHERE p2.p_brand = p.p_brand)
"""


def scalar_function_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar surface (SURVEY §2C) in one projection.

    sqrt/abs/subtraction are IEEE-exact (no rounding needed); ln is libm-
    dependent so it is rounded — at 4 decimals a boundary hit needs the
    true value within ~1e-16 of a half-ulp, i.e. never for these inputs.
    """
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.upper(F.col("o_orderstatus")).alias("status_upper"),
        F.concat_ws("|", F.col("o_orderpriority"), F.col("o_orderstatus")).alias(
            "prio_status"
        ),
        F.substring(F.col("o_orderpriority"), 1, 1).alias("prio_code"),
        F.length(F.col("o_orderpriority")).alias("prio_len"),
        F.year(F.col("o_orderdate")).alias("order_year"),
        F.month(F.col("o_orderdate")).alias("order_month"),
        F.dayofmonth(F.col("o_orderdate")).alias("order_day"),
        F.sqrt(F.col("o_totalprice")).alias("sqrt_price"),
        F.round(F.log(F.col("o_totalprice") + 1.0), RATIO).alias("log_price"),
        (F.col("o_orderkey") % 7).alias("key_mod7"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("price_dev"),
    )


_SCALAR_SQL = f"""
SELECT o_orderkey,
       upper(o_orderstatus) AS status_upper,
       concat_ws('|', o_orderpriority, o_orderstatus) AS prio_status,
       substring(o_orderpriority, 1, 1) AS prio_code,
       length(o_orderpriority) AS prio_len,
       year(o_orderdate)  AS order_year,
       month(o_orderdate) AS order_month,
       dayofmonth(o_orderdate) AS order_day,
       sqrt(o_totalprice) AS sqrt_price,
       round(ln(o_totalprice + 1.0), {RATIO}) AS log_price,
       o_orderkey % 7 AS key_mod7,
       abs(o_totalprice - 100000.0) AS price_dev
FROM orders
"""


def basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: brand pairs purchased together in one
    order, with support counts — top 20 by support (frequent-itemset
    counting, the classic co-occurrence mining shape).

    Scale: no self-join — one shuffle gathers each order's distinct
    brand set (collect_set on l_orderkey, small per order), pairs expand
    map-side from the sorted set (i < j gives brand1 < brand2 for free),
    and the pair aggregate is the only other shuffle, bounded by
    |brands|² regardless of corpus size.  The part dimension broadcasts.
    Two exchanges total vs the textbook self-join's three-plus.

    The lineitem side goes through ``fan_out`` keyed on the groupBy
    column: on a narrow scan the repartition REPLACES the aggregate's
    own exchange (hash(l_orderkey) satisfies the agg's clustering), so
    the exchange count stays two."""
    li = fan_out(
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        "l_orderkey",
    )
    part = _t(spark, sf_dir, "part")
    per_order = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
    )
    bs = F.col("brands")
    pairs = F.flatten(
        F.transform(
            bs,
            lambda b1, i: F.transform(
                F.slice(bs, i + 2, F.size(bs)),
                lambda b2: F.struct(b1.alias("brand1"), b2.alias("brand2")),
            ),
        )
    )
    return (
        per_order.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.brand1").alias("brand1"), F.col("p.brand2").alias("brand2"))
        .agg(F.count("*").alias("n_orders_together"))
        .orderBy(F.col("n_orders_together").desc(), "brand1", "brand2")
        .limit(20)
    )


_BASKET_SQL = """
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT a.p_brand AS brand1, b.p_brand AS brand2,
       count(*) AS n_orders_together
FROM ob a JOIN ob b
  ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
GROUP BY a.p_brand, b.p_brand
ORDER BY n_orders_together DESC, brand1, brand2
LIMIT 20
"""


PR_DAMP = 0.85
PR_ITERS = 3


def brand_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the brand co-purchase graph (edges = basket
    co-occurrence counts, symmetric) — link analysis on top of the
    basket machinery: which brands sit at the CENTER of purchasing
    behavior, not merely which pairs are frequent.

    Determinism (the dedup_clusters / PCA iterative recipe): per-edge
    contributions r·(w/out) are doubles computed in identical order,
    then the per-node sum — the one order-sensitive reduction — goes
    through round(12) + DECIMAL(38,14); the damping constants are spelled
    with their exact double reprs in both engines; the rank iterate is a
    |brands|-row localCheckpoint'd relation.

    Scale: the edge list is built once (two exchanges, the
    basket_brand_pairs shape); each iteration is one keyed join of the
    edge list against the broadcast rank vector + one dst-keyed
    partial-aggregated shuffle — the standard distributed PageRank
    shape, bounded by |edges| per iteration.

    Same keyed ``fan_out`` as basket_brand_pairs: hash(l_orderkey) is a
    subset of the distinct's (l_orderkey, p_brand) clustering AND the
    collect_set's l_orderkey clustering, so the one narrow-scan
    repartition replaces both downstream exchanges."""
    li = fan_out(
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        "l_orderkey",
    )
    part = _t(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    per_order = ob.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("p_brand")).alias("brands")
    )
    bs = F.col("brands")
    up = F.flatten(
        F.transform(
            bs,
            lambda b1, i: F.transform(
                F.slice(bs, i + 2, F.size(bs)),
                lambda b2: F.struct(b1.alias("s"), b2.alias("d")),
            ),
        )
    )
    half = (
        per_order.select(F.explode(up).alias("p"))
        .groupBy(F.col("p.s").alias("src"), F.col("p.d").alias("dst"))
        .agg(F.count("*").alias("w"))
    )
    edges = half.unionAll(
        half.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    ).localCheckpoint(eager=False)
    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    e = edges.join(outw, "src")
    nodes = edges.select(F.col("src").alias("brand")).distinct()
    nrow = nodes.agg(F.count("*").alias("nn"))
    r = nodes.crossJoin(F.broadcast(nrow)).select(
        "brand", (F.lit(1.0) / F.col("nn").cast("double")).alias("r")
    )
    for _ in range(PR_ITERS):
        contrib = e.join(F.broadcast(r), e.src == r.brand).select(
            "dst",
            F.round(
                F.col("r")
                * (F.col("w").cast("double") / F.col("wout").cast("double")),
                12,
            )
            .cast("decimal(38,14)")
            .alias("c"),
        )
        agg = contrib.groupBy("dst").agg(
            F.sum("c").cast("double").alias("s")
        )
        r = (
            nodes.join(agg, nodes.brand == agg.dst, "left")
            .crossJoin(F.broadcast(nrow))
            .select(
                "brand",
                (
                    F.lit(1.0 - PR_DAMP) / F.col("nn").cast("double")
                    + F.lit(PR_DAMP) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return r.select("brand", F.col("r").alias("pagerank"))


def _pagerank_oracle() -> str:
    one_minus_d = repr(1.0 - PR_DAMP)
    d = repr(PR_DAMP)
    parts = [
        """edges AS MATERIALIZED (
  SELECT a.p_brand AS src, b.p_brand AS dst, count(*) AS w
  FROM (SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey) a
  JOIN (SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey) b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
  GROUP BY 1, 2),
outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT src AS brand FROM edges),
nn AS (SELECT count(*) AS nn FROM nodes),
r0 AS (SELECT brand, CAST(1.0 AS DOUBLE) / CAST(nn AS DOUBLE) AS r
       FROM nodes, nn)"""
    ]
    for t in range(1, PR_ITERS + 1):
        parts.append(f"""c{t} AS (
  SELECT e.dst,
         CAST(round(r.r * (CAST(e.w AS DOUBLE) / CAST(o.wout AS DOUBLE)),
                    12) AS DECIMAL(38,14)) AS c
  FROM edges e
  JOIN r{t - 1} r ON r.brand = e.src
  JOIN outw o ON o.src = e.src),
s{t} AS (SELECT dst, CAST(sum(c) AS DOUBLE) AS s FROM c{t} GROUP BY 1),
r{t} AS MATERIALIZED (
  SELECT n.brand,
         CAST('{one_minus_d}' AS DOUBLE) / CAST(nn.nn AS DOUBLE)
           + CAST('{d}' AS DOUBLE) * coalesce(s.s, CAST(0.0 AS DOUBLE)) AS r
  FROM nodes n CROSS JOIN nn
  LEFT JOIN s{t} s ON s.dst = n.brand)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT brand, r AS pagerank FROM r{PR_ITERS}"
    )


def ols_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand simple linear regression of line price on quantity —
    slope, intercept and R² computed FROM EXACT MOMENTS: the five
    sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are exact (x is an
    integer-valued quantity; y is 2-decimal money, so Σy and Σxy are
    DECIMAL-exact), and the closed-form combination runs in the
    identical double-op order in both engines — distributed OLS with no
    iteration and no per-row residual pass.

    Scale: one scan, one |brands|-key partial-aggregated shuffle —
    regression over 100 TB costs the same as a grouped sum.  (The same
    sufficient-statistics trick is how MLlib's linear regression
    aggregates; here it is fully oracle-checked.)"""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = j.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(38,4)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(38,4)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,4)")).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = n * F.col("syy") - F.col("sy") * F.col("sy")
    # try_divide: a zero-variance regressor (constant l_quantity in a
    # brand group — the r12 constant-corpus probe) makes the slope
    # undefined.  Spark 4 ANSI raises DIVIDE_BY_ZERO even for DOUBLE
    # division, where DuckDB yields NULL — NULL (propagating into
    # intercept via slope) matches the oracle on degenerate groups and
    # is identical to `/` whenever varx > 0.
    slope = F.try_divide(cov_n, varx_n)
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = F.try_divide(cov_n * cov_n, varx_n * vary_n)
    # round(9): Σy² at DECIMAL(38,4) scales past 2^53, and the engines'
    # decimal→double casts then differ in the last ulp (Spark rounds the
    # exact decimal, DuckDB divides a rounded int128) — 1e-19 relative,
    # far below the rounding unit, so round(9) is stable (the
    # embedding_centroids convention).
    return m.select(
        "p_brand",
        "n",
        F.round(slope, 9).alias("slope"),
        F.round(intercept, 9).alias("intercept"),
        F.round(r2, 9).alias("r2"),
    )


_OLS_SQL = """
WITH m AS (
  SELECT p_brand, count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(sum(CAST(CAST(l_quantity AS DECIMAL(28,2))
                       * CAST(l_extendedprice AS DECIMAL(28,2))
                       AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(CAST(l_quantity AS DECIMAL(28,2))
                       * CAST(l_quantity AS DECIMAL(28,2))
                       AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(28,2))
                       * CAST(l_extendedprice AS DECIMAL(28,2))
                       AS DECIMAL(38,4))) AS DOUBLE) AS syy
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
SELECT p_brand, n,
       round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx), 9) AS slope,
       round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                    / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
             / CAST(n AS DOUBLE), 9) AS intercept,
       round(((CAST(n AS DOUBLE) * sxy - sx * sy)
              * (CAST(n AS DOUBLE) * sxy - sx * sy))
             / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                * (CAST(n AS DOUBLE) * syy - sy * sy)), 9) AS r2
FROM m
"""


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: customers grouped by first-order month, and
    for every months-since-acquisition offset the cohort's order count,
    revenue, and cumulative revenue — the canonical retention-economics
    panel.  Month arithmetic is exact integers (year*12 + month), the
    revenue sums are exact DECIMAL, and the cumulative sum re-enters
    DECIMAL inside the per-cohort window so accumulation order cannot
    perturb it.

    Scale: one shuffle builds the per-customer cohort (min-month agg,
    map-side combined), the fact join is on the customer key, the
    triangle aggregate is |cohorts|×|offsets| rows, and the running-sum
    window partitions by cohort — never a global window."""
    o = _t(spark, sf_dir, "orders")
    ym = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    first = o.groupBy("o_custkey").agg(F.min(ym).alias("cohort_ym"))
    j = o.withColumn("ym", ym).join(first, "o_custkey")
    per = j.groupBy(
        "cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("month_offset")
    ).agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice", "revenue"),
    )
    w = (
        W.partitionBy("cohort_ym")
        .orderBy("month_offset")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return per.select(
        ((F.col("cohort_ym") - 1) / F.lit(12)).cast("long").alias(
            "cohort_year"
        ),
        (F.pmod(F.col("cohort_ym") - 1, F.lit(12)) + 1)
        .cast("long")
        .alias("cohort_month"),
        "month_offset",
        "n_orders",
        "revenue",
        F.sum(F.col("revenue").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("cum_revenue"),
    )


_COHORT_LTV_SQL = """
WITH ym AS (
  SELECT o_custkey, o_totalprice,
         year(o_orderdate) * 12 + month(o_orderdate) AS ym
  FROM orders
),
first AS (SELECT o_custkey, min(ym) AS cohort_ym FROM ym GROUP BY 1),
per AS (
  SELECT f.cohort_ym, y.ym - f.cohort_ym AS month_offset,
         count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM ym y JOIN first f USING (o_custkey)
  GROUP BY 1, 2
)
SELECT CAST((cohort_ym - 1) // 12 AS BIGINT) AS cohort_year,
       CAST(((cohort_ym - 1) % 12) + 1 AS BIGINT) AS cohort_month,
       CAST(month_offset AS INTEGER) AS month_offset,
       n_orders, revenue,
       CAST(sum(CAST(revenue AS DECIMAL(18,2)))
              OVER (PARTITION BY cohort_ym ORDER BY month_offset
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue
FROM per
"""


def basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the basket pairs: support, confidence and
    lift for the top-20 co-purchased brand pairs — the measure set that
    separates "frequent because popular" (lift ≈ 1) from genuinely
    associated brands (lift ≫ 1).  Every ratio is a division of exact
    integer counts, evaluated in the identical order in both engines.

    Scale: same two-exchange shape as basket_brand_pairs (per-order
    brand sets gathered once, pairs expanded map-side) plus two
    broadcast joins against the |brands|-row marginals and the one-row
    order total."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    per_order = ob.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("p_brand")).alias("brands")
    )
    bs = F.col("brands")
    pairs = F.flatten(
        F.transform(
            bs,
            lambda b1, i: F.transform(
                F.slice(bs, i + 2, F.size(bs)),
                lambda b2: F.struct(b1.alias("brand1"), b2.alias("brand2")),
            ),
        )
    )
    n_ab = (
        per_order.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.brand1").alias("brand1"), F.col("p.brand2").alias("brand2")
        )
        .agg(F.count("*").alias("n_ab"))
    )
    marg = ob.groupBy("p_brand").agg(F.count("*").alias("n_brand"))
    tot = per_order.agg(F.count("*").alias("n_orders"))
    out = (
        n_ab.join(
            F.broadcast(marg.select(F.col("p_brand").alias("brand1"),
                                    F.col("n_brand").alias("n_a"))),
            "brand1",
        )
        .join(
            F.broadcast(marg.select(F.col("p_brand").alias("brand2"),
                                    F.col("n_brand").alias("n_b"))),
            "brand2",
        )
        .crossJoin(F.broadcast(tot))
    )
    support = F.col("n_ab").cast("double") / F.col("n_orders")
    confidence = F.col("n_ab").cast("double") / F.col("n_a")
    lift = confidence / (F.col("n_b").cast("double") / F.col("n_orders"))
    return (
        out.select(
            "brand1",
            "brand2",
            "n_ab",
            "n_a",
            "n_b",
            support.alias("support"),
            confidence.alias("confidence"),
            lift.alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), "brand1", "brand2")
        .limit(20)
    )


_BASKET_LIFT_SQL = """
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n_ab AS (
  SELECT a.p_brand AS brand1, b.p_brand AS brand2, count(*) AS n_ab
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
),
marg AS (SELECT p_brand, count(*) AS n_brand FROM ob GROUP BY 1),
tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ob)
SELECT p.brand1, p.brand2,
       CAST(p.n_ab AS BIGINT) AS n_ab,
       CAST(a.n_brand AS BIGINT) AS n_a,
       CAST(b.n_brand AS BIGINT) AS n_b,
       CAST(p.n_ab AS DOUBLE) / t.n_orders AS support,
       CAST(p.n_ab AS DOUBLE) / a.n_brand AS confidence,
       (CAST(p.n_ab AS DOUBLE) / a.n_brand)
         / (CAST(b.n_brand AS DOUBLE) / t.n_orders) AS lift
FROM n_ab p
JOIN marg a ON a.p_brand = p.brand1
JOIN marg b ON b.p_brand = p.brand2
CROSS JOIN tot t
ORDER BY p.n_ab DESC, p.brand1, p.brand2
LIMIT 20
"""


def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-window variants: first_value over the running frame,
    last_value / nth_value(2) over the full-partition frame, per customer
    ordered by (o_orderdate, o_orderkey) — a unique sort key, so every
    frame row is deterministic.  No arithmetic on the money doubles (pure
    selection) → hash-safe.

    Scale: single shuffle on o_custkey shared by all three windows (one
    Window exec, not three)."""
    o = load_table(spark, sf_dir, "orders")
    w_run = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w_run.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.first("o_totalprice").over(w_run).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w_full).alias("second_price"),
    )


_FIRST_LAST_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice,
       first_value(o_totalprice) OVER w_run AS first_price,
       last_value(o_totalprice) OVER w_full AS last_price,
       nth_value(o_totalprice, 2) OVER w_full AS second_price
FROM orders
WINDOW
  w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
  w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def agg_bit_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise / boolean aggregates per return flag: bit_and/bit_or/bit_xor
    of the line number, bool_and/bool_or of a quantity predicate, all
    commutative+associative (order-independent, partial-agg friendly).

    Scale: map-side partial aggregation collapses each partition to one
    row per group before the exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_big = F.col("l_quantity") >= 2
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_linenumber").alias("ln_bit_and"),
        F.bit_or("l_linenumber").alias("ln_bit_or"),
        F.bit_xor("l_linenumber").alias("ln_bit_xor"),
        F.bool_and(qty_big).alias("all_qty_big"),
        F.bool_or(qty_big).alias("any_qty_big"),
        F.count("*").alias("n_rows"),
    )


_BIT_BOOL_SQL = """
SELECT l_returnflag,
       CAST(bit_and(l_linenumber) AS BIGINT) AS ln_bit_and,
       CAST(bit_or(l_linenumber) AS BIGINT) AS ln_bit_or,
       CAST(bit_xor(l_linenumber) AS BIGINT) AS ln_bit_xor,
       bool_and(l_quantity >= 2) AS all_qty_big,
       bool_or(l_quantity >= 2) AS any_qty_big,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation, designed for scale: instead of a global
    ntile() (one partition holding every customer — the classic
    scale-killer), the quintile boundaries are computed as ONE row of
    exact percentiles (bit-identical to quantile_cont in both engines)
    and broadcast back; each customer's R/F/M score is then a scan-side
    comparison against the five thresholds.

    Monetary is the exact-DECIMAL order-total sum (double drift would
    move boundary customers between segments).  Output: per-customer
    scores 1-5 plus a coarse segment label."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("n_orders"),
        dsum("o_totalprice", "monetary"),
    )
    ref = o.agg(F.max("o_orderdate").alias("ref_date"))
    # r15: per_cust feeds BOTH the threshold percentiles and the final
    # scoring; without DAG CSE the orders scan + customer aggregate ran
    # twice per query.  Lazy localCheckpoint computes the narrow
    # customer-grain relation once, scoped to the query.
    per_cust = (
        per_cust.crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff("ref_date", "last_order").alias("recency_days"),
            "n_orders",
            "monetary",
        )
        .localCheckpoint(eager=False)
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    th = per_cust.agg(
        *[
            F.percentile("recency_days", F.lit(q)).alias(f"r{i}")
            for i, q in enumerate(qs, 1)
        ],
        *[
            F.percentile("n_orders", F.lit(q)).alias(f"f{i}")
            for i, q in enumerate(qs, 1)
        ],
        *[
            F.percentile("monetary", F.lit(q)).alias(f"m{i}")
            for i, q in enumerate(qs, 1)
        ],
    )

    def score_up(v: str, pre: str) -> F.Column:
        return (
            F.lit(1)
            + sum(
                (F.col(v) >= F.col(f"{pre}{i}")).cast("int") for i in range(1, 5)
            )
        )

    def score_down(v: str, pre: str) -> F.Column:
        # lower is better (recency): count boundaries the value sits below
        return (
            F.lit(1)
            + sum(
                (F.col(v) < F.col(f"{pre}{i}")).cast("int") for i in range(1, 5)
            )
        )

    scored = per_cust.crossJoin(F.broadcast(th)).select(
        "o_custkey",
        "recency_days",
        "n_orders",
        "monetary",
        score_down("recency_days", "r").alias("r_score"),
        score_up("n_orders", "f").alias("f_score"),
        score_up("monetary", "m").alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4), F.lit("champion")
        )
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") >= 4), F.lit("at_risk")
        )
        .when(F.col("f_score") <= 2, F.lit("occasional"))
        .otherwise(F.lit("regular"))
    )
    return scored.withColumn("segment", seg)


_RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
),
ref AS (SELECT max(o_orderdate) AS ref_date FROM orders),
base AS (
  SELECT o_custkey,
         datediff('day', last_order, ref_date) AS recency_days,
         n_orders, monetary
  FROM per_cust, ref
),
th AS (
  SELECT quantile_cont(recency_days, 0.2) AS r1, quantile_cont(recency_days, 0.4) AS r2,
         quantile_cont(recency_days, 0.6) AS r3, quantile_cont(recency_days, 0.8) AS r4,
         quantile_cont(n_orders, 0.2) AS f1, quantile_cont(n_orders, 0.4) AS f2,
         quantile_cont(n_orders, 0.6) AS f3, quantile_cont(n_orders, 0.8) AS f4,
         quantile_cont(monetary, 0.2) AS m1, quantile_cont(monetary, 0.4) AS m2,
         quantile_cont(monetary, 0.6) AS m3, quantile_cont(monetary, 0.8) AS m4
  FROM base
),
scored AS (
  SELECT o_custkey, recency_days, n_orders, monetary,
         1 + CAST(recency_days < r1 AS INT) + CAST(recency_days < r2 AS INT)
           + CAST(recency_days < r3 AS INT) + CAST(recency_days < r4 AS INT) AS r_score,
         1 + CAST(n_orders >= f1 AS INT) + CAST(n_orders >= f2 AS INT)
           + CAST(n_orders >= f3 AS INT) + CAST(n_orders >= f4 AS INT) AS f_score,
         1 + CAST(monetary >= m1 AS INT) + CAST(monetary >= m2 AS INT)
           + CAST(monetary >= m3 AS INT) + CAST(monetary >= m4 AS INT) AS m_score
  FROM base, th
)
SELECT *,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
            WHEN f_score <= 2 THEN 'occasional'
            ELSE 'regular' END AS segment
FROM scored
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "window_first_last": window_first_last,
    "agg_bit_bool": agg_bit_bool,
    "rfm_segmentation": rfm_segmentation,
    "basket_brand_pairs": basket_brand_pairs,
    "basket_brand_lift": basket_brand_lift,
    "orders_cohort_ltv": orders_cohort_ltv,
    "ols_quantity_price": ols_quantity_price,
    "brand_graph_pagerank": brand_graph_pagerank,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q6_whatif_grid": q6_whatif_grid,
    "revenue_mom_change": revenue_mom_change,
    "order_fulfillment_latency": order_fulfillment_latency,
    "q10_returned_items": q10_returned_items,
    "q12_shipmode_priority": q12_shipmode_priority,
    "q14_promo_revenue_ratio": q14_promo_revenue_ratio,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q19_disjunctive_predicates": q19_disjunctive_predicates,
    "semi_join_big_orders": semi_join_big_orders,
    "anti_join_idle_customers": anti_join_idle_customers,
    "range_join_signup_clicks": range_join_signup_clicks,
    "asof_join_error_purchase": asof_join_error_purchase,
    "asof_join_forward": asof_join_forward,
    "scd_priority_asof": scd_priority_asof,
    "agg_rollup_region_nation": agg_rollup_region_nation,
    "agg_cube_lineitem": agg_cube_lineitem,
    "agg_grouping_sets_orders": agg_grouping_sets_orders,
    "agg_distinct_by_segment": agg_distinct_by_segment,
    "pivot_status_by_priority": pivot_status_by_priority,
    "window_topk_orders_per_customer": window_topk_orders_per_customer,
    "window_running_revenue": window_running_revenue,
    "window_lag_event_delta": window_lag_event_delta,
    "window_range_frame_7d": window_range_frame_7d,
    "full_outer_nation_profile": full_outer_nation_profile,
    "sort_limit_top_lineitems": sort_limit_top_lineitems,
    "set_ops_nation_presence": set_ops_nation_presence,
    "priciest_part_per_brand": priciest_part_per_brand,
    "scalar_function_showcase": scalar_function_showcase,
}

ORACLES = {
    "q1_pricing_summary": _Q1_SQL,
    "window_first_last": _FIRST_LAST_SQL,
    "agg_bit_bool": _BIT_BOOL_SQL,
    "rfm_segmentation": _RFM_SQL,
    "basket_brand_pairs": _BASKET_SQL,
    "basket_brand_lift": _BASKET_LIFT_SQL,
    "orders_cohort_ltv": _COHORT_LTV_SQL,
    "ols_quantity_price": _OLS_SQL,
    "brand_graph_pagerank": _pagerank_oracle(),
    "q3_shipping_priority": _Q3_SQL,
    "q4_order_priority": _Q4_SQL,
    "q5_local_supplier_volume": _Q5_SQL,
    "q6_forecast_revenue": _Q6_SQL,
    "q6_whatif_grid": _whatif_sql(),
    "revenue_mom_change": _MOM_SQL,
    "order_fulfillment_latency": _FULFILL_SQL,
    "q10_returned_items": _Q10_SQL,
    "q12_shipmode_priority": _Q12_SQL,
    "q14_promo_revenue_ratio": _Q14_SQL,
    "q18_large_volume_customers": _Q18_SQL,
    "q19_disjunctive_predicates": _Q19_SQL,
    "semi_join_big_orders": _SEMI_SQL,
    "anti_join_idle_customers": _ANTI_SQL,
    "range_join_signup_clicks": _RANGE_SQL,
    "asof_join_error_purchase": _ASOF_SQL,
    "asof_join_forward": _ASOF_FWD_SQL,
    "scd_priority_asof": _SCD_ASOF_SQL,
    "agg_rollup_region_nation": _ROLLUP_SQL,
    "agg_cube_lineitem": _CUBE_SQL,
    "agg_grouping_sets_orders": _GROUPING_SETS_SQL,
    "agg_distinct_by_segment": _DISTINCT_SQL,
    "pivot_status_by_priority": _PIVOT_SQL,
    "window_topk_orders_per_customer": _TOPK_SQL,
    "window_running_revenue": _RUNNING_SQL,
    "window_lag_event_delta": _LAG_SQL,
    "window_range_frame_7d": _RANGE_FRAME_SQL,
    "full_outer_nation_profile": _FULL_OUTER_SQL,
    "sort_limit_top_lineitems": _SORT_LIMIT_SQL,
    "set_ops_nation_presence": _SET_OPS_SQL,
    "priciest_part_per_brand": _PRICIEST_SQL,
    "scalar_function_showcase": _SCALAR_SQL,
}
