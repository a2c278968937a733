"""Extended relational coverage: the TPC-H query shapes the core module
doesn't already exercise, plus range-band and as-of joins and exact
percentiles.

The reference (gfe-db) exercises only equi/anti/cross/semi joins and plain
group-counts (SURVEY.md §2.3-2.5); this module widens the engine's query
surface to the standard analytic shapes a user of a general engine expects,
adapted to the synthetic star schema's columns. The shapes that need
partsupp / comment / shipmode columns (Q2/Q9/Q11/Q12/Q16/Q20/Q21) live in
`queries/tpch_rest.py`, adapted to the columns that do exist.

Scale notes (100 TB design):
- every scalar subquery (q15 max, q17 per-part avg, q22 global avg) is a
  1-row or small aggregate joined back via broadcast — never a
  Window.partitionBy() global window, which would single-partition the data;
- q17's per-part average joins on the part key: at scale that is a shuffle
  co-partitioned with the probe side (AQE picks SMJ), not a broadcast of a
  100M-row aggregate;
- the band join broadcasts the 4-row band table (BroadcastNestedLoopJoin on
  a range predicate — the only sane plan for tiny-dim range joins);
- the as-of join is the window formulation (last value carried forward
  within the partition key), NOT a per-row range join: one shuffle by
  user_id, no N×M explosion.

Determinism: same rules as queries/relational.py — decimal-routed double
sums, unique tie-breaks on every top-k, years cast to BIGINT both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from gfe_db_spark.queries import QuerySpec
from gfe_db_spark.sources.tables import table


def _dsum(col, scale: int = 8):
    c = col if not isinstance(col, str) else F.col(col)
    return F.sum(c.cast(f"decimal(30,{scale})")).cast("double")


# ---------------------------------------------------------------------------
# TPC-H shapes
# ---------------------------------------------------------------------------


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join, then group-count.

    Orders in a quarter that had at least one late-shipped lineitem
    (l_shipdate > o_orderdate stands in for commit/receipt, which the
    synthetic schema lacks).
    """
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate")
    )
    return (
        orders.join(late.select("l_orderkey").distinct(),
                    orders.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan→filter→scalar aggregate. The pushdown
    showcase: all three predicates reach the parquet reader."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


Q6_SQL = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two nation-dimension hops (supplier's and customer's),
    disjunctive nation-pair predicate, group by (nation, nation, year)."""
    n1, n2 = "NATION_1", "NATION_2"
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    supp_n = supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    cust_n = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_n, orders.o_custkey == cust_n.c_custkey)
        .join(F.broadcast(supp_n), li.l_suppkey == supp_n.s_suppkey)
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(CAST(SUM(CAST(volume AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: conditional-share aggregate
    sum(case when)/sum(all) per year over a region-restricted join.
    Region filter uses the testdata's real region naming (AFRICA —
    regionkey 0, the region NATION_5 belongs to); the original
    'REGION_0' literal matched nothing at any scale, so the entry
    passed its oracle check on 0=0 for eleven rounds (caught by
    test_no_vacuous_driver_checks, r12)."""
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    cust_in_region = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey")
    )
    supp_n = supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_in_region, orders.o_custkey == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp_n), li.l_suppkey == supp_n.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                _dsum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0)))
                / _dsum(vol)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(CAST(SUM(CAST(CASE WHEN n1.n_name = 'NATION_5'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
                     AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
       / CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
       AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
WHERE o_custkey IN (
  SELECT c_custkey FROM customer
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region ON n2.n_regionkey = r_regionkey
  WHERE r_name = 'AFRICA')
GROUP BY o_year
ORDER BY o_year
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-revenue per customer, top 20."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join preserved through a double
    aggregation (orders per customer → customers per order-count)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-revenue percentage over a dimension
    join (part is the broadcast side only below ~10M rows; at scale AQE
    picks the shuffle join on l_partkey)."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        (
            F.lit(100.0)
            * _dsum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)))
            / _dsum(vol)
        ).alias("promo_revenue")
    )


Q14_SQL = """
SELECT 100.0
       * CAST(CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
                       AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
       / CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
       AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: scalar-max subquery. The max is aggregated to one
    row and broadcast-joined back — never a global window (which would
    funnel the whole aggregate through one partition at scale)."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = table(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(max_rev), revenue.total_revenue == max_rev.max_revenue)
        .join(supp, revenue.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery decorrelated into a
    per-key aggregate join (avg qty per part, probe side filtered below
    0.2×avg). At 100 TB both sides shuffle on l_partkey — co-partitioned
    SMJ, no broadcast of the 100M-row aggregate."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    li_of_brand = li.join(part, li.l_partkey == part.p_partkey, "left_semi")
    avg_qty = li_of_brand.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (_dsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li_of_brand.join(avg_qty, li_of_brand.l_partkey == avg_qty.ap_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((_dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


Q17_SQL = """
WITH brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1')
), avg_qty AS (
  SELECT l_partkey AS ap_partkey,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM brand_li GROUP BY l_partkey
)
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly
FROM brand_li JOIN avg_qty ON l_partkey = ap_partkey
WHERE l_quantity < 0.2 * avg_qty
"""


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered group feeding a semi-join, top 100."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS sum_qty
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
HAVING SUM(CAST(l_quantity AS DECIMAL(30,8))) > 150
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR of conjunctive (brand, size, quantity) triples
    across a join — the optimizer must still push the common join key."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 25))
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 35))
           & (F.col("l_quantity").between(20, 30)))
    )
    return j.filter(cond).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


Q19_SQL = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-avg subquery (broadcast 1-row) + anti-join
    to orders, grouped by nation (the schema has no phone prefix)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (_dsum("c_acctbal") / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("c_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


Q22_SQL = """
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, COUNT(*) AS numcust,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) / COUNT(*)
    FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# ---------------------------------------------------------------------------
# Range-band join / as-of join / exact percentiles (beyond the reference's
# equi-only join surface — see SURVEY.md §2.3 coverage note)
# ---------------------------------------------------------------------------

QTY_BANDS = [
    (1.0, 9.0, "low"),
    (10.0, 24.0, "mid"),
    (25.0, 40.0, "high"),
    (41.0, 50.0, "bulk"),
]


def range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (banded) join: fact rows matched to a tiny interval dimension.

    QTY_BANDS is a static, NON-OVERLAPPING constant list, so the interval
    join compiles to a chained CASE over l_quantity instead of a
    BroadcastNestedLoopJoin: identical rows (each fact row matches at most
    one band; unmatched rows drop, exactly like the inner join), but the
    probe is one codegen'd expression per row rather than a 4-row nested
    loop — r13 lock-step A/B cut the per-row cost ~5x in task CPU. A
    dynamic or overlapping band table would need the real join; the CASE
    form is the constant-dimension specialization (guide §8: use what you
    know that the optimizer does not)."""
    li = table(spark, sf_dir, "lineitem")
    band_expr = None
    for lo, hi, name in QTY_BANDS:
        cond = (F.col("l_quantity") >= F.lit(lo)) & (F.col("l_quantity") <= F.lit(hi))
        band_expr = F.when(cond, F.lit(name)) if band_expr is None else band_expr.when(cond, F.lit(name))
    return (
        li.select(band_expr.alias("band"), "l_extendedprice")
        .filter(F.col("band").isNotNull())
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("l_extendedprice").alias("revenue"),
        )
        .orderBy("band")
    )


RANGE_BAND_SQL = """
SELECT band, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN (VALUES (1.0, 9.0, 'low'), (10.0, 24.0, 'mid'),
             (25.0, 40.0, 'high'), (41.0, 50.0, 'bulk')) AS bands(lo, hi, band)
  ON l_quantity >= lo AND l_quantity <= hi
GROUP BY band
ORDER BY band
"""


def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click event, the value of the same user's most
    recent purchase at-or-before it.

    Implemented as the window carry-forward formulation (last non-null over
    an ordered partition), not a per-row range join: one shuffle on
    user_id, O(n) per partition, no pair explosion — the scalable as-of
    plan. Ties broken by event_id for determinism.
    """
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = ev.withColumn(
        "last_purchase_value",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")), ignorenulls=True
        ).over(w),
    )
    return (
        carried.filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "last_purchase_value")
        .orderBy("event_id")
    )


ASOF_SQL = """
SELECT event_id, user_id, last_purchase_value
FROM (
  SELECT event_id, user_id, event_type,
         last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_purchase_value
  FROM events
)
WHERE event_type = 'click'
ORDER BY event_id
"""


def pctl_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90) per group — the exact
    form; the approx_percentile sketch is the scale path when a bounded
    error is acceptable (same API shape, no full sort)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
            F.percentile("l_quantity", F.lit(0.9)).alias("p90_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


PCTL_SQL = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS median_qty,
       quantile_cont(l_quantity, 0.9) AS p90_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: top-20 part pairs appearing in the
    same order (the association-mining candidate-pair join). The self-join
    is keyed by order and each order holds a bounded handful of parts, so
    the pair fan-out is O(orders × basket²) with a small constant — never
    an unkeyed product; the count agg combines map-side."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


COPURCHASE_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
"""


def histogram_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of l_quantity (10 buckets over [1, 51)) — the
    data-profiling primitive; bucket arithmetic stays a narrow map and the
    histogram is one keyed count agg."""
    li = table(spark, sf_dir, "lineitem")
    bucket = F.least(
        F.greatest(F.floor((F.col("l_quantity") - 1) / 5), F.lit(0)), F.lit(9)
    ).cast("int")
    return (
        li.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "bucket",
            (F.col("bucket") * 5 + 1).cast("double").alias("lo"),
            (F.col("bucket") * 5 + 6).cast("double").alias("hi"),
            "n_rows",
        )
        .orderBy("bucket")
    )


HISTOGRAM_SQL = """
SELECT bucket,
       CAST(bucket * 5 + 1 AS DOUBLE) AS lo,
       CAST(bucket * 5 + 6 AS DOUBLE) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM (
  SELECT CAST(least(greatest(floor((l_quantity - 1) / 5), 0), 9) AS INTEGER) AS bucket
  FROM lineitem
)
GROUP BY bucket ORDER BY bucket
"""


def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: each customer's order
    stream becomes validity intervals [valid_from, valid_to) carrying the
    order's total as the tracked attribute; the open interval ends NULL.
    One keyed window (lead over the change stream) — the warehouse
    history-table shape; the as-of join (asof_last_purchase) is its
    point-in-time read side."""
    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
            F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd HH:mm:ss").alias(
                "valid_to"
            ),
            F.col("o_totalprice").alias("totalprice"),
            (F.lead("o_orderdate").over(w).isNull()).alias("is_current"),
        )
        .orderBy("custkey", "valid_from", "totalprice")
    )


SCD2_SQL = """
SELECT o_custkey AS custkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(o_orderdate) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
       o_totalprice AS totalprice,
       lead(o_orderdate) OVER w IS NULL AS is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY custkey, valid_from, totalprice
"""


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (DataFrame.unpivot / SQL UNPIVOT): per-flag
    measure totals melted to (flag, measure, total) rows — the reporting
    reshape every profiling surface needs. Decimal-routed sums keep the
    totals engine-exact before the narrow-map reshape."""
    li = table(spark, sf_dir, "lineitem")

    def dsum(col: str):
        return F.sum(F.col(col).cast("decimal(30,8)")).cast("double")

    agg = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("quantity"),
        dsum("l_extendedprice").alias("extendedprice"),
        dsum("l_discount").alias("discount"),
    )
    return agg.unpivot(
        ids=["l_returnflag"],
        values=["quantity", "extendedprice", "discount"],
        variableColumnName="measure",
        valueColumnName="total",
    ).orderBy("l_returnflag", "measure")


UNPIVOT_SQL = """
WITH agg AS (
  SELECT l_returnflag,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS quantity,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS extendedprice,
         CAST(CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS discount
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'quantity' AS measure, quantity AS total FROM agg
UNION ALL SELECT l_returnflag, 'extendedprice', extendedprice FROM agg
UNION ALL SELECT l_returnflag, 'discount', discount FROM agg
ORDER BY l_returnflag, measure
"""


def sketch_distinct_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch family at 100 TB: approx_count_distinct (HLL) replaces
    exact distinct where a bounded error buys removal of the dedup
    shuffle. Approximate values can't hash-match across engines, so the
    entry checks the ACCURACY CONTRACT instead: exact counts anchor the
    hash, and each engine asserts ITS OWN sketch lands within 5% of exact
    — stable booleans on deterministic data (HLL's default rsd is ~2%).

    Plan shape (r13): the
    (event_type, user_id) dedup is its OWN narrow exchange; the mixed
    `agg(count_distinct, approx_count_distinct)` form would plan the
    partial HLL buffer (~1.6k longs at rsd 0.01) keyed per DISTINCT
    (event_type, user_id) pair through the dedup shuffle. count(*) over
    distinct rows is count_distinct, and HLL registers are
    duplicate-insensitive, so the result is bit-identical. Pinned by
    test_plan_contracts (no user_id-keyed approx partial state)."""
    ev = table(spark, sf_dir, "events")
    dedup = ev.select("event_type", "user_id").distinct()
    return (
        dedup.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            # rsd=0.01: Spark's default 0.05 means 1σ = 5%, so a 2σ-wide
            # band needs ≥10%; tightening the sketch instead keeps the
            # asserted contract meaningful (10% band ≈ 10σ at rsd 0.01)
            F.approx_count_distinct("user_id", 0.01).alias("n_approx"),
        )
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("n_approx") - F.col("n_exact"))
                <= 0.10 * F.col("n_exact")
            ).alias("approx_within_band"),
        )
        .orderBy("event_type")
    )


SKETCH_DISTINCT_SQL = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
         <= 0.10 * COUNT(DISTINCT user_id) AS approx_within_band
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def sketch_quantile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile twin of pctl_quantity_by_flag under the same
    accuracy-contract scheme: the exact interpolated percentiles anchor
    the hash; each engine checks its own sketch against a ±1.0 absolute
    band (l_quantity spans 1..50, so the band is 2% of range)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.5)).alias("median_exact"),
            F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias("m_approx"),
        )
        .select(
            "l_returnflag",
            "median_exact",
            (F.abs(F.col("m_approx") - F.col("median_exact")) <= 1.0).alias(
                "approx_within_band"
            ),
        )
        .orderBy("l_returnflag")
    )


SKETCH_QUANTILE_SQL = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS median_exact,
       abs(approx_quantile(l_quantity, 0.5) - quantile_cont(l_quantity, 0.5)) <= 1.0
         AS approx_within_band
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters completes the sketch family (HLL distinct, quantile,
    Bloom membership): which keys exceed a frequency threshold, found by a
    single-pass bounded-memory sketch instead of a full groupBy. Spark's
    `freqItems` (Karp et al. counter algorithm: ≤ 1/support counters per
    partition, merged) GUARANTEES a superset of every key with proportion
    strictly above `support` — false positives possible, false negatives
    not. Like the k-means model and the IVF centroids, the sketch result
    is bounded model-state (≤ 1/support = 200 keys) pulled to the driver,
    not a data-path collect.

    Hash anchoring follows the family pattern: exact per-key counts anchor
    the hash; `in_sketch` asserts the no-false-negative contract Spark-side
    (every exact heavy hitter must appear in the sketch's candidate set);
    the oracle states the contract as literal TRUE. At 100 TB the exact
    branch is the verification channel — production keeps only the
    sketch's one pass."""
    ev = table(spark, sf_dir, "events")
    hot = ev.select("user_id").stat.freqItems(["user_id"], 0.005).first()[0]
    freq = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("freq"))
    total = freq.agg(F.sum("freq").alias("n_total"))
    return (
        freq.crossJoin(F.broadcast(total))
        .filter(F.col("freq") * 200 > F.col("n_total"))
        .select(
            "user_id",
            "freq",
            F.col("user_id").isin([int(x) for x in hot]).alias("in_sketch"),
        )
        .orderBy("user_id")
    )


SKETCH_HEAVY_HITTERS_SQL = """
WITH f AS (
  SELECT user_id, COUNT(*) AS freq FROM events GROUP BY user_id
), n AS (
  SELECT SUM(freq) AS n_total FROM f
)
SELECT user_id, CAST(freq AS BIGINT) AS freq, TRUE AS in_sketch
FROM f, n
WHERE freq * 200 > n_total
ORDER BY user_id
"""


def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's order revenue.
    The contribution-analysis shape — a windowed total over the GROUP
    GRAIN (25 nations), never over raw orders. Revenue travels as integer
    cents end to end (2-dp money ×100, summed as BIGINT), so the window
    total is exact and the final share is one double division both
    engines compute identically — no decimal-scale or float-order
    divergence channel."""
    from pyspark.sql.window import Window as W

    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    w = W.partitionBy("r_name")
    return (
        rev.select(
            "r_name",
            "n_name",
            (F.col("rev_cents") / 100.0).alias("revenue"),
            F.round(F.col("rev_cents") / F.sum("rev_cents").over(w), 9).alias("share"),
        )
        .orderBy("r_name", "n_name")
    )


NATION_SHARE_SQL = """
WITH rev AS (
  SELECT r.r_name, n.n_name,
         SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS rev_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name,
       rev_cents / 100.0 AS revenue,
       round(rev_cents / SUM(rev_cents) OVER (PARTITION BY r_name), 9) AS share
FROM rev
ORDER BY r_name, n_name
"""


def reorder_interval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval analysis: per-customer day gaps between
    consecutive orders (keyed lag — one shuffle on the customer key, with
    a deterministic (day, orderkey) tie-break for same-day orders), rolled
    up to robust per-segment statistics. The repeat-behavior metric
    (reorder cadence, churn horizon) every commerce/retention pipeline
    computes; day gaps are epoch-day integer differences, so only the
    exact-percentile interpolation touches floats."""
    from pyspark.sql.window import Window as W

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.unix_date(F.to_date("o_orderdate")).alias("day")
    )
    w = W.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    gaps = (
        o.withColumn("gap", F.col("day") - F.lag("day").over(w))
        .filter(F.col("gap").isNotNull())
        .join(c, o.o_custkey == c.c_custkey)
    )
    return (
        gaps.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.percentile("gap", F.lit(0.5)).alias("median_gap_days"),
            F.percentile("gap", F.lit(0.9)).alias("p90_gap_days"),
            F.max("gap").cast("long").alias("max_gap_days"),
        )
        .orderBy("c_mktsegment")
    )


REORDER_INTERVAL_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
  FROM orders
), g AS (
  SELECT o_custkey,
         day - LAG(day) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey)
           AS gap
  FROM o
)
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       quantile_cont(g.gap, 0.5) AS median_gap_days,
       quantile_cont(g.gap, 0.9) AS p90_gap_days,
       CAST(MAX(g.gap) AS BIGINT) AS max_gap_days
FROM g JOIN customer c ON g.o_custkey = c.c_custkey
WHERE g.gap IS NOT NULL
GROUP BY 1
ORDER BY 1
"""


def division_all_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division — the one classic algebra shape the inventory
    lacked: customers whose purchases touch suppliers in EVERY region
    (÷ by the full region set), rolled up per market segment next to the
    segment totals so the division's selectivity is visible (58 of 1500
    customers fail the cover at sf0.01).

    Shape at scale: division = one keyed distinct-count per dividend key
    against a 1-row broadcast divisor count — no per-element EXCEPT/anti
    chain, no fan-out beyond the joins the fact table already pays; the
    dims (supplier, nation) broadcast."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = table(spark, sf_dir, "region")

    cust_regions = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("o_custkey")
        .agg(F.count_distinct("n_regionkey").alias("nr"))
    )
    total = r.agg(F.count(F.lit(1)).alias("n_regions"))
    return (
        c.join(cust_regions, c.c_custkey == cust_regions.o_custkey, "left")
        .crossJoin(F.broadcast(total))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(
                F.when(F.col("nr") == F.col("n_regions"), 1).otherwise(0)
            ).alias("n_covering"),
        )
        .orderBy("c_mktsegment")
    )


DIVISION_SQL = """
WITH cr AS (
  SELECT o.o_custkey, COUNT(DISTINCT n.n_regionkey) AS nr
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY o.o_custkey
), t AS (
  SELECT COUNT(*) AS n_regions FROM region
)
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN cr.nr = t.n_regions THEN 1 ELSE 0 END) AS BIGINT)
         AS n_covering
FROM customer c
LEFT JOIN cr ON cr.o_custkey = c.c_custkey
CROSS JOIN t
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


def revenue_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto curve): customers bucketed into
    spend deciles and each decile's share of total revenue — WITHOUT a
    global sort. Boundaries come from one exact-percentile aggregate over
    the customer-grain revenue (a 9-number broadcast); every customer then
    finds its decile by comparing against the broadcast boundaries, and
    shares are exact integer-cents ratios. At 100 TB the swap is
    `approx_percentile` for the boundary pass — same plan, bounded error,
    still no sort of the customer table."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders")
    cust_rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    qs = [i / 10.0 for i in range(1, 10)]
    bnd = cust_rev.agg(
        F.percentile("rev_cents", F.array(*[F.lit(q) for q in qs])).alias("b"),
        F.sum("rev_cents").alias("total_cents"),
    )
    decile = sum(
        [F.when(F.col("rev_cents") > F.element_at("b", i + 1), 1).otherwise(0) for i in range(9)],
        F.lit(1),
    )
    return (
        cust_rev.crossJoin(F.broadcast(bnd))
        .select("rev_cents", "total_cents", decile.alias("decile"))
        .groupBy("decile", "total_cents")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev_cents").alias("dec_cents"),
        )
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_customers",
            F.round(F.col("dec_cents") / F.col("total_cents"), 9).alias("rev_share"),
        )
        .orderBy("decile")
    )


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary), the
    classic CRM rollup — WITHOUT a global ntile sort: quartile boundaries
    for all three metrics come from ONE exact-percentile aggregate (a
    9-number broadcast), every customer scores itself by comparisons, and
    the segment rollup is a keyed agg. At 100 TB the boundary pass swaps
    to approx_percentile, same plan. Same technique as
    revenue_pareto_deciles; recency travels as epoch days, money as
    integer cents, so every score is integer-exact."""
    o = table(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey").alias("c")).agg(
        F.max(F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))).alias(
            "recency_d"
        ),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("money_c"),
    )
    qs = [0.25, 0.5, 0.75]
    bnd = rfm.agg(
        F.percentile("recency_d", F.array(*[F.lit(q) for q in qs])).alias("rb"),
        F.percentile("freq", F.array(*[F.lit(q) for q in qs])).alias("fb"),
        F.percentile("money_c", F.array(*[F.lit(q) for q in qs])).alias("mb"),
    )

    def score(col: str, b: str):
        return sum(
            [F.when(F.col(col) > F.element_at(b, i + 1), 1).otherwise(0) for i in range(3)],
            F.lit(1),
        )

    return (
        rfm.crossJoin(F.broadcast(bnd))
        .select(
            score("recency_d", "rb").alias("r_q"),
            score("freq", "fb").alias("f_q"),
            score("money_c", "mb").alias("m_q"),
            "money_c",
        )
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("money_c").alias("seg_cents"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


RFM_SQL = """
WITH rfm AS (
  SELECT o_custkey AS c,
         MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS recency_d,
         COUNT(*) AS freq,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS money_c
  FROM orders GROUP BY 1
), bnd AS (
  SELECT quantile_cont(recency_d, [0.25, 0.5, 0.75]) AS rb,
         quantile_cont(freq, [0.25, 0.5, 0.75]) AS fb,
         quantile_cont(money_c, [0.25, 0.5, 0.75]) AS mb
  FROM rfm
), scored AS (
  SELECT
    1 + (CASE WHEN recency_d > rb[1] THEN 1 ELSE 0 END)
      + (CASE WHEN recency_d > rb[2] THEN 1 ELSE 0 END)
      + (CASE WHEN recency_d > rb[3] THEN 1 ELSE 0 END) AS r_q,
    1 + (CASE WHEN freq > fb[1] THEN 1 ELSE 0 END)
      + (CASE WHEN freq > fb[2] THEN 1 ELSE 0 END)
      + (CASE WHEN freq > fb[3] THEN 1 ELSE 0 END) AS f_q,
    1 + (CASE WHEN money_c > mb[1] THEN 1 ELSE 0 END)
      + (CASE WHEN money_c > mb[2] THEN 1 ELSE 0 END)
      + (CASE WHEN money_c > mb[3] THEN 1 ELSE 0 END) AS m_q,
    money_c
  FROM rfm CROSS JOIN bnd
)
SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q, CAST(m_q AS INT) AS m_q,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(money_c) AS BIGINT) AS seg_cents
FROM scored
GROUP BY 1, 2, 3
ORDER BY r_q, f_q, m_q
"""


def association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: support / confidence / lift
    for the top-20 part pairs by lift (min co-count 3). Pair generation
    is the order-keyed self-join (bounded basket fan-out, never an
    unkeyed product); item counts join back on the part key; the basket
    total is a 1-row broadcast. All three measures are ratios of exact
    integer counts, rounded to 9 — deterministic at any parallelism."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_orders = li.select("l_orderkey").distinct().agg(F.count(F.lit(1)).alias("n_tot"))
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(F.col("n_ab") / F.col("n_tot"), 9).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a"), 9).alias("confidence"),
            F.round((F.col("n_ab") * F.col("n_tot")) / (F.col("n_a") * F.col("n_b")), 9).alias(
                "lift"
            ),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(20)
    )


ASSOC_RULES_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_tot FROM items),
item AS (SELECT l_partkey, COUNT(*) AS n_item FROM items GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
)
SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_ab,
       round(n_ab / n_tot, 9) AS support,
       round(n_ab / ia.n_item, 9) AS confidence,
       round((n_ab * n_tot) / (ia.n_item * ib.n_item), 9) AS lift
FROM pairs
JOIN item ia ON ia.l_partkey = part_a
JOIN item ib ON ib.l_partkey = part_b
CROSS JOIN n
ORDER BY lift DESC, part_a, part_b
LIMIT 20
"""


PARETO_SQL = """
WITH cust_rev AS (
  SELECT c.c_custkey,
         SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS rev_cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
), bnd AS (
  SELECT quantile_cont(rev_cents, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS b,
         SUM(rev_cents) AS total_cents
  FROM cust_rev
), bucketed AS (
  SELECT cr.rev_cents, bnd.total_cents,
         1 + (CASE WHEN cr.rev_cents > bnd.b[1] THEN 1 ELSE 0 END)
           + (CASE WHEN cr.rev_cents > bnd.b[2] THEN 1 ELSE 0 END)
           + (CASE WHEN cr.rev_cents > bnd.b[3] THEN 1 ELSE 0 END)
           + (CASE WHEN cr.rev_cents > bnd.b[4] THEN 1 ELSE 0 END)
           + (CASE WHEN cr.rev_cents > bnd.b[5] THEN 1 ELSE 0 END)
           + (CASE WHEN cr.rev_cents > bnd.b[6] THEN 1 ELSE 0 END)
           + (CASE WHEN cr.rev_cents > bnd.b[7] THEN 1 ELSE 0 END)
           + (CASE WHEN cr.rev_cents > bnd.b[8] THEN 1 ELSE 0 END)
           + (CASE WHEN cr.rev_cents > bnd.b[9] THEN 1 ELSE 0 END) AS decile
  FROM cust_rev cr CROSS JOIN bnd
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       round(SUM(rev_cents) / MIN(total_cents), 9) AS rev_share
FROM bucketed
GROUP BY decile
ORDER BY decile
"""


def order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency counting: how many orders are OPEN (placed,
    not yet fully shipped) on each day — the boundary-delta formulation
    that turns interval overlap into a keyed aggregate: +1 at the order
    date, −1 the day after its last shipment, then a running sum over the
    day-grain deltas. No per-day × per-order explode, no interval join.

    Scale: the only window is the cumulative sum, and it runs over the
    DAY-GRAIN delta table (calendar-bounded — thousands of rows at any
    corpus size), never over raw orders; everything upstream is keyed
    aggregation with map-side combine. The same shape computes concurrent
    sessions, active loans, or GPU-job occupancy at 100 TB."""
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # epoch-day integers throughout (the repo's engine-exact date currency)
    span = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.min(F.unix_date(F.to_date("o_orderdate"))).alias("start_day"),
            F.max(F.unix_date(F.to_date("l_shipdate"))).alias("end_day"),
        )
    )
    deltas = span.select(
        F.col("start_day").alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        span.select((F.col("end_day") + 1).alias("day"), F.lit(-1).alias("delta"))
    )
    from pyspark.sql.window import Window as W

    day_deltas = deltas.groupBy("day").agg(F.sum("delta").alias("d"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        day_deltas.withColumn("open_orders", F.sum("d").over(w).cast("long"))
        .select(F.col("day").cast("long").alias("day"), "open_orders")
        .orderBy("day")
    )


ORDER_BACKLOG_SQL = """
WITH span AS (
  SELECT o.o_orderkey,
         MIN(date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)))
           AS start_day,
         MAX(date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE)))
           AS end_day
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey
), deltas AS (
  SELECT start_day AS day, 1 AS delta FROM span
  UNION ALL
  SELECT end_day + 1, -1 FROM span
), dd AS (
  SELECT day, SUM(delta) AS d FROM deltas GROUP BY 1
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(SUM(d) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS open_orders
FROM dd
ORDER BY day
"""


def outlier_mad_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: median/MAD (median absolute
    deviation) flagging — the data-cleaning gate that, unlike mean/stddev
    z-scores, is not itself dragged by the outliers it should find.

    Shape: per-type median (exact percentile) → broadcast back → per-type
    MAD → broadcast back → flag |value − med| > 3·MAD. Three passes over
    events, but the two intermediate tables are group-cardinality (tiny)
    broadcasts, so the big table is never shuffled by a join; at 100 TB
    the sketch swap is `approx_percentile` for both quantiles (same plan,
    one bounded-error pass each)."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.percentile("value", F.lit(0.5)).alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.min("med").alias("med"), F.percentile("absdev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.drop("med")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("absdev") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


OUTLIER_MAD_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
), dev AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS absdev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, MIN(med) AS med, quantile_cont(absdev, 0.5) AS mad
  FROM dev GROUP BY 1
)
SELECT d.event_type, m.med, m.mad,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN d.absdev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type, m.med, m.mad
ORDER BY d.event_type
"""


def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-based join-cardinality estimation — the pre-flight check a
    planner (or an engineer sizing a 100 TB self-join) runs before paying
    for the real thing. Target: |lineitem ⋈ lineitem on l_partkey| = Σ f²
    over per-key frequencies f.

    Estimator: include a KEY iff hash(key) lands in a p=10% bucket (key
    sampling, not row sampling — row sampling biases Σf² down by p²), count
    only sampled keys' rows, scale Σf² by 1/p. The hash gate is the
    engine-portable md5-LE32, so the "estimate" is deterministic and both
    engines agree bit-for-bit; the exact Σf² rides along as the
    verification channel, and `within_band` asserts the estimate lands
    within 15% — the accuracy-contract pattern of the sketch family. At
    scale only the gated 10% of rows ever reaches the counting shuffle."""
    from gfe_db_spark.operators.text import hash_le32

    li = table(spark, sf_dir, "lineitem").select("l_partkey")
    f_all = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    exact = f_all.agg(F.sum(F.col("f") * F.col("f")).cast("long").alias("exact_pairs"))
    gate = hash_le32("l_partkey", "cardest") % 100 < 10
    f_s = li.filter(gate).groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    est = f_s.agg(
        (F.sum(F.col("f") * F.col("f")) * 10).cast("long").alias("est_pairs")
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "est_pairs",
            "exact_pairs",
            (
                F.abs(F.col("est_pairs") - F.col("exact_pairs"))
                <= 0.15 * F.col("exact_pairs")
            ).alias("within_band"),
        )
    )


JOIN_CARD_EST_SQL = """
WITH f_all AS (
  SELECT l_partkey, COUNT(*) AS f FROM lineitem GROUP BY 1
), exact AS (
  SELECT CAST(SUM(f * f) AS BIGINT) AS exact_pairs FROM f_all
), f_s AS (
  SELECT l_partkey, COUNT(*) AS f FROM lineitem
  WHERE CAST(md5_number_upper(CAST(l_partkey AS VARCHAR) || ':cardest')
             & 4294967295 AS BIGINT) % 100 < 10
  GROUP BY 1
), est AS (
  SELECT CAST(SUM(f * f) * 10 AS BIGINT) AS est_pairs FROM f_s
)
SELECT est_pairs, exact_pairs,
       abs(est_pairs - exact_pairs) <= 0.15 * exact_pairs AS within_band
FROM est, exact
"""


QUERIES: dict[str, QuerySpec] = {
    "q4_order_priority": QuerySpec(q4_order_priority, Q4_SQL, "EXISTS semi-join group-count"),
    "q6_forecast_revenue": QuerySpec(q6_forecast_revenue, Q6_SQL, "pushdown scan scalar agg"),
    "q7_volume_shipping": QuerySpec(q7_volume_shipping, Q7_SQL, "double dimension hop"),
    "q8_market_share": QuerySpec(q8_market_share, Q8_SQL, "conditional share per year"),
    "q10_returned_items": QuerySpec(q10_returned_items, Q10_SQL, "top-20 returned revenue"),
    "q13_customer_distribution": QuerySpec(
        q13_customer_distribution, Q13_SQL, "left-outer double aggregation"
    ),
    "q14_promo_effect": QuerySpec(q14_promo_effect, Q14_SQL, "conditional revenue pct"),
    "q15_top_supplier": QuerySpec(q15_top_supplier, Q15_SQL, "scalar-max subquery"),
    "q17_small_quantity": QuerySpec(q17_small_quantity, Q17_SQL, "decorrelated avg subquery"),
    "q18_large_volume_customer": QuerySpec(q18_large_volume_customer, Q18_SQL, "HAVING semi-join"),
    "q19_disjunctive_predicates": QuerySpec(q19_disjunctive_predicates, Q19_SQL, "OR-triple join"),
    "q22_global_sales_opportunity": QuerySpec(
        q22_global_sales_opportunity, Q22_SQL, "scalar-avg + anti-join"
    ),
    "range_band_join": QuerySpec(range_band_join, RANGE_BAND_SQL, "broadcast interval join"),
    "asof_last_purchase": QuerySpec(asof_last_purchase, ASOF_SQL, "as-of via window carry-forward"),
    "pctl_quantity_by_flag": QuerySpec(pctl_quantity_by_flag, PCTL_SQL, "exact group percentiles"),
    "copurchase_pairs": QuerySpec(
        copurchase_pairs, COPURCHASE_SQL, "market-basket co-occurrence pairs"
    ),
    "unpivot_measures": QuerySpec(
        unpivot_measures, UNPIVOT_SQL, "wide-to-long unpivot reshape"
    ),
    "scd2_customer_history": QuerySpec(
        scd2_customer_history, SCD2_SQL, "SCD type-2 validity-interval build"
    ),
    "histogram_quantity": QuerySpec(
        histogram_quantity, HISTOGRAM_SQL, "equi-width histogram profile"
    ),
    "sketch_distinct_accuracy": QuerySpec(
        sketch_distinct_accuracy, SKETCH_DISTINCT_SQL, "HLL distinct accuracy contract"
    ),
    "sketch_quantile_accuracy": QuerySpec(
        sketch_quantile_accuracy, SKETCH_QUANTILE_SQL, "approx-percentile accuracy contract"
    ),
    "sketch_heavy_hitters": QuerySpec(
        sketch_heavy_hitters,
        SKETCH_HEAVY_HITTERS_SQL,
        "freqItems heavy-hitter superset contract",
    ),
    "outlier_mad_values": QuerySpec(
        outlier_mad_values, OUTLIER_MAD_SQL, "median/MAD robust outlier flagging"
    ),
    "order_backlog_daily": QuerySpec(
        order_backlog_daily,
        ORDER_BACKLOG_SQL,
        "interval concurrency via boundary deltas + day-grain running sum",
    ),
    "nation_revenue_share": QuerySpec(
        nation_revenue_share,
        NATION_SHARE_SQL,
        "ratio-to-report contribution share in exact integer cents",
    ),
    "reorder_interval_stats": QuerySpec(
        reorder_interval_stats,
        REORDER_INTERVAL_SQL,
        "per-customer reorder cadence via keyed lag + robust segment stats",
    ),
    "division_all_regions": QuerySpec(
        division_all_regions,
        DIVISION_SQL,
        "relational division: customers covering every supplier region",
    ),
    "rfm_segmentation": QuerySpec(
        rfm_segmentation,
        RFM_SQL,
        "RFM quartile segmentation via broadcast exact-percentile boundaries (no ntile sort)",
    ),
    "association_rules_lift": QuerySpec(
        association_rules_lift,
        ASSOC_RULES_SQL,
        "association rules: support/confidence/lift over order baskets",
    ),
    "revenue_pareto_deciles": QuerySpec(
        revenue_pareto_deciles,
        PARETO_SQL,
        "Pareto revenue concentration via broadcast percentile boundaries, no sort",
    ),
    "join_cardinality_estimate": QuerySpec(
        join_cardinality_estimate,
        JOIN_CARD_EST_SQL,
        "key-sampled self-join cardinality estimate vs exact",
    ),
}
