"""Extended TPC-H-shaped query battery (SURVEY §2.3 joins/aggs, widened).

The reference has no relational surface at all (SURVEY §2.1); these queries
document that the engine covers the standard decision-support shapes beyond
relational.py's Q1/Q3/Q5: EXISTS/NOT-IN subqueries, single-row aggregates,
bidirectional join predicates, conditional (CASE) aggregation, ratio-of-sums,
multi-distinct group counts, and HAVING-gated join-backs.

Fixture adaptations (TESTDATA.md schemas lack some TPC-H columns): p_type is
a plain category so q14 uses equality instead of LIKE 'PROMO%'; there is no
l_shipmode/l_commitdate, so q4 gates on returned lines and q12 buckets by
o_orderpriority; there is no partsupp, so q16 treats lineitem as the
part-supplier relation.

Scale notes mirror relational.py: dims broadcast, fact-fact joins shuffle on
natural keys, aggregates are partial+final, decimal-cast sums keep results
deterministic (functions/deterministic.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register


def _c2(col: str) -> F.Column:
    return F.col(col).cast("decimal(12,2)")


_SQL_C2 = "CAST({0} AS DECIMAL(12,2))"


def _rev(price: str = "l_extendedprice", disc: str = "l_discount") -> F.Column:
    return F.sum(_c2(price) * (F.lit(1) - _c2(disc))).cast("double")


def _sql_rev(price: str = "l_extendedprice", disc: str = "l_discount") -> str:
    return (
        f"CAST(SUM({_SQL_C2.format(price)}"
        f" * (1 - {_SQL_C2.format(disc)})) AS DOUBLE)"
    )


@register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
)
GROUP BY o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS subquery → left-semi join → 1-key agg.

    The semi join ships only the join key of the filtered lineitem side;
    no payload columns cross the shuffle.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
SELECT CAST(SUM({_SQL_C2.format('l_extendedprice')}
              * {_SQL_C2.format('l_discount')}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, single output row.

    Every predicate pushes to the parquet scan; the aggregate is one
    partial per mapper + one final row — the cheapest possible 100 TB
    query and the canonical pushdown check.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(_c2("l_extendedprice") * _c2("l_discount"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       year(l.l_shipdate) AS l_year,
       {_sql_rev('l.l_extendedprice', 'l.l_discount')} AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two nation dims joined twice + disjunctive
    cross-dimension predicate + year rollup.

    Both nation copies broadcast; the disjunction is evaluated after the
    (cheap) broadcast joins, never as a cross product.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(_rev().alias("revenue"))
    )


@register(
    "q10_returned_items",
    oracle=f"""
SELECT c.c_custkey,
       c.c_name,
       n.n_name,
       CAST(c.c_acctbal AS DOUBLE) AS c_acctbal,
       {_sql_rev('l.l_extendedprice', 'l.l_discount')} AS revenue
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.

    customer/nation broadcast; orders⋈lineitem shuffles; top-k compiles
    to TakeOrderedAndProject (no global sort materialization).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(_rev().alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q12_priority_shipping",
    oracle="""
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l.l_linestatus
""",
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional (CASE) aggregation over a fact-fact
    join. (Fixture has no l_shipmode; o_orderpriority plays its role.)"""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_effect",
    oracle=f"""
SELECT CAST(100.0 AS DOUBLE)
         * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN {_SQL_C2.format('l.l_extendedprice')}
                              * (1 - {_SQL_C2.format('l.l_discount')})
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         / {_sql_rev('l.l_extendedprice', 'l.l_discount')} AS promo_revenue_pct,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
  AND l.l_shipdate < TIMESTAMP '1997-04-01'
""",
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: ratio of conditional sum to total sum.

    Both sums are exact decimals cast to double *before* the division so
    the ratio is bit-identical across engines and partitionings.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    p = load_table(spark, sf_dir, "part")
    disc = _c2("l_extendedprice") * (F.lit(1) - _c2("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0) * F.sum(promo).cast("double") / _rev()
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q16_parts_suppliers",
    oracle="""
SELECT p.p_brand,
       p.p_type,
       p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 5, 10, 15, 20, 25)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
""",
)
def q16_parts_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT-IN subquery (anti join) + 3-key distinct count.
    (Fixture has no partsupp; lineitem is the part↔supplier relation.)"""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@register(
    "q18_large_volume",
    oracle="""
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 350
)
SELECT c.c_custkey,
       c.c_name,
       o.o_orderkey,
       o.o_orderdate,
       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
FROM orders o
JOIN big   ON big.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2, 3, 4, 5
ORDER BY o_totalprice DESC, o.o_orderkey
LIMIT 20
""",
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-gated aggregate subquery joined back to the
    facts (the "large volume customer" pattern).

    The `big` set is tiny after HAVING → broadcast back against orders;
    lineitem re-joins on the already-shuffled l_orderkey key.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 350)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.big_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("sum_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "q19_discounted_revenue",
    oracle=f"""
SELECT {_sql_rev('l.l_extendedprice', 'l.l_discount')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 10)
   OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity >= 20)
""",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-attribute predicates across the
    join (each arm constrains both sides).

    The part-side arms of the disjunction still prune the broadcast
    build side (Catalyst pushes the OR of the part-only predicates)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    arm1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 10)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#9")
        & F.col("p_size").between(10, 30)
        & (F.col("l_quantity") >= 20)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(arm1 | arm2)
        .agg(_rev().alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


@register(
    "q8_market_share",
    oracle=f"""
WITH volume AS (
  SELECT year(o.o_orderdate) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(12,2))) AS vol,
         n2.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = n1.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA'
)
SELECT o_year,
       CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN vol
                          ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
            / CAST(SUM(vol) AS DOUBLE) AS DOUBLE) AS mkt_share,
       COUNT(*) AS n_lines
FROM volume
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — ratio of conditional to
    total revenue per order-year across a 6-table star join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = _c2("l_extendedprice") * (F.lit(1) - _c2("l_discount"))
    nation_vol = F.when(
        F.col("supp_nation") == "NATION_1", vol
    ).otherwise(F.lit(0).cast("decimal(12,2)"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cr_key") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (
                F.sum(nation_vol).cast("double") / F.sum(vol).cast("double")
            ).cast("double").alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q13_order_distribution",
    oracle="""
WITH counts AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM counts
GROUP BY c_count
""",
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: histogram of per-customer order counts — a
    two-level aggregation over a left outer join (zero-order customers
    land in bucket 0)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    counts = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {{rev}} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON r.supplier_no = s.s_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""".format(rev=_sql_rev("l_extendedprice", "l_discount")),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: scalar-subquery MAX against a derived revenue view
    (the 'top supplier' pattern: aggregate → global max → filter-back)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _rev().alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q17_small_qty_revenue",
    oracle=f"""
WITH avgq AS (
  SELECT l_partkey, AVG(l_quantity) AS aq FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM({_SQL_C2.format('l.l_extendedprice')}) AS DOUBLE) / 7.0
         AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN avgq  ON avgq.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < 0.5 * avgq.aq
""",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated into an aggregate join-back.

    avg(quantity) is double division of a count — identical fp expression
    both engines, and the 0.5× comparison is exact in doubles.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avgq = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        F.avg("l_quantity").alias("aq")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(avgq, li.l_partkey == F.col("ap_key"))
        .filter(F.col("l_quantity") < 0.5 * F.col("aq"))
        .agg(
            (F.sum(_c2("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q22_global_sales",
    oracle="""
WITH eligible AS (
  SELECT substr(c_name, 10, 1) AS cntrycode, c_acctbal
  FROM customer c
  WHERE c_acctbal > (
          SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0
        )
    AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderpriority = '1-URGENT'
        )
)
SELECT cntrycode,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
FROM eligible
GROUP BY cntrycode
""",
)
def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-average subquery + NOT EXISTS anti join +
    substring-derived grouping. (Fixture adaptation: every customer has
    orders, so the anti-join target is urgent orders — 'above-average
    customers who never ordered urgently'.)"""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(
            o.filter(F.col("o_orderpriority") == "1-URGENT"),
            c.c_custkey == o.o_custkey,
            "left_anti",
        )
        .groupBy(F.substring("c_name", 10, 1).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


@register(
    "q21_waiting_supplier",
    oracle="""
WITH li2 AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS ns,
         COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS nls
  FROM li2 GROUP BY 1
)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM li2
JOIN per_order USING (l_orderkey)
JOIN supplier s ON s.s_suppkey = li2.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE li2.late AND per_order.ns >= 2 AND per_order.nls = 1
  AND n.n_name = 'NATION_9'
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 100
""",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (suppliers who kept orders waiting), restated over
    available columns: 'late' = shipped more than 60 days after the order
    date (no l_commitdate/l_receiptdate in the fixtures).

    The classic formulation needs TWO lineitem self-joins (EXISTS another
    supplier, NOT EXISTS another LATE supplier). Here both collapse into
    ONE per-order aggregation — n_suppliers and n_late_suppliers as two
    distinct-counts — and a co-partitioned join-back on l_orderkey, so the
    whole query is a single l_orderkey shuffle plus broadcast dims. At
    100 TB that is the difference between one fact shuffle and three.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li2 = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    per_order = li2.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("ns"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("nls"),
    )
    qual = (
        per_order.filter((F.col("ns") >= 2) & (F.col("nls") == 1))
        .select("l_orderkey")
    )
    sn = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_9"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        li2.filter("late")
        .join(qual, "l_orderkey")
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# Lineitem-as-partsupp restatements (the fixtures ship no partsupp table —
# the same adaptation q16 uses): (l_partkey, l_suppkey) aggregates stand in
# for partsupp rows, with min line price as supply cost and shipped
# quantity as availqty. Closes the q2/q9/q11/q20 structural gaps.


@register(
    "q2_min_cost_supplier",
    oracle="""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_cents
  FROM lineitem GROUP BY 1, 2
),
rs AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
),
reg AS (
  SELECT ps.l_partkey, ps.cost_cents, rs.s_name, rs.s_acctbal, rs.n_name,
         MIN(ps.cost_cents) OVER (PARTITION BY ps.l_partkey) AS min_cost
  FROM ps JOIN rs ON rs.s_suppkey = ps.l_suppkey
)
SELECT r.s_acctbal, r.s_name, r.n_name, p.p_partkey, p.p_name,
       CAST(r.cost_cents AS DOUBLE) / 100.0 AS supply_cost
FROM reg r JOIN part p ON p.p_partkey = r.l_partkey
WHERE r.cost_cents = r.min_cost
ORDER BY r.s_acctbal DESC, r.s_name, p.p_partkey
LIMIT 100
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (min-cost supplier per part in a region): the classic
    correlated-MIN subquery becomes a window MIN over the part key —
    computed on the already-joined region slice, so the whole query is one
    l_partkey-partitioned pass plus broadcast dims and a TakeOrdered. The
    partsupp relation is restated as (part, supplier) min line price in
    integer cents (exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cost_cents"
        )
    )
    rs = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    reg = ps.join(F.broadcast(rs), F.col("l_suppkey") == F.col("s_suppkey"))
    w = Window.partitionBy("l_partkey")
    reg = reg.withColumn("min_cost", F.min("cost_cents").over(w)).filter(
        F.col("cost_cents") == F.col("min_cost")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        reg.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            (F.col("cost_cents").cast("double") / F.lit(100.0)).alias(
                "supply_cost"
            ),
        )
        .orderBy(F.col("s_acctbal").desc(), "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q9_product_type_profit",
    oracle="""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
            AS DOUBLE) / 10000.0 AS amount
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%gear%'
GROUP BY 1, 2
""",
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape (product-type profit by nation and year): the 5-way
    fact⋈fact⋈3-dim join with a LIKE-filtered part dim and a computed
    (nation, year) grouping. Profit is restated as discounted revenue in
    scaled-integer arithmetic (no ps_supplycost in the fixtures). part /
    supplier / nation broadcast; lineitem⋈orders is the one fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pcents = F.round(F.col("l_extendedprice") * 100).cast("long")
    dcents = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(
            (
                F.sum(pcents * (F.lit(100) - dcents)).cast("double")
                / F.lit(10000.0)
            ).alias("amount")
        )
    )


@register(
    "q11_important_stock",
    oracle="""
WITH ps AS (
  SELECT l.l_partkey, CAST(round(l.l_extendedprice * 100) AS BIGINT) AS val
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_3'
),
tot AS (SELECT SUM(val) AS t FROM ps)
SELECT l_partkey, CAST(SUM(val) AS DOUBLE) / 100.0 AS part_value
FROM ps, tot
GROUP BY l_partkey, tot.t
HAVING CAST(SUM(val) AS DOUBLE) > 0.001 * CAST(t AS DOUBLE)
""",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape (important stock per nation): group + HAVING against a
    scalar aggregate of the SAME relation. The scalar total rides along as
    a broadcast single-row cross join (never a collect), and the value sums
    are exact integer cents so the fraction threshold compares identically
    across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    sn = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_3"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    ps = li.join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey")).select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("val"),
    )
    tot = ps.agg(F.sum("val").alias("t"))
    return (
        ps.groupBy("l_partkey")
        .agg(F.sum("val").alias("sval"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("sval").cast("double") > F.lit(0.001) * F.col("t").cast("double"))
        .select(
            "l_partkey",
            (F.col("sval").cast("double") / F.lit(100.0)).alias("part_value"),
        )
    )


@register(
    "q20_excess_suppliers",
    oracle="""
WITH pq AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(round(l_quantity) AS BIGINT)) AS qty
  FROM lineitem GROUP BY 1, 2
),
ptot AS (SELECT l_partkey, SUM(qty) AS tot FROM pq GROUP BY 1),
excess AS (
  SELECT DISTINCT pq.l_suppkey
  FROM pq JOIN ptot USING (l_partkey)
  WHERE pq.qty * 6 > ptot.tot
)
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (SELECT l_suppkey FROM excess)
""",
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape (suppliers holding excess stock): nested IN-subqueries
    restated as a per-(part, supplier) quantity rollup joined to the
    per-part total, then a LEFT-SEMI join into the supplier dim. 'Excess'
    = shipped more than a sixth of the part's total volume. All-integer
    arithmetic; the pq⋈ptot join is co-partitioned on l_partkey (one
    shuffle, reused exchange)."""
    li = load_table(spark, sf_dir, "lineitem")
    pq = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty")
    )
    ptot = pq.groupBy("l_partkey").agg(F.sum("qty").alias("tot"))
    excess = (
        pq.join(ptot, "l_partkey")
        .filter(F.col("qty") * 6 > F.col("tot"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )
