"""Relational operator surface (SURVEY §2.3): projections, filters, joins of
every flavor, aggregations, set ops, subqueries.

The reference has *zero* relational operators (SURVEY §2.1: no joins, no
aggregations beyond the per-row pivot) — this module is the [NORTH-STAR]
analytics surface expressed as pure built-in DataFrame ops so Catalyst does
pushdown/pruning/join-selection and everything stays in whole-stage codegen.

Scale discipline:
- dimension tables (region/nation/customer/supplier/part) are broadcast —
  at 100 TB the fact tables (lineitem/orders/events) never shuffle for a
  dim join;
- fact-fact joins (orders⋈lineitem) are equi-joins on their natural keys →
  sort-merge with AQE skew handling;
- aggregates are partial+final automatically; decimal sums keep them
  deterministic (functions/deterministic.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, register_views, spread
from ..functions.deterministic import dec, dsum, sql_dsum
from ..functions.ranking import ranked_topk, ranked_topk_per
from ..memos import Memo
from ..registry import register
from ..session import ensure_session_conf


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# -- exact money arithmetic: cents-scale decimals so products stay inside
#    DECIMAL(38) in both engines (see registry.py determinism rules).
def _c2(col: str) -> F.Column:
    return F.col(col).cast("decimal(12,2)")


_SQL_C2 = "CAST({0} AS DECIMAL(12,2))"


# --------------------------------------------------------------------------
# Projection / filter battery
# --------------------------------------------------------------------------


@register(
    "proj_filter_cast",
    oracle="""
SELECT l_orderkey,
       l_linenumber,
       CAST(l_quantity AS BIGINT) AS qty_int,
       CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price_cents,
       upper(l_returnflag) AS flag_u,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_day
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
  AND l_returnflag IN ('A', 'R')
  AND l_quantity > 25
  AND l_linestatus LIKE 'F%'
""",
)
def proj_filter_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + typed cast + predicate battery (BETWEEN/IN/>/LIKE).

    The reference's only 'projection' is byte→string decode
    (HbaseDataSyncEsObserver.java:98-99); here the full typed surface.
    Filters and the 6-column projection push down to the parquet scan.
    """
    ensure_session_conf(spark)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_shipdate").between("1997-01-01", "1997-12-31")
            & F.col("l_returnflag").isin("A", "R")
            & (F.col("l_quantity") > 25)
            & F.col("l_linestatus").like("F%")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("bigint").alias("qty_int"),
            _c2("l_extendedprice").cast("double").alias("price_cents"),
            F.upper("l_returnflag").alias("flag_u"),
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H-shaped aggregation queries
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
WITH s AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity) AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
         CAST(round(l_discount * 100) AS BIGINT) AS d,
         CAST(round(l_tax * 100) AS BIGINT) AS t
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2001-09-02'
)
SELECT l_returnflag,
       l_linestatus,
       CAST(SUM(q) AS DOUBLE) AS sum_qty,
       CAST(SUM(p) AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(SUM(p * (100 - d)) AS DOUBLE) / 10000.0 AS sum_disc_price,
       CAST(SUM(p * (100 - d) * (100 + t)) AS DOUBLE) / 1000000.0 AS sum_charge,
       CAST(SUM(q) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(p) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
       CAST(SUM(d) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM s
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → 2-key hash agg with 8 measures.

    Measures run in SCALED-INTEGER arithmetic: money/rate columns are
    2-decimal by data contract, so cents (×100) are exact longs, products
    are exact longs at scale 4/6, and the sums stay inside whole-stage
    codegen long math — ~3× faster than the BigDecimal aggregation chain
    it replaces, with identical (exact) results divided back to doubles at
    the end. Positive-value round(x) == HALF_UP == DuckDB's
    round-away-from-zero, so the encode step is cross-engine exact too.
    The two wide accumulators (disc_price ≤1.1e9/row, charge ≤1.1e11/row)
    sum as decimal(28,0) — long-backed in Spark below 9.2e18, exact far
    past 100 TB-per-group row counts (a plain long sum of disc_price would
    wrap at ~8e9 rows/group); DuckDB's BIGINT sum is already 128-bit.
    Partial+final agg (map-side combine) is automatic; at 100 TB this is a
    single shuffle of ~6 grouped rows per mapper.
    """
    ensure_session_conf(spark)
    li = _t(spark, sf_dir, "lineitem")
    enc = {
        "q": F.round(F.col("l_quantity")),
        "p": F.round(F.col("l_extendedprice") * 100),
        "d": F.round(F.col("l_discount") * 100),
        "t": F.round(F.col("l_tax") * 100),
    }
    pre = li.filter(F.col("l_shipdate") <= "2001-09-02").select(
        "l_returnflag",
        "l_linestatus",
        *[v.cast("long").alias(k) for k, v in enc.items()],
    )
    disc = F.col("p") * (F.lit(100) - F.col("d"))
    charge = disc * (F.lit(100) + F.col("t"))
    cnt = F.count(F.lit(1))
    return pre.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("q").cast("double").alias("sum_qty"),
        (F.sum("p").cast("double") / F.lit(100.0)).alias("sum_base_price"),
        (F.sum(disc.cast("decimal(28,0)")).cast("double") / F.lit(10000.0)).alias(
            "sum_disc_price"
        ),
        (F.sum(charge.cast("decimal(28,0)")).cast("double") / F.lit(1000000.0)).alias(
            "sum_charge"
        ),
        (F.sum("q").cast("double") / cnt).alias("avg_qty"),
        (F.sum("p").cast("double") / F.lit(100.0) / cnt).alias("avg_price"),
        (F.sum("d").cast("double") / F.lit(100.0) / cnt).alias("avg_disc"),
        cnt.alias("count_order"),
    )


@register(
    "q3_top_unshipped",
    oracle=f"""
SELECT o.o_orderkey,
       o.o_orderdate,
       o.o_orderpriority,
       CAST(SUM({_SQL_C2.format("l.l_extendedprice")}
                * (1 - {_SQL_C2.format("l.l_discount")})) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
""",
)
def q3_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: dim-filtered fact-fact join + agg + top-k.

    customer is broadcast (dim); orders⋈lineitem stays a shuffled equi-join
    on o_orderkey. Top-k via orderBy+limit compiles to
    TakeOrderedAndProject — no global sort materialization at scale.
    """
    ensure_session_conf(spark)
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = _c2("l_extendedprice") * (F.lit(1) - _c2("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle=f"""
SELECT n.n_name,
       CAST(SUM({_SQL_C2.format("l.l_extendedprice")}
                * (1 - {_SQL_C2.format("l.l_discount")})) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name IN ('ASIA', 'EUROPE')
GROUP BY n.n_name
""",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join.

    All four dims broadcast; only the orders⋈lineitem equi-join shuffles.
    The region filter prunes nations before the broadcast — classic
    star-schema plan that survives 1000 executors unchanged.
    """
    ensure_session_conf(spark)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    revenue = _c2("l_extendedprice") * (F.lit(1) - _c2("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Join flavors
# --------------------------------------------------------------------------


@register(
    "join_left_orders_per_customer",
    oracle="""
SELECT c.c_custkey,
       c.c_mktsegment,
       COUNT(o.o_orderkey) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_spend
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_mktsegment
""",
)
def join_left_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping order-less customers (NULL-extended side
    aggregates to 0 orders / NULL spend)."""
    ensure_session_conf(spark)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice").alias("total_spend"),
        )
    )


@register(
    "join_full_outer",
    oracle="""
WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
            FROM customer GROUP BY c_nationkey),
     sn AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
            FROM supplier GROUP BY s_nationkey)
SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
       COALESCE(cn.n_cust, 0) AS n_cust,
       COALESCE(sn.n_supp, 0) AS n_supp
FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: nations having customers, suppliers, or both."""
    ensure_session_conf(spark)
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    # USING-style join coalesces the key into a single `nk` column.
    return c.join(s, "nk", "full_outer").select(
        F.col("nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join ≡ EXISTS: customers with at least one finished order."""
    ensure_session_conf(spark)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join ≡ NOT EXISTS — the batch analog of the reference's
    whole-document delete (SURVEY §2.1 #8: state minus deleted keys)."""
    ensure_session_conf(spark)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_cross",
    oracle="""
SELECT a.r_name AS from_region, b.r_name AS to_region
FROM region a CROSS JOIN region b
WHERE a.r_regionkey <> b.r_regionkey
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join (tiny×tiny only — never cross a fact table at scale)."""
    ensure_session_conf(spark)
    r = _t(spark, sf_dir, "region")
    a = r.select(F.col("r_regionkey").alias("ak"), F.col("r_name").alias("from_region"))
    b = r.select(F.col("r_regionkey").alias("bk"), F.col("r_name").alias("to_region"))
    return (
        a.crossJoin(b)
        .filter(F.col("ak") != F.col("bk"))
        .select("from_region", "to_region")
    )


@register(
    "join_range_theta",
    oracle="""
SELECT s.s_suppkey,
       COUNT(c.c_custkey) AS n_near,
       CAST(MIN(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS min_bal
FROM supplier s
LEFT JOIN customer c
  ON c.c_acctbal BETWEEN s.s_acctbal - 100 AND s.s_acctbal + 100
GROUP BY s.s_suppkey
""",
)
def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: customers whose balance is within ±100 of each
    supplier's.

    Spark executes non-equi joins as BroadcastNestedLoopJoin — fine because
    one side is a broadcast dim. At 100 TB with two fact sides you bucketize
    the range key and equi-join on bucket; see similarity.py for that
    pattern.
    """
    ensure_session_conf(spark)
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    cond = F.col("c_acctbal").between(
        F.col("s_acctbal") - 100, F.col("s_acctbal") + 100
    )
    return (
        s.join(c, cond, "left")
        .groupBy("s_suppkey")
        .agg(
            F.count("c_custkey").alias("n_near"),
            F.min(dec("c_acctbal")).cast("double").alias("min_bal"),
        )
    )


@register(
    "join_asof",
    oracle="""
SELECT event_id,
       user_id,
       value AS purchase_value,
       last_click_value
FROM (
  SELECT event_id, user_id, event_type, value,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click_value
  FROM events
) t
WHERE event_type = 'purchase'
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase enriched with the user's latest prior click.

    Spark has no native ASOF JOIN; the scalable composition is a union +
    one window pass (single shuffle on the key), not a per-row lookup.
    Equivalent to the reference's 'latest state at time T' enrichment.
    """
    ensure_session_conf(spark)
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    clicks = F.when(F.col("event_type") == "click", F.col("value"))
    return (
        ev.withColumn("last_click_value", F.last(clicks, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("value").alias("purchase_value"),
            "last_click_value",
        )
    )


# --------------------------------------------------------------------------
# Aggregation flavors
# --------------------------------------------------------------------------


@register(
    "agg_distinct",
    oracle="""
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(DISTINCT o_orderpriority) AS n_priorities,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation (expand + two-phase agg under the hood)."""
    ensure_session_conf(spark)
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       true AS orders_within_5pct,
       true AS parts_within_5pct
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) with an oracle-checked error
    band: the sketches themselves differ across engines by construction,
    so the checkable contract is |approx − exact| / exact ≤ 5 % (rsd 2 %,
    deterministic on the fixtures — HLL is hash-based, order-independent).
    The exactness tradeoff is the point: at 100 TB, HLL is a map-side
    O(1)-state sketch vs an expand+shuffle for exact distinct.

    Plan note: the HLL pass and the exact multi-distinct pass are kept as
    SEPARATE aggregations joined on the (tiny) group key. Folding them
    into one .agg() plants the HLL register buffer (hundreds of long
    words per sketch) inside the multi-distinct Expand, which replicates
    it per distinct stream — a ~2 000-column aggregation buffer that ran
    25×  slower. Two narrow passes beat one wide one."""
    ensure_session_conf(spark)
    li = _t(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.col(e) <= 0.05
    )
    return exact.join(F.broadcast(approx), "l_returnflag").select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        within("approx_orders", "exact_orders").alias("orders_within_5pct"),
        within("approx_parts", "exact_parts").alias("parts_within_5pct"),
    )


@register(
    "agg_rollup",
    oracle="""
SELECT n.n_name,
       c.c_mktsegment,
       COUNT(*) AS n_cust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (nation → segment → grand total)."""
    ensure_session_conf(spark)
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum("c_acctbal").alias("sum_bal"),
        )
    )


@register(
    "agg_cube",
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       {sql_dsum("l_quantity")} AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations of the two keys."""
    ensure_session_conf(spark)
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
SELECT o_orderstatus,
       o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (disjoint rollups in one pass)."""
    ensure_session_conf(spark)
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "agg_variance_manual",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,3))
                * CAST(c_acctbal AS DECIMAL(12,3))) AS DOUBLE) AS sum_sq,
       (CAST(SUM(CAST(c_acctbal AS DECIMAL(12,3))
                 * CAST(c_acctbal AS DECIMAL(12,3))) AS DOUBLE)
        - CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
          * CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
       / (COUNT(*) - 1) AS var_samp_det
FROM customer
GROUP BY c_mktsegment
""",
)
def agg_variance_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance from exact decimal moments.

    Built from order-independent decimal sums so it is deterministic across
    engines/partitionings — unlike the streaming var_samp kernels, whose
    float accumulation order varies.
    """
    ensure_session_conf(spark)
    c = _t(spark, sf_dir, "customer")
    sum_bal = F.sum(dec("c_acctbal")).cast("double")
    s3 = F.col("c_acctbal").cast("decimal(12,3)")
    sum_sq = F.sum(s3 * s3).cast("double")
    n = F.count(F.lit(1))
    return c.groupBy("c_mktsegment").agg(
        n.alias("n"),
        sum_bal.alias("sum_bal"),
        sum_sq.alias("sum_sq"),
        ((sum_sq - sum_bal * sum_bal / n) / (n - F.lit(1))).alias("var_samp_det"),
    )


@register(
    "agg_having",
    oracle="""
SELECT o_custkey, COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 15
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    ensure_session_conf(spark)
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


@register(
    "agg_case_bucketing",
    oracle="""
SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
            WHEN o_totalprice < 300000 THEN 'medium'
            ELSE 'large' END AS bucket,
       COUNT(*) AS n,
       COUNT(DISTINCT o_custkey) AS n_cust
FROM orders
GROUP BY 1
""",
)
def agg_case_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing feeding an aggregation."""
    ensure_session_conf(spark)
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_custkey").alias("n_cust"),
        )
    )


# --------------------------------------------------------------------------
# Sort / limit / set ops / subqueries
# --------------------------------------------------------------------------


@register(
    "sort_limit_topn",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
)
def sort_limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: TakeOrderedAndProject (per-partition heap + driver
    merge of N×partitions rows — no full sort at any scale)."""
    ensure_session_conf(spark)
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "set_ops",
    oracle="""
WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
     o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
SELECT 'f_only' AS which, COUNT(*) AS n FROM (SELECT * FROM f EXCEPT SELECT * FROM o) t
UNION ALL
SELECT 'both' AS which, COUNT(*) AS n FROM (SELECT * FROM f INTERSECT SELECT * FROM o) t
UNION ALL
SELECT 'either' AS which, COUNT(*) AS n FROM (SELECT * FROM f UNION SELECT * FROM o) t
""",
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT / UNION(distinct) over customer key sets."""
    ensure_session_conf(spark)
    o = _t(spark, sf_dir, "orders")
    f_keys = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    counts = [
        f_keys.exceptAll(o_keys).agg(F.count(F.lit(1))).withColumn("which", F.lit("f_only")),
        f_keys.intersect(o_keys).agg(F.count(F.lit(1))).withColumn("which", F.lit("both")),
        f_keys.union(o_keys).distinct().agg(F.count(F.lit(1))).withColumn("which", F.lit("either")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.union(c)
    return out.select("which", F.col("count(1)").alias("n"))


@register(
    "distinct_pairs",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
""",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates ≡ SELECT DISTINCT."""
    ensure_session_conf(spark)
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").dropDuplicates()


@register(
    "subquery_scalar_in",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 1.8 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                                 / COUNT(*) FROM orders)
  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
""",
)
def subquery_scalar_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery + IN-subquery (Catalyst rewrites IN to left-semi).

    The scalar threshold uses the deterministic decimal avg in both
    dialects so boundary rows cannot flip between engines.
    """
    ensure_session_conf(spark)
    register_views(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.8 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                                         / COUNT(*) FROM orders)
          AND o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'AUTOMOBILE')
        """
    )


@register(
    "join_range_binned",
    oracle="""
SELECT s.s_suppkey,
       COUNT(c.c_custkey) AS n_near,
       CAST(MIN(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS min_bal
FROM supplier s
LEFT JOIN customer c
  ON c.c_acctbal BETWEEN s.s_acctbal - 100 AND s.s_acctbal + 100
GROUP BY s.s_suppkey
""",
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same range join as join_range_theta, as a BINNED EQUI-JOIN —
    the fact-fact scale path (no nested-loop, no broadcast requirement).

    Each supplier interval [b-100, b+100] is exploded to the width-100
    bins it overlaps (≤ 3); customers hash by their single bin; the
    equi-join on bin prunes candidates to adjacent bins before the exact
    BETWEEN filter. Every matching pair meets in exactly one bin (the
    customer's), so no post-join dedup is needed. Shuffle width is
    O(|s|·3 + |c|) instead of |s|·|c| — survives two fact-sized inputs.
    """
    ensure_session_conf(spark)
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    lo = F.floor((F.col("s_acctbal") - 100) / 100)
    hi = F.floor((F.col("s_acctbal") + 100) / 100)
    s_binned = s.withColumn("bin", F.explode(F.sequence(lo, hi)))
    c_binned = c.withColumn("bin", F.floor(F.col("c_acctbal") / 100))
    matches = (
        s_binned.join(c_binned, "bin")
        .filter(
            F.col("c_acctbal").between(
                F.col("s_acctbal") - 100, F.col("s_acctbal") + 100
            )
        )
        .groupBy("s_suppkey")
        .agg(
            F.count("c_custkey").alias("mn"),
            F.min(dec("c_acctbal")).cast("double").alias("mb"),
        )
    )
    # left-join semantics: suppliers with zero neighbors still appear
    return (
        s.join(matches, "s_suppkey", "left")
        .select(
            "s_suppkey",
            F.coalesce(F.col("mn"), F.lit(0)).alias("n_near"),
            F.col("mb").alias("min_bal"),
        )
    )


@register(
    "subquery_exists_battery",
    oracle="""
SELECT c.c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
            THEN 1 ELSE 0 END) AS BIGINT) AS n_with_open_order,
       CAST(SUM(CASE WHEN NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
            THEN 1 ELSE 0 END) AS BIGINT) AS n_without_urgent
FROM customer c
GROUP BY c.c_nationkey
""",
)
def subquery_exists_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS per-group counts: for each nation,
    how many customers have an open order and how many have no urgent
    order — the canonical correlated-subquery surface
    (`subquery_scalar_in` covers scalar + IN; this row covers EXISTS).

    Spark-first: each EXISTS collapses to a DISTINCT keys table joined
    back LEFT — exactly the semi/anti-join Catalyst de-correlates EXISTS
    into, but phrased so both flags come from ONE pass over customers
    (two left joins against key sets that are far smaller than orders).
    The key sets hash-partition on custkey, same key as the join — at
    100 TB, AQE broadcasts them when small and shuffle-joins when not.
    """
    ensure_session_conf(spark)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    open_keys = (
        o.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("has_open", F.lit(1))
    )
    urgent_keys = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("has_urgent", F.lit(1))
    )
    return (
        c.select("c_custkey", "c_nationkey")
        .join(open_keys, "c_custkey", "left")
        .join(urgent_keys, "c_custkey", "left")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(
                F.when(F.col("has_open").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_with_open_order"),
            F.sum(
                F.when(F.col("has_urgent").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_without_urgent"),
        )
    )


# Memo of the bucketed fact tables: written ONCE per (app, sf_dir) — the
# "pay the shuffle at ingest" half of the bucketing contract — so every
# downstream co-located join, including repeated bench samples, times
# the exchange-free join itself. An entry is (scratch dir, table names);
# eviction drops the tables and removes the dir.
def _drop_bucketed_facts(entry: tuple[str, tuple[str, str]]) -> None:
    import shutil

    base, tables = entry
    spark = SparkSession.getActiveSession()
    if spark is not None:  # without a live session the tables are gone
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(base, ignore_errors=True)


_BUCKETED_FACTS = Memo("bucketed_facts", on_evict=_drop_bucketed_facts)


def _bucketed_facts(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import atexit
    import shutil
    import tempfile
    import uuid

    from ..sinks.bucketed import write_bucketed

    def build() -> tuple[str, tuple[str, str]]:
        tag = uuid.uuid4().hex[:8]
        base = tempfile.mkdtemp(prefix="bucketed_facts_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        o_name, l_name = f"b_orders_{tag}", f"b_lineitem_{tag}"
        write_bucketed(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            o_name,
            "o_orderkey",
            path=f"{base}/o",
        )
        write_bucketed(
            load_table(spark, sf_dir, "lineitem").select(
                F.col("l_orderkey"), "l_extendedprice"
            ),
            l_name,
            "l_orderkey",
            path=f"{base}/l",
        )
        return base, (o_name, l_name)

    return _BUCKETED_FACTS.get(spark, sf_dir, build)[1]


@register(
    "join_bucketed_colocated",
    oracle=f"""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {sql_dsum("l.l_extendedprice")} AS sum_price
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join consumed from BUCKETED tables: both sides are
    written bucketed+sorted by the join key once (the ingest-time
    shuffle), and every later join scans the buckets directly — the
    physical plan has NO Exchange on either side (asserted in
    tests/test_bucketed.py), which at 100 TB converts the dominant
    recurring shuffle into a one-time layout cost. This is the lakehouse
    restatement of HBase's region-pre-partitioned layout (SURVEY §1.1) —
    the reason the reference's per-region hooks never shuffle.

    The registered query times the exchange-free join + aggregation; the
    bucketed write is memoized per (application, sf_dir) exactly like a
    production table written at ingest.
    """
    ensure_session_conf(spark)
    o_name, l_name = _bucketed_facts(spark, sf_dir)
    from ..sinks.bucketed import colocated_join

    j = colocated_join(
        spark, o_name, l_name,
        spark.table(l_name).l_orderkey == spark.table(o_name).o_orderkey,
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        dsum("l_extendedprice").alias("sum_price"),
    )


@register(
    "basket_brand_lift",
    oracle="""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
n_orders AS (SELECT COUNT(DISTINCT okey) AS n FROM ob),
brand_n AS (SELECT brand, COUNT(*) AS nb FROM ob GROUP BY brand),
grouped AS (
  SELECT okey, list_sort(list(brand)) AS brands FROM ob GROUP BY okey
),
pairs AS (
  SELECT u1.b AS brand_a, u2.b AS brand_b
  FROM grouped,
       unnest(brands) AS t1(b),
       unnest(brands) AS t2(b),
       LATERAL (SELECT t1.b) u1(b), LATERAL (SELECT t2.b) u2(b)
  WHERE u1.b < u2.b
),
pc AS (SELECT brand_a, brand_b, COUNT(*) AS n_both FROM pairs GROUP BY 1, 2)
SELECT pc.brand_a, pc.brand_b,
       CAST(pc.n_both AS BIGINT) AS n_both,
       CAST(ba.nb AS BIGINT) AS n_a,
       CAST(bb.nb AS BIGINT) AS n_b,
       (CAST(pc.n_both AS DOUBLE) * (SELECT n FROM n_orders))
         / (CAST(ba.nb AS DOUBLE) * bb.nb) AS lift
FROM pc
JOIN brand_n ba ON ba.brand = pc.brand_a
JOIN brand_n bb ON bb.brand = pc.brand_b
WHERE pc.n_both >= 10
""",
)
def basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: brand-pair co-occurrence within orders with
    association LIFT = P(a,b) / (P(a)·P(b)) — the affinity report behind
    recommendations, restricted to pairs seen in ≥ 10 orders.

    Scale shape: baskets are distinct (order, brand) pairs — one join to
    the part dim (broadcast-able) + one distinct; pair generation is the
    same groupBy-collect + in-row combination fan-out as the LSH pairs
    (bounded by brands-per-order, ~items-per-order, never |brands|²);
    the lift denominators join from a |brands|-row table. Counts are
    integers; the lift is one double expression written identically.
    """
    ensure_session_conf(spark)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand")
    )
    # ONE shuffle builds the basket table (collect_set subsumes the old
    # separate distinct), checkpointed because all three downstream
    # branches (order count, per-brand totals, pair fan-out) read it —
    # without the pin each branch re-ran the scan+join+aggregate
    # (plan audit: 9 exchanges, 3 lineitem scans). At 100 TB the basket
    # table is exactly what you'd materialize.
    grouped = (
        ob.groupBy("okey")
        .agg(F.array_sort(F.collect_set("brand")).alias("brands"))
        .localCheckpoint()
    )
    n_orders = grouped.agg(F.count(F.lit(1)).alias("n"))
    brand_n = grouped.select(F.explode("brands").alias("brand")).groupBy(
        "brand"
    ).agg(F.count(F.lit(1)).alias("nb"))
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("brands"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("brands"),
                            i + 2,
                            F.greatest(
                                F.size("brands") - i - 1, F.lit(0)
                            ),
                        ),
                        lambda b: F.struct(
                            a.alias("brand_a"), b.alias("brand_b")
                        ),
                    ),
                )
            )
        ).alias("pr")
    ).select("pr.brand_a", "pr.brand_b")
    pc = pairs.groupBy("brand_a", "brand_b").agg(
        F.count(F.lit(1)).alias("n_both")
    )
    ba = brand_n.select(F.col("brand").alias("brand_a"), F.col("nb").alias("na"))
    bb = brand_n.select(F.col("brand").alias("brand_b"), F.col("nb").alias("nbb"))
    return (
        pc.filter(F.col("n_both") >= 10)
        .join(F.broadcast(ba), "brand_a")
        .join(F.broadcast(bb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nbb").cast("bigint").alias("n_b"),
            (
                F.col("n_both").cast("double") * F.col("n")
                / (F.col("na").cast("double") * F.col("nbb"))
            ).alias("lift"),
        )
    )


@register(
    "obt_star_flatten",
    oracle="""
SELECT r.r_name AS region,
       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT c.c_custkey) AS n_customers,
       COUNT(DISTINCT p.p_brand) AS n_brands,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY r.r_name, EXTRACT(YEAR FROM o.o_orderdate)
""",
)
def obt_star_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-big-table build: the full star flatten (lineitem joined to
    ALL six dimensions at once — the denormalized wide table an ML
    feature pipeline materializes before training), summarized per
    (region, order year) so the result stays hash-checkable. This is
    the join-breadth proof: every TPC-H query joins a subset; a real
    OBT build joins everything in one plan and lives or dies on join
    ORDER and broadcast selection.

    Scale shape: Catalyst broadcasts every dimension (customer,
    nation, region, part, supplier — all ≪ the fact table) and the
    orders⋈lineitem edge is the single shuffled join, on the key both
    tables are naturally bucketable by — so the whole 6-way flatten
    costs one fact shuffle + map-side lookups, the only OBT plan that
    survives 100 TB. Revenue through exact decimals.
    """
    ensure_session_conf(spark)
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    obt = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
    )
    return obt.groupBy(
        F.col("r_name").alias("region"),
        F.year("o_orderdate").cast("int").alias("o_year"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("c_custkey").alias("n_customers"),
        F.countDistinct("p_brand").alias("n_brands"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        )
        .cast("double")
        .alias("revenue"),
    )


@register(
    "set_ops_all",
    oracle="""
WITH a AS (SELECT l_partkey FROM lineitem WHERE l_quantity > 45),
     b AS (SELECT l_partkey FROM lineitem WHERE l_discount > 0.08)
SELECT 'a_minus_b_all' AS which, COUNT(*) AS n
FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) t
UNION ALL
SELECT 'a_intersect_b_all' AS which, COUNT(*) AS n
FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) t
UNION ALL
SELECT 'a_union_b_all' AS which, COUNT(*) AS n
FROM (SELECT * FROM a UNION ALL SELECT * FROM b) t
""",
)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL /
    UNION ALL) over part-key multisets — the multiplicity-preserving
    variants the distinct set_ops query above deliberately avoids:
    EXCEPT ALL subtracts occurrence counts, INTERSECT ALL keeps the
    minimum multiplicity. These are the correct semantics for
    reconciliation workloads ("orders present twice upstream must stay
    twice after the diff").

    Scale shape: Spark plans the ALL variants as count-aggregating hash
    joins on the value (no sort, no distinct) — one shuffle each on the
    compared column; UNION ALL is a zero-shuffle concatenation.
    """
    ensure_session_conf(spark)
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 45).select("l_partkey")
    b = li.filter(F.col("l_discount") > 0.08).select("l_partkey")
    parts = [
        a.exceptAll(b)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("a_minus_b_all").alias("which"), "n"),
        a.intersectAll(b)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("a_intersect_b_all").alias("which"), "n"),
        a.unionAll(b)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("a_union_b_all").alias("which"), "n"),
    ]
    out = parts[0]
    for c in parts[1:]:
        out = out.unionByName(c)
    return out


ASOF_TOLERANCE_MIN = 30  # max staleness for a prior click to count


@register(
    "join_asof_tolerance",
    oracle=f"""
SELECT event_id,
       user_id,
       value AS purchase_value,
       CASE WHEN last_click_ts IS NOT NULL
             AND ts - last_click_ts <= INTERVAL {ASOF_TOLERANCE_MIN} MINUTE
            THEN last_click_value END AS last_click_value,
       CASE WHEN last_click_ts IS NOT NULL
             AND ts - last_click_ts <= INTERVAL {ASOF_TOLERANCE_MIN} MINUTE
            THEN epoch_us(ts) - epoch_us(last_click_ts)
       END AS staleness_us
FROM (
  SELECT event_id, user_id, event_type, value, ts,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
           OVER w AS last_click_value,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER w AS last_click_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
) t
WHERE event_type = 'purchase'
""",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas merge_asof(tolerance=...)
    semantics): each purchase enriched with the user's latest prior
    click ONLY if that click is at most 30 minutes old — otherwise NULL,
    exactly as if no click existed. The staleness bound is what real
    attribution pipelines need (a click from last Tuesday must not claim
    today's purchase); the plain `join_asof` has no such cutoff.

    Same single-shuffle shape as join_asof (one keyed window pass over
    the unioned stream — never a per-row range lookup); the tolerance is
    a post-window predicate on the carried click timestamp, so it adds
    zero shuffles. Staleness is exact integer microseconds.
    """
    ensure_session_conf(spark)
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_v = F.when(F.col("event_type") == "click", F.col("value"))
    click_t = F.when(F.col("event_type") == "click", F.col("ts"))
    # fixture ts is TIMESTAMP_NTZ — no direct long cast; unix_micros after
    # a timestamp cast (session tz pinned UTC, so the instant matches the
    # oracle's epoch_us)
    stale_us = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.col("last_click_ts").cast("timestamp"))
    )
    fresh = F.col("last_click_ts").isNotNull() & (
        stale_us <= ASOF_TOLERANCE_MIN * 60 * 1_000_000
    )
    return (
        ev.withColumn(
            "last_click_value", F.last(click_v, ignorenulls=True).over(w)
        )
        .withColumn("last_click_ts", F.last(click_t, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("value").alias("purchase_value"),
            F.when(fresh, F.col("last_click_value")).alias("last_click_value"),
            F.when(fresh, stale_us).cast("bigint").alias("staleness_us"),
        )
    )


@register(
    "join_asof_forward",
    oracle="""
SELECT event_id,
       user_id,
       value AS purchase_value,
       next_click_value
FROM (
  SELECT event_id, user_id, event_type, value,
         FIRST_VALUE(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS next_click_value
  FROM events
) t
WHERE event_type = 'purchase'
""",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (pandas merge_asof(direction='forward')): each
    purchase enriched with the user's NEXT click — post-purchase
    behavior attribution, the mirror of join_asof's backward lookup and
    the missing direction in the asof family (backward: join_asof;
    nearest: join_asof_nearest; tolerance: join_asof_tolerance).

    Same single-shuffle shape: one keyed window pass with a FOLLOWING
    frame — Catalyst evaluates first_value over the reversed frame in
    the same sort, so forward costs exactly what backward costs.
    """
    ensure_session_conf(spark)
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    clicks = F.when(F.col("event_type") == "click", F.col("value"))
    return (
        ev.withColumn(
            "next_click_value", F.first(clicks, ignorenulls=True).over(w)
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("value").alias("purchase_value"),
            "next_click_value",
        )
    )


@register(
    "join_fuzzy_levenshtein_blocked",
    oracle="""
SELECT a.p_brand AS brand,
       a.p_partkey AS part_a,
       b.p_partkey AS part_b,
       a.p_name AS name_a,
       b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS edit_dist
FROM part a
JOIN part b
  ON a.p_brand = b.p_brand
 AND a.p_partkey < b.p_partkey
 AND abs(length(a.p_name) - length(b.p_name)) <= 2
WHERE levenshtein(a.p_name, b.p_name) <= 2
""",
)
def join_fuzzy_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: part-name pairs within edit
    distance <= 2, blocked on brand — the classic record-linkage shape
    (blocking key -> candidate pairs -> admissible cheap filter ->
    exact expensive verify), the string-similarity sibling of the
    shingle/MinHash document path in dedup.py.

    Three-layer cost control, each earning its keep at 100 TB:

    1. **Blocking** (`p_brand` equi-key): the self-join shuffles on the
       block key only, so candidate mass is sum_b |block_b|^2, never
       n^2. At scale you block on a higher-cardinality compound
       (brand x name-prefix bigram, or a phonetic key) to keep the
       largest block bounded — same doctrine as the LSH band cap
       (`dedup_pair_mass_audit`).
    2. **Length-band prefilter** (|len(a)-len(b)| <= 2): admissible for
       edit distance <= 2 (each edit changes length by at most 1), cut
       as a cheap join residual before any DP runs.
    3. **Threshold-bounded Levenshtein**: `F.levenshtein(a, b, 2)`
       (Spark 3.5+) runs the banded O(k*n) DP and bails at -1 when the
       distance exceeds the bound, instead of the full O(n*m) matrix —
       the verify step costs k*len per survivor, not len^2.

    The oracle recomputes distances with DuckDB's independent
    levenshtein implementation — integer-exact, no float drift.
    """
    ensure_session_conf(spark)
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_name", F.length("p_name").alias("p_len")
    )
    # The verify compute (banded DP per surviving pair) dwarfs the scan:
    # spread() the probe side so the one-file fixture (and any skewed
    # split at scale) doesn't serialize millions of DP evals on one core.
    # The build side stays tiny and broadcasts.
    a = spread(p).select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_len").alias("len_a"),
    )
    b = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_len").alias("len_b"),
    )
    return (
        a.join(
            b,
            [
                a.brand == b.brand,
                F.col("part_a") < F.col("part_b"),
                F.abs(F.col("len_a") - F.col("len_b")) <= 2,
            ],
        )
        .select(
            a.brand.alias("brand"),
            "part_a",
            "part_b",
            "name_a",
            "name_b",
            F.levenshtein(F.col("name_a"), F.col("name_b"), 2).alias(
                "edit_dist"
            ),
        )
        .filter(F.col("edit_dist") >= 0)
    )


@register(
    "sort_skyline_pareto",
    oracle="""
SELECT p.p_brand AS brand,
       p.p_partkey AS partkey,
       p.p_size AS size,
       p.p_retailprice AS retailprice
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_brand = p.p_brand
    AND q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
""",
)
def sort_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto skyline: parts not dominated on (cheaper price,
    larger size) — the classic SKYLINE operator (Borzsony et al., ICDE
    2001) that no SQL engine ships natively.

    The naive formulation is the oracle's NOT-EXISTS self-join —
    O(n^2) per block and hopeless at scale. The Spark plan is the
    sort-based linear scan expressed in two window passes over ONE
    partitioning (brand), so it costs a single shuffle + sort:

    1. collapse ties: per (brand, price) keep max(size) — a row is on
       the skyline only if it carries its price group's max size;
    2. running strict-cheaper max: max(size) over price-ascending rows
       1-PRECEDING (valid as a ROWS frame because step 1 left one row
       per price) — a row is dominated iff some strictly cheaper row
       already reached its size.

    Dominance needs `price <` OR (`price =` AND `size >`), which is
    exactly (size == group max) AND (size > strict-cheaper cummax);
    equal (price, size) twins are mutually non-dominating and both
    kept, matching the oracle. All comparisons are raw parquet values
    (int size, double price) — no arithmetic, no float drift.

    At 100 TB: the shuffle is on the block key; within a partition the
    scan is linear after sort. For a global (unblocked) skyline you
    pre-filter with a coarse grid (each cell keeps its local skyline,
    union is a superset) before this exact pass — same
    prune-then-verify doctrine as the dedup family.
    """
    ensure_session_conf(spark)
    from pyspark.sql import Window

    p = load_table(spark, sf_dir, "part")
    grp = p.groupBy("p_brand", "p_retailprice").agg(
        F.max("p_size").alias("gmax")
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        grp.withColumn("cheaper_max", F.max("gmax").over(w))
        .filter(
            F.col("cheaper_max").isNull()
            | (F.col("gmax") > F.col("cheaper_max"))
        )
        .select(
            F.col("p_brand").alias("f_brand"),
            F.col("p_retailprice").alias("f_price"),
            "gmax",
        )
    )
    return (
        p.join(
            frontier,
            (F.col("p_brand") == F.col("f_brand"))
            & (F.col("p_retailprice") == F.col("f_price"))
            & (F.col("p_size") == F.col("gmax")),
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.col("p_partkey").alias("partkey"),
            F.col("p_size").alias("size"),
            F.col("p_retailprice").alias("retailprice"),
        )
    )


@register(
    "agg_mode_median",
    oracle="""
WITH freq AS (
  SELECT o_orderpriority, o_orderstatus,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
),
md AS (
  SELECT o_orderpriority, o_orderstatus AS mode_status, c AS mode_count
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                 ORDER BY c DESC, o_orderstatus) AS rk
    FROM freq
  ) t WHERE rk = 1
),
med AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.5) AS median_price,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_orderpriority
)
SELECT m.o_orderpriority, m.mode_status, m.mode_count,
       med.median_price, med.n_orders
FROM md m JOIN med ON med.o_orderpriority = m.o_orderpriority
""",
)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE and exact MEDIAN per group — the two order statistics the
    aggregate battery had not yet registered. Mode is written as the
    deterministic argmax over the (group, value) frequency table
    (count DESC, value ASC tiebreak) rather than the engines' native
    mode() functions, whose tie-breaking is implementation-defined —
    the same discipline as every other argmax in the repo; median is
    the exact interpolated percentile (Spark `percentile` ≡ DuckDB
    `quantile_cont`).

    Scale shape: mode's frequency table is (groups x value dictionary)
    — tiny — and the median's sort is per-group; both aggregates reuse
    the one partitioning on the group key.
    """
    ensure_session_conf(spark)
    o = load_table(spark, sf_dir, "orders")
    freq = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    md = (
        ranked_topk_per(
            freq, ["o_orderpriority"], [F.col("c").desc(), "o_orderstatus"],
            1, rk_col=None,
        )
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            F.col("c").alias("mode_count"),
        )
    )
    med = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    return md.join(med, "o_orderpriority")


@register(
    "agg_grouping_sets_cube",
    oracle="""
WITH s AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity) AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p
  FROM lineitem
)
SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
       COALESCE(l_linestatus, '<all>') AS linestatus,
       CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(q) AS DOUBLE) AS sum_qty,
       CAST(SUM(p) AS DOUBLE) / 100.0 AS sum_base_price
FROM s
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_grouping_sets_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE / GROUPING SETS: every subtotal lattice level of
    (returnflag, linestatus) in ONE pass — the OLAP subtotal surface
    (detail, per-flag, per-status, grand total) that reporting layers
    otherwise emulate with 4 scans + UNION ALL. `gid` is the explicit
    grouping-set id (2*GROUPING(flag) + GROUPING(status)), computed the
    same way in both dialects rather than relying on engine bit-order
    conventions, and disambiguates a real NULL group value from a
    rolled-up one.

    Determinism: measures are the q1 scaled-integer encodings (exact
    BIGINT sums, one final double division); counts are exact.

    Scale shape: Spark expands CUBE into a single Expand + hash-agg —
    the fact table is scanned ONCE and each row feeds 4 grouping sets
    via map-side partials, so the shuffle carries (4 x |groups|) rows,
    not 4 x |fact|. At 100 TB this replaces four full-scan reports
    with one.
    """
    ensure_session_conf(spark)
    li = _t(spark, sf_dir, "lineitem")
    pre = li.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_quantity")).cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
    )
    return (
        pre.cube("l_returnflag", "l_linestatus")
        .agg(
            (
                F.lit(2) * F.grouping("l_returnflag")
                + F.grouping("l_linestatus")
            )
            .cast("bigint")
            .alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("q").cast("double").alias("sum_qty"),
            (F.sum("p").cast("double") / F.lit(100.0)).alias(
                "sum_base_price"
            ),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias(
                "returnflag"
            ),
            F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias(
                "linestatus"
            ),
            "gid",
            "n_rows",
            "sum_qty",
            "sum_base_price",
        )
    )


# Apriori thresholds as FRACTIONS of the basket count (scale-invariant):
# items/pairs must appear in >= 1% of baskets, triples in >= 0.4%.
AP_ITEM_DEN = 100
AP_TRIPLE_DEN = 250
AP_TOP = 50


@register(
    "basket_apriori_triples",
    oracle=f"""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
n_orders AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n FROM ob),
items AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS nb
  FROM ob GROUP BY brand
),
freq_items AS (
  SELECT i.brand, i.nb FROM items i, n_orders
  WHERE i.nb * {AP_ITEM_DEN} >= n_orders.n
),
fb AS (SELECT ob.okey, ob.brand FROM ob JOIN freq_items USING (brand)),
grouped AS (
  SELECT okey, list_sort(list(brand)) AS brands FROM fb GROUP BY okey
),
pairs AS (
  SELECT u1.b AS a, u2.b AS b
  FROM grouped, unnest(brands) t1(b), unnest(brands) t2(b),
       LATERAL (SELECT t1.b) u1(b), LATERAL (SELECT t2.b) u2(b)
  WHERE u1.b < u2.b
),
freq_pairs AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nab
  FROM pairs, n_orders GROUP BY a, b, n_orders.n
  HAVING COUNT(*) * {AP_ITEM_DEN} >= n_orders.n
),
tri AS (
  SELECT u1.b AS a, u2.b AS b, u3.b AS c
  FROM grouped,
       unnest(brands) t1(b), unnest(brands) t2(b), unnest(brands) t3(b),
       LATERAL (SELECT t1.b) u1(b), LATERAL (SELECT t2.b) u2(b),
       LATERAL (SELECT t3.b) u3(b)
  WHERE u1.b < u2.b AND u2.b < u3.b
),
tc AS (
  SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS nabc
  FROM tri GROUP BY a, b, c
),
cand AS (
  SELECT tc.a, tc.b, tc.c, tc.nabc
  FROM tc
  JOIN freq_pairs p1 ON p1.a = tc.a AND p1.b = tc.b
  JOIN freq_pairs p2 ON p2.a = tc.a AND p2.b = tc.c
  JOIN freq_pairs p3 ON p3.a = tc.b AND p3.b = tc.c
  CROSS JOIN n_orders
  WHERE tc.nabc * {AP_TRIPLE_DEN} >= n_orders.n
)
SELECT a, b, c, nabc,
       (CAST(cand.nabc AS DOUBLE) * n.n * n.n)
         / (CAST(ia.nb AS DOUBLE) * ib.nb * ic.nb) AS lift,
       rk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY nabc DESC, a, b, c) AS rk
  FROM cand
) cand
JOIN freq_items ia ON ia.brand = cand.a
JOIN freq_items ib ON ib.brand = cand.b
JOIN freq_items ic ON ic.brand = cand.c
CROSS JOIN n_orders n
WHERE rk <= {AP_TOP}
""",
)
def basket_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets by the Apriori level-wise algorithm — the
    step beyond basket_brand_lift's pairs: candidate triples survive
    ONLY if all three member pairs are frequent (the Apriori
    anti-monotonicity prune), then the survivors' exact supports and
    independence lifts are reported. Thresholds are FRACTIONS of the
    basket count (items/pairs 1/{AP_ITEM_DEN}, triples
    1/{AP_TRIPLE_DEN}), so the operator is scale-invariant; compares are
    exact integer cross-multiplications, never float supports.

    Scale shape: baskets are pruned to frequent items BEFORE any
    combination explode (the Apriori point: the k=3 explode runs over
    baskets restricted to the frequent-item lattice); per-basket triple
    generation is C(|basket∩frequent|, 3) map-side rows; candidate
    pruning is three broadcast joins against the frequent-pair table
    (Zipf-bounded). Lift's divisions are single IEEE ops on exact
    counts. At 100 TB this is one scan + hash aggs keyed on bounded
    itemset keys — the pattern FP-growth implementations reduce to on
    shuffle-based engines.
    """
    ensure_session_conf(spark)
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    # materialize the basket table once: five consumers (totals, item
    # counts, pruned baskets, pair and triple explodes) would otherwise
    # each re-run the lineitem⋈part scan — the audited plan had 46
    # scans / 50 exchanges before this. At 100 TB this localCheckpoint
    # is the persisted (order, item) basket table every frequent-itemset
    # pipeline materializes first.
    ob = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        .localCheckpoint()
    )
    n_orders = ob.agg(F.countDistinct("okey").cast("bigint").alias("n"))
    items = ob.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    )
    freq_items = (
        items.crossJoin(F.broadcast(n_orders))
        .filter(F.col("nb") * AP_ITEM_DEN >= F.col("n"))
        .select("brand", "nb")
        .localCheckpoint()  # <= |brands| rows, read by 5 consumers
    )
    fb = ob.join(F.broadcast(freq_items.select("brand")), "brand").select(
        "okey", "brand"
    )
    # pair AND triple explodes both read the pruned baskets; checkpoint
    # so the groupBy shuffle runs once (same persisted-table argument).
    grouped = fb.groupBy("okey").agg(
        F.array_sort(F.collect_list("brand")).alias("brands")
    ).localCheckpoint()
    k = F.size("brands")
    idx2 = F.expr(
        "flatten(transform(sequence(1, size(brands) - 1), i -> "
        "transform(sequence(i + 1, size(brands)), j -> struct(i, j))))"
    )
    pairs = (
        grouped.filter(k >= 2)
        .select(F.col("brands"), F.explode(idx2).alias("ij"))
        .select(
            F.element_at("brands", F.col("ij.i")).alias("a"),
            F.element_at("brands", F.col("ij.j")).alias("b"),
        )
    )
    freq_pairs = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nab"))
        .crossJoin(F.broadcast(n_orders))
        .filter(F.col("nab") * AP_ITEM_DEN >= F.col("n"))
        .select("a", "b")
        .localCheckpoint()  # <= |brands|^2 rows, read by 3 prune joins
    )
    idx3 = F.expr(
        "flatten(flatten(transform(sequence(1, size(brands) - 2), i -> "
        "transform(sequence(i + 1, size(brands) - 1), j -> "
        "transform(sequence(j + 1, size(brands)), l -> struct(i, j, l))))))"
    )
    tri = (
        grouped.filter(k >= 3)
        .select(F.col("brands"), F.explode(idx3).alias("x"))
        .select(
            F.element_at("brands", F.col("x.i")).alias("a"),
            F.element_at("brands", F.col("x.j")).alias("b"),
            F.element_at("brands", F.col("x.l")).alias("c"),
        )
    )
    tc = tri.groupBy("a", "b", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("nabc")
    )
    p1 = freq_pairs
    p2 = freq_pairs.select(F.col("a").alias("a"), F.col("b").alias("c"))
    p3 = freq_pairs.select(F.col("a").alias("b"), F.col("b").alias("c"))
    cand = (
        tc.join(F.broadcast(p1), ["a", "b"])
        .join(F.broadcast(p2), ["a", "c"])
        .join(F.broadcast(p3), ["b", "c"])
        .crossJoin(F.broadcast(n_orders))
        .filter(F.col("nabc") * AP_TRIPLE_DEN >= F.col("n"))
        .select("a", "b", "c", "nabc")
    )
    ranked = ranked_topk(
        cand, [F.col("nabc").desc(), "a", "b", "c"], AP_TOP, rk_cast="bigint"
    )
    ia = freq_items.select(F.col("brand").alias("a"), F.col("nb").alias("na_"))
    ib = freq_items.select(F.col("brand").alias("b"), F.col("nb").alias("nb_"))
    ic = freq_items.select(F.col("brand").alias("c"), F.col("nb").alias("nc_"))
    return (
        ranked.join(F.broadcast(ia), "a")
        .join(F.broadcast(ib), "b")
        .join(F.broadcast(ic), "c")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "a",
            "b",
            "c",
            "nabc",
            (
                F.col("nabc").cast("double") * F.col("n") * F.col("n")
                / (
                    F.col("na_").cast("double")
                    * F.col("nb_")
                    * F.col("nc_")
                )
            ).alias("lift"),
            "rk",
        )
    )


@register(
    "orders_cohort_ltv",
    oracle="""
WITH f AS (
  SELECT o_custkey,
         date_trunc('month', MIN(o_orderdate) OVER (PARTITION BY o_custkey))
           AS cohort_m,
         date_trunc('month', o_orderdate) AS order_m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
g AS (
  SELECT cohort_m,
         CAST((year(order_m) * 12 + month(order_m))
              - (year(cohort_m) * 12 + month(cohort_m)) AS BIGINT) AS age_m,
         CAST(SUM(cents) AS BIGINT) AS rev_c
  FROM f GROUP BY cohort_m, age_m
),
sz AS (
  SELECT cohort_m, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
  FROM f GROUP BY cohort_m
)
SELECT g.cohort_m, g.age_m, sz.n_cust,
       CAST(g.rev_c AS DOUBLE) / 100.0 AS revenue,
       CAST(SUM(g.rev_c) OVER (PARTITION BY g.cohort_m ORDER BY g.age_m)
            AS DOUBLE) / 100.0 / sz.n_cust AS cum_ltv_per_cust
FROM g JOIN sz ON sz.cohort_m = g.cohort_m
""",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: customers grouped by first-order month, each
    cohort's revenue tracked by months-since-acquisition, with the
    running cumulative LTV per customer — the revenue twin of
    events_retention_cohort (that one counts who comes back; this one
    integrates what they spend). The triangle's rows are what an LTV
    forecast extrapolates and what CAC payback is measured against.

    Determinism: revenue is exact cents; cohort month is a window MIN
    per customer; age is exact integer month arithmetic
    (year·12+month); the cumulative window sums exact BIGINTs with one
    final division per row.

    Scale shape: one scan; the per-customer MIN window shuffles on
    o_custkey once (the same key the (cohort, age) rollup then
    partially aggregates under); the triangle itself is
    |cohorts| × |ages| rows — window + join run on grid scale. At
    100 TB: one customer-keyed shuffle, then tiny math.
    """
    ensure_session_conf(spark)
    o = _t(spark, sf_dir, "orders")
    wc = Window.partitionBy("o_custkey")
    f = o.select(
        "o_custkey",
        F.date_trunc("month", F.min("o_orderdate").over(wc)).alias("cohort_m"),
        F.date_trunc("month", "o_orderdate").alias("order_m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    age = (
        F.year("order_m") * 12 + F.month("order_m")
        - (F.year("cohort_m") * 12 + F.month("cohort_m"))
    ).cast("bigint")
    g = f.groupBy("cohort_m", age.alias("age_m")).agg(
        F.sum("cents").cast("bigint").alias("rev_c")
    )
    sz = f.groupBy("cohort_m").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_cust")
    )
    w = Window.partitionBy("cohort_m").orderBy("age_m")
    return g.join(sz, "cohort_m").select(
        "cohort_m",
        "age_m",
        "n_cust",
        (F.col("rev_c").cast("double") / F.lit(100.0)).alias("revenue"),
        (
            F.sum("rev_c").over(w).cast("double")
            / F.lit(100.0)
            / F.col("n_cust")
        ).alias("cum_ltv_per_cust"),
    )


@register(
    "parts_abc_classification",
    oracle="""
WITH pr AS (
  SELECT l_partkey,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM lineitem GROUP BY l_partkey
),
r AS (
  SELECT l_partkey, rev_c,
         CAST(SUM(rev_c) OVER (ORDER BY rev_c DESC, l_partkey)
              AS BIGINT) AS cum_c,
         CAST(SUM(rev_c) OVER () AS BIGINT) AS tot_c
  FROM pr
),
c AS (
  SELECT l_partkey, rev_c,
         CASE WHEN cum_c * 10 <= tot_c * 8 THEN 'A'
              WHEN cum_c * 100 <= tot_c * 95 THEN 'B'
              ELSE 'C' END AS abc
  FROM r
)
SELECT abc,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev_c) AS DOUBLE) / 100.0 AS revenue,
       CAST(SUM(rev_c) AS DOUBLE) / MAX(tot) AS revenue_share
FROM (SELECT c.*, CAST((SELECT MAX(tot_c) FROM r) AS DOUBLE) AS tot FROM c) t
GROUP BY abc
""",
)
def parts_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue: rank parts by
    revenue descending, class A = parts inside the first 80% of
    cumulative revenue, B = to 95%, C = the tail — the inventory-
    analytics standard for 'which 20% of SKUs earn 80% of revenue',
    and the same cumulative-share machinery behind corpus token-mass
    coverage (corpus_vocab_coverage), applied to the sales fact.

    Determinism: revenue is exact cents; the class boundaries are exact
    integer cross-multiplications (cum·10 ≤ tot·8, cum·100 ≤ tot·95) on
    the cumulative window with a part-key tiebreak — no float share is
    compared.

    Scale shape: per-part revenue is one map-side-combined hash agg;
    the ranking window runs over |parts| pre-aggregated rows (the
    documented grid-scale single-partition window, same contract as
    corpus_vocab_coverage); the output is 3 rows. At 100 TB: one scan +
    one parts-grain window.
    """
    ensure_session_conf(spark)
    li = _t(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("bigint")
        .alias("rev_c")
    )
    w_cum = Window.orderBy(F.col("rev_c").desc(), "l_partkey")
    w_all = Window.partitionBy()
    r = pr.select(
        "l_partkey",
        "rev_c",
        F.sum("rev_c").over(w_cum).cast("bigint").alias("cum_c"),
        F.sum("rev_c").over(w_all).cast("bigint").alias("tot_c"),
    )
    abc = (
        F.when(F.col("cum_c") * 10 <= F.col("tot_c") * 8, "A")
        .when(F.col("cum_c") * 100 <= F.col("tot_c") * 95, "B")
        .otherwise("C")
    )
    return (
        r.select("rev_c", abc.alias("abc"), F.col("tot_c"))
        .groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            (F.sum("rev_c").cast("double") / F.lit(100.0)).alias("revenue"),
            (
                F.sum("rev_c").cast("double")
                / F.max("tot_c").cast("double")
            ).alias("revenue_share"),
        )
    )


# --- Fellegi–Sunter probabilistic record linkage -----------------------------
# Classic large-scale entity resolution (Fellegi & Sunter 1969): blocked
# candidate pairs, per-field agreement vector, log-odds match weights,
# three-band decision. Weights are frozen as exact INTEGER micro-units
# (the events_sprt_monitor discipline) so both engines accumulate
# identical BIGINTs and divide once at the end.
import math as _math

_FS_M = (0.95, 0.90, 0.85)  # P(field agrees | true match)
_FS_U = (0.10, 0.05, 0.20)  # P(field agrees | non-match)
_FS_AW = tuple(round(_math.log2(m / u) * 1e6) for m, u in zip(_FS_M, _FS_U))
_FS_DW = tuple(
    round(_math.log2((1 - m) / (1 - u)) * 1e6) for m, u in zip(_FS_M, _FS_U)
)
_FS_UPPER = 3_000_000  # score ≥ upper  -> match
_FS_LOWER = -6_000_000  # score ≤ lower -> non_match


@register(
    "join_record_linkage_fs",
    oracle=f"""
WITH c AS (
  SELECT c_custkey, c_nationkey,
         FLOOR(CAST(round(c_acctbal * 100) AS BIGINT) / 50000.0) AS band,
         CAST(round(c_acctbal * 100) AS BIGINT) % 100 AS cents2,
         CAST(right(c_name, 9) AS BIGINT) % 97 AS keyf
  FROM customer
),
s AS (
  SELECT s_suppkey, s_nationkey,
         FLOOR(CAST(round(s_acctbal * 100) AS BIGINT) / 50000.0) AS band,
         CAST(round(s_acctbal * 100) AS BIGINT) % 100 AS cents2,
         CAST(right(s_name, 9) AS BIGINT) % 97 AS keyf
  FROM supplier
),
p AS (
  SELECT c_custkey, s_suppkey,
         (CASE WHEN c.band = s.band
               THEN {_FS_AW[0]} ELSE {_FS_DW[0]} END
          + CASE WHEN c.cents2 = s.cents2
                 THEN {_FS_AW[1]} ELSE {_FS_DW[1]} END
          + CASE WHEN c.keyf = s.keyf
                 THEN {_FS_AW[2]} ELSE {_FS_DW[2]} END) AS score_micro
  FROM c JOIN s ON c.c_nationkey = s.s_nationkey
)
SELECT CASE WHEN score_micro >= {_FS_UPPER} THEN 'match'
            WHEN score_micro <= {_FS_LOWER} THEN 'non_match'
            ELSE 'possible' END AS decision,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers,
       CAST(SUM(score_micro) AS BIGINT) AS sum_score_micro,
       (CAST(SUM(score_micro) AS DOUBLE) / COUNT(*)) / 1000000.0
         AS avg_score
FROM p
GROUP BY 1
""",
)
def join_record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage: customers × suppliers
    blocked on nation, scored by a 3-field agreement vector (account-
    balance 500-unit band, balance cents mod 100, name-key mod 97 — the
    slim fixture's stand-ins for the name/address/phone comparators a
    real party-matching pipeline uses), each field contributing
    log2(m/u) on agreement and log2((1−m)/(1−u)) on disagreement, with
    the classic three-band decision (match / possible / non_match).
    m/u here are FIXED assumed rates; production systems estimate them
    by EM over the agreement-pattern counts — which would be one extra
    groupBy over the same pair frame.

    Determinism: weights are exact integer micro-units; a pair's score
    is a 3-way sum of constants; band/cents/key fields are exact
    integer arithmetic (FLOOR over an exact-cents double division —
    same IEEE op both engines).

    Scale shape: blocking IS the scalability contract — candidate pairs
    are Σ_block |C_b|×|S_b| (598,990 at sf0.1, audited), never
    |C|×|S|; the block key join is one hash shuffle each side, scoring
    is map-side expression work, and the decision aggregate is a
    3-group hash agg. At 100 TB: salt hot blocks (join_salted_skew) or
    sub-block on the coarsest comparator band; the EM weight-estimation
    loop reuses the same pair frame with agreement-pattern groupBys.
    """
    ensure_session_conf(spark)
    cents = lambda col: F.round(F.col(col) * 100).cast("long")  # noqa: E731

    def fields(df, key, nation, bal, name):
        return df.select(
            F.col(key),
            F.col(nation).alias("nk"),
            F.floor(cents(bal) / F.lit(50000.0)).alias("band"),
            (cents(bal) % 100).alias("cents2"),
            (F.substring(F.col(name), -9, 9).cast("long") % 97).alias(
                "keyf"
            ),
        )

    c = fields(
        load_table(spark, sf_dir, "customer"),
        "c_custkey", "c_nationkey", "c_acctbal", "c_name",
    )
    s = fields(
        load_table(spark, sf_dir, "supplier"),
        "s_suppkey", "s_nationkey", "s_acctbal", "s_name",
    ).withColumnsRenamed({"band": "sband", "cents2": "scents2", "keyf": "skeyf"})

    def w(agree: F.Column, i: int) -> F.Column:
        return F.when(agree, F.lit(_FS_AW[i])).otherwise(F.lit(_FS_DW[i]))

    p = c.join(s, "nk").select(
        "c_custkey",
        "s_suppkey",
        (
            w(F.col("band") == F.col("sband"), 0)
            + w(F.col("cents2") == F.col("scents2"), 1)
            + w(F.col("keyf") == F.col("skeyf"), 2)
        ).alias("score_micro"),
    )
    decision = (
        F.when(F.col("score_micro") >= _FS_UPPER, "match")
        .when(F.col("score_micro") <= _FS_LOWER, "non_match")
        .otherwise("possible")
    )
    return p.groupBy(decision.alias("decision")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.countDistinct("c_custkey").cast("bigint").alias("n_customers"),
        F.countDistinct("s_suppkey").cast("bigint").alias("n_suppliers"),
        F.sum("score_micro").cast("bigint").alias("sum_score_micro"),
        (
            (
                F.sum("score_micro").cast("double")
                / F.count(F.lit(1))
            )
            / F.lit(1000000.0)
        ).alias("avg_score"),
    )


# EM estimation of the FS parameters from the agreement-pattern counts —
# unrolled to a fixed iteration count in BOTH dialects (the Lloyd-kmeans
# precedent: same init, same left-assoc product order, decimal-quantized
# order-free sums => bit-identical doubles).
_EM_ITERS = 2
_EM_P0 = 0.05
_EM_M0 = (0.90, 0.80, 0.80)
_EM_U0 = (0.20, 0.10, 0.30)


def _em_oracle() -> str:
    d12 = "DECIMAL(28,12)"

    def estep(params: str, out: str) -> str:
        t = " * ".join(
            f"(CASE WHEN g{i} = 1 THEN q.m{i} ELSE 1.0 - q.m{i} END)"
            for i in (1, 2, 3)
        )
        r = " * ".join(
            f"(CASE WHEN g{i} = 1 THEN q.u{i} ELSE 1.0 - q.u{i} END)"
            for i in (1, 2, 3)
        )
        return (
            f"{out} AS (SELECT g1, g2, g3, n,\n"
            f"  ((q.p * {t})) AS a, (((1.0 - q.p) * {r})) AS b\n"
            f"  FROM pat CROSS JOIN {params} q)"
        )

    def mstep(est: str, out: str) -> str:
        sw = f"CAST(SUM(CAST(n * (a / (a + b)) AS {d12})) AS DOUBLE)"
        snw = (
            f"CAST(SUM(CAST(n * (1.0 - (a / (a + b))) AS {d12})) AS DOUBLE)"
        )
        cols = [f"{sw} / CAST(SUM(n) AS DOUBLE) AS p"]
        for i in (1, 2, 3):
            swg = (
                f"CAST(SUM(CAST((n * (a / (a + b))) * g{i} AS {d12}))"
                f" AS DOUBLE)"
            )
            snwg = (
                f"CAST(SUM(CAST((n * (1.0 - (a / (a + b)))) * g{i}"
                f" AS {d12})) AS DOUBLE)"
            )
            cols.append(f"{swg} / {sw} AS m{i}")
            cols.append(f"{snwg} / {snw} AS u{i}")
        return f"{out} AS (SELECT {', '.join(cols)} FROM {est})"

    chain = [
        "params0 AS (SELECT "
        + ", ".join(
            [f"CAST({_EM_P0} AS DOUBLE) AS p"]
            + [f"CAST({m} AS DOUBLE) AS m{i+1}" for i, m in enumerate(_EM_M0)]
            + [f"CAST({u} AS DOUBLE) AS u{i+1}" for i, u in enumerate(_EM_U0)]
        )
        + ")"
    ]
    for t in range(_EM_ITERS):
        chain.append(estep(f"params{t}", f"e{t + 1}"))
        chain.append(mstep(f"e{t + 1}", f"params{t + 1}"))
    chain.append(estep(f"params{_EM_ITERS}", "efin"))
    return (
        """
WITH c AS (
  SELECT c_custkey, c_nationkey,
         FLOOR(CAST(round(c_acctbal * 100) AS BIGINT) / 50000.0) AS band,
         CAST(round(c_acctbal * 100) AS BIGINT) % 100 AS cents2,
         CAST(right(c_name, 9) AS BIGINT) % 97 AS keyf
  FROM customer
),
s AS (
  SELECT s_suppkey, s_nationkey,
         FLOOR(CAST(round(s_acctbal * 100) AS BIGINT) / 50000.0) AS band,
         CAST(round(s_acctbal * 100) AS BIGINT) % 100 AS cents2,
         CAST(right(s_name, 9) AS BIGINT) % 97 AS keyf
  FROM supplier
),
pat AS (
  SELECT CASE WHEN c.band = s.band THEN 1 ELSE 0 END AS g1,
         CASE WHEN c.cents2 = s.cents2 THEN 1 ELSE 0 END AS g2,
         CASE WHEN c.keyf = s.keyf THEN 1 ELSE 0 END AS g3,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM c JOIN s ON c.c_nationkey = s.s_nationkey
  GROUP BY 1, 2, 3
),
"""
        + ",\n".join(chain)
        + """
SELECT CAST(g1 AS BIGINT) AS g1, CAST(g2 AS BIGINT) AS g2,
       CAST(g3 AS BIGINT) AS g3, n AS n_pairs,
       a / (a + b) AS w_match
FROM efin
"""
    )


@register("join_record_linkage_em", oracle=_em_oracle())
def join_record_linkage_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM estimation of the Fellegi–Sunter m/u parameters from the
    blocked pairs' agreement-pattern counts — the production counterpart
    of join_record_linkage_fs's assumed weights (Winkler's unsupervised
    weight estimation): no labels needed, because the 2³ = 8 agreement
    patterns' frequencies identify the two-class mixture.

    {_EM_ITERS} EM iterations unrolled to a fixed plan in both dialects
    (Lloyd-kmeans precedent): E-step joins the 8-row pattern table to
    the 1-row parameter frame (posterior w_γ = p·Πm / (p·Πm + (1−p)·Πu),
    left-assoc products); M-step re-estimates (p, m_i, u_i) with
    decimal-quantized order-free sums over the 8 rows. Output: each
    pattern's pair count and final match posterior.

    Lineage discipline (the PCA-audit lesson, similarity.py): the
    pattern table and every parameter step are localCheckpoint()ed
    (≤ 8 rows / 1 row), so the blocked-pair scan runs EXACTLY once no
    matter how many EM steps unroll on top.

    Scale shape: everything after the one blocked-join groupBy is
    constant-size (8 × params) — EM over billions of pairs costs one
    pair pass + O(iters) driver-tiny algebra. At 100 TB the pattern
    histogram is the only reduction of the pair stream.
    """
    ensure_session_conf(spark)
    cents = lambda col: F.round(F.col(col) * 100).cast("long")  # noqa: E731

    def fields(df, key, nation, bal, name):
        return df.select(
            F.col(key),
            F.col(nation).alias("nk"),
            F.floor(cents(bal) / F.lit(50000.0)).alias("band"),
            (cents(bal) % 100).alias("cents2"),
            (F.substring(F.col(name), -9, 9).cast("long") % 97).alias(
                "keyf"
            ),
        )

    c = fields(
        load_table(spark, sf_dir, "customer"),
        "c_custkey", "c_nationkey", "c_acctbal", "c_name",
    )
    s = fields(
        load_table(spark, sf_dir, "supplier"),
        "s_suppkey", "s_nationkey", "s_acctbal", "s_name",
    ).withColumnsRenamed({"band": "sband", "cents2": "scents2", "keyf": "skeyf"})
    bit = lambda a, b: F.when(F.col(a) == F.col(b), 1).otherwise(0)  # noqa: E731
    pat = (
        c.join(s, "nk")
        .select(
            bit("band", "sband").alias("g1"),
            bit("cents2", "scents2").alias("g2"),
            bit("keyf", "skeyf").alias("g3"),
        )
        .groupBy("g1", "g2", "g3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint()  # <= 8 rows; the ONLY pair-scan consumer
    )
    params = spark.range(1).select(
        F.lit(_EM_P0).alias("p"),
        *[F.lit(m).alias(f"m{i+1}") for i, m in enumerate(_EM_M0)],
        *[F.lit(u).alias(f"u{i+1}") for i, u in enumerate(_EM_U0)],
    )
    d12 = lambda c_: F.sum(c_.cast("decimal(28,12)")).cast("double")  # noqa: E731

    def estep(par):
        t = a = None
        t = F.col("p")
        for i in (1, 2, 3):
            t = t * F.when(
                F.col(f"g{i}") == 1, F.col(f"m{i}")
            ).otherwise(F.lit(1.0) - F.col(f"m{i}"))
        a = t
        r = F.lit(1.0) - F.col("p")
        for i in (1, 2, 3):
            r = r * F.when(
                F.col(f"g{i}") == 1, F.col(f"u{i}")
            ).otherwise(F.lit(1.0) - F.col(f"u{i}"))
        return pat.crossJoin(F.broadcast(par)).select(
            "g1", "g2", "g3", "n", a.alias("a"), r.alias("b")
        )

    def mstep(e):
        w = F.col("a") / (F.col("a") + F.col("b"))
        sw = d12(F.col("n") * w)
        snw = d12(F.col("n") * (F.lit(1.0) - w))
        aggs = [
            (sw / F.sum("n").cast("double")).alias("p"),
        ]
        for i in (1, 2, 3):
            aggs.append(
                (d12((F.col("n") * w) * F.col(f"g{i}")) / sw).alias(f"m{i}")
            )
            aggs.append(
                (
                    d12((F.col("n") * (F.lit(1.0) - w)) * F.col(f"g{i}"))
                    / snw
                ).alias(f"u{i}")
            )
        return e.agg(*aggs).localCheckpoint()  # 1 row per EM step

    for _ in range(_EM_ITERS):
        params = mstep(estep(params))
    fin = estep(params)
    return fin.select(
        F.col("g1").cast("bigint").alias("g1"),
        F.col("g2").cast("bigint").alias("g2"),
        F.col("g3").cast("bigint").alias("g3"),
        F.col("n").alias("n_pairs"),
        (F.col("a") / (F.col("a") + F.col("b"))).alias("w_match"),
    )


@register(
    "join_record_linkage_entities",
    oracle=f"""
WITH RECURSIVE c AS (
  SELECT c_custkey, c_nationkey,
         FLOOR(CAST(round(c_acctbal * 100) AS BIGINT) / 50000.0) AS band,
         CAST(round(c_acctbal * 100) AS BIGINT) % 100 AS cents2,
         CAST(right(c_name, 9) AS BIGINT) % 97 AS keyf
  FROM customer
),
s AS (
  SELECT s_suppkey, s_nationkey,
         FLOOR(CAST(round(s_acctbal * 100) AS BIGINT) / 50000.0) AS band,
         CAST(round(s_acctbal * 100) AS BIGINT) % 100 AS cents2,
         CAST(right(s_name, 9) AS BIGINT) % 97 AS keyf
  FROM supplier
),
m AS (
  SELECT 2 * c_custkey AS a, 2 * s_suppkey + 1 AS b
  FROM c JOIN s ON c.c_nationkey = s.s_nationkey
  WHERE (CASE WHEN c.band = s.band
              THEN {_FS_AW[0]} ELSE {_FS_DW[0]} END
         + CASE WHEN c.cents2 = s.cents2
                THEN {_FS_AW[1]} ELSE {_FS_DW[1]} END
         + CASE WHEN c.keyf = s.keyf
                THEN {_FS_AW[2]} ELSE {_FS_DW[2]} END) >= {_FS_UPPER}
),
nodes AS (
  SELECT 2 * c_custkey AS id FROM c
  UNION ALL
  SELECT 2 * s_suppkey + 1 FROM s
),
edges AS (
  SELECT a AS src, b AS dst FROM m
  UNION ALL
  SELECT b AS src, a AS dst FROM m
),
reach AS (
  SELECT id AS node, id AS r FROM nodes
  UNION
  SELECT e.src AS node, rc.r
  FROM edges e JOIN reach rc ON rc.node = e.dst
),
lab AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node),
ent AS (
  SELECT label,
         COUNT(*) AS n_members,
         SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS n_cust,
         SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS n_supp
  FROM lab GROUP BY label
)
SELECT CAST(n_members AS BIGINT) AS entity_size,
       CAST(COUNT(*) AS BIGINT) AS n_entities,
       CAST(SUM(n_cust) AS BIGINT) AS n_customers,
       CAST(SUM(n_supp) AS BIGINT) AS n_suppliers
FROM ent
GROUP BY 1
""",
)
def join_record_linkage_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity RESOLUTION on top of the pairwise linkage: the FS 'match'
    pairs (join_record_linkage_fs's upper band) become edges of a
    bipartite customer/supplier graph, connected components turn
    pairwise matches into ENTITIES (a customer matched to two suppliers
    collapses into one 3-member entity — the transitive step every
    master-data pipeline needs after pairwise scoring), and the output
    is the entity-size histogram with per-side membership totals
    (singletons included: unmatched records are their own entity).

    Node ids interleave the two key spaces (customer 2k, supplier 2k+1)
    so one integer CC runs over both sides. Spark path: the same
    alternating large-star/small-star `connected_components` the dedup
    family uses (O(log d) rounds); oracle: DuckDB recursive transitive
    closure + MIN over reachable ids — identical fixpoint.

    Scale shape: match edges are a tiny filtered projection of the
    blocked pair stream; CC state is one (id, label) row per record;
    the histogram is a two-level hash agg. At 100 TB this is exactly
    the dedup keep-list pipeline re-pointed at party data.
    """
    ensure_session_conf(spark)
    from .dedup import connected_components

    cents = lambda col: F.round(F.col(col) * 100).cast("long")  # noqa: E731

    def fields(df, key, nation, bal, name):
        return df.select(
            F.col(key),
            F.col(nation).alias("nk"),
            F.floor(cents(bal) / F.lit(50000.0)).alias("band"),
            (cents(bal) % 100).alias("cents2"),
            (F.substring(F.col(name), -9, 9).cast("long") % 97).alias(
                "keyf"
            ),
        )

    c = fields(
        load_table(spark, sf_dir, "customer"),
        "c_custkey", "c_nationkey", "c_acctbal", "c_name",
    )
    s = fields(
        load_table(spark, sf_dir, "supplier"),
        "s_suppkey", "s_nationkey", "s_acctbal", "s_name",
    ).withColumnsRenamed({"band": "sband", "cents2": "scents2", "keyf": "skeyf"})

    def w(agree: F.Column, i: int) -> F.Column:
        return F.when(agree, F.lit(_FS_AW[i])).otherwise(F.lit(_FS_DW[i]))

    score = (
        w(F.col("band") == F.col("sband"), 0)
        + w(F.col("cents2") == F.col("scents2"), 1)
        + w(F.col("keyf") == F.col("skeyf"), 2)
    )
    edges = (
        c.join(s, "nk")
        .filter(score >= _FS_UPPER)
        .select(
            (F.col("c_custkey") * 2).alias("src"),
            (F.col("s_suppkey") * 2 + 1).alias("dst"),
        )
    )
    nodes = (
        c.select((F.col("c_custkey") * 2).alias("id"))
        .unionByName(s.select((F.col("s_suppkey") * 2 + 1).alias("id")))
    )
    labels, _rounds = connected_components(nodes, edges)
    ent = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.when(F.col("id") % 2 == 0, 1).otherwise(0)).alias("n_cust"),
        F.sum(F.when(F.col("id") % 2 == 1, 1).otherwise(0)).alias("n_supp"),
    )
    return ent.groupBy(
        F.col("n_members").cast("bigint").alias("entity_size")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entities"),
        F.sum("n_cust").cast("bigint").alias("n_customers"),
        F.sum("n_supp").cast("bigint").alias("n_suppliers"),
    )


# --- item-item co-visitation top-k (recommender candidate gen) --------------

COVIS_CAP = 8   # per-basket item cap: bounds pair fan-out at C(8,2)=28
COVIS_TOPK = 3  # neighbors kept per item


@register(
    "basket_covisitation_topk",
    oracle=f"""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
grouped AS (
  SELECT okey,
         list_slice(list_sort(list(brand)), 1, {COVIS_CAP}) AS brands
  FROM ob GROUP BY okey
),
brand_n AS (
  SELECT u.b AS brand, CAST(COUNT(*) AS BIGINT) AS nb
  FROM grouped, unnest(brands) AS t(b), LATERAL (SELECT t.b) u(b)
  GROUP BY u.b
),
pairs AS (
  SELECT u1.b AS brand_a, u2.b AS brand_b
  FROM grouped,
       unnest(brands) AS t1(b),
       unnest(brands) AS t2(b),
       LATERAL (SELECT t1.b) u1(b), LATERAL (SELECT t2.b) u2(b)
  WHERE u1.b < u2.b
),
pc AS (
  SELECT brand_a, brand_b, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM pairs GROUP BY 1, 2
),
sym AS (
  SELECT brand_a AS item, brand_b AS neighbor, n_both FROM pc
  UNION ALL
  SELECT brand_b AS item, brand_a AS neighbor, n_both FROM pc
),
scored AS (
  SELECT s.item, s.neighbor, s.n_both,
         CAST(s.n_both AS DOUBLE) / sqrt(CAST(na.nb * nn.nb AS DOUBLE))
           AS cosine_sim
  FROM sym s
  JOIN brand_n na ON na.brand = s.item
  JOIN brand_n nn ON nn.brand = s.neighbor
)
SELECT item, neighbor, n_both, cosine_sim, rk FROM (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY item
           ORDER BY cosine_sim DESC, n_both DESC, neighbor) AS rk
  FROM scored
) t WHERE rk <= {COVIS_TOPK}
""",
)
def basket_covisitation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-visitation: top-{COVIS_TOPK} neighbor brands per
    brand by co-occurrence cosine n_ab / sqrt(n_a * n_b) over capped
    order baskets — the candidate-generation kernel of every large-scale
    co-occurrence recommender (the "customers also bought" matrix).
    The per-basket cap ({COVIS_CAP} items, deterministic smallest-first)
    is the load-bearing scale control: an uncapped power-law basket
    contributes O(|basket|^2) pairs, and real clickstreams have sessions
    thousands of items long; with the cap, pair mass is <= C(cap,2) per
    basket — linear in baskets, period. Counts n_a/n_b are computed over
    the SAME capped baskets so the cosine stays a true normalized
    co-occurrence (no mixed-universe bias).

    Deterministic: integer co-counts; IEEE sqrt and one division are
    correctly rounded, so doubles match bit-for-bit; the top-k order
    carries (sim, n_both, neighbor) as a total tie-break.

    Scale shape: basket build = one broadcast dim join + one groupBy
    (shared idiom with basket_brand_lift, checkpointed); pair fan-out is
    in-row array combinations (no self-join shuffle); the final top-k is
    a per-item window over an |items|^2-bounded (but co-occurrence-
    sparse) table.
    """
    ensure_session_conf(spark)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand")
    )
    grouped = (
        ob.groupBy("okey")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("brand")), 1, COVIS_CAP
            ).alias("brands")
        )
        .localCheckpoint()
    )
    brand_n = (
        grouped.select(F.explode("brands").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    )
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("brands"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("brands"), i + 2, F.size("brands")
                        ),
                        lambda b: F.struct(
                            a.alias("brand_a"), b.alias("brand_b")
                        ),
                    ),
                )
            )
        ).alias("pr")
    ).select(F.col("pr.brand_a"), F.col("pr.brand_b"))
    pc = pairs.groupBy("brand_a", "brand_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_both")
    )
    sym = pc.select(
        F.col("brand_a").alias("item"),
        F.col("brand_b").alias("neighbor"),
        "n_both",
    ).unionAll(
        pc.select(
            F.col("brand_b").alias("item"),
            F.col("brand_a").alias("neighbor"),
            "n_both",
        )
    )
    na = brand_n.select(F.col("brand").alias("item"), F.col("nb").alias("na"))
    nn = brand_n.select(
        F.col("brand").alias("neighbor"), F.col("nb").alias("nn")
    )
    scored = (
        sym.join(F.broadcast(na), "item")
        .join(F.broadcast(nn), "neighbor")
        .select(
            "item", "neighbor", "n_both",
            (
                F.col("n_both").cast("double")
                / F.sqrt((F.col("na") * F.col("nn")).cast("double"))
            ).alias("cosine_sim"),
        )
    )
    return ranked_topk_per(
        scored, ["item"],
        [F.col("cosine_sim").desc(), F.col("n_both").desc(), F.col("neighbor")],
        COVIS_TOPK, rk_cast="bigint",
    ).select("item", "neighbor", "n_both", "cosine_sim", "rk")


# --- exact weighted median ----------------------------------------------------


@register(
    "agg_weighted_median",
    oracle="""
WITH w AS (
  SELECT l_returnflag, l_extendedprice AS price,
         CAST(l_quantity AS BIGINT) AS wt,
         l_orderkey, l_linenumber
  FROM lineitem
),
cum AS (
  SELECT l_returnflag, price, wt,
         SUM(wt) OVER (PARTITION BY l_returnflag
                       ORDER BY price, l_orderkey, l_linenumber) AS cw,
         SUM(wt) OVER (PARTITION BY l_returnflag) AS tw
  FROM w
)
SELECT l_returnflag,
       CAST(MAX(tw) AS BIGINT) AS total_weight,
       MIN(CASE WHEN 2 * cw >= tw THEN price END) AS weighted_median
FROM cum
GROUP BY l_returnflag
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median of l_extendedprice per return flag, with
    l_quantity as the weight: the smallest price whose cumulative weight
    reaches half the group's total — i.e. the median of the quantity-
    expanded multiset without materializing the expansion (the classic
    trick for "median unit price across items sold", where every line
    contributes its quantity, not 1). Complements agg_mode_median
    (unweighted holistic aggregates) and the integer-rank percentile
    family.

    Deterministic: weights are exact BIGINTs; the defining inequality
    2*cw >= tw is integer arithmetic; the (price, orderkey, linenumber)
    window order is total, so the crossing row is unique.

    Scale shape: one partitioned cumulative window per group (no global
    window), then a group-grain MIN — the same distributed shape as any
    per-key running total; no quantity-row explosion ever happens.
    """
    ensure_session_conf(spark)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("bigint").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    wo = Window.partitionBy("l_returnflag").orderBy(
        "price", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "price",
        F.sum("wt").over(wo).alias("cw"),
        F.sum("wt").over(wt).alias("tw"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.max("tw").cast("bigint").alias("total_weight"),
        F.min(
            F.when(2 * F.col("cw") >= F.col("tw"), F.col("price"))
        ).alias("weighted_median"),
    )
