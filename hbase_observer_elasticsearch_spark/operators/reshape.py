"""Reshape + order-statistics operators: pivot, unpivot/melt, percentiles,
right outer join (SURVEY §2.3 aggregations/set-ops surface, widened).

The reference's only reshape is the per-row qualifier pivot
(observer6/HbaseDataSyncEsObserver.java:93-102, SURVEY §2.1 #4); here the
table-level equivalents: `groupBy().pivot()` (long→wide),
`DataFrame.unpivot` (wide→long), and interpolated percentiles (exact
`percentile`, which matches DuckDB's `quantile_cont` bit-for-bit because
both linearly interpolate over the sorted doubles).

Scale notes: pivot with an explicit value list is one shuffle + conditional
aggregation (no second pass to discover values — at 100 TB always pass the
list); unpivot is a map-side expression (no shuffle); percentile is a
sort-based aggregate — prefer approx_percentile at extreme scale when ±ε
is acceptable (agg_approx_distinct documents the same tradeoff for counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.deterministic import dsum
from ..functions.ranking import ranked_topk_per
from ..registry import register
from ..session import ensure_session_conf

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_wide",
    oracle=f"""
SELECT user_id % 10 AS cohort,
       {", ".join(
           f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
           f" AS {t}" for t in EVENT_TYPES
       )}
FROM events
GROUP BY 1
""",
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide: `groupBy().pivot(values).count()` over event types.

    The explicit value list keeps it a single-shuffle conditional agg;
    omitting it would trigger a distinct-values pre-pass (never at 100 TB).
    """
    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.withColumn("cohort", F.col("user_id") % 10)
        .groupBy("cohort")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    # absent (cohort, type) combos pivot to null; the CASE-sum oracle says 0
    return out.select(
        "cohort", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES]
    )


@register(
    "unpivot_melt",
    oracle="""
WITH agg AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS amount FROM agg
UNION ALL
SELECT l_returnflag, 'sum_price', sum_price FROM agg
UNION ALL
SELECT l_returnflag, 'sum_disc', sum_disc FROM agg
""",
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long: `DataFrame.unpivot` (melt) of three aggregate measures.

    Unpivot is a pure map-side expression — rows×measures fan-out with no
    shuffle beyond the feeding aggregation.
    """
    ensure_session_conf(spark)
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        dsum("l_discount").alias("sum_disc"),
    )
    return agg.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="measure",
        valueColumnName="amount",
    )


@register(
    "percentile_stats",
    oracle="""
SELECT event_type,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.50) AS p50,
       quantile_cont(value, 0.75) AS p75,
       quantile_cont(value, 0.90) AS p90,
       min(value) AS vmin,
       max(value) AS vmax
FROM events
GROUP BY event_type
""",
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (+ min/max).

    Spark `percentile` and DuckDB `quantile_cont` both linearly
    interpolate over the sorted values, so results match bit-for-bit. At
    extreme scale swap in `approx_percentile` (t-digest, mergeable) — the
    exact version sorts each group's values.
    """
    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("p25"),
        F.expr("percentile(value, 0.50)").alias("p50"),
        F.expr("percentile(value, 0.75)").alias("p75"),
        F.expr("percentile(value, 0.90)").alias("p90"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


@register(
    "join_right_outer",
    oracle="""
SELECT c.c_custkey,
       c.c_mktsegment,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
FROM orders o
RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
""",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer equi-join: every customer survives, orderless ones with
    n_orders = 0 (COUNT of the null-extended side).

    Catalyst flips a right join of (big, broadcast-able) into a left
    join with sides swapped — same plan as join_left_orders_per_customer.
    """
    ensure_session_conf(spark)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "agg_mode_per_group",
    oracle="""
WITH counts AS (
  SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS n
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
)
SELECT c_mktsegment, o_orderpriority AS mode_priority, n
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                               ORDER BY n DESC, o_orderpriority DESC) AS rk
  FROM counts
) t
WHERE rk = 1
""",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with a deterministic tiebreak (count
    desc, then value desc) — built-in `mode()` tiebreaks are unspecified
    in both engines, so the portable formulation is count + rank."""
    ensure_session_conf(spark)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    counts = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        ranked_topk_per(
            counts, ["c_mktsegment"],
            [F.col("n").desc(), F.col("o_orderpriority").desc()], 1,
            rk_col=None,
        )
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            "n",
        )
    )


RFM_AS_OF = "2001-09-01"  # reference date just past the last order


@register(
    "customer_rfm_segments",
    oracle=f"""
WITH rfm AS (
  SELECT o_custkey,
         date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                   DATE '{RFM_AS_OF}') AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
           AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary,
         ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r_score,
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
         ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM rfm
)
SELECT CAST(r_score AS INT) AS r_score,
       CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(monetary AS DECIMAL(18,6))) AS DOUBLE)
         AS segment_revenue
FROM scored
GROUP BY r_score, f_score, m_score
""",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored into quartiles on
    Recency (days since last order, best = lowest), Frequency (order
    count) and Monetary (lifetime spend), then rolled up to segment
    cells with customer counts and revenue — the standard
    customer-value grid (r=f=m=1 is the "champions" cell).

    Scale shape: one hash aggregation to customer grain, three ntile
    windows over that grain (customer-count-sized, with unique
    tiebreakers so quartile boundaries are deterministic), one final
    rollup keyed by the 64 possible cells. At 100 TB the quartile cut
    points come from approx_percentile and scoring becomes map-side —
    same output contract (the deciles pattern, corpus_quality_deciles).
    Money through exact decimals everywhere.
    """
    ensure_session_conf(spark)
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(RFM_AS_OF).cast("date"), F.max("o_orderdate").cast("date")
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("monetary"),
    )
    scored = rfm.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4)
        .over(Window.orderBy("recency_days", "o_custkey"))
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy(F.col("frequency").desc(), "o_custkey"))
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy(F.col("monetary").desc(), "o_custkey"))
        .alias("m_score"),
    )
    return scored.groupBy(
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("monetary").cast("decimal(18,6)"))
        .cast("double")
        .alias("segment_revenue"),
    )
