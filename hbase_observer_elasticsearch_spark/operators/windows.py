"""Window-function surface (SURVEY §2.3): ranking, offsets, frames.

The reference's last-write-wins upsert (#7) is a `row_number()==1` window —
this module generalizes that to the full analytic-window battery.

Scale notes: every query here is one hash shuffle on its partition key and
a per-partition sort. All windows in one query share a partitioning, so
Spark reuses one exchange; frames are streaming (no whole-partition
buffering) except unbounded-following, which we avoid.
Every orderBy carries a unique tiebreaker (determinism rule, registry.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ranking import ranked_topk_per
from ..registry import register


@register(
    "window_rank_battery",
    oracle="""
SELECT c_custkey,
       c_nationkey,
       ROW_NUMBER()  OVER w AS rn,
       RANK()        OVER w AS rnk,
       DENSE_RANK()  OVER w AS drnk,
       NTILE(4)      OVER w AS quartile,
       CUME_DIST()   OVER w AS cdist,
       PERCENT_RANK() OVER w AS prank
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
""",
)
def window_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank/ntile/cume_dist/percent_rank per nation."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.cume_dist().over(w).alias("cdist"),
        F.percent_rank().over(w).alias("prank"),
    )


@register(
    "window_lag_lead",
    oracle="""
SELECT event_id,
       user_id,
       value,
       LAG(value)      OVER w AS prev_value,
       LEAD(value)     OVER w AS next_value,
       LAG(value, 2, -1.0) OVER w AS prev2_value,
       value - COALESCE(LAG(value) OVER w, 0.0) AS delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead offsets with defaults + derived delta per user timeline."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.lag("value", 2, -1.0).over(w).alias("prev2_value"),
        (F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0))).alias(
            "delta"
        ),
    )


@register(
    "window_running_agg",
    oracle="""
SELECT event_id,
       user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,6)))
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_total,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS n_so_far,
       CAST(MAX(CAST(value AS DECIMAL(18,6)))
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS max_last3
FROM events
""",
)
def window_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + count and a 3-row sliding max per user.

    Decimal running sum: each prefix sum is exact, so every row is
    engine-portable (a double running sum would drift by accumulation
    order only if the frame were re-partitioned — decimals make it moot).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    last3 = w.rowsBetween(-2, Window.currentRow)
    val = F.col("value").cast("decimal(18,6)")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(val).over(cum).cast("double").alias("running_total"),
        F.count(F.lit(1)).over(cum).alias("n_so_far"),
        F.max(val).over(last3).cast("double").alias("max_last3"),
    )


@register(
    "window_first_last",
    oracle="""
SELECT event_id,
       user_id,
       FIRST_VALUE(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS first_type,
       FIRST_VALUE(event_type) OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_type_sofar_rev
FROM events
""",
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value along both directions of the user timeline."""
    ev = load_table(spark, sf_dir, "events")
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rev = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("event_type").over(fwd).alias("first_type"),
        F.first("event_type").over(rev).alias("last_type_sofar_rev"),
    )


@register(
    "window_range_between",
    oracle="""
SELECT o_orderkey,
       o_orderstatus,
       o_totalprice,
       COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                      RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)
           AS n_within_1k
FROM orders
""",
)
def window_range_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering: peers within ±1000 of each
    order's price. (COUNT only — value-based frames + float measures would
    re-raise accumulation-order issues.)"""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, 1000)
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_within_1k"),
    )


@register(
    "topk_per_group",
    oracle="""
SELECT c_custkey, o_orderkey, o_totalprice, rk
FROM (
  SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c.c_custkey
                            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rk
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
) t
WHERE rk <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: the canonical window top-k (rank ≤ k).

    At 100 TB this beats a groupBy+collect_list+slice by never
    materializing per-group arrays.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return ranked_topk_per(
        c.join(o, c.c_custkey == o.o_custkey).select(
            "c_custkey", "o_orderkey", "o_totalprice"
        ),
        ["c_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], 3,
        rk_cast="bigint",
    )


@register(
    "window_time_range_trailing",
    oracle="""
SELECT event_id,
       user_id,
       epoch_ms(ts) AS t_ms,
       CAST(COUNT(*) OVER w AS BIGINT) AS trailing_7d_n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
         AS trailing_7d_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
             RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW)
""",
)
def window_time_range_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval window frame: each event's 7-day trailing count and
    value sum per user (`RANGE BETWEEN <interval> PRECEDING`) — the
    rolling-metric shape monitoring and feature pipelines run constantly.

    RANGE frames (unlike ROWS) include every peer with an equal ordering
    key, so ties need no tiebreaker for determinism. Millisecond BIGINTs
    keep the frame bound exact in both engines; the windowed sum goes
    through DECIMAL like every multi-row float sum. Scale shape: one
    shuffle on user_id, then a per-partition ordered scan with a sliding
    accumulator — no self-join range lookup per row.
    """
    ev = load_table(spark, sf_dir, "events")
    t_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(t_ms)
        .rangeBetween(-7 * 24 * 3600 * 1000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        t_ms.alias("t_ms"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("trailing_7d_n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("trailing_7d_sum"),
    )


@register(
    "window_trailing_median",
    oracle="""
SELECT event_id, user_id, ts, value,
       median(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
FROM events
""",
)
def window_trailing_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-row median of each user's value series — the robust
    (outlier-immune) smoother dashboards pair with the EWMA.

    Spark has no native median window frame, so the frame is collected
    with `collect_list OVER (rows 6 preceding)` and reduced with array
    HOFs: sort, then average the middle pair (even n) or take the middle
    (odd n). The frame is O(7) per row — constant memory, stays in the
    single per-user window sort, and the HOF math runs in codegen. The
    midpoint average of two doubles is one `/ 2.0` written identically
    in both dialects (DuckDB's median lower/upper interpolation).
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_lo = F.element_at(arr, (n / 2).cast("int"))
    med = F.when(n % 2 == 1, F.element_at(arr, (n / 2 + 1).cast("int"))).otherwise(
        (mid_lo + mid_hi) / F.lit(2.0)
    )
    return ev.select("event_id", "user_id", "ts", "value", med.alias("med7"))


@register(
    "window_share_of_group",
    oracle="""
WITH rev AS (
  SELECT p.p_type, p.p_brand,
         CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(18,6))) AS DOUBLE) AS brand_rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_type, p.p_brand
)
SELECT p_type, p_brand, brand_rev,
       CAST(SUM(CAST(brand_rev AS DECIMAL(18,6)))
            OVER (PARTITION BY p_type) AS DOUBLE) AS type_rev,
       brand_rev / CAST(SUM(CAST(brand_rev AS DECIMAL(18,6)))
                        OVER (PARTITION BY p_type) AS DOUBLE)
         AS share_of_type,
       CAST(RANK() OVER (PARTITION BY p_type
                         ORDER BY brand_rev DESC, p_brand) AS BIGINT)
         AS rank_in_type
FROM rev
""",
)
def window_share_of_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-group analytics: each brand's revenue as a fraction of
    its part type's total, plus its rank within the type — the
    aggregate-then-window composition (groupBy one grain, window at a
    coarser grain) that share-of-wallet / market-share reporting runs
    everywhere, distinct from the frame-based windows in this module.

    Scale shape: one join + hash aggregation to the (type, brand) grain
    — tiny — then the window runs over that grain, NOT the fact table
    (window-over-aggregate, never window-over-rows: the difference
    between a KB-sized and a TB-sized sort at 100 TB). Both the brand
    aggregate and the window total go through exact decimals, so the
    share division is a correctly-rounded ratio of two deterministic
    doubles.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_type", "p_brand")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("brand_rev")
        )
    )
    w = Window.partitionBy("p_type")
    type_rev = F.sum(F.col("brand_rev").cast("decimal(18,6)")).over(w).cast(
        "double"
    )
    rk = F.rank().over(w.orderBy(F.col("brand_rev").desc(), "p_brand"))
    return rev.select(
        "p_type",
        "p_brand",
        "brand_rev",
        type_rev.alias("type_rev"),
        (F.col("brand_rev") / type_rev).alias("share_of_type"),
        rk.cast("bigint").alias("rank_in_type"),
    )
