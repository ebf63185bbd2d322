"""Event-time windowing in batch form: tumbling / sliding / session.

These are the batch twins of the streaming operators in ``streaming/``
(same `F.window` / `F.session_window` expressions run over a bounded
DataFrame), mirroring how the reference's time-triggered flush slices the
mutation stream into 30 s batches
(observer6/ElasticSearchBulkOperator.java:61).

Scale notes: window assignment is map-side (each event computes its
window(s) locally); the only shuffle is the grouped aggregation keyed on
(window, key) — identical cost profile to a plain groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..functions.deterministic import dsum, dsum_expr, sql_dsum
from ..functions.ranking import ranked_topk, ranked_topk_per
from ..registry import register


@register(
    "window_tumbling",
    oracle=f"""
SELECT date_trunc('day', ts) AS win_start,
       event_type,
       COUNT(*) AS n,
       {sql_dsum("value")} AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows per event type.

    `F.window(ts, '1 day')` aligns to the epoch, which for whole days ==
    date_trunc('day') — giving the oracle an exact ANSI twin.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "window_sliding",
    oracle=f"""
WITH assigned AS (
  SELECT date_trunc('day', ts) AS w0, ts, value FROM events
  UNION ALL
  SELECT date_trunc('day', ts) - INTERVAL 1 DAY AS w0, ts, value FROM events
)
SELECT w0 AS win_start,
       COUNT(*) AS n,
       {sql_dsum("value")} AS sum_value
FROM assigned
GROUP BY w0
""",
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 2-day duration, 1-day slide (each event lands in
    two windows). The oracle materializes the same assignment with a
    2-way UNION — which is exactly what Spark's window expression expands
    to internally (an explode over duration/slide copies)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "n", "sum_value")
    )


@register(
    "window_session",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sessions AS (
  SELECT user_id, ts, event_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
""",
)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user via
    `F.session_window` — session end = last event + gap, matching the
    oracle's gaps-and-islands formulation exactly.

    In streaming this same expression runs stateful with a watermark;
    batch and stream share the operator definition.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "events_funnel",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS c_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.v_ts
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
  GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_view_click,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_view_click_purchase,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) * 1.0
         / CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS full_conversion
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-step funnel (view → click → purchase): users counted
    at each stage only if the step happened AT OR AFTER their first
    occurrence of the previous step.

    Scale shape: each stage is one groupBy(user) over a filtered slice
    joined back on user_id — the stage tables shrink monotonically, and
    every join is keyed on user_id so the funnel co-partitions after the
    first shuffle. No window over the full event stream, no per-user
    event-array materialization (the collect_list formulation OOMs on
    power users at 100 TB; this one never holds more than a timestamp
    per user per stage).
    """
    ev = load_table(spark, sf_dir, "events")
    # each stage table is one row per surviving user (tiny) and feeds
    # BOTH the next stage and its own count — checkpointed so the event
    # scan + stage chain runs once per stage instead of once per branch
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
        .localCheckpoint()
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
        .localCheckpoint()
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    nv = v.agg(F.count(F.lit(1)).cast("bigint").alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).cast("bigint").alias("n_view_click"))
    np_ = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_view_click_purchase")
    )
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_view",
            "n_view_click",
            "n_view_click_purchase",
            (
                F.col("n_view_click_purchase") * F.lit(1.0) / F.col("n_view")
            ).alias("full_conversion"),
        )
    )


@register(
    "events_retention_cohort",
    oracle="""
WITH first_day AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day
  FROM events GROUP BY user_id
)
SELECT f.cohort_day,
       CAST(datediff('day', CAST(f.cohort_day AS DATE), CAST(e.ts AS DATE))
            AS BIGINT) AS day_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active_users
FROM events e JOIN first_day f ON e.user_id = f.user_id
GROUP BY 1, 2
""",
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    distinct on each day-offset they return — the standard growth
    analytics triangle.

    Scale shape: the cohort table is one groupBy(user); the join back is
    keyed on user_id (co-partitions with the aggregate that produced it);
    the final distinct-count groups on (cohort_day, offset) — a small key
    space regardless of corpus size. All values are dates/ints; no float
    discipline needed.
    """
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("cohort_day")
    )
    return (
        ev.join(first_day, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.to_date("ts"), F.to_date("cohort_day"))
            .cast("bigint")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active_users"))
    )


GRID_STEP_MS = 6 * 3600 * 1000  # 6-hour resample grid


@register(
    "time_asof_interpolate",
    oracle=f"""
WITH pts AS (
  SELECT user_id, epoch_ms(ts) AS t_ms, MAX(value) AS v
  FROM events GROUP BY user_id, epoch_ms(ts)
),
spans AS (
  SELECT user_id,
         CAST(ceil(MIN(t_ms) * 1.0 / {GRID_STEP_MS}) AS BIGINT) AS g0,
         CAST(floor(MAX(t_ms) * 1.0 / {GRID_STEP_MS}) AS BIGINT) AS g1
  FROM pts GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(g0, g1)) * {GRID_STEP_MS} AS t_ms
  FROM spans WHERE g1 >= g0
),
merged AS (
  SELECT user_id, t_ms, v, 0 AS is_grid FROM pts
  UNION ALL
  SELECT user_id, t_ms, NULL AS v, 1 AS is_grid FROM grid
),
flanked AS (
  SELECT user_id, t_ms, is_grid,
         last_value(v IGNORE NULLS) OVER w_fwd AS prev_v,
         last_value(CASE WHEN v IS NOT NULL THEN t_ms END IGNORE NULLS)
           OVER w_fwd AS prev_t,
         first_value(v IGNORE NULLS) OVER w_bwd AS next_v,
         first_value(CASE WHEN v IS NOT NULL THEN t_ms END IGNORE NULLS)
           OVER w_bwd AS next_t
  FROM merged
  WINDOW
    w_fwd AS (PARTITION BY user_id ORDER BY t_ms, is_grid
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_bwd AS (PARTITION BY user_id ORDER BY t_ms, is_grid
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, t_ms AS grid_ms,
       CASE
         WHEN prev_t IS NULL THEN next_v
         WHEN next_t IS NULL THEN prev_v
         WHEN next_t = prev_t THEN prev_v
         ELSE prev_v + (next_v - prev_v)
              * (CAST(t_ms - prev_t AS DOUBLE) / CAST(next_t - prev_t AS DOUBLE))
       END AS interp_value
FROM flanked
WHERE is_grid = 1
""",
)
def time_asof_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled resampling with linear interpolation: each user's value
    series sampled onto a 6-hour grid, every grid point interpolated
    between its as-of neighbors (carry-forward/backward at the edges) —
    the hypertable `time_bucket_gapfill + interpolate` shape.

    Spark-first formulation: generate each user's grid rows map-side
    (`sequence` on the per-user span), UNION them into the point stream,
    and resolve both flanking neighbors with two `last`/`first`
    IGNORE NULLS windows over ONE sort per direction — never a per-grid-
    point as-of join (that's a range join per sample; this is two window
    passes amortized over all samples). Milliseconds as BIGINT keep the
    time axis exact; the interpolation ratio is the only float op and is
    written identically in both dialects.
    """
    ev = load_table(spark, sf_dir, "events")
    pts = ev.groupBy(
        "user_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("t_ms")
    ).agg(F.max("value").alias("v"))
    spans = pts.groupBy("user_id").agg(
        F.ceil(F.min("t_ms") * 1.0 / GRID_STEP_MS).cast("bigint").alias("g0"),
        F.floor(F.max("t_ms") * 1.0 / GRID_STEP_MS).cast("bigint").alias("g1"),
    )
    grid = (
        spans.filter(F.col("g1") >= F.col("g0"))
        .select("user_id", F.explode(F.sequence("g0", "g1")).alias("g"))
        .select("user_id", (F.col("g") * GRID_STEP_MS).alias("t_ms"))
    )
    merged = pts.select(
        "user_id", "t_ms", "v", F.lit(0).alias("is_grid")
    ).unionByName(
        grid.select(
            "user_id",
            "t_ms",
            F.lit(None).cast("double").alias("v"),
            F.lit(1).alias("is_grid"),
        )
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("t_ms", "is_grid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bwd = (
        Window.partitionBy("user_id")
        .orderBy("t_ms", "is_grid")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t_if_v = F.when(F.col("v").isNotNull(), F.col("t_ms"))
    flanked = merged.select(
        "user_id",
        "t_ms",
        "is_grid",
        F.last("v", ignorenulls=True).over(w_fwd).alias("prev_v"),
        F.last(t_if_v, ignorenulls=True).over(w_fwd).alias("prev_t"),
        F.first("v", ignorenulls=True).over(w_bwd).alias("next_v"),
        F.first(t_if_v, ignorenulls=True).over(w_bwd).alias("next_t"),
    )
    ratio = (F.col("t_ms") - F.col("prev_t")).cast("double") / (
        F.col("next_t") - F.col("prev_t")
    ).cast("double")
    interp = (
        F.when(F.col("prev_t").isNull(), F.col("next_v"))
        .when(F.col("next_t").isNull(), F.col("prev_v"))
        .when(F.col("next_t") == F.col("prev_t"), F.col("prev_v"))
        .otherwise(
            F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * ratio
        )
    )
    return flanked.filter(F.col("is_grid") == 1).select(
        "user_id",
        F.col("t_ms").alias("grid_ms"),
        interp.alias("interp_value"),
    )


OVERLAP_BIN_MS = 600_000  # 10-min bins; intervals are <= ~8 min long


@register(
    "join_interval_overlap",
    oracle="""
WITH a AS (
  SELECT event_id AS a_id, epoch_ms(ts) AS a_start,
         epoch_ms(ts) + CAST(floor(value * 1000) AS BIGINT) AS a_end
  FROM events WHERE event_type = 'error'
),
b AS (
  SELECT event_id AS b_id, epoch_ms(ts) AS b_start,
         epoch_ms(ts) + CAST(floor(value * 1000) AS BIGINT) AS b_end
  FROM events WHERE event_type = 'purchase'
)
SELECT a.a_id, b.b_id,
       CAST(LEAST(a.a_end, b.b_end) - GREATEST(a.a_start, b.b_start)
            AS BIGINT) AS overlap_ms
FROM a JOIN b
  ON a.a_start <= b.b_end AND b.b_start <= a.a_end
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: every (error, purchase) interval pair that
    overlaps in time, with the overlap width. Intervals are
    [ts, ts + value seconds].

    Scale shape: both sides explode into the 10-minute bins they cover
    (bounded: interval length ≤ ~8 min ⇒ ≤ 2 bins each) and the join is
    an EQUI-join on the bin — never a BroadcastNestedLoopJoin over the
    raw theta predicate. A pair sharing several bins is emitted exactly
    once by keeping only the bin containing the overlap's start
    (greatest of the two interval starts), which both sides cover by
    construction — dedup by arithmetic, not a distinct() shuffle.
    """
    ev = load_table(spark, sf_dir, "events")

    def intervals(etype: str, prefix: str) -> DataFrame:
        start = F.unix_millis(F.col("ts").cast("timestamp"))
        end = start + F.floor(F.col("value") * 1000).cast("bigint")
        return ev.filter(F.col("event_type") == etype).select(
            F.col("event_id").alias(f"{prefix}_id"),
            start.alias(f"{prefix}_start"),
            end.alias(f"{prefix}_end"),
        )

    def binned(df: DataFrame, prefix: str) -> DataFrame:
        b0 = F.floor(F.col(f"{prefix}_start") / OVERLAP_BIN_MS)
        b1 = F.floor(F.col(f"{prefix}_end") / OVERLAP_BIN_MS)
        return df.select(
            "*", F.explode(F.sequence(b0, b1)).alias("bin")
        )

    a = binned(intervals("error", "a"), "a")
    b = binned(intervals("purchase", "b"), "b")
    overlap_start_bin = F.floor(
        F.greatest("a_start", "b_start") / OVERLAP_BIN_MS
    )
    return (
        a.join(b, "bin")
        .filter(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
            & (F.col("bin") == overlap_start_bin)
        )
        .select(
            "a_id",
            "b_id",
            (
                F.least("a_end", "b_end") - F.greatest("a_start", "b_start")
            )
            .cast("bigint")
            .alias("overlap_ms"),
        )
    )


@register(
    "join_asof_nearest",
    oracle="""
WITH err AS (
  SELECT event_id, user_id, epoch_ms(ts) AS t_ms
  FROM events WHERE event_type = 'error'
),
purch AS (
  SELECT DISTINCT user_id, epoch_ms(ts) AS p_ms
  FROM events WHERE event_type = 'purchase'
),
flank AS (
  SELECT e.event_id, e.user_id, e.t_ms,
         (SELECT MAX(p.p_ms) FROM purch p
          WHERE p.user_id = e.user_id AND p.p_ms <= e.t_ms) AS prev_ms,
         (SELECT MIN(p.p_ms) FROM purch p
          WHERE p.user_id = e.user_id AND p.p_ms > e.t_ms) AS next_ms
  FROM err e
)
SELECT event_id, user_id, t_ms,
       CASE
         WHEN prev_ms IS NULL THEN next_ms
         WHEN next_ms IS NULL THEN prev_ms
         WHEN (t_ms - prev_ms) <= (next_ms - t_ms) THEN prev_ms
         ELSE next_ms
       END AS nearest_purchase_ms
FROM flank
WHERE prev_ms IS NOT NULL OR next_ms IS NOT NULL
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (both directions): each error event matched to
    the closest purchase timestamp of the same user — backward OR forward,
    ties to the earlier one. Complements join_asof (backward-only).

    Spark-first shape: instead of a per-row range lookup, purchases and
    errors merge into ONE per-user ordered stream and two IGNORE NULLS
    window passes resolve each error's flanking purchases — the same
    two-pass idiom as time_asof_interpolate, O(n log n) in the partition
    sort, no join fan-out at all. Millisecond BIGINTs; tie-break is pure
    integer comparison.
    """
    ev = load_table(spark, sf_dir, "events")
    t_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", t_ms.alias("t_ms")
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", t_ms.alias("t_ms"))
        .distinct()
        .select("user_id", "t_ms", F.lit(None).cast("bigint").alias("event_id"),
                F.lit(1).alias("is_purch"))
    )
    merged = err.select(
        "user_id", "t_ms", "event_id", F.lit(0).alias("is_purch")
    ).unionByName(purch)
    # purchases sort BEFORE errors at equal t_ms (is_purch desc) so a
    # same-instant purchase is visible as prev (delta 0, wins any tie)
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("t_ms", F.col("is_purch").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bwd = (
        Window.partitionBy("user_id")
        .orderBy("t_ms", F.col("is_purch").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    p_t = F.when(F.col("is_purch") == 1, F.col("t_ms"))
    flank = merged.select(
        "user_id",
        "t_ms",
        "event_id",
        "is_purch",
        F.last(p_t, ignorenulls=True).over(w_fwd).alias("prev_ms"),
        F.first(p_t, ignorenulls=True).over(w_bwd).alias("next_ms"),
    ).filter(F.col("is_purch") == 0)
    nearest = (
        F.when(F.col("prev_ms").isNull(), F.col("next_ms"))
        .when(F.col("next_ms").isNull(), F.col("prev_ms"))
        .when(
            (F.col("t_ms") - F.col("prev_ms"))
            <= (F.col("next_ms") - F.col("t_ms")),
            F.col("prev_ms"),
        )
        .otherwise(F.col("next_ms"))
    )
    return flank.filter(
        F.col("prev_ms").isNotNull() | F.col("next_ms").isNotNull()
    ).select(
        "event_id",
        "user_id",
        "t_ms",
        nearest.alias("nearest_purchase_ms"),
    )


# Trailing EWMA taps: 8 lags of alpha=1/2 give weight 2^-k to the k-th
# most recent sample. Powers of two scale a double's exponent only (no
# mantissa rounding), so each term is EXACT and the fixed left-to-right
# sum is bit-identical across engines — no decimal cast needed.
_EWMA_TAPS = 8


def _ewma_terms() -> tuple[str, str]:
    """(numerator, denominator) SQL fragments shared by both dialects.

    lag(value, k) is NULL inside the first k rows of a user's series, so
    each absent tap contributes 0 to the numerator and its weight is
    dropped from the denominator — the standard finite-history
    normalization that keeps early rows unbiased.
    """
    num = ["CAST(value AS DOUBLE)"]
    den = ["1.0"]
    for k in range(1, _EWMA_TAPS):
        w = 0.5**k
        num.append(f"COALESCE(lag(value, {k}) OVER w * {w!r}, 0.0)")
        den.append(f"CASE WHEN lag(value, {k}) OVER w IS NULL THEN 0.0 ELSE {w!r} END")
    return " + ".join(num), " + ".join(den)


_EWMA_NUM, _EWMA_DEN = _ewma_terms()


@register(
    "events_ewma_trailing",
    oracle=f"""
SELECT event_id, user_id, ts, value,
       ({_EWMA_NUM}) / ({_EWMA_DEN}) AS ewma
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def events_ewma_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exponential-weighted moving average (alpha = 1/2, 8 taps)
    of each user's value series — the streaming-metrics smoothing shape
    (hypertable `time_weight`-style) as a pure window expression.

    A finite tap count is the scale-correct EWMA on Spark: the infinite
    recurrence y_i = a·x_i + (1-a)·y_{i-1} forces a sequential scan per
    key (applyInPandas), while 8 lags over ONE sorted window pass keep
    the whole operator in JVM codegen, O(taps) per row, and numerically
    exact (2^-k weights scale exponents only; weight 2^-8 is below any
    visible contribution for the fixture's value range). One shuffle:
    the (user_id) window sort — same cost class as any per-key window.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    num, den = _EWMA_NUM, _EWMA_DEN
    return spark.sql(
        f"""
        SELECT event_id, user_id, ts, value,
               ({num}) / ({den}) AS ewma
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """
    )


@register(
    "events_gap_fill_locf",
    oracle=f"""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day, {sql_dsum("value")} AS day_sum
  FROM events GROUP BY user_id, date_trunc('day', ts)
),
spans AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM spans
),
joined AS (
  SELECT g.user_id, g.day, d.day_sum FROM grid g
  LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
)
SELECT user_id, day, day_sum,
       last_value(day_sum IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum,
       CAST(day_sum IS NULL AS BOOLEAN) AS is_gap
FROM joined
""",
)
def events_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample with last-observation-carried-forward fill: each
    user's event-value series is bucketed to days, the per-user calendar
    is densified (every day between first and last activity), and gap
    days inherit the previous day's sum — the `time_bucket_gapfill +
    locf` hypertable shape, complementing `time_asof_interpolate`'s
    linear variant.

    Spark-first: the calendar is generated MAP-SIDE per user (`sequence`
    over the user's [min_day, max_day] span — no calendar dim table, no
    cross join), the join back to observed days is an equi-join on
    (user_id, day), and the fill is one `last(ignorenulls)` running
    window — a single sort per user partition. Day counts per user are
    bounded by the span, so no key explodes; the grid explode is the
    only row-amplifying step and is proportional to the output itself.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(dsum("value").alias("day_sum"))
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    joined = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        "day_sum",
        F.last("day_sum", ignorenulls=True).over(w).alias("filled_sum"),
        F.col("day_sum").isNull().alias("is_gap"),
    )


@register(
    "events_value_trend",
    oracle=f"""
WITH pts AS (
  SELECT user_id,
         CAST((epoch_ms(ts) - MIN(epoch_ms(ts)) OVER (PARTITION BY user_id))
              // 86400000 AS DOUBLE) AS x,
         value AS y
  FROM events
),
s AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         {sql_dsum("x")} AS sx,
         {sql_dsum("y")} AS sy,
         {sql_dsum("x * y")} AS sxy,
         {sql_dsum("x * x")} AS sxx
  FROM pts GROUP BY user_id
)
SELECT user_id, n,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx)
       END AS slope_per_day,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
       END AS intercept
FROM s
WHERE n >= 2
""",
)
def events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend of value over time (slope per day +
    intercept) — the grouped linear-regression shape (`regr_slope`/
    `regr_intercept`) restated in explicitly deterministic sums.

    Built-in regr_* aggregates sum doubles in partition order
    (nondeterministic across engines and re-runs), so the five moment
    sums go through the decimal-cast SUM instead; the closed-form slope
    is then a fixed double expression over exact aggregates. The x axis
    is WHOLE days since the user's first event (integer floor-div, exact
    in both engines) so x and x·y stay low-digit and the decimal casts
    quantize identically cross-engine — which is also the
    numerically sane parameterization at any scale. One hash aggregation
    on user_id; the window MIN shares the same shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    t_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id")
    delta = (t_ms - F.min(t_ms).over(w)).cast("bigint")
    pts = ev.select(
        "user_id",
        delta.alias("delta"),
        F.col("value").alias("y"),
    ).select(
        "user_id",
        F.expr("CAST(delta DIV 86400000 AS DOUBLE)").alias("x"),
        "y",
    )
    s = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum("x").alias("sx"),
        dsum("y").alias("sy"),
        dsum_expr(F.col("x") * F.col("y")).alias("sxy"),
        dsum_expr(F.col("x") * F.col("x")).alias("sxx"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / det
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.filter(F.col("n") >= 2).select(
        "user_id",
        "n",
        F.when(det == 0, F.lit(None)).otherwise(slope).alias("slope_per_day"),
        F.when(det == 0, F.lit(None)).otherwise(intercept).alias("intercept"),
    )


@register(
    "events_top_paths",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS step_a,
       next_type AS step_b,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(COUNT(*) AS DOUBLE)
         / SUM(COUNT(*)) OVER (PARTITION BY event_type) AS p_next
FROM seq
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""",
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order path analysis: the transition matrix of consecutive
    event types per user — counts and conditional probabilities
    P(next | current), the Markov-chain view of user journeys that
    product analytics builds sankey diagrams from.

    Scale shape: one per-user window sort produces the (step, next)
    pairs map-side; the transition rollup is a hash aggregation on a
    |event_types|² key space — tiny output regardless of corpus size;
    the row-normalization window runs over that tiny aggregate, not the
    events. Integer counts; one BIGINT/BIGINT-shaped division.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("step_a"), F.col("next_type").alias("step_b")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    wrow = Window.partitionBy("step_a")
    return counts.select(
        "step_a",
        "step_b",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wrow)
        ).alias("p_next"),
    )


@register(
    "events_rolling_actives",
    oracle="""
WITH user_days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
covered AS (
  SELECT user_id,
         day + to_days(CAST(off AS INTEGER)) AS window_end
  FROM user_days, unnest(generate_series(0, 6)) AS t(off)
),
spans AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM user_days)
SELECT c.window_end,
       CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS n_active_7d
FROM covered c CROSS JOIN spans s
WHERE c.window_end BETWEEN s.d0 AND s.d1
GROUP BY c.window_end
""",
)
def events_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users (WAU) per day — the
    distinct-count-over-sliding-window metric that has NO window-function
    form (COUNT(DISTINCT) OVER a frame is unsupported in both engines,
    and for good reason: naive per-frame distinct is quadratic).

    Spark-first restatement: dedupe to (user, active-day) — the only
    corpus-sized shuffle — then explode each active day into the ≤ 7
    window-end days it contributes to and count distinct per window end.
    Fan-out is exactly 7×|user-days| (bounded, map-side), versus the
    7-way self-join of the naive form. Window ends outside the observed
    day span are clipped so every reported window is fully defined.
    At 100 TB the same shape runs with an HLL sketch per day
    (sketch_battery) when exact distincts stop being worth their shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    covered = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("off"),
        "day",
    ).select(
        "user_id",
        (F.col("day") + F.make_dt_interval(days=F.col("off"))).alias(
            "window_end"
        ),
    )
    spans = user_days.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    return (
        covered.crossJoin(F.broadcast(spans))
        .filter(F.col("window_end").between(F.col("d0"), F.col("d1")))
        .groupBy("window_end")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active_7d"))
    )


# Shared transition-matrix SQL: ONE text used by both the DuckDB oracle
# (formatted with the `events` base table) and the Spark materialization
# in recursive_markov_paths (formatted with its per-call view name), so
# the two can never drift (r13 ADVICE, low).
_MARKOV_TRANS_SQL = """
SELECT event_type AS step_a, next_type AS step_b,
       CAST(COUNT(*) AS DOUBLE)
         / SUM(COUNT(*)) OVER (PARTITION BY event_type) AS p
FROM (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM {events}
) s
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""

_MARKOV_SQL = f"""
WITH RECURSIVE trans AS (
{_MARKOV_TRANS_SQL.format(events="events")}
),
paths(path, last, depth, prob) AS (
  SELECT 'view', 'view', 0, CAST(1.0 AS DOUBLE)
  UNION ALL
  SELECT p.path || '>' || t.step_b, t.step_b, p.depth + 1, p.prob * t.p
  FROM paths p JOIN trans t ON t.step_a = p.last
  WHERE p.depth < 3
)
SELECT path, CAST(prob AS DOUBLE) AS prob
FROM paths WHERE depth = 3
"""


@register("recursive_markov_paths", oracle=_MARKOV_SQL)
def recursive_markov_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 3-step user-journey paths from 'view' with their Markov-chain
    probabilities (product of first-order transition probabilities) — a
    RECURSIVE CTE run natively by Spark 4's `WITH RECURSIVE` support,
    with the identical SQL text as the DuckDB oracle.

    Recursion here is DEPTH-BOUNDED (the `depth < 3` guard), which is
    the only safe recursion shape under UNION ALL semantics (Spark 4
    does not yet support deduplicating UNION in recursive CTEs, so
    cyclic closures still belong to the iterative DataFrame loop —
    operators/dedup.connected_components). Each recursion step is one
    broadcast-able join of the frontier against the |event_types|²
    transition matrix; the frontier is paths^depth rows, bounded by the
    depth guard. The probability product multiplies left-to-right in
    recursion order — the same expression tree in both engines, so the
    doubles agree bitwise.
    """
    import uuid as _uuid

    # Spark's UnionLoopExec re-evaluates every
    # non-recursive relation referenced from the recursive branch ONCE
    # PER ITERATION — the transition-matrix subquery (events scan +
    # window + agg) ran 4x (measured 3.1s -> 0.74s warm after
    # materializing it; rows identical). Build `trans` once, checkpoint
    # the |event_types|^2 table, and recurse over the view; the oracle
    # keeps the original single-statement WITH RECURSIVE text, so the
    # green row proves the restructuring is equivalence-preserving.
    #
    # r14 (ADVICE low): view names are per-call-unique and dropped as
    # soon as spark.sql() has ANALYZED the statement (the resolved plan
    # embeds the relations, so the returned DataFrame no longer needs
    # the names) — no session-global 'events'/'markov_trans_mat' names
    # left registered to collide with concurrent queries. The shared
    # transition SQL lives in _MARKOV_TRANS_SQL, used by both the
    # oracle text (over the DuckDB `events` table) and this body.
    tag = _uuid.uuid4().hex[:8]
    ev_view = f"markov_events_{tag}"
    trans_view = f"markov_trans_{tag}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(ev_view)
    try:
        trans = spark.sql(
            _MARKOV_TRANS_SQL.format(events=ev_view)
        ).localCheckpoint()
    finally:
        spark.catalog.dropTempView(ev_view)
    trans.createOrReplaceTempView(trans_view)
    try:
        return spark.sql(
            f"""
WITH RECURSIVE paths(path, last, depth, prob) AS (
  SELECT 'view', 'view', 0, CAST(1.0 AS DOUBLE)
  UNION ALL
  SELECT p.path || '>' || t.step_b, t.step_b, p.depth + 1, p.prob * t.p
  FROM paths p JOIN {trans_view} t ON t.step_a = p.last
  WHERE p.depth < 3
)
SELECT path, CAST(prob AS DOUBLE) AS prob
FROM paths WHERE depth = 3
"""
        )
    finally:
        spark.catalog.dropTempView(trans_view)


@register(
    "events_attribution_last_touch",
    oracle="""
WITH flank AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type NOT IN ('purchase', 'error')
                         THEN event_type END IGNORE NULLS) OVER w
           AS last_touch,
         last_value(CASE WHEN event_type NOT IN ('purchase', 'error')
                         THEN ts END IGNORE NULLS) OVER w AS touch_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT last_touch AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases
FROM flank
WHERE event_type = 'purchase'
  AND last_touch IS NOT NULL
  AND ts - touch_ts <= INTERVAL 7 DAY
GROUP BY last_touch
""",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent non-purchase, non-error event within a 7-day lookback —
    the marketing-attribution query that is naively a per-purchase as-of
    join and here is ONE flanking window pass (the same
    amortize-the-as-of-join trick as time_asof_interpolate: every event
    carries its preceding touch, purchases just filter).

    One shuffle (the per-user window sort); the rollup output is
    |channels| rows. The 1-PRECEDING frame excludes the purchase row
    itself without a self-join.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = ~F.col("event_type").isin("purchase", "error")
    flank = ev.select(
        "event_type",
        "ts",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("last_touch"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    return (
        flank.filter(
            (F.col("event_type") == "purchase")
            & F.col("last_touch").isNotNull()
            & (
                F.unix_millis(F.col("ts").cast("timestamp"))
                - F.unix_millis(F.col("touch_ts").cast("timestamp"))
                <= 7 * 86400 * 1000
            )
        )
        .groupBy(F.col("last_touch").alias("channel"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_purchases"))
    )


@register(
    "events_rate_anomaly",
    oracle="""
WITH d AS (
  SELECT date_trunc('day', ts) AS day, COUNT(*) AS n_events
  FROM events GROUP BY 1
),
l AS (
  SELECT day, n_events,
         LAG(n_events) OVER (ORDER BY day) AS prev_n
  FROM d
)
SELECT day, n_events, prev_n,
       CAST(n_events AS DOUBLE) / prev_n AS rate_ratio,
       (CAST(n_events AS DOUBLE) / prev_n >= 2.0
        OR CAST(n_events AS DOUBLE) / prev_n <= 0.5) AS is_anomaly
FROM l WHERE prev_n IS NOT NULL
""",
)
def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day event-rate anomaly flags: each day's volume vs the
    previous day's, flagged when the ratio doubles or halves — the
    pipeline-health alarm that catches a dead producer or a duplicate
    replay before it poisons downstream aggregates (the reference's
    silently-dropped-flush failure mode, ElasticSearchBulkOperator
    .java:84-96, is exactly what this detects from the consumer side).

    Scale shape: the window runs over the DAY-grain aggregate (≤ a few
    thousand rows for years of data), not events — the global ORDER BY
    is a single tiny partition by construction; the event-grain work is
    one map-side date_trunc + hash aggregation. Ratio = double division
    of two exact ints (correctly rounded in both engines).
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.orderBy("day")
    l = d.select(
        "day", "n_events", F.lag("n_events").over(w).alias("prev_n")
    ).filter(F.col("prev_n").isNotNull())
    ratio = F.col("n_events").cast("double") / F.col("prev_n")
    return l.select(
        "day",
        "n_events",
        "prev_n",
        ratio.alias("rate_ratio"),
        ((ratio >= 2.0) | (ratio <= 0.5)).alias("is_anomaly"),
    )


@register(
    "events_pattern_within",
    oracle="""
WITH vp AS (
  SELECT user_id, event_id, ts, event_type
  FROM events WHERE event_type IN ('view', 'purchase')
),
nxt AS (
  SELECT user_id, event_id, ts, event_type,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
         ) AS next_purchase_ts
  FROM vp
),
flags AS (
  SELECT user_id,
         (next_purchase_ts IS NOT NULL
          AND next_purchase_ts <= ts + INTERVAL 1 HOUR) AS converted
  FROM nxt WHERE event_type = 'view'
)
SELECT user_id,
       COUNT(*) AS n_views,
       COUNT(*) FILTER (WHERE converted) AS n_converted,
       CAST(COUNT(*) FILTER (WHERE converted) AS DOUBLE) / COUNT(*)
         AS conv_rate
FROM flags
GROUP BY user_id
HAVING COUNT(*) FILTER (WHERE converted) > 0
""",
)
def events_pattern_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained sequence pattern (MATCH_RECOGNIZE-lite): per
    user, views followed by a purchase within one hour — the
    conversion-attribution pattern where the deadline matters, not just
    the order (events_funnel checks order only).

    Scale shape: one keyed window pass — the flanking MIN-over-following
    turns "next purchase after this view" into a single per-user sorted
    scan (no per-view as-of join, no self-join): shuffle once on
    user_id, sort within key, done. The HAVING keeps the result to
    converting users only.
    """
    ev = load_table(spark, sf_dir, "events")
    vp = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = vp.select(
        "user_id",
        "event_type",
        "ts",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).over(w).alias("next_purchase_ts"),
    )
    flags = nxt.filter(F.col("event_type") == "view").select(
        "user_id",
        (
            F.col("next_purchase_ts").isNotNull()
            & (
                F.col("next_purchase_ts")
                <= F.col("ts") + F.expr("INTERVAL 1 HOUR")
            )
        ).alias("converted"),
    )
    cnt = F.count(F.lit(1))
    conv = F.sum(F.col("converted").cast("long"))
    return (
        flags.groupBy("user_id")
        .agg(
            cnt.alias("n_views"),
            conv.alias("n_converted"),
            (conv.cast("double") / cnt).alias("conv_rate"),
        )
        .filter(F.col("n_converted") > 0)
    )


DEBOUNCE_SECONDS = 5


@register(
    "events_debounce",
    oracle=f"""
WITH g AS (
  SELECT event_id, user_id, event_type, ts, value,
         LAG(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT event_id, user_id, event_type, ts, value
FROM g
WHERE prev_ts IS NULL
   OR epoch_us(ts) - epoch_us(prev_ts) > {DEBOUNCE_SECONDS} * 1000000
""",
)
def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce the changefeed: drop events of the same (user, type)
    arriving within 5 s of the previous kept-or-dropped one — the
    double-fire suppression every CDC consumer needs (the reference
    forwards every HBase put verbatim, HbaseDataSyncEsObserver.java:
    83-97, so a client retry storm becomes N identical index writes;
    this is the guard in front of that).

    Lag-based debounce (gap vs the previous RAW event) rather than
    session-based: one keyed window pass, no state beyond the previous
    row — which is also why the same predicate runs unchanged as a
    watermarked stream (cf. stream_dedup_within_watermark for the
    exact-duplicate flavor).

    Scale shape: one shuffle on (user_id, event_type), one sorted scan
    per key, map-side filter. Interval comparison is exact timestamp
    arithmetic in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        "value",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    # exact microsecond interval arithmetic on both sides (a seconds
    # cast would truncate sub-second gaps and disagree with the oracle's
    # epoch_us)
    return g.filter(
        F.col("prev_ts").isNull()
        | (
            (F.col("ts") - F.col("prev_ts"))
            > F.expr(f"INTERVAL {DEBOUNCE_SECONDS} SECOND")
        )
    ).select("event_id", "user_id", "event_type", "ts", "value")


@register(
    "join_point_in_time",
    oracle="""
WITH vp AS (
  SELECT event_id, user_id, event_type, value, ts
  FROM events WHERE event_type IN ('view', 'purchase')
),
g AS (
  SELECT event_id, user_id, event_type, ts,
         LAST_VALUE(CASE WHEN event_type = 'view' THEN value END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_view_value
  FROM vp
)
SELECT event_id, user_id, epoch_ms(ts) AS purchase_ts_ms,
       last_view_value,
       last_view_value IS NULL AS cold_start
FROM g WHERE event_type = 'purchase'
""",
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join: for every purchase (the
    observation spine), the user's most recent view VALUE strictly
    before it — the leak-proof feature lookup every training-set build
    needs (using a view at-or-after the purchase would leak the future
    into the feature).

    Scale shape: the canonical Spark PIT form is NOT an interval
    containment join (quadratic blow-up risk per entity) but
    union-sort-window: union feature rows with spine rows, one shuffle
    on the entity key, one ordered scan with an IGNORE-NULLS flanking
    window ending at 1 PRECEDING (which enforces the strictly-before
    rule even for same-timestamp collisions via the event_id
    tiebreaker). Cost is one sort per entity partition regardless of
    how many feature versions precede each observation. Feature values
    are carried verbatim (no arithmetic) — hash-exact in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    vp = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    feat = F.last(
        F.when(F.col("event_type") == "view", F.col("value")),
        ignorenulls=True,
    ).over(w)
    return (
        vp.select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_millis(F.col("ts").cast("timestamp")).alias(
                "purchase_ts_ms"
            ),
            feat.alias("last_view_value"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "purchase_ts_ms",
            "last_view_value",
            F.col("last_view_value").isNull().alias("cold_start"),
        )
    )


STICKY_WINDOW_DAYS = 30


@register(
    "events_dau_mau_stickiness",
    oracle=f"""
WITH ud AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
marks AS (
  SELECT user_id, day + to_days(CAST(o AS INTEGER)) AS wend
  FROM ud, unnest(generate_series(0, {STICKY_WINDOW_DAYS - 1})) AS t(o)
),
mau AS (
  SELECT wend AS day, COUNT(DISTINCT user_id) AS mau FROM marks GROUP BY wend
)
SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(m.mau AS BIGINT) AS mau,
       CAST(d.dau AS DOUBLE) / m.mau AS stickiness
FROM dau d JOIN mau m USING (day)
""",
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day: daily active users over 30-day
    trailing actives — the engagement ratio every product dashboard
    leads with. Only days with activity appear (the DAU join keeps the
    report to observed days).

    Scale shape: the COUNT(DISTINCT)-over-trailing-window that neither
    engine supports natively becomes a bounded day-explode (each
    (user, day) marks the 30 window-ends it contributes to — 30×
    the per-day distinct table, which is ALREADY tiny vs events), then
    two plain distinct aggregations. Same pattern as
    events_rolling_actives (7-day), at the monthly horizon with the
    ratio on top; ratio = double division of exact ints.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    marks = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(STICKY_WINDOW_DAYS - 1))
        ).alias("o"),
        "day",
    ).select(
        "user_id",
        (F.col("day") + F.make_dt_interval(days=F.col("o"))).alias("wend"),
    )
    mau = marks.groupBy(F.col("wend").alias("day")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return dau.join(mau, "day").select(
        "day",
        F.col("dau").cast("bigint").alias("dau"),
        F.col("mau").cast("bigint").alias("mau"),
        (F.col("dau").cast("double") / F.col("mau")).alias("stickiness"),
    )


@register(
    "events_hourly_seasonality",
    oracle=f"""
SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,  -- DuckDB Sun=0; Spark Sun=1
       CAST(EXTRACT(HOUR FROM ts) AS INT) AS hour,
       COUNT(*) AS n_events,
       {sql_dsum("value")} AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week seasonality profile: event volume and
    value mass per calendar cell — the load-shape table behind capacity
    planning and anomaly baselines (events_rate_anomaly flags a day
    against its neighbor; this is the per-cell baseline it would
    graduate to).

    Scale shape: calendar-cell extraction is map-side; the aggregate has
    at most 7×24 groups so the shuffle carries only partials — the
    cheapest possible profile of an arbitrarily large event stream.
    Value sums through exact decimals.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
    )


@register(
    "orders_open_backlog",
    oracle="""
WITH completion AS (
  SELECT o.o_orderkey,
         date_trunc('day', o.o_orderdate) AS start_day,
         date_trunc('day', MAX(l.l_shipdate)) AS end_day
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
),
deltas AS (
  SELECT start_day AS day, 1 AS delta FROM completion WHERE end_day > start_day
  UNION ALL
  SELECT end_day AS day, -1 AS delta FROM completion WHERE end_day > start_day
),
daily AS (SELECT day, SUM(delta) AS d FROM deltas GROUP BY day)
SELECT day,
       CAST(SUM(d) OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS open_orders
FROM daily
""",
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog time series: how many orders are in flight
    (placed but not fully shipped) on each day — the interval-counting
    pattern (+1 at start, −1 at end, cumulative sum) that turns
    interval-overlap questions into a LINEAR sweep instead of a per-day
    containment join (which explodes as days × orders).

    Same-day-complete orders contribute NO delta at all — both branches
    filter end_day > start_day, so the +1 and -1 that would cancel are
    simply never emitted (filtering only the -1 side would count
    same-day orders as open forever; latent on TPC-H because l_shipdate
    is always after o_orderdate, but wrong on general data). The
    cumulative window runs over the DAY-grain delta table — thousands
    of rows regardless of order volume, the only sound shape at 100 TB.
    Integer arithmetic end-to-end.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    completion = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.date_trunc("day", "o_orderdate").alias("start_day"),
            F.date_trunc("day", "last_ship").alias("end_day"),
        )
        .filter(F.col("end_day") > F.col("start_day"))
    )
    deltas = completion.select(
        F.col("start_day").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        completion.select(
            F.col("end_day").alias("day"), F.lit(-1).alias("delta")
        )
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("d"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day", F.sum("d").over(w).cast("bigint").alias("open_orders")
    )


@register(
    "events_interarrival_stats",
    oracle="""
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY event_type
                                               ORDER BY ts, event_id))
           AS gap_us
  FROM events
)
SELECT event_type,
       CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
       CAST(quantile_disc(gap_us, 0.5) AS BIGINT) AS median_gap_us,
       CAST(quantile_disc(gap_us, 0.95) AS BIGINT) AS p95_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY event_type
""",
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type: median, p95, and
    max gap between consecutive events — the feed-health profile that
    sets alert thresholds (a max gap far beyond p95 is the dead-producer
    signature events_rate_anomaly catches a day later; this catches it
    in minutes).

    Determinism: gaps are exact microsecond integers (epoch_us on both
    sides); percentile_disc picks actual gap values — no float
    arithmetic anywhere.

    Scale shape: one keyed window pass (shuffle on event_type) then a
    grouped exact percentile over the gap column; at 100 TB the
    percentile swaps to approx_percentile with the plan otherwise
    unchanged, and the window key gains a day bucket so no single type
    serializes on one partition.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.select(
        "event_type",
        (
            micros
            - F.unix_micros(F.lag(F.col("ts").cast("timestamp")).over(w))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    pd_ = lambda q: F.expr(  # noqa: E731
        f"percentile_disc({q}) WITHIN GROUP (ORDER BY gap_us)"
    ).cast("bigint")
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        pd_(0.5).alias("median_gap_us"),
        pd_(0.95).alias("p95_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
    )


@register(
    "orders_ship_latency_monthly",
    oracle="""
WITH lat AS (
  SELECT date_trunc('month', o.o_orderdate) AS month,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS lag_days
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
SELECT month,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(quantile_disc(lag_days, 0.5) AS BIGINT) AS median_days,
       CAST(quantile_disc(lag_days, 0.95) AS BIGINT) AS p95_days,
       CAST(MAX(lag_days) AS BIGINT) AS max_days
FROM lat
GROUP BY month
""",
)
def orders_ship_latency_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLO report by order month: median / p95 /
    max days from order placement to each line item's ship date — the
    fulfillment-latency percentile table every operations dashboard
    tracks against its SLA (and the business-side twin of
    events_interarrival_stats' feed-health percentiles).

    Determinism: latency is an exact integer day difference;
    percentile_disc returns actual data values. Scale shape: one
    fact-fact join on the orderkey both tables are bucketable by, one
    grouped exact percentile per month (≤ a few hundred groups); the
    approx_percentile swap at 100 TB changes one function name.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lat = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("lag_days"),
    )
    pd_ = lambda q: F.expr(  # noqa: E731
        f"percentile_disc({q}) WITHIN GROUP (ORDER BY lag_days)"
    ).cast("bigint")
    return lat.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        pd_(0.5).alias("median_days"),
        pd_(0.95).alias("p95_days"),
        F.max("lag_days").cast("bigint").alias("max_days"),
    )


@register(
    "window_session_dynamic_gap",
    oracle="""
WITH e AS (
  SELECT user_id, ts, event_id,
         ts + CASE WHEN event_type IN ('purchase', 'error')
                   THEN INTERVAL 5 MINUTE ELSE INTERVAL 30 MINUTE END
           AS end_ts
  FROM events
),
r AS (
  SELECT *, MAX(end_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS prev_max_end
  FROM e
),
f AS (
  SELECT *, CASE WHEN prev_max_end IS NULL OR ts >= prev_max_end
                 THEN 1 ELSE 0 END AS is_new
  FROM r
),
s AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS sid
  FROM f
)
SELECT user_id, MIN(ts) AS session_start, MAX(end_ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
""",
)
def window_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC, per-event inactivity gap
    (`session_window(ts, gap_expr)`, Spark 3.2+): terminal events
    (purchase/error) close their session after 5 minutes of silence
    while browsing events keep it alive for 30 — the engagement
    semantics fixed-gap sessions (window_session, stream_session_agg)
    cannot express, because the timeout is a property of the LAST
    event, not of the key.

    The oracle restates Spark's merge rule from first principles: each
    event contributes the interval [ts, ts + gap(event)); intervals
    merge while the next event starts strictly BEFORE the running max
    of previous interval ends (an event exactly at the boundary starts
    a new session), so sessions are islands under a running-max sweep
    — one window pass + one grouped aggregate, the same single-shuffle
    shape at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    gap = (
        F.when(
            F.col("event_type").isin("purchase", "error"), F.lit("5 minutes")
        ).otherwise(F.lit("30 minutes"))
    )
    return (
        ev.groupBy(F.session_window(F.col("ts"), gap), "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


CEP_STEP_MS = 86_400_000  # each funnel step must follow within 24 hours
# (fixture users average ~40 events over a long span, so a 1-hour step
# yields an empty funnel at every SF; 24 h matches the fixture cadence)
CEP_ORD_BITS = 22  # event_id packed into the low bits of the order key
# 22 bits = 4.19M event ids (covers sf1's ~2M; sf0.1 uses 200k) while
# epoch_ms << 22 stays under 2^63 (1.8e12 * 4.2e6 = 7.4e18 < 9.2e18);
# 23 bits would overflow BIGINT for post-2024 timestamps.


@register(
    "events_cep_funnel_3step",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_type,
         epoch_ms(ts) * {1 << CEP_ORD_BITS} + event_id AS ord,
         epoch_ms(ts) AS t_ms
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
w AS (
  SELECT user_id, event_type, ord, t_ms,
         MAX(CASE WHEN event_type = 'view' THEN ord END)
           OVER (PARTITION BY user_id ORDER BY ord
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_view_ord
  FROM e
),
c AS (
  SELECT user_id, event_type, ord, t_ms,
         MAX(CASE WHEN event_type = 'click'
                   AND last_view_ord IS NOT NULL
                   AND last_view_ord // {1 << CEP_ORD_BITS}
                       >= t_ms - {CEP_STEP_MS}
                  THEN ord END)
           OVER (PARTITION BY user_id ORDER BY ord
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_chained_click_ord
  FROM w
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_funnel_purchases
FROM c
WHERE event_type = 'purchase'
  AND last_chained_click_ord IS NOT NULL
  AND last_chained_click_ord // {1 << CEP_ORD_BITS} >= t_ms - {CEP_STEP_MS}
GROUP BY user_id
""",
)
def events_cep_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step CEP sequence detection — view → click → purchase, each
    step within 24 hours of the previous (CEP_STEP_MS) — counted per user: the
    complex-event-processing pattern one level up from
    events_pattern_within's 2-step form (a purchase only counts if it
    follows a click that ITSELF followed a view within the step bound,
    so a stray purchase after an un-preceded click is rejected — the transitive condition
    that makes 3-step patterns irreducible to two 2-step passes).

    Single-pass plan, NO joins: events are totally ordered per user by
    the packed key ord = epoch_ms << 22 | event_id (event_id fits 22
    bits at every fixture SF incl. sf1; the packing gives a BIGINT total order
    with the (ts, event_id) tie-break both engines agree on). Two
    running-MAX windows — "latest view so far", then "latest click
    already chained to a view" — turn the sequence test into two
    constant-state comparisons per row; ROWS ... AND 1 PRECEDING
    enforces strict precedence even at equal timestamps. One shuffle on
    user_id, O(1) state per user: at 100 TB this is the CEP shape that
    survives, where the naive 3-way interval self-join explodes.

    All arithmetic BIGINT (epoch millis, shifts, integer division) —
    hash-exact across engines.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    e = ev.select(
        "user_id",
        "event_type",
        (ms * (1 << CEP_ORD_BITS) + F.col("event_id")).alias("ord"),
        ms.alias("t_ms"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = e.withColumn(
        "last_view_ord",
        F.max(
            F.when(F.col("event_type") == "view", F.col("ord"))
        ).over(w_prev),
    )
    chained_click = F.when(
        (F.col("event_type") == "click")
        & F.col("last_view_ord").isNotNull()
        & (
            F.expr(f"last_view_ord DIV {1 << CEP_ORD_BITS}")
            >= F.col("t_ms") - CEP_STEP_MS
        ),
        F.col("ord"),
    )
    c = w.withColumn(
        "last_chained_click_ord", F.max(chained_click).over(w_prev)
    )
    return (
        c.filter(
            (F.col("event_type") == "purchase")
            & F.col("last_chained_click_ord").isNotNull()
            & (
                F.expr(f"last_chained_click_ord DIV {1 << CEP_ORD_BITS}")
                >= F.col("t_ms") - CEP_STEP_MS
            )
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_funnel_purchases"))
    )


# --- 3-step sequential pattern mining ---------------------------------------

SEQ3_MIN_SUP = 25  # minimum occurrence support to report a pattern


@register(
    "events_seq3_patterns",
    oracle=f"""
WITH seq AS (
  SELECT event_type AS t1,
         LEAD(event_type) OVER w AS t2,
         LEAD(event_type, 2) OVER w AS t3,
         ts AS ts1,
         LEAD(ts) OVER w AS ts2,
         LEAD(ts, 2) OVER w AS ts3,
         user_id
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ok AS (
  SELECT t1, t2, t3, user_id FROM seq
  WHERE t3 IS NOT NULL
    AND ts2 <= ts1 + INTERVAL 24 HOURS
    AND ts3 <= ts2 + INTERVAL 24 HOURS
)
SELECT t1, t2, t3,
       COUNT(*) AS n_occurrences,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM ok
GROUP BY t1, t2, t3
HAVING COUNT(*) >= {SEQ3_MIN_SUP}
""",
)
def events_seq3_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining, PrefixSpan's length-3 contiguous core:
    frequent 3-step event-type sequences where each hop happens within
    24 hours of the previous — the patterns (browse→search→purchase)
    a journey-analysis or next-action model mines from clickstreams.
    Support is reported both as raw occurrences and as distinct users,
    and only patterns clearing the occurrence floor survive (the
    a-priori support threshold). events_top_paths is the length-2
    unconstrained transition matrix; this adds sequence depth AND the
    time-gap constraint that separates intent chains from coincidence.

    Scale shape: one per-user window sort emits every candidate window
    position map-side (two LEADs — no self-joins, no explosion beyond
    row count); the support rollup is a hash aggregation on the tiny
    |types|³ key space, and distinct-user support rides the same
    shuffle. At 100 TB this is exactly one keyed sort + one aggregation
    regardless of pattern count.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type").over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
        F.col("ts").alias("ts1"),
        F.lead("ts").over(w).alias("ts2"),
        F.lead("ts", 2).over(w).alias("ts3"),
    )
    ok = seq.filter(
        F.col("t3").isNotNull()
        & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 24 HOURS"))
        & (F.col("ts3") <= F.col("ts2") + F.expr("INTERVAL 24 HOURS"))
    )
    return (
        ok.groupBy("t1", "t2", "t3")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .filter(F.col("n_occurrences") >= SEQ3_MIN_SUP)
    )


# --- stationary distribution of the event-type Markov chain ------------------

MARKOV_PI_ITERS = 3


def _stationary_oracle() -> str:
    iters = []
    prev = "pi0"
    for t in range(1, MARKOV_PI_ITERS + 1):
        iters.append(
            f"pi{t} AS (\n"
            f"  SELECT t.step_b AS state,\n"
            f"         CAST(SUM(CAST(p.pi * t.p AS DECIMAL(28,12)))"
            f" AS DOUBLE) AS pi\n"
            f"  FROM trans t JOIN {prev} p ON p.state = t.step_a\n"
            f"  GROUP BY t.step_b\n"
            f")"
        )
        prev = f"pi{t}"
    return (
        """
WITH trans AS (
  SELECT event_type AS step_a, next_type AS step_b,
         CAST(COUNT(*) AS DOUBLE)
           / SUM(COUNT(*)) OVER (PARTITION BY event_type) AS p
  FROM (
    SELECT event_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
  ) s
  WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
states AS (SELECT DISTINCT step_a AS state FROM trans),
ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM states),
pi0 AS (SELECT state, CAST(1.0 AS DOUBLE) / ns.n AS pi
        FROM states CROSS JOIN ns),
"""
        + ",\n".join(iters)
        + f""",
emp AS (
  SELECT event_type AS state,
         CAST(COUNT(*) AS DOUBLE)
           / SUM(COUNT(*)) OVER () AS empirical_share
  FROM events GROUP BY event_type
)
SELECT e.state, p.pi AS stationary_pi, e.empirical_share,
       p.pi - e.empirical_share AS gap
FROM emp e JOIN {prev} p ON p.state = e.state
"""
    )


@register("events_markov_stationary", oracle=_stationary_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain,
    estimated by {MARKOV_PI_ITERS} unrolled power steps π' = πP from the
    uniform start — where the journey settles if behavior is stationary,
    set against each state's raw empirical share. A large gap flags a
    non-mixing funnel stage (users pool there structurally, not because
    traffic lands there) — the chain-level complement of
    `recursive_markov_paths`' path enumeration over the SAME transition
    matrix (same LEAD-per-user convention, same count/row-total
    probabilities).

    Determinism: transition probabilities are single divisions of exact
    BIGINT counts; each power step sums π·p through DECIMAL(28,12)
    (order-free); the state space is the event-type vocabulary so every
    iteration is a |states|²-row join — driver-free, and at 100 TB the
    only data-sized pass is the one LEAD window building the matrix.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("step_a"),
            F.col("next_type").alias("step_b"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wtot = Window.partitionBy("step_a")
    trans = pairs.select(
        "step_a",
        "step_b",
        (
            F.col("cnt").cast("double")
            / F.sum("cnt").over(wtot).cast("double")
        ).alias("p"),
    )
    states = trans.select(F.col("step_a").alias("state")).distinct()
    ns = states.agg(F.count(F.lit(1)).cast("double").alias("n"))
    pi = states.crossJoin(F.broadcast(ns)).select(
        "state", (F.lit(1.0) / F.col("n")).alias("pi")
    )
    d12 = lambda c: F.sum(c.cast("decimal(28,12)")).cast("double")  # noqa: E731
    for _ in range(MARKOV_PI_ITERS):
        pi = (
            trans.join(
                F.broadcast(pi.withColumnRenamed("state", "step_a")), "step_a"
            )
            .groupBy(F.col("step_b").alias("state"))
            .agg(d12(F.col("pi") * F.col("p")).alias("pi"))
        )
    wall = Window.partitionBy()
    emp = (
        ev.groupBy(F.col("event_type").alias("state"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "state",
            (
                F.col("c").cast("double")
                / F.sum("c").over(wall).cast("double")
            ).alias("empirical_share"),
        )
    )
    return emp.join(pi, "state").select(
        "state",
        F.col("pi").alias("stationary_pi"),
        "empirical_share",
        (F.col("pi") - F.col("empirical_share")).alias("gap"),
    )


# --- CUSUM changepoint on the daily event-count series ------------------------


@register(
    "events_changepoint_cusum",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
),
m AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_daily
  FROM daily
),
dev AS (
  SELECT d.day, d.cnt,
         CAST(CAST(d.cnt AS DOUBLE) - m.mean_daily AS DECIMAL(28,6)) AS dv
  FROM daily d CROSS JOIN m
),
cs AS (
  SELECT day, cnt,
         SUM(dv) OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cusum
  FROM dev
),
cp AS (
  SELECT day AS cp_day, CAST(cusum AS DOUBLE) AS cusum_at
  FROM cs ORDER BY abs(cusum) DESC, day LIMIT 1
)
SELECT cp.cp_day AS changepoint_day,
       cp.cusum_at,
       m.n_days,
       m.mean_daily,
       CAST(SUM(CASE WHEN c.day <= cp.cp_day THEN c.cnt ELSE 0 END)
            AS DOUBLE)
         / SUM(CASE WHEN c.day <= cp.cp_day THEN 1 ELSE 0 END)
         AS mean_before,
       CAST(SUM(CASE WHEN c.day > cp.cp_day THEN c.cnt ELSE 0 END)
            AS DOUBLE)
         / SUM(CASE WHEN c.day > cp.cp_day THEN 1 ELSE 0 END)
         AS mean_after
FROM cs c CROSS JOIN cp CROSS JOIN m
GROUP BY cp.cp_day, cp.cusum_at, m.n_days, m.mean_daily
""",
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily event volume: the day
    where the cumulative sum of deviations from the global mean peaks in
    magnitude is the single most likely level-shift point (Page 1954) —
    with the before/after means quantifying the shift. Complements the
    MAD outlier flags (single bad days) and the seasonality profile
    (periodic structure) with the one thing neither sees: a persistent
    regime change.

    Determinism: daily counts are exact; each deviation is quantized to
    DECIMAL(28,6) BEFORE the running sum, so the prefix sums are exact
    decimal arithmetic — immune to the engines' differing window-sum
    association orders (DuckDB's segment tree vs Spark's streaming
    accumulation); the argmax compares decimals (exact) with the day as
    tiebreak. Before/after means are integer-sum divisions.

    Scale shape: the only data-sized pass is the day-grain groupBy; the
    series itself is O(days), so the global-ordered window is
    calendar-sized, not data-sized — same doctrine as the seasonality
    and drift audits.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    m = daily.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (
            F.sum("cnt").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_daily"),
    )
    dev = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "cnt",
        "n_days",
        "mean_daily",
        (F.col("cnt").cast("double") - F.col("mean_daily"))
        .cast("decimal(28,6)")
        .alias("dv"),
    )
    wrun = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cs = dev.withColumn("cusum", F.sum("dv").over(wrun))
    cp = (
        ranked_topk(cs, [F.abs(F.col("cusum")).desc(), "day"], 1)
        .select(
            F.col("day").alias("cp_day"),
            F.col("cusum").cast("double").alias("cusum_at"),
        )
    )
    return (
        cs.crossJoin(F.broadcast(cp))
        .groupBy("cp_day", "cusum_at", "n_days", "mean_daily")
        .agg(
            (
                F.sum(
                    F.when(F.col("day") <= F.col("cp_day"), F.col("cnt"))
                    .otherwise(0)
                ).cast("double")
                / F.sum(
                    F.when(F.col("day") <= F.col("cp_day"), 1).otherwise(0)
                )
            ).alias("mean_before"),
            (
                F.sum(
                    F.when(F.col("day") > F.col("cp_day"), F.col("cnt"))
                    .otherwise(0)
                ).cast("double")
                / F.sum(
                    F.when(F.col("day") > F.col("cp_day"), 1).otherwise(0)
                )
            ).alias("mean_after"),
        )
        .select(
            F.col("cp_day").alias("changepoint_day"),
            "cusum_at",
            "n_days",
            "mean_daily",
            "mean_before",
            "mean_after",
        )
    )


# --- Wilson confidence interval on daily conversion ---------------------------

WILSON_Z = 1.959963984540054  # 97.5th normal quantile, inlined verbatim


@register(
    "events_conversion_wilson",
    oracle=f"""
WITH du AS (
  SELECT date_trunc('day', ts) AS day, user_id,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS saw,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
  FROM events GROUP BY 1, 2
),
daily AS (
  SELECT day,
         CAST(SUM(saw) AS BIGINT) AS viewers,
         CAST(SUM(saw * bought) AS BIGINT) AS buyers
  FROM du GROUP BY day
)
SELECT day, viewers, buyers,
       CAST(buyers AS DOUBLE) / CAST(viewers AS DOUBLE) AS p_hat,
       CAST(CAST(((CAST(buyers AS DOUBLE) / CAST(viewers AS DOUBLE))
        + {WILSON_Z!r} * {WILSON_Z!r} / (2.0 * CAST(viewers AS DOUBLE))
        - {WILSON_Z!r} * sqrt(
            ((CAST(buyers AS DOUBLE) / CAST(viewers AS DOUBLE))
             * (1.0 - CAST(buyers AS DOUBLE) / CAST(viewers AS DOUBLE)))
            / CAST(viewers AS DOUBLE)
            + {WILSON_Z!r} * {WILSON_Z!r}
              / (4.0 * (CAST(viewers AS DOUBLE) * CAST(viewers AS DOUBLE)))))
       / (1.0 + {WILSON_Z!r} * {WILSON_Z!r} / CAST(viewers AS DOUBLE))
       AS DECIMAL(28,12)) AS DOUBLE) AS wilson_lo,
       CAST(CAST(((CAST(buyers AS DOUBLE) / CAST(viewers AS DOUBLE))
        + {WILSON_Z!r} * {WILSON_Z!r} / (2.0 * CAST(viewers AS DOUBLE))
        + {WILSON_Z!r} * sqrt(
            ((CAST(buyers AS DOUBLE) / CAST(viewers AS DOUBLE))
             * (1.0 - CAST(buyers AS DOUBLE) / CAST(viewers AS DOUBLE)))
            / CAST(viewers AS DOUBLE)
            + {WILSON_Z!r} * {WILSON_Z!r}
              / (4.0 * (CAST(viewers AS DOUBLE) * CAST(viewers AS DOUBLE)))))
       / (1.0 + {WILSON_Z!r} * {WILSON_Z!r} / CAST(viewers AS DOUBLE))
       AS DECIMAL(28,12)) AS DOUBLE) AS wilson_hi
FROM daily
WHERE viewers > 0
""",
)
def events_conversion_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily view->purchase user conversion rate with its 95% Wilson
    score interval (converters = users with BOTH a view and a purchase
    that day, so p_hat <= 1 by construction) — the interval that
    behaves at small n and extreme p where the naive interval fails,
    and the number a
    product dashboard should show instead of a bare daily rate (a
    10%-conversion day on 20 viewers is NOT evidence of a drop).

    The z constant is inlined verbatim in both dialects; the whole
    interval is ONE fixed parenthesization of correctly-rounded IEEE
    ops (divisions, one sqrt) on exact distinct-user counts; the two
    bounds are quantized to DECIMAL(28,12) at the output boundary (the
    long op chain accumulates 1-2 ulps of cross-engine drift).

    Scale shape: one day-grain aggregate with two conditional distinct
    counts (at 100 TB: approx_count_distinct or a pre-deduped daily
    user-activity table); everything after is per-row arithmetic.
    """
    ev = load_table(spark, sf_dir, "events")
    du = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).agg(
        F.max(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("saw"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("bought"),
    )
    daily = (
        du.groupBy("day")
        .agg(
            F.sum("saw").cast("bigint").alias("viewers"),
            F.sum(F.col("saw") * F.col("bought"))
            .cast("bigint")
            .alias("buyers"),
        )
        .filter(F.col("viewers") > 0)
    )
    nv = F.col("viewers").cast("double")
    p = F.col("buyers").cast("double") / nv
    z = F.lit(WILSON_Z)
    center = p + z * z / (F.lit(2.0) * nv)
    margin = z * F.sqrt(
        (p * (F.lit(1.0) - p)) / nv + z * z / (F.lit(4.0) * (nv * nv))
    )
    denom = F.lit(1.0) + z * z / nv
    return daily.select(
        "day",
        "viewers",
        "buyers",
        p.alias("p_hat"),
        ((center - margin) / denom)
        .cast("decimal(28,12)")
        .cast("double")
        .alias("wilson_lo"),
        ((center + margin) / denom)
        .cast("decimal(28,12)")
        .cast("double")
        .alias("wilson_hi"),
    )


# --- SPRT sequential conversion monitor -------------------------------------

SPRT_P0 = 0.80  # H0 conversion rate (value >= SPRT_SUCCESS_T)
SPRT_P1 = 0.84  # H1 conversion rate
SPRT_SUCCESS_T = 10.0
SPRT_EPOCHS = 10
# ln constants frozen as exact INTEGER micro-units (1e-12 grain): the
# float form s*C1 + f*C2 differed by 1 ulp across engines (FMA
# contraction); in micro-units the whole accumulation is exact BIGINT
# and the only float is one final division.
SPRT_CS_U = 48790164169  # round(ln(p1/p0) * 1e12)
SPRT_CF_U = -223143551314  # round(ln((1-p1)/(1-p0)) * 1e12)
SPRT_BOUND_U = 2944438979166  # round(ln(19) * 1e12); alpha = beta = .05


@register(
    "events_sprt_monitor",
    oracle=f"""
WITH mx AS (SELECT MAX(event_id) + 1 AS n FROM events),
e AS (
  SELECT event_type,
         (event_id * {SPRT_EPOCHS}) // mx.n AS epoch,
         CASE WHEN value >= {SPRT_SUCCESS_T} THEN 1 ELSE 0 END AS s
  FROM events, mx
),
ep AS (
  SELECT event_type, epoch,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS sc
  FROM e GROUP BY event_type, epoch
),
cum AS (
  SELECT event_type, epoch,
         CAST(SUM(n) OVER w AS BIGINT) AS n_cum,
         CAST(SUM(sc) OVER w AS BIGINT) AS s_cum
  FROM ep WINDOW w AS (PARTITION BY event_type ORDER BY epoch)
),
l AS (
  SELECT event_type, epoch, n_cum, s_cum,
         s_cum * {SPRT_CS_U} + (n_cum - s_cum) * {SPRT_CF_U} AS llr_u
  FROM cum
)
SELECT event_type, epoch, n_cum, s_cum,
       llr_u / 1000000000000.0 AS llr,
       CASE WHEN llr_u >= {SPRT_BOUND_U} THEN 'accept_h1'
            WHEN llr_u <= -{SPRT_BOUND_U} THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM l
""",
)
def events_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT conversion monitor — the SEQUENTIAL complement of
    events_conversion_wilson's fixed-horizon interval: per event type,
    the cumulative log-likelihood ratio of H1 (p = {SPRT_P1}) against
    H0 (p = {SPRT_P0}) after each ingest epoch, with Wald boundaries
    ln(19) / -ln(19) (alpha = beta = 0.05). This is the always-valid
    decision rule an experimentation platform evaluates at every batch:
    stop the moment the boundary is crossed, spending a bounded expected
    sample size instead of a fixed horizon (peeking at a Wilson interval
    inflates false positives; peeking at an SPRT is its design).

    llr = s*ln(p1/p0) + f*ln(q1/q0) on CUMULATIVE counts, so each epoch
    row is the exact state the monitor would hold after that epoch.
    Determinism: counts are exact BIGINTs through one per-type window
    over {SPRT_EPOCHS} pre-aggregated rows; the ln constants are frozen
    integer micro-units (1e-12 grain), so llr accumulation AND both
    boundary compares are exact BIGINT arithmetic — the float form
    s*C1 + f*C2 differed by 1 ulp across engines (FMA contraction);
    the only emitted float is one final division by 1e12.

    Scale shape: one scan -> (type, epoch) hash agg (map-side combine to
    |types| x {SPRT_EPOCHS} rows); the window and decision run on that
    grid. At 100 TB this is the per-micro-batch metrics rollup a
    streaming deployment maintains incrementally (the same algebraic
    (n, s) state as agg_incremental_rollup).
    """
    e = load_table(spark, sf_dir, "events")
    mx = e.agg((F.max("event_id") + 1).alias("n"))
    ep = (
        e.crossJoin(F.broadcast(mx))
        .select(
            "event_type",
            F.expr(f"(event_id * {SPRT_EPOCHS}) DIV n").alias("epoch"),
            F.when(F.col("value") >= SPRT_SUCCESS_T, 1)
            .otherwise(0)
            .alias("s"),
        )
        .groupBy("event_type", "epoch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("s").cast("bigint").alias("sc"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("epoch")
    cum = ep.select(
        "event_type",
        "epoch",
        F.sum("n").over(w).cast("bigint").alias("n_cum"),
        F.sum("sc").over(w).cast("bigint").alias("s_cum"),
    )
    llr_u = F.col("s_cum") * F.lit(SPRT_CS_U) + (
        F.col("n_cum") - F.col("s_cum")
    ) * F.lit(SPRT_CF_U)
    return cum.select(
        "event_type",
        "epoch",
        "n_cum",
        "s_cum",
        (llr_u.cast("double") / F.lit(1e12)).alias("llr"),
        F.when(llr_u >= SPRT_BOUND_U, "accept_h1")
        .when(llr_u <= -SPRT_BOUND_U, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


@register(
    "events_new_vs_returning",
    oracle="""
WITH ud AS (
  SELECT DISTINCT event_type, user_id, date_trunc('day', ts) AS day
  FROM events
),
fst AS (
  SELECT event_type, user_id, MIN(day) AS first_day
  FROM ud GROUP BY event_type, user_id
),
act AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS actives
  FROM ud GROUP BY event_type, day
),
nu AS (
  SELECT event_type, first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM fst GROUP BY event_type, first_day
)
SELECT a.event_type, a.day, a.actives,
       COALESCE(n.new_users, 0) AS new_users,
       a.actives - COALESCE(n.new_users, 0) AS returning_users,
       CAST(SUM(COALESCE(n.new_users, 0))
              OVER (PARTITION BY a.event_type ORDER BY a.day)
            AS BIGINT) AS cum_distinct_users
FROM act a
LEFT JOIN nu n ON n.event_type = a.event_type AND n.day = a.day
""",
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning daily actives + running distinct-user cardinality
    per event type — the acquisition/retention split every growth
    dashboard leads with, and the exact running COUNT(DISTINCT) that
    window functions can't express directly: a user's FIRST day is the
    only day they increment the cumulative cardinality, so
    cum_distinct = running SUM of first-day counts (the first-occurrence-
    flag trick), all in exact integers.

    Scale shape: one (type, user, day) distinct (map-side partial), a
    per-(type,user) MIN (same key prefix, reuses the partitioning), two
    tiny per-day hash aggs, and one window over |types| x |days| rows.
    No day x user explode, no distinct-over-frame rescan — at 100 TB the
    window input is thousands of rows regardless of event volume.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "event_type", "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    fst = ud.groupBy("event_type", "user_id").agg(
        F.min("day").alias("first_day")
    )
    act = ud.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("actives")
    )
    nu = fst.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("new_users"))
    w = Window.partitionBy("event_type").orderBy("day")
    new_u = F.coalesce(F.col("new_users"), F.lit(0))
    return (
        act.join(nu, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            "actives",
            new_u.alias("new_users"),
            (F.col("actives") - new_u).alias("returning_users"),
            F.sum(new_u).over(w).cast("bigint").alias("cum_distinct_users"),
        )
    )


# OLS trend: value grain is cents (exact BIGINT encode); x is the day
# index from the per-type minimum day, so intercepts are anchored at each
# series' own start.
OLS_SCALE = 100


@register(
    "events_ols_trend_daily",
    oracle=f"""
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(round(value * {OLS_SCALE}) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY event_type, day
),
x AS (
  SELECT event_type, y,
         CAST(datediff('day', MIN(day) OVER (PARTITION BY event_type), day)
              AS BIGINT) AS x
  FROM d
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM x GROUP BY event_type
)
SELECT event_type, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) / {OLS_SCALE} AS slope,
       (CAST(sy AS DOUBLE) / {OLS_SCALE}
          - (CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) / {OLS_SCALE})
            * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
       (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
         / (CAST(n * sxx - sx * sx AS DOUBLE)
            * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)) AS r2
FROM m
WHERE n >= 2 AND n * sxx - sx * sx <> 0
""",
)
def events_ols_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact closed-form OLS per event type: slope / intercept / R² of
    the daily value total against the day index — 'is this metric
    trending, and how much of its variance is the trend' as one
    aggregation, no ML library.

    Determinism: y is cents (exact BIGINT), x the integer day index from
    each series' own MIN(day); all five moments (Σx, Σy, Σx², Σxy, Σy²)
    are exact integer sums (Σy² promoted to HUGEINT/DECIMAL(38,0) — y²
    alone can pass 2^63), and slope/intercept/R² come out of the moment
    identities as a FIXED parenthesization of IEEE ops on those exact
    integers — both engines perform the identical float ops, so results
    are bit-equal. No per-row float accumulates.

    Scale shape: daily pre-agg (map-side combine) shrinks events to
    |types| x |days| rows; the MIN-day window and moment agg run on that
    grid. At 100 TB the regression costs one scan + two tiny shuffles.
    At larger day ranges the cents grain keeps Σxy under 2^63 far past
    millennia of data; Σy² carries the one wide accumulator.

    Degenerate series (a type seen on a single day, or any zero x
    variance) are excluded by an explicit n ≥ 2 AND den_x ≠ 0 filter in
    BOTH dialects — a slope is undefined there, and the engines'
    division-by-zero conventions differ (Spark NULL vs DuckDB inf).
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * OLS_SCALE).cast("long"))
        .cast("long")
        .alias("y")
    )
    wmin = Window.partitionBy("event_type")
    x = d.select(
        "event_type",
        "y",
        F.datediff(F.col("day"), F.min("day").over(wmin))
        .cast("long")
        .alias("x"),
    )
    m = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    # degenerate-series guard (r9 ADVICE): a single-day series has
    # den_x = 0, where Spark's non-ANSI Divide yields NULL but DuckDB's
    # IEEE float division yields inf/nan — filter such series out
    # EXPLICITLY in both dialects so behavior matches by construction.
    m = m.filter(
        (F.col("n") >= 2)
        & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") != 0)
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den_y = (
        F.col("n") * F.col("syy")
        - F.col("sy").cast("decimal(38,0)") * F.col("sy")
    ).cast("double")
    slope = num / den_x / F.lit(float(OLS_SCALE))
    return m.select(
        "event_type",
        "n",
        slope.alias("slope"),
        (
            (
                F.col("sy").cast("double") / F.lit(float(OLS_SCALE))
                - slope * F.col("sx").cast("double")
            )
            / F.col("n").cast("double")
        ).alias("intercept"),
        (num * num / (den_x * den_y)).alias("r2"),
    )


@register(
    "events_survival_km",
    oracle="""
WITH e AS (
  SELECT user_id, date_trunc('day', ts) AS day, event_type,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS sec
  FROM events
),
subj AS (
  SELECT user_id, day,
         MIN(sec) AS sec_first,
         MAX(sec) AS sec_last,
         MIN(CASE WHEN event_type = 'purchase' THEN sec END) AS sec_conv
  FROM e GROUP BY user_id, day
),
du AS (
  SELECT CASE WHEN sec_conv IS NOT NULL
              THEN (sec_conv - sec_first) // 3600
              ELSE (sec_last - sec_first) // 3600 END AS t,
         CASE WHEN sec_conv IS NOT NULL THEN 1 ELSE 0 END AS converted
  FROM subj
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_subj FROM du),
g AS (
  SELECT t, CAST(SUM(converted) AS BIGINT) AS d,
         CAST(COUNT(*) - SUM(converted) AS BIGINT) AS c
  FROM du GROUP BY t
),
r AS (
  SELECT t, d, c,
         tot.n_subj - CAST(COALESCE(SUM(d + c) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS n_risk
  FROM g, tot
),
f AS (
  SELECT t, d, c, n_risk,
         CAST(ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
              AS DECIMAL(28,6)) AS lf
  FROM r WHERE d > 0 AND n_risk > d
)
SELECT t AS t_hours, n_risk, d AS d_converted, c AS c_censored,
       CAST(SUM(lf) OVER (ORDER BY t) AS DOUBLE) AS log_surv,
       CAST(CAST(exp(CAST(SUM(lf) OVER (ORDER BY t) AS DOUBLE))
                 AS DECIMAL(18,9)) AS DOUBLE) AS km_surv
FROM f
""",
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier time-to-conversion curve with right-censoring: the
    subject is a (user, day) pair, the event is their first 'purchase'
    that day (hours from their first event of the day), and a user-day
    with activity but NO purchase is CENSORED at their last observed
    event — they leave the risk set without counting as a conversion.
    Naive 'conversion latency' over converters-only (or treating
    non-converters as never-converting) biases the curve; KM is the
    estimator that uses the censored mass correctly, and ~60% of
    user-days here are censored, so the correction is load-bearing.

    S(t) = prod over event-times t' <= t of (1 - d/n). Determinism:
    durations are exact integer hours (full-second epoch diffs, integer
    DIV 3600); d, c, n_risk are exact integers (risk set = total minus
    exact running exits before t); each factor's ln((n-d)/n) is one IEEE
    division + one ln quantized to DECIMAL(28,6) (the bigram-LM
    discipline); the cumulative log-survival is an EXACT decimal sum —
    no float accumulation — and km_surv re-exponentiates once, quantized
    to DECIMAL(18,9). Rows with n_risk == d (curve would hit 0) are
    ln(0) and excluded.

    Scale shape: one scan collapses events to one row per (user, day)
    via MIN/MAX/conditional-MIN (map-side partials); the KM grid is
    |distinct hours| <= 24 rows, so the unpartitioned windows are
    driver-scale no matter the event volume. At 100 TB: one scan + one
    user-day-grain shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP'1970-01-01 00:00:00', ts)"
        ).alias("sec"),
    )
    subj = e.groupBy("user_id", "day").agg(
        F.min("sec").alias("sec_first"),
        F.max("sec").alias("sec_last"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("sec"))
        ).alias("sec_conv"),
    )
    du = subj.select(
        F.when(
            F.col("sec_conv").isNotNull(),
            F.expr("(sec_conv - sec_first) DIV 3600"),
        )
        .otherwise(F.expr("(sec_last - sec_first) DIV 3600"))
        .alias("t"),
        F.when(F.col("sec_conv").isNotNull(), 1).otherwise(0).alias(
            "converted"
        ),
    )
    tot = du.agg(F.count(F.lit(1)).cast("bigint").alias("n_subj"))
    g = du.groupBy("t").agg(
        F.sum("converted").cast("bigint").alias("d"),
        (F.count(F.lit(1)) - F.sum("converted"))
        .cast("bigint")
        .alias("c"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    r = g.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "c",
        (
            F.col("n_subj")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            ).cast("bigint")
        ).alias("n_risk"),
    )
    f = r.filter((F.col("d") > 0) & (F.col("n_risk") > F.col("d"))).select(
        "t",
        "d",
        "c",
        "n_risk",
        F.log(
            (F.col("n_risk") - F.col("d")).cast("double")
            / F.col("n_risk").cast("double")
        )
        .cast("decimal(28,6)")
        .alias("lf"),
    )
    w_cum = Window.orderBy("t")
    log_surv = F.sum("lf").over(w_cum).cast("double")
    return f.select(
        F.col("t").alias("t_hours"),
        "n_risk",
        F.col("d").alias("d_converted"),
        F.col("c").alias("c_censored"),
        log_surv.alias("log_surv"),
        F.exp(log_surv).cast("decimal(18,9)").cast("double").alias("km_surv"),
    )


@register(
    "events_stl_decompose",
    oracle="""
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(datediff('day', TIMESTAMP '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS di,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y_u
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
t AS (
  SELECT event_type, day, di, y_u,
         CAST(SUM(y_u) OVER w AS BIGINT) AS ts_u,
         COUNT(*) OVER w AS cnt
  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY di
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
k AS (
  SELECT event_type, day, di, y_u, ts_u,
         7 * y_u - ts_u AS detr7_u, di % 7 AS dow
  FROM t WHERE cnt = 7
),
s AS (
  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(detr7_u) AS BIGINT) AS ss7_u
  FROM k GROUP BY event_type, dow
),
j AS (
  SELECT k.event_type, k.day, k.y_u, k.ts_u, k.detr7_u,
         CAST(k.detr7_u AS DOUBLE) / 700.0
           - CAST(s.ss7_u AS DOUBLE) / CAST(700 * s.m AS DOUBLE) AS resid,
         CAST(s.ss7_u AS DOUBLE) / CAST(700 * s.m AS DOUBLE) AS seasonal
  FROM k JOIN s ON s.event_type = k.event_type AND s.dow = k.dow
),
q AS (
  SELECT event_type, day, y_u, ts_u, seasonal, resid,
         CAST(resid AS DECIMAL(28,6)) AS r_q
  FROM j
),
a AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n2,
         SUM(ABS(r_q)) AS sab
  FROM q GROUP BY event_type
)
SELECT q.event_type, q.day,
       CAST(q.y_u AS DOUBLE) / 100.0 AS y,
       CAST(q.ts_u AS DOUBLE) / 700.0 AS trend,
       q.seasonal, q.resid,
       (ABS(q.r_q) * a.n2) > (3 * a.sab) AS is_anomaly
FROM q JOIN a ON a.event_type = q.event_type
""",
)
def events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style decomposition of each event type's daily total into
    trend + weekly seasonal + residual, with a residual anomaly flag —
    'is today unusual AFTER accounting for trend and day-of-week' is
    the question raw z-scores (events_zscore_outliers) answer wrongly
    on any series with weekly rhythm.

    trend = centered 7-day moving average (interior days only: frame
    count == 7); seasonal = per-(type, day-of-week) mean of the
    detrended series; resid = detrended − seasonal; anomaly when
    |resid| > 3 × mean |resid| for the type.

    Determinism: y is cents (exact BIGINT); the detrended value is kept
    as the EXACT integer 7·y − Σ₇y (no division inside the window), so
    the seasonal mean is an exact-integer sum with one fixed-order
    double division; resid is one subtraction of two such doubles; the
    anomaly compare runs on DECIMAL(28,6)-quantized residuals times
    exact counts — no float accumulates anywhere. Day-of-week is
    di % 7 on the integer epoch-day (portable across engines' dow
    conventions).

    Scale shape: events collapse to |types| × |days| rows in one
    map-side-combined agg; everything downstream (window, dow agg,
    anomaly agg) runs on that grid — thousands of rows at any data
    scale. The decomposition is the batch twin of what a streaming
    deployment would maintain incrementally per day.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    d = ev.groupBy("event_type", day.alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y_u"),
    )
    d = d.withColumn(
        "di",
        F.datediff(F.col("day"), F.lit("1970-01-01")).cast("bigint"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("di")
        .rowsBetween(-3, 3)
    )
    t = d.select(
        "event_type",
        "day",
        "di",
        "y_u",
        F.sum("y_u").over(w).cast("bigint").alias("ts_u"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    k = t.filter(F.col("cnt") == 7).select(
        "event_type",
        "day",
        "y_u",
        "ts_u",
        (F.lit(7) * F.col("y_u") - F.col("ts_u")).alias("detr7_u"),
        (F.col("di") % 7).alias("dow"),
    )
    s = k.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("detr7_u").cast("bigint").alias("ss7_u"),
    )
    seasonal = F.col("ss7_u").cast("double") / (
        F.lit(700) * F.col("m")
    ).cast("double")
    j = k.join(s, ["event_type", "dow"]).select(
        "event_type",
        "day",
        "y_u",
        "ts_u",
        seasonal.alias("seasonal"),
        (F.col("detr7_u").cast("double") / F.lit(700.0) - seasonal).alias(
            "resid"
        ),
    )
    q = j.withColumn("r_q", F.col("resid").cast("decimal(28,6)"))
    a = q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n2"),
        F.sum(F.abs(F.col("r_q"))).alias("sab"),
    )
    return q.join(a, "event_type").select(
        "event_type",
        "day",
        (F.col("y_u").cast("double") / F.lit(100.0)).alias("y"),
        (F.col("ts_u").cast("double") / F.lit(700.0)).alias("trend"),
        "seasonal",
        "resid",
        (
            (F.abs(F.col("r_q")) * F.col("n2"))
            > (F.lit(3) * F.col("sab"))
        ).alias("is_anomaly"),
    )


@register(
    "events_funnel_time_stats",
    oracle="""
WITH e AS (
  SELECT user_id, date_trunc('day', ts) AS day, event_type,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS sec
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
v AS (SELECT user_id, day, MIN(sec) AS v_sec FROM e
      WHERE event_type = 'view' GROUP BY user_id, day),
c AS (SELECT e.user_id, e.day, MIN(e.sec) AS c_sec
      FROM e JOIN v ON v.user_id = e.user_id AND v.day = e.day
      WHERE e.event_type = 'click' AND e.sec >= v.v_sec
      GROUP BY e.user_id, e.day),
p AS (SELECT e.user_id, e.day, MIN(e.sec) AS p_sec
      FROM e JOIN c ON c.user_id = e.user_id AND c.day = e.day
      WHERE e.event_type = 'purchase' AND e.sec >= c.c_sec
      GROUP BY e.user_id, e.day),
lat AS (
  SELECT 'view->click' AS step_pair,
         (c.c_sec - v.v_sec) // 60 AS lat_min
  FROM v JOIN c ON c.user_id = v.user_id AND c.day = v.day
  UNION ALL
  SELECT 'click->purchase', (p.p_sec - c.c_sec) // 60
  FROM c JOIN p ON p.user_id = c.user_id AND p.day = c.day
),
g AS (SELECT step_pair, lat_min, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lat GROUP BY step_pair, lat_min),
cum AS (
  SELECT step_pair, lat_min, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY step_pair ORDER BY lat_min)
              AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY step_pair) AS BIGINT) AS n,
         CAST(SUM(lat_min * cnt) OVER (PARTITION BY step_pair)
              AS BIGINT) AS s
  FROM g
)
SELECT step_pair,
       MAX(n) AS n_pairs,
       MIN(CASE WHEN 2 * cum >= n THEN lat_min END) AS p50_min,
       MIN(CASE WHEN 10 * cum >= 9 * n THEN lat_min END) AS p90_min,
       CAST(MAX(s) AS DOUBLE) / MAX(n) AS avg_min
FROM cum GROUP BY step_pair
""",
)
def events_funnel_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-to-step funnel latency distribution: per user-day, minutes
    from first view to the first click at-or-after it, and from that
    click to the first purchase at-or-after it — with EXACT integer-rank
    p50/p90 per step pair. events_cep_funnel_3step counts who converts;
    this measures how long each step takes (the metric that localizes a
    funnel regression to a step), and events_survival_km draws the full
    curve for one pair — this is its two-number summary over both pairs.

    Percentiles use the repo's integer-rank discrete-boundary
    discipline: latencies are exact integer minutes, counted per value,
    with one cumulative window per step pair and exact cross-multiplied
    rank compares (2·cum ≥ n, 10·cum ≥ 9n) — no holistic percentile
    buffer, no float ordering. avg is an exact integer sum with one
    final division.

    Scale shape: three MIN aggs on the same (user, day) key — the
    exchange is computed once and reused (same-key chained aggs);
    the percentile machinery runs on |distinct latency values| rows per
    pair. At 100 TB: one scan, one user-day shuffle, grid-scale math.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP'1970-01-01 00:00:00', ts)"
        ).alias("sec"),
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "day")
        .agg(F.min("sec").alias("v_sec"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, ["user_id", "day"])
        .filter(F.col("sec") >= F.col("v_sec"))
        .groupBy("user_id", "day")
        .agg(F.min("sec").alias("c_sec"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, ["user_id", "day"])
        .filter(F.col("sec") >= F.col("c_sec"))
        .groupBy("user_id", "day")
        .agg(F.min("sec").alias("p_sec"))
    )
    lat = (
        v.join(c, ["user_id", "day"])
        .select(
            F.lit("view->click").alias("step_pair"),
            F.expr("(c_sec - v_sec) DIV 60").alias("lat_min"),
        )
        .unionByName(
            c.join(p, ["user_id", "day"]).select(
                F.lit("click->purchase").alias("step_pair"),
                F.expr("(p_sec - c_sec) DIV 60").alias("lat_min"),
            )
        )
    )
    g = lat.groupBy("step_pair", "lat_min").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w_cum = Window.partitionBy("step_pair").orderBy("lat_min")
    w_all = Window.partitionBy("step_pair")
    cum = g.select(
        "step_pair",
        "lat_min",
        F.sum("cnt").over(w_cum).cast("bigint").alias("cum"),
        F.sum("cnt").over(w_all).cast("bigint").alias("n"),
        F.sum(F.col("lat_min") * F.col("cnt"))
        .over(w_all)
        .cast("bigint")
        .alias("s"),
    )
    return cum.groupBy("step_pair").agg(
        F.max("n").alias("n_pairs"),
        F.min(
            F.when(2 * F.col("cum") >= F.col("n"), F.col("lat_min"))
        ).alias("p50_min"),
        F.min(
            F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("lat_min"))
        ).alias("p90_min"),
        (F.max("s").cast("double") / F.max("n")).alias("avg_min"),
    )


# Difference-in-differences: 'click' treated vs 'view' control, launch
# at relative day 15; placebo re-runs the estimator inside the
# pre-period with a fake cutoff at day 8 (a non-zero placebo flags a
# broken parallel-trends assumption).
DID_CUT = 15
DID_PLACEBO_CUT = 8
_DID_BLOCK = """
  SELECT '{label}' AS analysis,
         CAST(SUM(CASE WHEN treated AND post THEN cents END) AS DOUBLE)
           / COUNT(CASE WHEN treated AND post THEN 1 END) / 100.0
           AS t_post,
         CAST(SUM(CASE WHEN treated AND NOT post THEN cents END) AS DOUBLE)
           / COUNT(CASE WHEN treated AND NOT post THEN 1 END) / 100.0
           AS t_pre,
         CAST(SUM(CASE WHEN NOT treated AND post THEN cents END) AS DOUBLE)
           / COUNT(CASE WHEN NOT treated AND post THEN 1 END) / 100.0
           AS c_post,
         CAST(SUM(CASE WHEN NOT treated AND NOT post THEN cents END)
              AS DOUBLE)
           / COUNT(CASE WHEN NOT treated AND NOT post THEN 1 END) / 100.0
           AS c_pre,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM (
    SELECT (event_type = 'click') AS treated, (di >= {cut}) AS post, cents
    FROM d WHERE di < {hi}
  ) t
"""


@register(
    "events_uplift_did",
    oracle=f"""
WITH d AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         datediff('day',
                  MIN(date_trunc('day', ts)) OVER (),
                  date_trunc('day', ts)) AS di
  FROM events WHERE event_type IN ('click', 'view')
),
cells AS (
  {_DID_BLOCK.format(label="actual", cut=DID_CUT, hi=10_000)}
  UNION ALL
  {_DID_BLOCK.format(label="placebo", cut=DID_PLACEBO_CUT, hi=DID_CUT)}
)
SELECT analysis, t_pre, t_post, c_pre, c_post, n_events,
       (t_post - t_pre) - (c_post - c_pre) AS did
FROM cells
""",
)
def events_uplift_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences uplift: treated ('click') vs control
    ('view') mean value, before vs after a launch at relative day
    {DID_CUT} — DiD = (T_post − T_pre) − (C_post − C_pre) nets out both
    the group level difference and the shared time trend, which a naive
    post-vs-pre or treated-vs-control comparison each confound. The
    'placebo' row re-runs the estimator ENTIRELY inside the pre-period
    with a fake cutoff at day {DID_PLACEBO_CUT}: a placebo DiD far from
    zero means the parallel-trends assumption is broken and the actual
    estimate shouldn't be trusted — the standard falsification check.

    Determinism: cents sums are exact; each cell mean is one fixed-order
    IEEE division; DiD is three subtractions of those doubles; day
    indexes are exact integers off the global MIN day.

    Scale shape: one scan, one conditional agg per analysis over
    (treated × post) cells — map-side combine reduces each analysis to
    4 partial sums per mapper; the MIN-day anchor is one broadcast
    window over the pre-aggregated day domain. At 100 TB: two passes of
    pure hash-agg work (or one, fusing the analyses on a wider CASE).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    # anchor MIN day over the FILTERED frame — the oracle's MIN(...) OVER ()
    # runs after WHERE event_type IN ('click','view'), so anchoring on the
    # unfiltered table would shift every day index whenever the corpus's
    # earliest day has no click/view event (r9 ADVICE).
    mn = ev.agg(
        F.min(F.date_trunc("day", "ts")).alias("min_day")
    )
    d = (
        ev.crossJoin(F.broadcast(mn))
        .select(
            (F.col("event_type") == "click").alias("treated"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            F.datediff(F.date_trunc("day", "ts"), F.col("min_day")).alias(
                "di"
            ),
        )
    )

    def block(label: str, cut: int, hi: int) -> DataFrame:
        t = d.filter(F.col("di") < hi).withColumn(
            "post", F.col("di") >= cut
        )

        def cell(tr: bool, po: bool) -> F.Column:
            m = (F.col("treated") == tr) & (F.col("post") == po)
            return (
                F.sum(F.when(m, F.col("cents"))).cast("double")
                / F.count(F.when(m, 1))
                / F.lit(100.0)
            )

        return t.agg(
            cell(True, True).alias("t_post"),
            cell(True, False).alias("t_pre"),
            cell(False, True).alias("c_post"),
            cell(False, False).alias("c_pre"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        ).select(F.lit(label).alias("analysis"), "*")

    cells = block("actual", DID_CUT, 10_000).unionByName(
        block("placebo", DID_PLACEBO_CUT, DID_CUT)
    )
    return cells.select(
        "analysis",
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        "n_events",
        (
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre"))
        ).alias("did"),
    )


@register(
    "events_attribution_position",
    oracle="""
WITH e AS (
  SELECT user_id, date_trunc('day', ts) AS day, event_type, event_id,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS sec
  FROM events
),
conv AS (
  SELECT user_id, day, MIN(sec) AS conv_sec
  FROM e WHERE event_type = 'purchase' GROUP BY user_id, day
),
touch AS (
  SELECT e.user_id, e.day, e.event_type, e.sec, e.event_id
  FROM e JOIN conv ON conv.user_id = e.user_id AND conv.day = e.day
  WHERE e.event_type IN ('view', 'click') AND e.sec < conv.conv_sec
),
seq AS (
  SELECT user_id, day, event_type,
         ROW_NUMBER() OVER w AS rn,
         COUNT(*) OVER (PARTITION BY user_id, day) AS k
  FROM touch
  WINDOW w AS (PARTITION BY user_id, day ORDER BY sec, event_id)
),
credit AS (
  SELECT event_type,
         CASE WHEN k = 1 THEN 'only'
              WHEN rn = 1 THEN 'first'
              WHEN rn = k THEN 'last'
              ELSE 'middle' END AS position,
         CAST(CASE WHEN k = 1 THEN 10000.0
              WHEN k = 2 THEN 5000.0
              WHEN rn = 1 OR rn = k THEN 4000.0
              ELSE 2000.0 / (k - 2) END AS DECIMAL(28,6)) AS bp
  FROM seq
)
SELECT event_type, position,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(bp) AS DOUBLE) / 10000.0 AS credit
FROM credit GROUP BY event_type, position
""",
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each user-day
    conversion (first purchase) splits its credit over the preceding
    view/click touch sequence — 40% to the first touch, 40% to the
    last, 20% spread across the middles (100% to a single touch, 50/50
    for two). The multi-touch counterpart of
    events_attribution_last_touch, which hands the whole conversion to
    one event and systematically over-credits bottom-of-funnel types.

    Determinism: per-touch credit is at most one IEEE division
    (2000/(k−2)) quantized to DECIMAL(28,6) basis points, so the
    roll-up SUM is exact decimal addition — across millions of
    conversions nothing accumulates in float. Sequence positions use
    exact integer seconds with event_id tiebreaks.

    Scale shape: conversions are a per-(user, day) MIN; touches join on
    the same key (exchange reuse) and the position window sorts each
    user-day's own touches — partition-local, bounded by a day's
    activity. The final rollup is |types| × 4 rows. One scan, one
    user-day shuffle at any data size.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        "event_id",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP'1970-01-01 00:00:00', ts)"
        ).alias("sec"),
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "day")
        .agg(F.min("sec").alias("conv_sec"))
    )
    touch = (
        e.filter(F.col("event_type").isin("view", "click"))
        .join(conv, ["user_id", "day"])
        .filter(F.col("sec") < F.col("conv_sec"))
    )
    w = Window.partitionBy("user_id", "day").orderBy("sec", "event_id")
    wk = Window.partitionBy("user_id", "day")
    seq = touch.select(
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wk).alias("k"),
    )
    position = (
        F.when(F.col("k") == 1, "only")
        .when(F.col("rn") == 1, "first")
        .when(F.col("rn") == F.col("k"), "last")
        .otherwise("middle")
    )
    bp = (
        F.when(F.col("k") == 1, F.lit(10000.0))
        .when(F.col("k") == 2, F.lit(5000.0))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("k")), F.lit(4000.0))
        .otherwise(F.lit(2000.0) / (F.col("k") - 2))
    ).cast("decimal(28,6)")
    return (
        seq.select("event_type", position.alias("position"), bp.alias("bp"))
        .groupBy("event_type", "position")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            (F.sum("bp").cast("double") / F.lit(10000.0)).alias("credit"),
        )
    )


FC_TEST_DAYS = 7  # holdout horizon: last observed week per series


@register(
    "events_forecast_backtest",
    oracle=f"""
WITH d AS (
  SELECT event_type,
         CAST(datediff('day', TIMESTAMP '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS di,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y_u
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
t AS (
  SELECT event_type, di, y_u,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY di DESC)
           AS rk_desc
  FROM d
),
test AS (SELECT event_type, di, y_u FROM t WHERE rk_desc <= {FC_TEST_DAYS}),
p AS (
  SELECT te.event_type, te.di, te.y_u,
         (COALESCE(l7.y_u, 0) + COALESCE(l14.y_u, 0) + COALESCE(l21.y_u, 0))
           AS ps,
         (CASE WHEN l7.y_u IS NULL THEN 0 ELSE 1 END
          + CASE WHEN l14.y_u IS NULL THEN 0 ELSE 1 END
          + CASE WHEN l21.y_u IS NULL THEN 0 ELSE 1 END) AS k,
         l1.y_u AS naive_u
  FROM test te
  LEFT JOIN d l7 ON l7.event_type = te.event_type AND l7.di = te.di - 7
  LEFT JOIN d l14 ON l14.event_type = te.event_type AND l14.di = te.di - 14
  LEFT JOIN d l21 ON l21.event_type = te.event_type AND l21.di = te.di - 21
  LEFT JOIN d l1 ON l1.event_type = te.event_type AND l1.di = te.di - 1
),
s AS (
  SELECT event_type,
         CAST(ABS(y_u - CAST(ps AS DOUBLE) / k) / 100.0 AS DECIMAL(28,6))
           AS err_s,
         CAST(ABS(y_u - CAST(naive_u AS DOUBLE)) / 100.0 AS DECIMAL(28,6))
           AS err_n
  FROM p WHERE k >= 1 AND naive_u IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(err_s) AS DOUBLE) / COUNT(*) AS mae_seasonal,
       CAST(SUM(err_n) AS DOUBLE) / COUNT(*) AS mae_naive,
       1.0 - (CAST(SUM(err_s) AS DOUBLE) / COUNT(*))
           / (CAST(SUM(err_n) AS DOUBLE) / COUNT(*)) AS skill
FROM s GROUP BY event_type
""",
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast with a proper BACKTEST: predict each of
    the last {FC_TEST_DAYS} observed days per event type as the mean of
    the same weekday's value 1–3 weeks earlier, score MAE against the
    actuals, and report SKILL vs the naive last-value forecast
    (skill = 1 − MAE_seasonal/MAE_naive — positive means the weekly
    pattern carries real signal; a forecast metric without a naive
    baseline is unfalsifiable). This is the evaluation loop every
    capacity-planning/alerting forecast needs, in pure joins — no model
    runtime, and the same-dow-mean is the standard hard-to-beat
    baseline real forecasting systems benchmark against.

    Determinism: daily totals are exact cents; lag lookups are exact
    equi-joins on the integer day index (robust to gaps, unlike
    row-offset lags); each error is fixed-order IEEE ops quantized to
    DECIMAL(28,6) so the MAE sums are exact; skill is one division of
    two such means.

    Scale shape: events collapse to the |types|×|days| grid once; the
    four lag joins are grid×grid equi-joins (thousands of rows at any
    corpus size). At 100 TB: one scan + grid math — and the same joins
    maintain incrementally per new day.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y_u"),
    ).select(
        "event_type",
        F.datediff(F.col("day"), F.lit("1970-01-01")).cast("bigint").alias("di"),
        "y_u",
    ).localCheckpoint()  # grid table read by 5 joins below
    test = ranked_topk_per(
        d, ["event_type"], [F.col("di").desc()], FC_TEST_DAYS, rk_col=None
    )

    def lag_join(df: DataFrame, off: int, alias: str) -> DataFrame:
        lg = d.select(
            "event_type",
            (F.col("di") + off).alias("di"),
            F.col("y_u").alias(alias),
        )
        return df.join(lg, ["event_type", "di"], "left")

    p = lag_join(lag_join(lag_join(lag_join(test, 7, "l7"), 14, "l14"), 21, "l21"), 1, "naive_u")
    ps = (
        F.coalesce(F.col("l7"), F.lit(0))
        + F.coalesce(F.col("l14"), F.lit(0))
        + F.coalesce(F.col("l21"), F.lit(0))
    )
    k = (
        F.when(F.col("l7").isNull(), 0).otherwise(1)
        + F.when(F.col("l14").isNull(), 0).otherwise(1)
        + F.when(F.col("l21").isNull(), 0).otherwise(1)
    )
    s = (
        p.withColumn("ps", ps)
        .withColumn("k", k)
        .filter((F.col("k") >= 1) & F.col("naive_u").isNotNull())
        .select(
            "event_type",
            (
                F.abs(F.col("y_u") - F.col("ps").cast("double") / F.col("k"))
                / F.lit(100.0)
            )
            .cast("decimal(28,6)")
            .alias("err_s"),
            (
                F.abs(F.col("y_u") - F.col("naive_u").cast("double"))
                / F.lit(100.0)
            )
            .cast("decimal(28,6)")
            .alias("err_n"),
        )
    )
    cnt = F.count(F.lit(1))
    mae_s = F.sum("err_s").cast("double") / cnt
    mae_n = F.sum("err_n").cast("double") / cnt
    return s.groupBy("event_type").agg(
        cnt.cast("bigint").alias("n_test"),
        mae_s.alias("mae_seasonal"),
        mae_n.alias("mae_naive"),
        (F.lit(1.0) - mae_s / mae_n).alias("skill"),
    )


@register(
    "events_theil_sen_trend",
    oracle=f"""
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(round(value * {OLS_SCALE}) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY event_type, day
),
x AS (
  SELECT event_type, y,
         CAST(datediff('day', MIN(day) OVER (PARTITION BY event_type), day)
              AS BIGINT) AS x
  FROM d
),
p AS (
  SELECT a.event_type,
         CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope,
         a.x AS xa, b.x AS xb
  FROM x a JOIN x b
    ON a.event_type = b.event_type AND a.x < b.x
),
r AS (
  SELECT event_type, slope,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY slope, xa, xb) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM p
),
sl AS (
  SELECT event_type, slope AS ts_slope_u, cnt AS n_pairs
  FROM r WHERE rn = (cnt + 1) // 2
),
res AS (
  SELECT x.event_type, sl.ts_slope_u, sl.n_pairs,
         CAST(x.y AS DOUBLE) - sl.ts_slope_u * CAST(x.x AS DOUBLE) AS resid,
         x.x
  FROM x JOIN sl ON x.event_type = sl.event_type
),
r2 AS (
  SELECT event_type, ts_slope_u, n_pairs, resid,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY resid, x) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM res
)
SELECT event_type,
       CAST(cnt AS BIGINT) AS n_days,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       ts_slope_u / {OLS_SCALE} AS ts_slope,
       resid / {OLS_SCALE} AS ts_intercept
FROM r2 WHERE rn = (cnt + 1) // 2
""",
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen ROBUST trend per event type: the median of all pairwise
    day-slopes (and the median residual as the intercept) — the
    29.3%-breakdown-point complement of events_ols_trend_daily, immune
    to the single-day outliers that drag a least-squares slope (one
    flash-sale day moves OLS; it is one vote among n·(n−1)/2 here).

    Determinism: y is exact cents per day, x the integer day index;
    each pairwise slope is ONE IEEE division of exact integers —
    identical in both engines — and the median is an integer-rank
    ELEMENT PICK (row_number at (cnt+1) div 2, ordered by slope with
    integer tiebreaks), not an interpolation: no float averaging, no
    percentile-implementation divergence. Residuals reuse the picked
    slope with one fixed-order multiply-subtract per day.

    Scale shape: the O(d²) pair join runs on the DAY GRID (|types| ×
    ~30 rows after the map-side-combined daily pre-agg), never on raw
    events — at 100 TB the pair count is unchanged; only the one
    linear pre-agg scan grows. The grid self-join is broadcast-size by
    construction; medians are grid-local windows.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * OLS_SCALE).cast("long"))
        .cast("long")
        .alias("y")
    )
    wmin = Window.partitionBy("event_type")
    x = d.select(
        "event_type",
        "y",
        F.datediff(F.col("day"), F.min("day").over(wmin))
        .cast("long")
        .alias("x"),
    )
    a = x.select("event_type", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = x.select("event_type", F.col("x").alias("xb"), F.col("y").alias("yb"))
    p = (
        a.join(b, "event_type")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "event_type",
            (
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("xb") - F.col("xa")).cast("double")
            ).alias("slope"),
            "xa",
            "xb",
        )
    )
    wr = Window.partitionBy("event_type").orderBy("slope", "xa", "xb")
    wc = Window.partitionBy("event_type")
    sl = (
        p.select(
            "event_type",
            "slope",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("cnt"),
        )
        .filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select(
            "event_type",
            F.col("slope").alias("ts_slope_u"),
            F.col("cnt").alias("n_pairs"),
        )
    )
    res = x.join(sl, "event_type").select(
        "event_type",
        "ts_slope_u",
        "n_pairs",
        (
            F.col("y").cast("double")
            - F.col("ts_slope_u") * F.col("x").cast("double")
        ).alias("resid"),
        "x",
    )
    wr2 = Window.partitionBy("event_type").orderBy("resid", "x")
    return (
        res.select(
            "event_type",
            "ts_slope_u",
            "n_pairs",
            "resid",
            F.row_number().over(wr2).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("cnt"),
        )
        .filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select(
            "event_type",
            F.col("cnt").cast("bigint").alias("n_days"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            (F.col("ts_slope_u") / F.lit(float(OLS_SCALE))).alias("ts_slope"),
            (F.col("resid") / F.lit(float(OLS_SCALE))).alias("ts_intercept"),
        )
    )


# --- quantile regression (pinball-loss grid) + autocorrelation --------------

QR_TAU_NUM, QR_TAU_DEN = 3, 4  # tau = 0.75
QR_GRID = 20  # candidate order-stat positions k/QR_GRID, k = 0..QR_GRID


@register(
    "events_quantile_regression",
    oracle=f"""
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
spine AS (SELECT unnest(generate_series(0, {QR_GRID})) AS k),
cand AS (
  SELECT DISTINCT r.event_type, r.value AS c
  FROM ranked r
  JOIN spine s
    ON r.rn = 1 + ((r.n - 1) * s.k) // {QR_GRID}
),
loss AS (
  SELECT e.event_type, c.c,
         SUM(CAST(CASE WHEN e.value >= c.c
                       THEN {QR_TAU_NUM} * (e.value - c.c)
                       ELSE {QR_TAU_DEN - QR_TAU_NUM} * (c.c - e.value)
                  END AS DECIMAL(28,12))) AS loss4,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events e JOIN cand c ON c.event_type = e.event_type
  GROUP BY e.event_type, c.c
)
SELECT event_type, n_events,
       CAST({QR_TAU_NUM} AS DOUBLE) / {QR_TAU_DEN} AS tau,
       c AS q_estimate,
       CAST(loss4 AS DOUBLE) / {QR_TAU_DEN} AS pinball_loss
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY loss4, c) AS rk
  FROM loss
) t WHERE rk = 1
""",
)
def events_quantile_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile 'regression' as grid search: the tau=0.75 conditional
    quantile of `value` per event type, found by minimizing the pinball
    (check) loss L_tau(c) = sum_i [tau*(v-c)+ + (1-tau)*(c-v)+] over a
    bounded candidate grid of 21 exact order statistics. This is the
    estimating-equation view of quantiles (Koenker & Bassett 1978) —
    the same loss a learned quantile model minimizes — expressed as one
    broadcast join + one aggregation, which is how you'd fit per-segment
    quantile baselines at 100 TB without a global sort per segment.

    Deterministic: the loss is scaled by QR_TAU_DEN so both branches
    carry integer coefficients (3 and 1) on a single double difference,
    then summed EXACTLY in DECIMAL(28,12); the argmin compares decimals
    with the candidate value as tie-break, and the one division back to
    a double happens after aggregation.

    Scale shape: candidates come from one per-type rank pass (the same
    distributed order-stat machinery the split queries use); the loss
    table is |events| x 21 via a broadcast of the tiny candidate grid —
    map-side only, partial-aggregated; the argmin is |types| x 21 rows.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    spine = spark.range(0, QR_GRID + 1).select(F.col("id").alias("k"))
    cand = (
        ranked.join(
            F.broadcast(spine),
            F.col("rn")
            == 1 + F.expr(f"((n - 1) * k) div {QR_GRID}"),
        )
        .select("event_type", F.col("value").alias("c"))
        .distinct()
    )
    term = F.when(
        F.col("value") >= F.col("c"),
        F.lit(QR_TAU_NUM) * (F.col("value") - F.col("c")),
    ).otherwise(
        F.lit(QR_TAU_DEN - QR_TAU_NUM) * (F.col("c") - F.col("value"))
    )
    loss = (
        # spread before the |events| x 21 broadcast-join fan-out: the
        # single-split scan would otherwise evaluate every candidate's
        # pinball term on one core (guide §2.5; the candidate grid stays
        # broadcast, so this adds exactly one narrow shuffle).
        spread(ev.select("event_type", "value"))
        .join(F.broadcast(cand), "event_type")
        .groupBy("event_type", "c")
        .agg(
            F.sum(term.cast("decimal(28,12)")).alias("loss4"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )
    return (
        ranked_topk_per(loss, ["event_type"], ["loss4", "c"], 1, rk_col=None)
        .select(
            "event_type",
            "n_events",
            (F.lit(QR_TAU_NUM).cast("double") / F.lit(QR_TAU_DEN)).alias(
                "tau"
            ),
            F.col("c").alias("q_estimate"),
            (F.col("loss4").cast("double") / F.lit(QR_TAU_DEN)).alias(
                "pinball_loss"
            ),
        )
    )


ACF_MAX_LAG = 7


@register(
    "events_acf_daily",
    oracle=f"""
WITH counts AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
bounds AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM counts),
spine AS (
  SELECT CAST(unnest(generate_series(b.mn, b.mx, INTERVAL 1 DAY)) AS DATE)
           AS d
  FROM bounds b
),
x AS (
  SELECT date_diff('day', b.mn, s.d) + 1 AS t, COALESCE(c.x, 0) AS x
  FROM spine s CROSS JOIN bounds b LEFT JOIN counts c ON c.d = s.d
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x * x) AS BIGINT) AS q
  FROM x
),
lags AS (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag),
pairs AS (
  SELECT l.lag,
         CAST(SUM(x1.x * x2.x) AS BIGINT) AS sxy,
         CAST(SUM(x1.x) AS BIGINT) AS h,
         CAST(SUM(x2.x) AS BIGINT) AS tt,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM lags l
  JOIN x x1 ON true
  JOIN x x2 ON x2.t = x1.t + l.lag
  GROUP BY l.lag
)
SELECT p.lag, s.n AS n_days, p.n_pairs, p.sxy AS sum_xy,
       -- zero-variance day series (n*q = s*s) -> NULL, not 0/0: DuckDB
       -- doubles would give inf/nan where Spark gives NULL (r10 ADVICE)
       CASE WHEN s.n * s.q - s.s * s.s <> 0
            THEN CAST(s.n * s.n * p.sxy - s.n * s.s * (p.h + p.tt)
                      + (s.n - p.lag) * s.s * s.s AS DOUBLE)
                 / CAST(s.n * (s.n * s.q - s.s * s.s) AS DOUBLE)
       END AS r_acf
FROM pairs p CROSS JOIN stats s
""",
)
def events_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series at lags
    1..{ACF_MAX_LAG}: r_l = sum_t (x_t - xbar)(x_t+l - xbar) / sum_t
    (x_t - xbar)^2 over a GAP-FILLED day spine (missing days count 0 —
    silently skipping them would splice non-adjacent days together and
    fabricate correlation). The seasonality detector behind cadence
    choices every pipeline makes: a spike at lag 7 says weekly
    periodicity, slow decay says trend (difference before modeling) —
    the diagnostic companion to events_stl_decompose and the
    forecast-backtest family.

    Deterministic: daily counts are integers, and r_l is computed in
    the n^2-cleared exact-integer form
    (n^2*Sxy - n*S*(H+T) + (n-l)*S^2) / (n*(n*Q - S^2)) — every term a
    BIGINT product of counts — with ONE final double division.

    Scale shape: the only corpus-pass is the day-grain count (map-side
    combinable); the series table is |days| rows (localCheckpointed so
    the stats/lag branches don't re-derive the scan), and the lag join
    runs on that tiny table. At 100 TB the series is still |days| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    bounds = counts.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("d"),
        F.col("mn"),
    )
    x = (
        spine.join(counts, "d", "left")
        .select(
            (F.datediff(F.col("d"), F.col("mn")) + 1).alias("t"),
            F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
        )
        .localCheckpoint()
    )
    stats = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    x1 = x.select(F.col("t").alias("t1"), F.col("x").alias("xa"))
    x2 = x.select(F.col("t").alias("t2"), F.col("x").alias("xb"))
    pairs = (
        F.broadcast(lags)
        .crossJoin(x1)
        .join(x2, F.col("t2") == F.col("t1") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("xa") * F.col("xb")).cast("bigint").alias("sxy"),
            F.sum("xa").cast("bigint").alias("h"),
            F.sum("xb").cast("bigint").alias("tt"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    num = (
        F.col("n") * F.col("n") * F.col("sxy")
        - F.col("n") * F.col("s") * (F.col("h") + F.col("tt"))
        + (F.col("n") - F.col("lag")) * F.col("s") * F.col("s")
    )
    den = F.col("n") * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
    return (
        pairs.crossJoin(F.broadcast(stats))
        .select(
            "lag",
            F.col("n").alias("n_days"),
            "n_pairs",
            F.col("sxy").alias("sum_xy"),
            # zero-variance series -> NULL in both dialects (the same
            # 0/0 corner dedup_cluster_ari NULL-guards; r10 ADVICE)
            F.when(
                den != F.lit(0), num.cast("double") / den.cast("double")
            ).alias("r_acf"),
        )
    )
