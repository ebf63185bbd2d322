"""Skew-safe aggregation queries (SURVEY §2.3 aggregations, 100 TB path).

The events table has exactly 5 event types — at 100 TB a plain
``groupBy(event_type)`` with large partial state funnels 20 TB per key
through 5 reducers. These queries demonstrate the two mitigation shapes,
both oracle-checked against the plain GROUP BY (same answer, skew-free
plan):

- `two_stage` salted aggregation (functions/skew.py) for algebraic
  aggregates with large partials;
- exact COUNT(DISTINCT) via pre-distinct on (key, value) — the distinct
  shuffle spreads by value, so a hot key never converges on one reducer
  until it is already one row per distinct value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ranking import ranked_topk_per
from ..functions.skew import two_stage
from ..registry import register
from ..session import ensure_session_conf


@register(
    "agg_salted_heavy_hitters",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       CAST(MAX(value) AS DOUBLE) AS max_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
""",
)
def agg_salted_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter aggregation via salted two-stage + pre-distinct count.

    Identical answer to the single-shuffle GROUP BY (the oracle), but no
    reducer ever sees more than 1/n_salt of a hot key's rows (stage 1)
    or more than one row per (key, salt) (stage 2).
    """
    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")

    base = two_stage(
        ev.select("event_type", "user_id", "value"),
        keys=["event_type"],
        partial_aggs=[
            F.count(F.lit(1)).alias("c"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
            F.max("value").alias("m"),
        ],
        final_aggs=[
            F.sum("c").alias("n_events"),
            F.sum("s").cast("double").alias("sum_value"),
            F.max("m").cast("double").alias("max_value"),
        ],
    )
    # exact distinct: shuffle spreads over (event_type, user_id) — one row
    # per distinct pair survives before the per-key count
    users = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    return base.join(users, "event_type")


def skewed_fact_dim(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The synthetic skewed join inputs shared by `join_salted_skew` and
    the AQE skew-join A/B (tests/test_plans.py): ~70% of fact rows share
    join_key 0; the dim is one row per key."""
    ev = load_table(spark, sf_dir, "events")
    fact = ev.select(
        "event_id",
        F.when(F.col("event_id") % 10 < 7, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("join_key"),
        "value",
    )
    dim = (
        ev.select(F.col("user_id").alias("join_key"))
        .distinct()
        .unionByName(
            ev.sparkSession.range(1).select(
                F.lit(0).cast("bigint").alias("join_key")
            )
        )
        .distinct()
        .select(
            "join_key",
            F.concat(
                F.lit("grp-"), (F.col("join_key") % 7).cast("string")
            ).alias("grp"),
        )
    )
    return fact, dim


@register(
    "join_salted_skew",
    oracle="""
WITH fact AS (
  SELECT event_id,
         CASE WHEN event_id % 10 < 7 THEN 0 ELSE user_id END AS join_key,
         value
  FROM events
),
dim AS (
  SELECT DISTINCT user_id AS join_key,
         'grp-' || CAST(user_id % 7 AS VARCHAR) AS grp
  FROM events
  UNION
  SELECT 0, 'grp-0'
)
SELECT d.grp,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(f.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM fact f JOIN dim d ON f.join_key = d.join_key
GROUP BY d.grp
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted SHUFFLE JOIN for a skewed fact key: ~70% of fact rows share
    one join key (synthesized), which a plain shuffle join would funnel
    through a single reducer. The small side is replicated across
    N_SALT buckets and the fact side hashes into one of them, so the hot
    key's rows spread over N_SALT reducers; the merge hint keeps the
    demo an actual shuffle join (a broadcast would hide the pattern —
    salting exists for dims too big to broadcast at 100 TB; AQE skew-join
    does this adaptively, salting is the explicit form you reach for when
    the skew is known ahead of time).

    Answer is oracle-identical to the plain join: salting only re-keys
    the physical distribution.
    """
    ensure_session_conf(spark)
    n_salt = 8
    fact, dim = skewed_fact_dim(spark, sf_dir)
    fact = fact.withColumn(
        "__salt", (F.col("event_id") % n_salt).cast("int")
    )
    dim_salted = dim.select(
        "join_key",
        "grp",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("__salt"),
    ).select("join_key", "grp", F.col("__salt").cast("int").alias("__salt"))
    joined = fact.hint("merge").join(dim_salted, ["join_key", "__salt"])
    return joined.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
            "sum_value"
        ),
    )


@register(
    "agg_incremental_rollup",
    oracle="""
SELECT o_orderpriority,
       date_trunc('month', o_orderdate) AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM orders
GROUP BY 1, 2
""",
)
def agg_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the monthly revenue
    rollup computed as BASE (orders before the cutover) merged with an
    INCREMENT (orders on/after it) by re-aggregating the two partial
    states — and the result must equal the full recompute bit-for-bit.

    The mergeability contract is the whole point: COUNT and decimal SUM
    are algebraic, so a 100 TB rollup never recomputes history — each
    epoch aggregates only its increment and merges O(groups) partial
    rows (exactly what the bucketed state sink does for doc state, and
    what partial+final aggregation does inside a single Spark job).
    Decimal partials make the merge order-insensitive; the final cast to
    DOUBLE happens once, after the merge.
    """
    ensure_session_conf(spark)
    o = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", "o_orderdate")
    cut = F.lit("1997-01-01").cast("date")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "o_orderpriority", month.alias("order_month")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev_dec"),
        )

    base = partial(o.filter(F.col("o_orderdate") < cut))
    increment = partial(o.filter(F.col("o_orderdate") >= cut))
    merged = (
        base.unionByName(increment)
        .groupBy("o_orderpriority", "order_month")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("rev_dec").cast("double").alias("revenue"),
        )
    )
    return merged


@register(
    "events_zscore_outliers",
    oracle="""
WITH stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
         CAST(SUM(CAST(value * value AS DECIMAL(24,6))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
),
moments AS (
  SELECT event_type, n, s / n AS mean,
         sqrt(s2 / n - (s / n) * (s / n)) AS std
  FROM stats
)
SELECT e.event_id, e.event_type, e.value,
       (e.value - m.mean) / m.std AS zscore
FROM events e JOIN moments m USING (event_type)
WHERE abs((e.value - m.mean) / m.std) > 2.5
""",
)
def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population z-score outlier flagging per event type: two-pass shape
    (tiny per-group moment table from exact decimal Σx/Σx², broadcast
    back over the stream) — the monitoring/data-validation primitive.

    Determinism: Σx and Σx² go through DECIMAL (order-independent); the
    remaining mean/std/z arithmetic is per-row double math written in the
    same order in both dialects. Scale shape: pass 1 is a map-side
    partial aggregation to ~|event types| rows; pass 2 re-scans with the
    broadcast moments — no shuffle of the fact stream at all.
    """
    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(24,6)"))
        .cast("double")
        .alias("s2"),
    )
    moments = stats.select(
        "event_type",
        (F.col("s") / F.col("n")).alias("mean"),
        F.sqrt(
            F.col("s2") / F.col("n")
            - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
        ).alias("std"),
    )
    z = (F.col("value") - F.col("mean")) / F.col("std")
    return (
        ev.join(F.broadcast(moments), "event_type")
        .select("event_id", "event_type", "value", z.alias("zscore"))
        .filter(F.abs(F.col("zscore")) > 2.5)
    )


@register(
    "events_anomaly_mad",
    oracle="""
WITH med AS (
  SELECT event_type,
         quantile_disc(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med,
         abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type,
         quantile_disc(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(d.med AS DOUBLE) AS median_value,
       CAST(m.mad AS DOUBLE) AS mad,
       CAST(COUNT(*) FILTER (WHERE abs(d.value - d.med) > 3 * m.mad)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type, d.med, m.mad
""",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation: per event
    type, the discrete median, the MAD, and how many events sit beyond
    3 MADs — the heavy-tail-safe complement to events_zscore_outliers
    (one extreme value shifts a mean and inflates a stddev, but moves
    neither the median nor the MAD — z-scores under-flag exactly when
    outliers are worst).

    Determinism: percentile_disc picks ACTUAL data values (no
    interpolation arithmetic), so medians and MADs are raw doubles both
    engines agree on; the deviation compare is two correctly-rounded
    ops.

    Scale shape: two grouped exact percentiles (at 100 TB:
    approx_percentile, same plan) + one broadcast of the per-type
    medians/MADs (group-count-sized) back onto the event stream — the
    events themselves shuffle once, on event_type.
    """
    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias(
            "med"
        )
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").alias(
            "mad"
        )
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad")
                ).cast("long")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            F.col("med").cast("double").alias("median_value"),
            F.col("mad").cast("double").alias("mad"),
            "n_outliers",
        )
    )


@register(
    "mv_join_delta_maintenance",
    oracle="""
WITH o0 AS (SELECT * FROM orders   WHERE o_orderkey % 7 <> 0),
do_ AS (SELECT * FROM orders   WHERE o_orderkey % 7 = 0),
l0 AS (SELECT * FROM lineitem WHERE l_linenumber < 5),
dl AS (SELECT * FROM lineitem WHERE l_linenumber >= 5),
term AS (
  SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
         COUNT(*) AS c, SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS s,
         0 AS is_delta
  FROM o0 o JOIN l0 l ON o.o_orderkey = l.l_orderkey GROUP BY 1
  UNION ALL
  SELECT strftime(o.o_orderdate, '%Y-%m'), COUNT(*),
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))), 1
  FROM do_ o JOIN l0 l ON o.o_orderkey = l.l_orderkey GROUP BY 1
  UNION ALL
  SELECT strftime(o.o_orderdate, '%Y-%m'), COUNT(*),
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))), 1
  FROM o0 o JOIN dl l ON o.o_orderkey = l.l_orderkey GROUP BY 1
  UNION ALL
  SELECT strftime(o.o_orderdate, '%Y-%m'), COUNT(*),
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))), 1
  FROM do_ o JOIN dl l ON o.o_orderkey = l.l_orderkey GROUP BY 1
),
inc AS (
  SELECT month, CAST(SUM(c) AS BIGINT) AS inc_cnt,
         CAST(SUM(s) AS DOUBLE) AS inc_rev,
         CAST(SUM(CASE WHEN is_delta = 1 THEN c ELSE 0 END) AS BIGINT)
           AS delta_cnt
  FROM term GROUP BY month
),
full_ AS (
  SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
         CAST(COUNT(*) AS BIGINT) AS full_cnt,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
           AS full_rev
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey GROUP BY 1
)
SELECT f.month, f.full_cnt, i.inc_cnt, i.delta_cnt, f.full_rev, i.inc_rev,
       (f.full_cnt = i.inc_cnt AND f.full_rev = i.inc_rev) AS maintained_ok
FROM full_ f JOIN inc i USING (month)
""",
)
def mv_join_delta_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN materialization — the
    DBSP/differential-dataflow identity (A+dA) JOIN (B+dB) =
    A JOIN B + dA JOIN B + A JOIN dB + dA JOIN dB, proven exactly on a
    monthly revenue view over orders JOIN lineitem. The batch world
    splits deterministically (dO = orderkey % 7 = 0 — a late-arriving
    order batch; dL = linenumber >= 5 — a late line-item batch, chosen
    cross-cutting so every delta term is non-empty), the view is
    maintained as base-term + three delta terms, and the output compares
    the incrementally-maintained aggregate against the full recompute
    per month: `maintained_ok` must be true for every row, counts AND
    decimal-exact revenue.

    This is the missing join half of agg_incremental_rollup (above):
    together they cover the two IVM algebras a 100 TB nightly ETL needs
    — at scale only the delta terms shuffle (dA JOIN B broadcast- or
    bucket-joins a small delta against the big base; the base term is
    the standing MV, never recomputed), turning an O(|A|+|B|) nightly
    job into O(|dA|+|dB|).

    Determinism: counts are BIGINT; revenue sums go through
    DECIMAL(18,6) (exact, order-independent) and cast to DOUBLE only at
    the end, so full == incremental is byte-exact, and the driver hash
    checks both paths.
    """
    ensure_session_conf(spark)
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o0 = o.filter(F.col("o_orderkey") % 7 != 0)
    do_ = o.filter(F.col("o_orderkey") % 7 == 0)
    l0 = li.filter(F.col("l_linenumber") < 5)
    dl = li.filter(F.col("l_linenumber") >= 5)

    def term(odf: DataFrame, ldf: DataFrame, is_delta: int) -> DataFrame:
        return (
            odf.select("o_orderkey", "o_orderdate")
            .join(
                ldf.select("l_orderkey", "l_extendedprice"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias(
                    "s"
                ),
            )
            .withColumn("is_delta", F.lit(is_delta))
        )

    inc = (
        term(o0, l0, 0)
        .unionByName(term(do_, l0, 1))
        .unionByName(term(o0, dl, 1))
        .unionByName(term(do_, dl, 1))
        .groupBy("month")
        .agg(
            F.sum("c").cast("bigint").alias("inc_cnt"),
            F.sum("s").cast("double").alias("inc_rev"),
            F.sum(F.when(F.col("is_delta") == 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("delta_cnt"),
        )
    )
    full = (
        o.select("o_orderkey", "o_orderdate")
        .join(
            li.select("l_orderkey", "l_extendedprice"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("full_cnt"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("full_rev"),
        )
    )
    return full.join(inc, "month").select(
        "month",
        "full_cnt",
        "inc_cnt",
        "delta_cnt",
        "full_rev",
        "inc_rev",
        (
            (F.col("full_cnt") == F.col("inc_cnt"))
            & (F.col("full_rev") == F.col("inc_rev"))
        ).alias("maintained_ok"),
    )


# --- end-to-end CDC -> live-updated aggregate (the IVM story) ---------------

IVM_KEYS = 512  # rowkey space of the synthesized change stream
IVM_GROUPS = 8  # rollup groups (stable per key: grp = rowkey % 8)
IVM_EPOCHS = 4  # change-stream epochs (micro-batch boundaries in the twin)
IVM_DEL_MOD = 11  # seq % 11 == 0 => tombstone


_SQL_LIVE_ROLLUP = f"""
WITH mx AS (SELECT MAX(event_id) + 1 AS n FROM events),
ch AS (
  SELECT event_id % {IVM_KEYS} AS rowkey,
         event_id AS seq,
         (event_id % {IVM_DEL_MOD} = 0) AS is_del,
         value,
         (event_id * {IVM_EPOCHS}) // mx.n AS epoch,
         (event_id % {IVM_KEYS}) % {IVM_GROUPS} AS grp
  FROM events, mx
),
lagged AS (
  SELECT *, LAG(seq) OVER w AS lag_seq, LAG(is_del) OVER w AS lag_del,
         LAG(value) OVER w AS lag_value
  FROM ch WINDOW w AS (PARTITION BY rowkey ORDER BY seq)
),
d AS (
  SELECT grp, epoch,
         (CASE WHEN NOT is_del THEN 1 ELSE 0 END)
         - (CASE WHEN lag_seq IS NOT NULL AND NOT lag_del THEN 1 ELSE 0 END)
           AS cnt_delta,
         (CASE WHEN NOT is_del THEN CAST(value AS DECIMAL(18,6))
               ELSE CAST(0 AS DECIMAL(18,6)) END)
         - (CASE WHEN lag_seq IS NOT NULL AND NOT lag_del
                 THEN CAST(lag_value AS DECIMAL(18,6))
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS val_delta
  FROM lagged
),
ed AS (SELECT grp, epoch, SUM(cnt_delta) AS cd, SUM(val_delta) AS vd
       FROM d GROUP BY grp, epoch),
grid AS (
  SELECT g.grp, e.epoch
  FROM (SELECT unnest(range(0, {IVM_GROUPS})) AS grp) g
  CROSS JOIN (SELECT unnest(range(0, {IVM_EPOCHS})) AS epoch) e
),
live AS (
  SELECT g.grp, g.epoch,
         CAST(COALESCE(SUM(ed.cd), 0) AS BIGINT) AS live_keys,
         CAST(COALESCE(SUM(ed.vd), 0) AS DOUBLE) AS live_sum
  FROM grid g LEFT JOIN ed ON ed.grp = g.grp AND ed.epoch <= g.epoch
  GROUP BY g.grp, g.epoch
),
lastup AS (
  SELECT rowkey, grp, epoch, is_del, value FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY rowkey, epoch
                                 ORDER BY seq DESC) AS rn
    FROM ch
  ) t WHERE rn = 1
),
st AS (
  SELECT rowkey, epoch, grp, is_del, value FROM (
    SELECT l.rowkey, l.grp, g.epoch, l.is_del, l.value,
           ROW_NUMBER() OVER (PARTITION BY l.rowkey, g.epoch
                              ORDER BY l.epoch DESC) AS rn
    FROM lastup l
    JOIN (SELECT unnest(range(0, {IVM_EPOCHS})) AS epoch) g
      ON l.epoch <= g.epoch
  ) t WHERE rn = 1
),
rec AS (
  SELECT grp, epoch,
         CAST(COALESCE(COUNT(*) FILTER (WHERE NOT is_del), 0) AS BIGINT)
           AS rec_keys,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,6)))
                       FILTER (WHERE NOT is_del), 0) AS DOUBLE) AS rec_sum
  FROM st GROUP BY grp, epoch
)
SELECT l.grp, l.epoch, l.live_keys, l.live_sum,
       COALESCE(r.rec_keys, 0) AS rec_keys,
       COALESCE(r.rec_sum, 0.0) AS rec_sum,
       (l.live_keys = COALESCE(r.rec_keys, 0)
        AND l.live_sum = COALESCE(r.rec_sum, 0.0)) AS maintained_ok
FROM live l LEFT JOIN rec r ON r.grp = l.grp AND r.epoch = l.epoch
"""


def _ivm_change_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized change stream behind the live-rollup IVM pair:
    events replayed as keyed upserts/tombstones with a total per-key
    order (rowkey = event_id % IVM_KEYS, seq = event_id, tombstone at
    seq % IVM_DEL_MOD = 0), epoch = seq quartile (the twin's micro-batch
    boundary), grp = stable rollup group per key. Group-changing updates
    are out of scope by construction (grp is a function of rowkey) —
    the standard IVM decomposition treats them as delete+insert."""
    from ..catalog import spread

    e = load_table(spark, sf_dir, "events")
    mx = e.agg((F.max("event_id") + 1).alias("n"))
    return (
        spread(e)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("event_id") % IVM_KEYS).alias("rowkey"),
            F.col("event_id").alias("seq"),
            (F.col("event_id") % IVM_DEL_MOD == 0).alias("is_del"),
            "value",
            F.expr(f"(event_id * {IVM_EPOCHS}) DIV n").alias("epoch"),
            ((F.col("event_id") % IVM_KEYS) % IVM_GROUPS).alias("grp"),
        )
    )


def _ivm_trajectory_from_deltas(deltas: DataFrame) -> DataFrame:
    """(grp, epoch, cnt_delta, val_delta) rows -> the cumulative live
    trajectory over the full grp x epoch grid. Shared by the batch query
    and the streaming twin (whose drained state-store deltas feed the
    same fold)."""
    ed = deltas.groupBy("grp", "epoch").agg(
        F.sum("cnt_delta").alias("cd"), F.sum("val_delta").alias("vd")
    )
    spark = deltas.sparkSession
    grid = spark.range(IVM_GROUPS).select(
        F.col("id").alias("g_grp")
    ).crossJoin(
        spark.range(IVM_EPOCHS).select(F.col("id").alias("g_epoch"))
    )
    return (
        grid.join(
            ed,
            (ed["grp"] == grid["g_grp"]) & (ed["epoch"] <= grid["g_epoch"]),
            "left",
        )
        .groupBy("g_grp", "g_epoch")
        .agg(
            F.coalesce(F.sum("cd"), F.lit(0)).cast("bigint").alias(
                "live_keys"
            ),
            F.coalesce(F.sum("vd"), F.lit(0)).cast("double").alias(
                "live_sum"
            ),
        )
        .select(
            F.col("g_grp").alias("grp"),
            F.col("g_epoch").alias("epoch"),
            "live_keys",
            "live_sum",
        )
    )


def _ivm_recompute(ch: DataFrame) -> DataFrame:
    """Ground truth: per (grp, epoch), re-aggregate the LWW state as of
    each epoch's end (last update per key per epoch, forward-filled over
    the epoch grid by a bounded argmax join)."""
    spark = ch.sparkSession
    lastup = ranked_topk_per(
        ch, ["rowkey", "epoch"], [F.col("seq").desc()], 1, rk_col=None
    ).select("rowkey", "grp", "epoch", "is_del", "value")
    grid_e = spark.range(IVM_EPOCHS).select(F.col("id").alias("g_epoch"))
    st = ranked_topk_per(
        lastup.join(F.broadcast(grid_e), F.col("epoch") <= F.col("g_epoch")),
        ["rowkey", "g_epoch"], [F.col("epoch").desc()], 1, rk_col="rn",
    )
    live_val = F.when(
        ~F.col("is_del"), F.col("value").cast("decimal(18,6)")
    )
    return st.groupBy("grp", "g_epoch").agg(
        F.coalesce(
            F.sum(F.when(~F.col("is_del"), 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("rec_keys"),
        F.coalesce(F.sum(live_val), F.lit(0)).cast("double").alias("rec_sum"),
    ).select("grp", F.col("g_epoch").alias("epoch"), "rec_keys", "rec_sum")


@register("cdc_live_rollup_ivm", oracle=_SQL_LIVE_ROLLUP)
def cdc_live_rollup_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC -> live-updated aggregate: the reference's
    raison d'etre (a near-real-time mirror of a mutating table,
    README_zh.md:413, observer6/HbaseDataSyncEsObserver.java:36-43)
    expressed as the engine's own incremental-view-maintenance story.

    A keyed change stream (upserts + tombstones, total per-key order)
    maintains a per-group rollup (live key count + decimal-exact value
    sum) purely from per-update DELTAS: each update contributes
    (new - previous) for its key via one lag window, deltas aggregate
    per (group, epoch), and the cumulative fold over epochs is the live
    aggregate trajectory. The query then proves, per (group, epoch),
    that the delta-maintained aggregate equals a full LWW-state
    recompute as of that epoch — `maintained_ok` must be true on every
    row, counts AND decimal-exact sums.

    This composes the two IVM algebras already proven separately
    (agg_incremental_rollup: algebraic merge; mv_join_delta_maintenance:
    join deltas) into the operational shape the reference implements
    imperatively with its 10k/30s bulk buffer: at 100 TB the standing
    rollup is O(groups) state, each epoch shuffles only its OWN updates
    (one lag window per key partition), and history is never
    re-aggregated. stream_live_rollup_ivm is the ingest-time twin: the
    same deltas emitted from applyInPandasWithState keyed state, drained
    micro-batch by micro-batch, share this oracle.

    Determinism: the per-key lag chain telescopes exactly in
    DECIMAL(18,6) (value casts are identical on both sides of every
    delta), so live == recompute is byte-exact in both engines.
    """
    ensure_session_conf(spark)
    ch = _ivm_change_stream(spark, sf_dir)
    w = Window.partitionBy("rowkey").orderBy("seq")
    lagged = ch.select(
        "grp",
        "epoch",
        "is_del",
        "value",
        F.lag("seq").over(w).alias("lag_seq"),
        F.lag("is_del").over(w).alias("lag_del"),
        F.lag("value").over(w).alias("lag_value"),
    )
    zero = F.lit(0).cast("decimal(18,6)")
    prev_live = F.col("lag_seq").isNotNull() & ~F.col("lag_del")
    deltas = lagged.select(
        "grp",
        "epoch",
        (
            F.when(~F.col("is_del"), 1).otherwise(0)
            - F.when(prev_live, 1).otherwise(0)
        ).alias("cnt_delta"),
        (
            F.when(
                ~F.col("is_del"), F.col("value").cast("decimal(18,6)")
            ).otherwise(zero)
            - F.when(
                prev_live, F.col("lag_value").cast("decimal(18,6)")
            ).otherwise(zero)
        ).alias("val_delta"),
    )
    live = _ivm_trajectory_from_deltas(deltas)
    rec = _ivm_recompute(ch)
    return live.join(rec, ["grp", "epoch"], "left").select(
        "grp",
        "epoch",
        "live_keys",
        "live_sum",
        F.coalesce(F.col("rec_keys"), F.lit(0)).cast("bigint").alias(
            "rec_keys"
        ),
        F.coalesce(F.col("rec_sum"), F.lit(0.0)).alias("rec_sum"),
        (
            (F.col("live_keys") == F.coalesce(F.col("rec_keys"), F.lit(0)))
            & (
                F.col("live_sum")
                == F.coalesce(F.col("rec_sum"), F.lit(0.0))
            )
        ).alias("maintained_ok"),
    )


# Binned range join under planted skew: the
# telemetry shape that kills naive plans at 100 TB — "which events fall
# inside each incident window" where one window covers the WHOLE range.
RANGE_BIN_SEC = 1800  # 30-minute bins = the incident-window length
RANGE_N_SALT = 8  # replicate interval-bins x salts; points pick one salt


@register(
    "join_range_skew_salted",
    oracle=f"""
WITH sec AS (
  SELECT event_id, user_id, event_type,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS s
  FROM events
),
iv AS (
  SELECT event_id AS window_id, s AS s0, s + {RANGE_BIN_SEC} AS s1
  FROM sec WHERE event_type = 'error'
  UNION ALL
  SELECT CAST(-1 AS BIGINT), MIN(s), MAX(s) + 1 FROM sec
),
p AS (SELECT event_id, user_id, s FROM sec WHERE event_type <> 'error')
SELECT iv.window_id,
       CAST(((iv.s1 - 1) // {RANGE_BIN_SEC}) - (iv.s0 // {RANGE_BIN_SEC})
            + 1 AS BIGINT) AS n_bins,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users
FROM iv JOIN p ON p.s >= iv.s0 AND p.s < iv.s1
GROUP BY iv.window_id, iv.s0, iv.s1
""",
)
def join_range_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-point RANGE join under planted skew, executed as a
    binned + salted equi-join — the 100 TB telemetry-join pattern.

    Semantics: every 'error' event opens a 30-minute incident window;
    one PLANTED whole-corpus window (window_id = -1, covering the full
    time range) is the hot interval — a naive range join puts the
    entire fact table on that single interval's reducer (and without
    any equi key Spark can only BNL/cartesian the join). The rewrite:

    1. BIN: each interval explodes into the 30-min bins it overlaps
       (`sequence(s0 div B, (s1-1) div B)`), each point maps to exactly
       ONE bin — so a (point, interval) candidate pair meets in exactly
       one bin and needs no dedup. The hot whole-range interval's
       explosion IS its mitigation: its matches spread over all ~1440
       bins instead of one reducer.
    2. SALT: interval-bin rows replicate x{RANGE_N_SALT}; each point
       picks salt = event_id % {RANGE_N_SALT} — so a hot BIN (a burst
       of points in one 30-min slice) also spreads x{RANGE_N_SALT}.
       Same replicated-dimension salt as join_salted_skew, composed
       with the binning.
    3. RESIDUAL: the exact `s0 <= p < s1` predicate filters bin-level
       false candidates after the equi-join.

    The bin fan-out is AUDITED in the output (`n_bins` per window: 1-2
    for real incidents, ~1440 for the planted one), so the rehearsal
    can price the replication exactly: interval-bin rows =
    sum(n_bins) x {RANGE_N_SALT}, and candidate pair mass stays
    sum over points of overlapping windows — never |points| x |windows|.
    The oracle states the same join declaratively (DuckDB plans it as
    an IEJoin — the engines take entirely different physical routes to
    the same multiset).

    At 100 TB: bin width = interval length keeps fan-out <= 2 per real
    interval; known whole-range intervals belong out of the join (they
    aggregate EVERYTHING — compute them as a plain agg); this query
    keeps one in deliberately to prove the plan survives the mistake.
    """
    ensure_session_conf(spark)
    B = RANGE_BIN_SEC
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("timestampdiff(SECOND, TIMESTAMP'1970-01-01', ts)").alias(
            "s"
        ),
    )
    iv = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("window_id"),
            F.col("s").alias("s0"),
            (F.col("s") + B).alias("s1"),
        )
        .unionByName(
            ev.agg(
                F.min("s").alias("s0"), (F.max("s") + 1).alias("s1")
            ).select(
                F.lit(-1).cast("bigint").alias("window_id"), "s0", "s1"
            )
        )
    )
    ibins = iv.select(
        "window_id",
        "s0",
        "s1",
        F.explode(
            F.sequence(
                F.expr(f"s0 div {B}"), F.expr(f"(s1 - 1) div {B}")
            )
        ).alias("bin"),
    )
    isalted = ibins.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(RANGE_N_SALT - 1)))
    )
    pts = ev.filter(F.col("event_type") != "error").select(
        "event_id",
        "user_id",
        F.col("s").alias("p"),
        F.expr(f"s div {B}").alias("bin"),
        (F.col("event_id") % RANGE_N_SALT).cast("int").alias("salt"),
    )
    cand = pts.join(isalted, ["bin", "salt"]).filter(
        (F.col("p") >= F.col("s0")) & (F.col("p") < F.col("s1"))
    )
    return cand.groupBy("window_id", "s0", "s1").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    ).select(
        "window_id",
        (
            F.expr(f"(s1 - 1) div {B}") - F.expr(f"s0 div {B}") + 1
        ).cast("bigint").alias("n_bins"),
        "n_points",
        "n_users",
    )
