"""ES DSL wave 8 — the remaining pipeline aggregations, robust-statistics
metric aggregations, and search-API surfaces [NORTH-STAR].

The reference repo replicates HBase rows into Elasticsearch
(`observer6/ElasticSearchBulkOperator.java`, `observer6/ESClient.java`) so
its users query the replicated data with the ES query/agg DSL.  Waves 2-7
(text.py) closed the core query DSL and most of the agg DSL; this module
adds the rest of the mainstream surface:

- pipeline aggs: ``serial_diff`` (+ ``moving_percentiles``),
  ``normalize`` (percent_of_sum / rescale_0_1 / mean), sibling
  ``stats_bucket`` + ``percentiles_bucket``;
- metric aggs: ``boxplot``, ``median_absolute_deviation``;
- bucket aggs: ``date_range``, ``global``, ``diversified_sampler``,
  ``nested`` + ``reverse_nested``;
- search APIs: ``multi_match`` (cross_fields blending), ``match_bool_prefix``,
  ``rescore``, ``termvectors``, sliced scroll, the ``phrase`` suggester.

All semantics are public ES/Lucene behavior re-expressed Spark-first:
declarative DataFrame plans, decimal-exact float aggregation (registry
determinism rule 1), nearest-rank discrete quantiles (engine-portable where
ES's TDigest is not), and unique tiebreakers on every ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..functions import hashing as H
from ..functions.deterministic import dsum, sql_dsum
from ..functions.ranking import ranked_topk, ranked_topk_per
from ..registry import register
from .text import (
    BM25_B,
    BM25_K1,
    BM25_TERMS,
    _SQL_BM25_CTE,
    _bm25_agg,
    _postings_memo,
)

# ---------------------------------------------------------------------------
# pipeline aggs over the events date_histogram
# ---------------------------------------------------------------------------

SD_LAG = 7  # serial_diff lag: weekly differencing over daily buckets
SD_MOVWIN = 7  # moving_percentiles trailing window (buckets)


@register(
    "agg_serial_diff",
    oracle=f"""
WITH hist AS (
  SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY day
)
SELECT day, n_events,
       CAST(n_events - LAG(n_events, {SD_LAG}) OVER (ORDER BY day) AS BIGINT)
         AS serial_diff_{SD_LAG},
       CAST(median(n_events) OVER (ORDER BY day
         ROWS BETWEEN {SD_MOVWIN - 1} PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS moving_median_{SD_MOVWIN}
FROM hist
""",
)
def agg_serial_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``serial_diff`` + ``moving_percentiles`` pipeline aggs: daily
    date_histogram over the events feed, then lag-{SD_LAG} serial
    differencing (the seasonality-removal shape serial_diff exists for)
    and a trailing {SD_MOVWIN}-bucket moving median (moving_percentiles
    at the 50th percentile).  Completes the pipeline-agg taxonomy next
    to derivative/cumulative_sum/moving_fn/bucket_selector
    (agg_date_histogram_pipeline) and the sibling family
    (agg_sibling_pipeline).

    Deterministic: integer bucket counts; the moving median interpolates
    two integers at worst ((a+b)/2 — exact in doubles), written as an
    explicit sorted-window midpoint on the Spark side so both engines
    compute the identical rational.

    Scale shape: one shuffle at day grain, then a window over |buckets|
    rows — the same coordinator-grain compute ES runs; the bucket table
    is dictionary-small at any corpus size.
    """
    e = load_table(spark, sf_dir, "events")
    hist = e.groupBy(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    w = Window.orderBy("day")
    wmov = w.rowsBetween(-(SD_MOVWIN - 1), Window.currentRow)
    arr = F.sort_array(F.collect_list("n_events").over(wmov))
    med = F.expr(
        "CASE WHEN size(mov_arr) % 2 = 1"
        " THEN CAST(element_at(mov_arr,"
        "   CAST((size(mov_arr) + 1) DIV 2 AS INT)) AS DOUBLE)"
        " ELSE (element_at(mov_arr, CAST(size(mov_arr) DIV 2 AS INT))"
        "       + element_at(mov_arr,"
        "   CAST(size(mov_arr) DIV 2 + 1 AS INT))) / 2.0 END"
    )
    return (
        hist.select(
            "day",
            "n_events",
            (F.col("n_events") - F.lag("n_events", SD_LAG).over(w))
            .cast("bigint")
            .alias(f"serial_diff_{SD_LAG}"),
            arr.alias("mov_arr"),
        )
        .withColumn(f"moving_median_{SD_MOVWIN}", med)
        .drop("mov_arr")
    )


@register(
    "agg_normalize",
    oracle="""
WITH hist AS (
  SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY day
),
tot AS (
  SELECT CAST(SUM(n_events) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS nb,
         CAST(MIN(n_events) AS BIGINT) AS minv,
         CAST(MAX(n_events) AS BIGINT) AS maxv
  FROM hist
)
SELECT day, n_events,
       CAST(n_events AS DOUBLE) / CAST(t.total AS DOUBLE) AS pct_of_sum,
       CAST(n_events - t.minv AS DOUBLE) / CAST(t.maxv - t.minv AS DOUBLE)
         AS rescale01,
       CAST(n_events AS DOUBLE)
         / (CAST(t.total AS DOUBLE) / CAST(t.nb AS DOUBLE)) AS mean_frac
FROM hist CROSS JOIN tot t
""",
)
def agg_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``normalize`` pipeline agg: daily date_histogram buckets with
    the three pure rescaling methods — ``percent_of_sum`` (bucket share
    of the total), ``rescale_0_1`` (min-max), and ``mean`` (bucket over
    bucket-mean).  (z-score/softmax need transcendental stddev/exp and
    are covered by extended_stats + script_score's saturation family.)

    Deterministic: every output is one or two exactly-rounded double
    divisions over exact bigint counts, written in identical evaluation
    order in both dialects.

    Scale shape: one day-grain aggregation plus ONE broadcast row of
    bounds (total/nb/min/max) — the normalize pass never rescans the
    fact table, exactly like ES's coordinator-side pipeline stage.
    """
    e = load_table(spark, sf_dir, "events")
    hist = e.groupBy(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    tot = hist.agg(
        F.sum("n_events").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.min("n_events").cast("bigint").alias("minv"),
        F.max("n_events").cast("bigint").alias("maxv"),
    )
    n = F.col("n_events")
    return hist.crossJoin(F.broadcast(tot)).select(
        "day",
        "n_events",
        (n.cast("double") / F.col("total").cast("double")).alias("pct_of_sum"),
        (
            (n - F.col("minv")).cast("double")
            / (F.col("maxv") - F.col("minv")).cast("double")
        ).alias("rescale01"),
        (
            n.cast("double")
            / (F.col("total").cast("double") / F.col("nb").cast("double"))
        ).alias("mean_frac"),
    )


@register(
    "agg_stats_bucket",
    oracle="""
WITH mrev AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY month
),
rk AS (
  SELECT month, rev,
         ROW_NUMBER() OVER (ORDER BY rev, month) AS rn,
         COUNT(*) OVER () AS nb
  FROM mrev
)
SELECT CAST(MAX(nb) AS BIGINT) AS n_buckets,
       CAST(MIN(rev) AS DOUBLE) AS min_rev,
       CAST(MAX(rev) AS DOUBLE) AS max_rev,
       CAST(SUM(rev) AS DOUBLE) AS sum_rev,
       CAST(SUM(rev) AS DOUBLE) / CAST(MAX(nb) AS DOUBLE) AS avg_rev,
       CAST(MAX(CASE WHEN rn = (nb + 3) // 4 THEN rev END) AS DOUBLE) AS p25_rev,
       CAST(MAX(CASE WHEN rn = (nb + 1) // 2 THEN rev END) AS DOUBLE) AS p50_rev,
       CAST(MAX(CASE WHEN rn = (3 * nb + 3) // 4 THEN rev END) AS DOUBLE) AS p75_rev
FROM rk
""",
)
def agg_stats_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sibling ``stats_bucket`` + ``percentiles_bucket`` pipeline
    aggs: monthly revenue buckets over orders, reduced to ONE row of
    cross-bucket statistics — count/min/max/sum/avg (stats_bucket) and
    nearest-rank p25/p50/p75 of the bucket metric (percentiles_bucket).
    Completes the sibling-pipeline family next to
    agg_sibling_pipeline's max/min/avg/sum_bucket + argmax keys.

    Deterministic: bucket revenues are exact DECIMAL(18,2) sums;
    percentile selection is nearest-rank (rank ⌈p·n⌉ in pure integer
    arithmetic over a (rev, month)-ordered rank) — no TDigest, no
    interpolation; final casts to DOUBLE are single exact ops.

    Scale shape: fact-table shuffle at month grain, then a window +
    reduce over |buckets| rows — sibling pipelines always run at
    bucket grain, never rescan the facts.
    """
    o = load_table(spark, sf_dir, "orders")
    mrev = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("timestamp")).alias(
            "month"
        )
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.orderBy("rev", "month")
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rk = mrev.select(
        "rev",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("nb"),
    )
    pick = lambda r: F.max(  # noqa: E731
        F.when(F.col("rn") == F.expr(r), F.col("rev"))
    ).cast("double")
    return rk.agg(
        F.max("nb").cast("bigint").alias("n_buckets"),
        F.min("rev").cast("double").alias("min_rev"),
        F.max("rev").cast("double").alias("max_rev"),
        F.sum("rev").cast("double").alias("sum_rev"),
        (
            F.sum("rev").cast("double") / F.max("nb").cast("double")
        ).alias("avg_rev"),
        pick("(nb + 3) div 4").alias("p25_rev"),
        pick("(nb + 1) div 2").alias("p50_rev"),
        pick("(3 * nb + 3) div 4").alias("p75_rev"),
    )


# ---------------------------------------------------------------------------
# robust-statistics metric aggs
# ---------------------------------------------------------------------------


@register(
    "agg_boxplot",
    oracle="""
WITH rk AS (
  SELECT lang, n_chars AS v, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
),
q AS (
  SELECT lang,
         CAST(MAX(n) AS BIGINT) AS n_docs,
         CAST(MIN(v) AS BIGINT) AS min_v,
         CAST(MAX(CASE WHEN rn = (n + 3) // 4 THEN v END) AS BIGINT) AS q1,
         CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS BIGINT) AS q2,
         CAST(MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS BIGINT) AS q3,
         CAST(MAX(v) AS BIGINT) AS max_v
  FROM rk GROUP BY lang
)
SELECT q.lang, q.n_docs, q.min_v, q.q1, q.q2, q.q3, q.max_v,
       CAST(q.q3 - q.q1 AS BIGINT) AS iqr,
       CAST(COUNT(CASE WHEN CAST(d.n_chars AS DOUBLE)
                  < CAST(q.q1 AS DOUBLE) - 1.5 * CAST(q.q3 - q.q1 AS DOUBLE)
                 OR CAST(d.n_chars AS DOUBLE)
                  > CAST(q.q3 AS DOUBLE) + 1.5 * CAST(q.q3 - q.q1 AS DOUBLE)
             THEN 1 END) AS BIGINT) AS n_outliers
FROM q JOIN documents d ON d.lang = q.lang
GROUP BY q.lang, q.n_docs, q.min_v, q.q1, q.q2, q.q3, q.max_v
""",
)
def agg_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``boxplot`` metric agg: per language, the five-number summary
    of document length (min / q1 / median / q3 / max) plus the IQR and
    the Tukey-fence outlier count (1.5·IQR — what the ES boxplot UI
    draws as whisker outliers).

    Deterministic: ES computes quartiles on a TDigest (approximate,
    merge-order-dependent); this uses exact nearest-rank quartiles
    (rank ⌈p·n⌉ over a (value, doc_id)-ordered per-group rank), so both
    engines pick the identical integer.  Fences are single double ops
    over integer quartiles.

    Scale shape: one per-group rank window (lang-partitioned, scales
    out), a group-grain quartile reduce, then a second fact pass joined
    to the BROADCAST per-group quartile table for the outlier count —
    two linear passes, no holistic buffer.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    rk = d.select(
        "lang",
        F.col("n_chars").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pick = lambda r: F.max(  # noqa: E731
        F.when(F.col("rn") == F.expr(r), F.col("v"))
    ).cast("bigint")
    q = rk.groupBy("lang").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.min("v").cast("bigint").alias("min_v"),
        pick("(n + 3) div 4").alias("q1"),
        pick("(n + 1) div 2").alias("q2"),
        pick("(3 * n + 3) div 4").alias("q3"),
        F.max("v").cast("bigint").alias("max_v"),
    )
    iqr = (F.col("q3") - F.col("q1")).cast("double")
    lo = F.col("q1").cast("double") - F.lit(1.5) * iqr
    hi = F.col("q3").cast("double") + F.lit(1.5) * iqr
    out = (F.col("n_chars").cast("double") < lo) | (
        F.col("n_chars").cast("double") > hi
    )
    return (
        d.select("lang", "n_chars")
        .join(F.broadcast(q), "lang")
        .groupBy("lang", "n_docs", "min_v", "q1", "q2", "q3", "max_v")
        .agg(
            F.count(F.when(out, F.lit(1))).cast("bigint").alias("n_outliers")
        )
        .select(
            "lang",
            "n_docs",
            "min_v",
            "q1",
            "q2",
            "q3",
            "max_v",
            (F.col("q3") - F.col("q1")).cast("bigint").alias("iqr"),
            "n_outliers",
        )
    )


@register(
    "agg_mad",
    oracle="""
WITH rk AS (
  SELECT lang, n_chars AS v, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
),
med AS (
  SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
         CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS BIGINT)
           AS median_chars
  FROM rk GROUP BY lang
),
dev AS (
  SELECT d.lang, m.n_docs, m.median_chars,
         abs(d.n_chars - m.median_chars) AS dv,
         ROW_NUMBER() OVER (PARTITION BY d.lang
           ORDER BY abs(d.n_chars - m.median_chars), d.doc_id) AS rn
  FROM documents d JOIN med m ON m.lang = d.lang
)
SELECT lang, n_docs, median_chars,
       CAST(MAX(CASE WHEN rn = (n_docs + 1) // 2 THEN dv END) AS BIGINT)
         AS mad_chars
FROM dev GROUP BY lang, n_docs, median_chars
""",
)
def agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``median_absolute_deviation`` metric agg: per language, the
    MAD of document length — the robust dispersion measure ES pairs
    with the median for outlier-resistant monitoring.

    Deterministic: ES runs MAD on a TDigest; here both medians are
    exact nearest-rank picks (lower median, rank ⌈n/2⌉) over unique
    (value, doc_id) orders, and deviations are integer absolutes — the
    whole computation is integer-exact in both engines.

    Scale shape: two per-group rank windows (lang-partitioned) with a
    BROADCAST of the per-group median between them — two linear passes,
    mirroring the two-pass MAD every engine needs.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    rk = d.select(
        "lang",
        F.col("n_chars").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = rk.groupBy("lang").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("v")))
        .cast("bigint")
        .alias("median_chars"),
    )
    dv = F.abs(F.col("n_chars") - F.col("median_chars"))
    wd = Window.partitionBy("lang").orderBy(dv.asc(), F.col("doc_id"))
    dev = (
        d.select("lang", "n_chars", "doc_id")
        .join(F.broadcast(med), "lang")
        .select(
            "lang",
            "n_docs",
            "median_chars",
            dv.alias("dv"),
            F.row_number().over(wd).alias("rn"),
        )
    )
    return dev.groupBy("lang", "n_docs", "median_chars").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n_docs + 1) div 2"), F.col("dv"))
        )
        .cast("bigint")
        .alias("mad_chars")
    )


# ---------------------------------------------------------------------------
# bucket aggs: date_range / global / diversified_sampler / reverse_nested
# ---------------------------------------------------------------------------

DR_D1 = "2024-01-08 00:00:00"
DR_D2 = "2024-01-22 00:00:00"


@register(
    "agg_date_range",
    oracle=f"""
WITH b AS (
  SELECT CASE WHEN ts < TIMESTAMP '{DR_D1}' THEN 'early'
              WHEN ts < TIMESTAMP '{DR_D2}' THEN 'mid'
              ELSE 'late' END AS bucket,
         ts, user_id, value
  FROM events
)
SELECT bucket,
       CASE WHEN bucket = 'early' THEN NULL
            WHEN bucket = 'mid' THEN TIMESTAMP '{DR_D1}'
            ELSE TIMESTAMP '{DR_D2}' END AS from_ts,
       CASE WHEN bucket = 'early' THEN TIMESTAMP '{DR_D1}'
            WHEN bucket = 'mid' THEN TIMESTAMP '{DR_D2}'
            ELSE NULL END AS to_ts,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       {sql_dsum('value')} AS sum_value,
       MIN(ts) AS min_ts,
       MAX(ts) AS max_ts
FROM b GROUP BY bucket
""",
)
def agg_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``date_range`` bucket agg: keyed buckets with open-ended
    boundaries — (-inf, d1) / [d1, d2) / [d2, +inf) over the events
    feed, each reporting its ``from``/``to`` keys (NULL for the open
    ends, exactly as ES omits them), doc count, distinct users, the
    value sum, and the observed ts bounds.

    Deterministic: boundary comparison + CASE bucketing is map-side and
    identical in both engines; the value sum is decimal-exact.

    Scale shape: three fixed buckets from a map-side CASE — one
    shuffle at bucket×user grain for the distinct, partial-aggregated.
    Range predicates this shape also rides into parquet row-group
    pruning when the table is date-partitioned (layout family).
    """
    e = load_table(spark, sf_dir, "events")
    d1 = F.lit(DR_D1).cast("timestamp")
    d2 = F.lit(DR_D2).cast("timestamp")
    ts = F.col("ts").cast("timestamp")
    b = e.select(
        F.when(ts < d1, "early")
        .when(ts < d2, "mid")
        .otherwise("late")
        .alias("bucket"),
        ts.alias("ts"),
        "user_id",
        "value",
    )
    nullts = F.lit(None).cast("timestamp")
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        dsum("value").alias("sum_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    ).select(
        "bucket",
        F.when(F.col("bucket") == "early", nullts)
        .when(F.col("bucket") == "mid", d1)
        .otherwise(d2)
        .alias("from_ts"),
        F.when(F.col("bucket") == "early", d1)
        .when(F.col("bucket") == "mid", d2)
        .otherwise(nullts)
        .alias("to_ts"),
        "n_events",
        "n_users",
        "sum_value",
        "min_ts",
        "max_ts",
    )


@register(
    "agg_global_bucket",
    oracle="""
SELECT CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
         AS click_hits,
       CAST(SUM(CASE WHEN event_type = 'click'
                     THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
         / COUNT(CASE WHEN event_type = 'click' THEN 1 END)
         AS click_avg_value,
       CAST(COUNT(*) AS BIGINT) AS global_count,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         AS global_avg_value,
       CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS click_share
FROM events
""",
)
def agg_global_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``global`` bucket agg: a search with query context
    ``event_type = 'click'`` whose agg tree contains a ``global``
    bucket that ESCAPES the query — the side-by-side "my hits vs the
    whole index" comparison (hit count + avg value in both scopes, and
    the hits' share).  In ES the global bucket re-scans the shard
    without the query; in Spark both scopes fuse into ONE conditional
    aggregation pass.

    Deterministic: decimal-exact sums; each avg is one double division
    in identical order.

    Scale shape: a single fact scan with map-side conditional partials
    — strictly better than ES's two-scan execution, and the plan
    Catalyst picks naturally from the declarative form.
    """
    e = load_table(spark, sf_dir, "events")
    is_click = F.col("event_type") == "click"
    click_n = F.count(F.when(is_click, F.lit(1)))
    return e.agg(
        click_n.cast("bigint").alias("click_hits"),
        (
            F.sum(F.when(is_click, F.col("value").cast("decimal(18,6)")))
            .cast("double")
            / click_n
        ).alias("click_avg_value"),
        F.count(F.lit(1)).cast("bigint").alias("global_count"),
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("global_avg_value"),
        (click_n.cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "click_share"
        ),
    )


DS_PER_LANG = 20  # diversified_sampler max_docs_per_value (field: lang)
DS_SHARD = 50  # sampler shard_size


@register(
    "agg_diversified_sampler",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
           ORDER BY n_chars DESC, doc_id) AS lang_rk
  FROM documents
),
sample AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk
  FROM ranked WHERE lang_rk <= {DS_PER_LANG}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(doc_id) AS BIGINT) AS example_doc_id
FROM sample WHERE rk <= {DS_SHARD}
GROUP BY source
""",
)
def agg_diversified_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``diversified_sampler`` bucket agg: restrict the agg tree to
    the best shard_size={DS_SHARD} documents by score (length as the
    deterministic score proxy) while capping any one ``lang`` at
    max_docs_per_value={DS_PER_LANG} — the de-biased sampling ES uses
    so one dominant key cannot flood the sample — then run the sub-agg
    (source breakdown) over the diversified sample.

    Deterministic: the (score desc, doc_id) order is unique; the
    per-value cap and the global cut are rank predicates over it.

    Scale shape: the per-lang cap is a WindowGroupLimit (partial top-k
    per key, pushed before the shuffle); the global cut is a top-k over
    the capped survivors (≤ |langs|·{DS_PER_LANG} rows).  The fact
    table is never globally sorted.
    """
    d = load_table(spark, sf_dir, "documents")
    order = [F.col("n_chars").desc(), "doc_id"]
    per_lang = ranked_topk_per(
        d.select("doc_id", "lang", "source", "n_chars"),
        ["lang"], order, DS_PER_LANG, rk_col="lang_rk",
    )
    sample = ranked_topk(per_lang, order, DS_SHARD)
    return sample.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.min("doc_id").cast("bigint").alias("example_doc_id"),
    )


@register(
    "agg_reverse_nested",
    oracle="""
WITH ut AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS user_total
  FROM events GROUP BY user_id
),
tot AS (
  SELECT CAST(SUM(user_total) AS BIGINT) AS total_events,
         CAST(COUNT(*) AS BIGINT) AS n_users_all
  FROM ut
),
uu AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n_in_bucket
  FROM events GROUP BY event_type, user_id
)
SELECT uu.event_type,
       CAST(SUM(uu.n_in_bucket) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(CASE WHEN ut.user_total * t.n_users_all > t.total_events
                  THEN 1 END) AS BIGINT) AS n_active_users
FROM uu JOIN ut ON ut.user_id = uu.user_id CROSS JOIN tot t
GROUP BY uu.event_type
""",
)
def agg_reverse_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``nested`` + ``reverse_nested`` aggs: events modeled as
    nested children of a user parent document.  A nested terms agg
    buckets by event_type (counting NESTED docs), then reverse_nested
    jumps back to the parent level — distinct users per bucket, and the
    count of ABOVE-AVERAGE-ACTIVITY parents (user_total > corpus mean
    events/user) — the "bucket children, qualify parents" shape
    reverse_nested exists for.

    Deterministic: the activity predicate is the integer cross-multiply
    ``user_total · n_users > total_events`` (no division), so both
    engines compare exact bigints.

    Scale shape: one (event_type, user) distinct-grain aggregation, a
    user-grain parent profile joined by key with the parent table
    BROADCAST at fixture scale (hash-partitioned at 100 TB — user
    grain, bounded), one global 2-value broadcast.  No fact rescan per
    bucket.
    """
    e = load_table(spark, sf_dir, "events")
    ut = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("user_total")
    )
    tot = ut.agg(
        F.sum("user_total").cast("bigint").alias("total_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_users_all"),
    )
    uu = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in_bucket")
    )
    active = (
        F.col("user_total") * F.col("n_users_all") > F.col("total_events")
    )
    return (
        uu.join(F.broadcast(ut), "user_id")
        .crossJoin(F.broadcast(tot))
        .groupBy("event_type")
        .agg(
            F.sum("n_in_bucket").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.count(F.when(active, F.lit(1)))
            .cast("bigint")
            .alias("n_active_users"),
        )
    )


# ---------------------------------------------------------------------------
# search APIs: multi_match / match_bool_prefix / rescore / termvectors /
# sliced scroll / phrase suggester
# ---------------------------------------------------------------------------


def _sql_bm25_cte(terms: tuple[str, ...]) -> str:
    """Parametric twin of text._SQL_BM25_CTE (same CTE names, same
    formula, same evaluation order — only the term list varies), ending
    in ``agg(doc_id, bm25, n_terms)``.  Must stay formula-identical to
    text._bm25_agg."""
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    return f"""tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM dl
),
tf AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
  WHERE w IN ({terms_sql}) GROUP BY doc_id, w
),
dfq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
term_scores AS (
  SELECT t.doc_id,
         ((CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
            / (CAST(f.df AS DOUBLE) + 0.5))
         * ((CAST(t.tf AS DOUBLE) * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
            / (CAST(t.tf AS DOUBLE)
               + CAST({BM25_K1!r} AS DOUBLE)
                 * (CAST({1.0 - BM25_B!r} AS DOUBLE)
                    + CAST({BM25_B!r} AS DOUBLE)
                      * (CAST(l.dl AS DOUBLE)
                         / (CAST(s.sum_dl AS DOUBLE)
                            / CAST(s.n_docs AS DOUBLE)))))) AS ts
  FROM tf t JOIN dfq f USING (w) JOIN dl l USING (doc_id) CROSS JOIN stats s
),
agg AS (
  SELECT doc_id,
         CAST(SUM(CAST(ts AS DECIMAL(28,6))) AS DOUBLE) AS bm25,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM term_scores GROUP BY doc_id
)"""


MMC_TITLE_LEN = 5  # tokens 1..5 are the "title" field, the rest "body"
MMC_TERMS = ("table", "row")
MMC_TOPK = 10
_MMC_TERMS_SQL = ", ".join(f"'{t}'" for t in MMC_TERMS)


@register(
    "search_multi_match_cross_fields",
    oracle=f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
),
ftok AS (
  SELECT doc_id, w,
         CASE WHEN i <= {MMC_TITLE_LEN} THEN 'title' ELSE 'body' END AS fld
  FROM tok
),
dlf AS (
  SELECT doc_id, fld, CAST(COUNT(*) AS BIGINT) AS dl
  FROM ftok GROUP BY doc_id, fld
),
ndocs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
),
statsf AS (
  SELECT fld, CAST(COUNT(*) AS BIGINT) AS nf, CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM dlf GROUP BY fld
),
tf AS (
  SELECT doc_id, fld, w, CAST(COUNT(*) AS BIGINT) AS tf FROM ftok
  WHERE w IN ({_MMC_TERMS_SQL}) GROUP BY doc_id, fld, w
),
dff AS (SELECT fld, w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY fld, w),
dfb AS (SELECT w, CAST(MAX(df) AS BIGINT) AS df_blend FROM dff GROUP BY w),
term_field AS (
  SELECT t.doc_id, t.w,
         ((CAST(n.n_docs - b.df_blend AS DOUBLE) + 0.5)
            / (CAST(b.df_blend AS DOUBLE) + 0.5))
         * ((CAST(t.tf AS DOUBLE) * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
            / (CAST(t.tf AS DOUBLE)
               + CAST({BM25_K1!r} AS DOUBLE)
                 * (CAST({1.0 - BM25_B!r} AS DOUBLE)
                    + CAST({BM25_B!r} AS DOUBLE)
                      * (CAST(l.dl AS DOUBLE)
                         / (CAST(s.sum_dl AS DOUBLE)
                            / CAST(s.nf AS DOUBLE)))))) AS ts
  FROM tf t
  JOIN dfb b USING (w)
  JOIN dlf l ON l.doc_id = t.doc_id AND l.fld = t.fld
  JOIN statsf s ON s.fld = t.fld
  CROSS JOIN ndocs n
),
term_best AS (
  SELECT doc_id, w, MAX(ts) AS ts FROM term_field GROUP BY doc_id, w
),
agg AS (
  SELECT doc_id,
         CAST(SUM(CAST(ts AS DECIMAL(28,6))) AS DOUBLE) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM term_best GROUP BY doc_id
)
SELECT doc_id, score, n_terms, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk FROM agg
) t WHERE rk <= {MMC_TOPK}
""",
)
def search_multi_match_cross_fields(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ES ``multi_match`` with ``type: cross_fields``: the query terms
    {MMC_TERMS!r} search a title field (leading {MMC_TITLE_LEN} tokens)
    and a body field (the rest) as if they were one field — Lucene's
    BlendedTermQuery.  Per term: document frequency is BLENDED across
    fields (df = max of the per-field dfs, the blend
    BlendedTermQuery.blendTerms applies), each field scores the term
    with its OWN length norm (per-field dl/avgdl), and the term's score
    is the dis_max over fields (tie_breaker 0); per doc: sum over
    terms.  This is term-centric blending — the signature cross_fields
    behavior, distinct from best_fields (= whole-query dis_max,
    search_dis_max).

    Deterministic: the raw-odds idf discipline of search_bm25_topk,
    per-field tfn in the same evaluation order, MAX over doubles
    (order-free), decimal term-score sum.

    Scale shape: the field split is a map-side position CASE over the
    one postings explode; df/tf/dl aggregate at (field, term) / (doc,
    field) grain; the blended-df table is broadcast (|terms| rows).
    Top-k compiles to TakeOrderedAndProject after the rank window over
    ≤ matched docs.
    """
    d = load_table(spark, sf_dir, "documents")
    ftok = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("i", "w"),
    ).select(
        "doc_id",
        "w",
        F.when(F.col("i") < MMC_TITLE_LEN, "title")
        .otherwise("body")
        .alias("fld"),
    )
    dlf = ftok.groupBy("doc_id", "fld").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl")
    )
    ndocs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    statsf = dlf.groupBy("fld").agg(
        F.count(F.lit(1)).cast("bigint").alias("nf"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    )
    tf = ftok.filter(F.col("w").isin(*MMC_TERMS)).groupBy(
        "doc_id", "fld", "w"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    dff = tf.groupBy("fld", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    dfb = dff.groupBy("w").agg(
        F.max("df").cast("bigint").alias("df_blend")
    )
    idf = (
        (F.col("n_docs") - F.col("df_blend")).cast("double") + F.lit(0.5)
    ) / (F.col("df_blend").cast("double") + F.lit(0.5))
    avgdl = F.col("sum_dl").cast("double") / F.col("nf").cast("double")
    tfn = (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(BM25_K1)
        * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl)
        )
    )
    term_field = (
        tf.join(F.broadcast(dfb), "w")
        .join(dlf, ["doc_id", "fld"])
        .join(F.broadcast(statsf), "fld")
        .crossJoin(F.broadcast(ndocs))
        .select("doc_id", "w", (idf * tfn).alias("ts"))
    )
    term_best = term_field.groupBy("doc_id", "w").agg(
        F.max("ts").alias("ts")
    )
    agg = term_best.groupBy("doc_id").agg(
        F.sum(F.col("ts").cast("decimal(28,6)"))
        .cast("double")
        .alias("score"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    )
    return ranked_topk(
        agg, [F.col("score").desc(), "doc_id"], MMC_TOPK, rk_cast="bigint"
    )


MBP_TERM = "stream"  # completed term, BM25-scored
MBP_PREFIX = "fi"  # trailing prefix (type-ahead), constant-scored
MBP_TOPK = 15


@register(
    "search_match_bool_prefix",
    oracle=f"""
WITH {_sql_bm25_cte((MBP_TERM,))},
pref AS (
  SELECT DISTINCT doc_id FROM tok WHERE w LIKE '{MBP_PREFIX}%'
),
u AS (
  SELECT COALESCE(a.doc_id, p.doc_id) AS doc_id,
         COALESCE(a.bm25, 0.0) AS term_score,
         CASE WHEN p.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END AS prefix_score
  FROM agg a FULL OUTER JOIN pref p ON p.doc_id = a.doc_id
)
SELECT doc_id, term_score, prefix_score,
       term_score + prefix_score AS score, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY term_score + prefix_score DESC, doc_id) AS rk
  FROM u
) t WHERE rk <= {MBP_TOPK}
""",
)
def search_match_bool_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``match_bool_prefix``: the query "{MBP_TERM} {MBP_PREFIX}"
    becomes a bool SHOULD of a term query on the completed term
    (BM25-scored) and a prefix query on the trailing fragment
    (constant_score 1.0 — Lucene multi-term queries skip term stats) —
    the as-you-type search-box query, distinct from match_phrase_prefix
    (which requires positional adjacency; search_match_phrase_prefix).

    Deterministic: the shared raw-odds BM25 core for the term clause;
    the prefix clause adds the constant 1.0 in one exactly-rounded
    addition.

    Scale shape: the term clause touches one postings list; the prefix
    clause is a dictionary range scan (w LIKE 'fi%' over the term
    dictionary) semi-joined to docs; the SHOULD-union is a full outer
    join of two doc-id sets, each far smaller than the corpus.
    """
    term = _bm25_agg(spark, sf_dir, (MBP_TERM,)).select("doc_id", "bm25")
    pref = (
        _postings_memo(spark, sf_dir)
        .filter(F.col("w").startswith(MBP_PREFIX))
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(1.0).alias("prefix_score"))
    )
    u = term.join(pref, "doc_id", "full").select(
        "doc_id",
        F.coalesce(F.col("bm25"), F.lit(0.0)).alias("term_score"),
        F.coalesce(F.col("prefix_score"), F.lit(0.0)).alias("prefix_score"),
    )
    score = F.col("term_score") + F.col("prefix_score")
    return ranked_topk(
        u.withColumn("score", score),
        [F.col("score").desc(), "doc_id"],
        MBP_TOPK,
        rk_cast="bigint",
    ).select("doc_id", "term_score", "prefix_score", "score", "rk")


RS_FIRST = 50  # first-pass (cheap query) depth
RS_WINDOW = 20  # rescore window_size
RS_QW = 0.7  # query_weight
RS_RW = 0.3  # rescore_query_weight
RS_TOPK = 10
RS_PA = "table"  # rescore phrase: "table value", ordered, adjacent
RS_PB = "value"


@register(
    "search_rescore_window",
    oracle=f"""
WITH {_SQL_BM25_CTE},
first_pass AS (
  SELECT doc_id, bm25, rk1 FROM (
    SELECT doc_id, bm25,
           ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk1
    FROM agg
  ) t WHERE rk1 <= {RS_FIRST}
),
pos AS (
  SELECT doc_id, w, i FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM documents
  ) t WHERE w IN ('{RS_PA}', '{RS_PB}')
),
prox AS (
  SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_phrase
  FROM pos a JOIN pos b
    ON b.doc_id = a.doc_id AND a.w = '{RS_PA}' AND b.w = '{RS_PB}'
   AND b.i = a.i + 1
  GROUP BY a.doc_id
),
win AS (
  SELECT f.doc_id, f.bm25,
         CAST(COALESCE(p.n_phrase, 0) AS BIGINT) AS n_phrase,
         (CAST({RS_QW!r} AS DOUBLE) * f.bm25)
           + (CAST({RS_RW!r} AS DOUBLE)
              * CAST(COALESCE(p.n_phrase, 0) AS DOUBLE)) AS final_score
  FROM first_pass f LEFT JOIN prox p ON p.doc_id = f.doc_id
  WHERE f.rk1 <= {RS_WINDOW}
)
SELECT doc_id, bm25, n_phrase, final_score, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY final_score DESC, doc_id) AS rk
  FROM win
) t WHERE rk <= {RS_TOPK}
""",
)
def search_rescore_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rescore``: a cheap first-pass BM25 query retrieves the top
    {RS_FIRST}, then an expensive phrase-proximity query re-scores only
    the top window_size={RS_WINDOW} of them — final score =
    query_weight·bm25 + rescore_query_weight·phrase_matches (the
    ``total`` score_mode).  Since window ≥ k, the served top-{RS_TOPK}
    is the rescored window's top-{RS_TOPK} — exactly ES's contract
    (ranks below the window keep first-pass order).

    Deterministic: the shared BM25 core; the phrase count is integer
    positional adjacency (a.i + 1 = b.i, ordered); the blend is two
    multiplies and one add in identical order.

    Scale shape: the expensive positional join runs over the WINDOW
    docs only after the cheap pass prunes the corpus — the two-phase
    cost model rescore exists for.  First pass = postings-pruned BM25
    with TakeOrdered; second = a 2-term positional join left-joined to
    {RS_WINDOW} rows.
    """
    d = load_table(spark, sf_dir, "documents")
    first = ranked_topk(
        _bm25_agg(spark, sf_dir, BM25_TERMS),
        [F.col("bm25").desc(), "doc_id"],
        min(RS_FIRST, RS_WINDOW),
    ).select("doc_id", "bm25")
    pos = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w")
    ).filter(F.col("w").isin(RS_PA, RS_PB))
    a = pos.filter(F.col("w") == RS_PA).select("doc_id", F.col("i").alias("ia"))
    b = pos.filter(F.col("w") == RS_PB).select(
        F.col("doc_id").alias("db"), F.col("i").alias("ib")
    )
    prox = (
        a.join(b, (a["doc_id"] == b["db"]) & (b["ib"] == a["ia"] + 1))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_phrase"))
    )
    win = first.join(prox, "doc_id", "left").select(
        "doc_id",
        "bm25",
        F.coalesce(F.col("n_phrase"), F.lit(0).cast("bigint")).alias(
            "n_phrase"
        ),
    )
    final = (F.lit(RS_QW) * F.col("bm25")) + (
        F.lit(RS_RW) * F.col("n_phrase").cast("double")
    )
    return ranked_topk(
        win.withColumn("final_score", final),
        [F.col("final_score").desc(), "doc_id"],
        RS_TOPK,
        rk_cast="bigint",
    ).select("doc_id", "bm25", "n_phrase", "final_score", "rk")


TV_MAX_DOC = 10  # termvectors target: doc_id < 10
TV_MIN_TF = 2  # report terms with tf >= 2 (bounded per-doc vector)


@register(
    "search_termvectors",
    oracle=f"""
WITH tok2 AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS i
  FROM documents
),
tv AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(MIN(i) AS BIGINT) AS first_pos
  FROM tok2 WHERE doc_id < {TV_MAX_DOC} GROUP BY doc_id, w
),
stats AS (
  SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
         CAST(COUNT(*) AS BIGINT) AS ttf
  FROM tok2 GROUP BY w
)
SELECT t.doc_id, t.w, t.tf, t.first_pos, s.df, s.ttf
FROM tv t JOIN stats s USING (w)
WHERE t.tf >= {TV_MIN_TF}
""",
)
def search_termvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``termvectors`` API (with ``term_statistics: true``): for
    each requested document (doc_id < {TV_MAX_DOC}), its term vector —
    per term the in-doc frequency and first position — joined with the
    index-wide term statistics ES attaches: ``doc_freq`` and
    ``ttf`` (total term frequency across the index).  Terms with
    tf < {TV_MIN_TF} are filtered (the ``min_term_freq`` knob).

    Deterministic: integer counts and 0-based positions in both
    engines (DuckDB's 1-based subscripts are shifted at the source).

    Scale shape: the per-doc vectors come from a doc-id-pruned scan
    (the predicate pushes into parquet); the corpus statistics come
    from the shared postings memo aggregated at term grain and joined
    on the target docs' terms only — at 100 TB that join is the
    dictionary lookup ES serves from segment metadata.
    """
    d = load_table(spark, sf_dir, "documents")
    tv = (
        d.filter(F.col("doc_id") < TV_MAX_DOC)
        .select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w")
        )
        .groupBy("doc_id", "w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.min("i").cast("bigint").alias("first_pos"),
        )
        .filter(F.col("tf") >= TV_MIN_TF)
    )
    stats = _postings_memo(spark, sf_dir).groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("ttf"),
    )
    return tv.join(stats, "w").select(
        "doc_id", "w", "tf", "first_pos", "df", "ttf"
    )


SCROLL_SLICES = 8


@register(
    "search_sliced_scroll",
    oracle=f"""
SELECT CAST(((doc_id * {H.A[0]} + {H.B[0]}) % {H.P}) % {SCROLL_SLICES}
            AS BIGINT) AS slice,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
GROUP BY slice
""",
)
def search_sliced_scroll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sliced scroll (and its successor, sliced point-in-time
    search): a full-index export split into {SCROLL_SLICES} disjoint
    slices by a hash of the id field, each slice scanned by an
    independent client — the parallel-reindex pattern.  Per slice: doc
    count, id bounds, and content checksums proving the slices
    partition the corpus (Σ n_docs = corpus, id ranges overlap-free
    only per-slice).

    Deterministic: the slice function is the repo's engine-portable
    affine hash ((id·A + B) mod P mod k — exact bigint arithmetic in
    both engines), standing in for ES's Murmur3 slice hash.

    Scale shape: one scan, one k-bucket aggregation with map-side
    partials — the slice hash is exactly how the 100 TB export runs k
    independent readers without coordination.
    """
    d = load_table(spark, sf_dir, "documents")
    slice_col = (
        (F.col("doc_id") * F.lit(H.A[0]) + F.lit(H.B[0])) % F.lit(H.P)
    ) % F.lit(SCROLL_SLICES)
    return d.groupBy(
        slice_col.cast("bigint").alias("slice")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


PS_PREV = "the"  # left context token
PS_MIS = "sow"  # misspelled middle token (OOV or rare)
PS_NEXT = "value"  # right context token
PS_TOPK = 10


@register(
    "search_phrase_suggester",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
),
ug AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM ug),
big AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT doc_id, w AS w1,
           LEAD(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
    FROM tok
  ) t WHERE w2 IS NOT NULL GROUP BY w1, w2
),
cand AS (
  SELECT w AS candidate, c AS cand_ug,
         CAST(levenshtein(w, '{PS_MIS}') AS BIGINT) AS dist
  FROM ug WHERE levenshtein(w, '{PS_MIS}') <= 1
),
prev_ug AS (SELECT c AS prev_c FROM ug WHERE w = '{PS_PREV}'),
scored AS (
  SELECT c.candidate, c.dist, c.cand_ug,
         CAST(COALESCE(bp.c, 0) AS BIGINT) AS bg_prev,
         CAST(COALESCE(bn.c, 0) AS BIGINT) AS bg_next,
         (CAST(COALESCE(bp.c, 0) + 1 AS DOUBLE)
            / CAST(p.prev_c + v.v AS DOUBLE))
         * (CAST(COALESCE(bn.c, 0) + 1 AS DOUBLE)
            / CAST(c.cand_ug + v.v AS DOUBLE)) AS score
  FROM cand c
  LEFT JOIN big bp ON bp.w1 = '{PS_PREV}' AND bp.w2 = c.candidate
  LEFT JOIN big bn ON bn.w1 = c.candidate AND bn.w2 = '{PS_NEXT}'
  CROSS JOIN prev_ug p CROSS JOIN vocab v
)
SELECT candidate, dist, cand_ug, bg_prev, bg_next, score,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, candidate) AS rk
  FROM scored
) t WHERE rk <= {PS_TOPK}
""",
)
def search_phrase_suggester(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``phrase`` suggester: for the query phrase
    "{PS_PREV} {PS_MIS} {PS_NEXT}" with a misspelled middle token,
    generate correction candidates from the index vocabulary (edit
    distance ≤ 1 — the ``direct_generator``), then rank them by the
    bigram language model the phrase suggester's ``laplace`` smoothing
    defines: P(cand|{PS_PREV!r}) · P({PS_NEXT!r}|cand) with add-one
    smoothing over the vocabulary — context-aware spell correction,
    beyond the context-free term suggester (search_term_suggester).

    Deterministic: Levenshtein is integer; each smoothed probability is
    one double division of exact bigints, multiplied in fixed order.

    Scale shape: the candidate generator is a term-DICTIONARY scan
    (|vocab| rows, not corpus); bigram counts aggregate once at bigram
    grain (the LM an ES index precomputes in its shard stats); scoring
    joins candidates against two bigram slices and two broadcast
    scalars.
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    ug = _postings_memo(spark, sf_dir).groupBy("w").agg(
        F.sum("tf").cast("bigint").alias("c")
    )
    vocab = ug.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(1), n - 1)
    mk = lambda i: F.struct(  # noqa: E731
        F.element_at(words, i).alias("w1"),
        F.element_at(words, i + 1).alias("w2"),
    )
    arr = F.when(n >= 2, F.transform(idx, mk)).otherwise(
        F.array().cast("array<struct<w1:string,w2:string>>")
    )
    big = (
        d.select(F.explode(arr).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cand = ug.filter(F.levenshtein(F.col("w"), F.lit(PS_MIS)) <= 1).select(
        F.col("w").alias("candidate"),
        F.col("c").alias("cand_ug"),
        F.levenshtein(F.col("w"), F.lit(PS_MIS)).cast("bigint").alias("dist"),
    )
    prev_ug = ug.filter(F.col("w") == PS_PREV).select(
        F.col("c").alias("prev_c")
    )
    bp = big.filter(F.col("w1") == PS_PREV).select(
        F.col("w2").alias("candidate"), F.col("c").alias("bg_prev_raw")
    )
    bn = big.filter(F.col("w2") == PS_NEXT).select(
        F.col("w1").alias("candidate"), F.col("c").alias("bg_next_raw")
    )
    zero = F.lit(0).cast("bigint")
    scored = (
        cand.join(F.broadcast(bp), "candidate", "left")
        .join(F.broadcast(bn), "candidate", "left")
        .crossJoin(F.broadcast(prev_ug))
        .crossJoin(F.broadcast(vocab))
        .select(
            "candidate",
            "dist",
            "cand_ug",
            F.coalesce(F.col("bg_prev_raw"), zero).alias("bg_prev"),
            F.coalesce(F.col("bg_next_raw"), zero).alias("bg_next"),
            (
                (
                    (F.coalesce(F.col("bg_prev_raw"), zero) + 1).cast("double")
                    / (F.col("prev_c") + F.col("v")).cast("double")
                )
                * (
                    (F.coalesce(F.col("bg_next_raw"), zero) + 1).cast("double")
                    / (F.col("cand_ug") + F.col("v")).cast("double")
                )
            ).alias("score"),
        )
    )
    return (
        ranked_topk(
            scored,
            [F.col("score").desc(), "candidate"],
            PS_TOPK,
            rk_cast="bigint",
        )
        .select(
            "candidate", "dist", "cand_ug", "bg_prev", "bg_next", "score", "rk"
        )
    )


# ---------------------------------------------------------------------------
# the ES _search compiler (plans/es_compiler.py) — registered demos
# ---------------------------------------------------------------------------

# A migration-shaped request: nested bool with every filter-context clause
# family the compiler supports.  The ORACLE is hand-written SQL — the
# compiler's output must match an independent human reading of the same
# JSON, which is exactly the migration guarantee being claimed.
ESC_FILTER_REQUEST = {
    "query": {
        "bool": {
            "filter": [
                {"terms": {"lang": ["en", "de"]}},
                {"range": {"n_chars": {"gte": 200, "lt": 2000}}},
                {"match": {"text": {"query": "table scan", "operator": "and"}}},
            ],
            "must_not": [{"prefix": {"source": "src9"}}],
            "should": [
                {"term": {"text": "merge"}},
                {"term": {"text": "batch"}},
                {"wildcard": {"source": "src*1"}},
            ],
            "minimum_should_match": 2,
        }
    },
    "size": 15,
}


@register(
    "es_compile_filter_search",
    oracle="""
WITH f AS (
  SELECT doc_id, lang, source, n_chars
  FROM documents
  WHERE lang IN ('en', 'de')
    AND n_chars >= 200 AND n_chars < 2000
    AND list_contains(string_split(text, ' '), 'table')
    AND list_contains(string_split(text, ' '), 'scan')
    AND NOT (source LIKE 'src9%')
    AND ((CASE WHEN list_contains(string_split(text, ' '), 'merge')
               THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(string_split(text, ' '), 'batch')
               THEN 1 ELSE 0 END)
       + (CASE WHEN regexp_matches(source, '^src.*1$')
               THEN 1 ELSE 0 END)) >= 2
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_hits FROM f)
SELECT doc_id, lang, source, n_chars, t.total_hits, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY doc_id) AS rk FROM f) x
CROSS JOIN tot t
WHERE rk <= 15
""",
)
def es_compile_filter_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ES ``_search`` COMPILER (plans/es_compiler.py) on a
    migration-shaped filter request: a nested bool combining terms /
    range / analyzed match(operator=and) filters, a prefix must_not,
    and a 3-clause should with minimum_should_match=2 (term-on-text,
    term-on-text, wildcard-on-keyword) — compiled straight from the
    JSON a reference user would POST to ``_search``, returning the
    constant-score hit page with ``track_total_hits`` semantics.

    The oracle is hand-written SQL from an independent reading of the
    same JSON — the compiler's plan must agree with the human port,
    which IS the migration guarantee.

    Scale shape: the numeric/keyword conjuncts (lang, n_chars, source)
    push into the parquet scan as data filters; the token predicates
    evaluate post-scan map-side (ES's inverted-index-vs-doc-values
    split); the hit page is a TakeOrderedAndProject, the total a
    1-row broadcast.
    """
    from ..plans.es_compiler import compile_search

    d = load_table(spark, sf_dir, "documents")
    return compile_search(d, ESC_FILTER_REQUEST).select(
        "doc_id", "lang", "source", "n_chars", "total_hits", "rk"
    )


ESC_AGGS_REQUEST = {
    "query": {"bool": {"filter": [{"range": {"n_chars": {"gte": 100}}}]}},
    "aggs": {
        "by_lang": {
            "terms": {"field": "lang", "size": 10},
            "aggs": {
                "chars_sum": {"sum": {"field": "n_chars"}},
                "chars_avg": {"avg": {"field": "n_chars"}},
                "uniq_sources": {"cardinality": {"field": "source"}},
                "max_id": {"max": {"field": "doc_id"}},
            },
        }
    },
}


@register(
    "es_compile_aggs_request",
    oracle="""
WITH f AS (SELECT * FROM documents WHERE n_chars >= 100),
b AS (
  SELECT lang AS key,
         CAST(COUNT(*) AS BIGINT) AS doc_count,
         CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
         CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(n_chars) AS DOUBLE)
           AS chars_avg,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS uniq_sources,
         CAST(MAX(doc_id) AS BIGINT) AS max_id
  FROM f GROUP BY lang
)
SELECT key, doc_count, chars_sum, chars_avg, uniq_sources, max_id FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY doc_count DESC, key) AS rk FROM b
) t WHERE rk <= 10
""",
)
def es_compile_aggs_request(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ES ``_search`` compiler on an agg request: query-filtered
    ``terms`` bucket agg (field lang, size 10, ES bucket order:
    doc_count desc then key) carrying four metric sub-aggs — sum, avg,
    cardinality, max — compiled from the JSON agg tree into one
    hash-aggregation plan.

    Deterministic: bigint sums (the field is integral), avg as one
    double division, exact distinct where ES would HLL-approximate
    (the sketch tradeoff lives in agg_approx_distinct).

    Scale shape: the filter pushes to the scan; ONE shuffle at bucket
    grain with map-side partials for every metric; the size cut is a
    top-k over |buckets| rows.
    """
    from ..plans.es_compiler import compile_search

    d = load_table(spark, sf_dir, "documents")
    return compile_search(d, ESC_AGGS_REQUEST)


ESC_HIST_REQUEST = {
    "query": {"match": {"text": "spark"}},
    "aggs": {
        "len_hist": {
            "histogram": {"field": "n_chars", "interval": 500},
            "aggs": {
                "ids_sum": {"sum": {"field": "doc_id"}},
                "n_langs": {"cardinality": {"field": "lang"}},
            },
        }
    },
}


@register(
    "es_compile_histogram_request",
    oracle="""
WITH f AS (
  SELECT * FROM documents
  WHERE list_contains(string_split(text, ' '), 'spark')
)
SELECT CAST((n_chars // 500) * 500 AS BIGINT) AS key,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM(doc_id) AS BIGINT) AS ids_sum,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM f GROUP BY key
""",
)
def es_compile_histogram_request(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ES ``_search`` compiler on a histogram agg request: an
    analyzed ``match`` query feeding a fixed-interval histogram bucket
    agg (interval 500 over n_chars) with sum + cardinality sub-aggs —
    the third compiler demo covering the histogram bucket path.

    Scale shape: token-membership filter map-side after the scan, one
    bucket-grain shuffle; the histogram key is integer floor
    arithmetic, identical in both engines (DuckDB ``//`` ≡ Spark
    floor-div on positives).
    """
    from ..plans.es_compiler import compile_search

    d = load_table(spark, sf_dir, "documents")
    return compile_search(d, ESC_HIST_REQUEST)
