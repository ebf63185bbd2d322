"""Table profiling / data-quality health checks [NORTH-STAR].

The pipeline-health pass a 100 TB ingest runs per partition before
promoting data: per-column null rates, exact distinct counts, ranges.
One full scan computes every statistic (multi-aggregate, map-side
partials) — never one pass per column.

Also here: the LATERAL correlated-subquery surface (`spark.sql` text),
proving the engine's SQL face matches DuckDB's on a correlated top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, register_views, spread
from ..functions.ranking import ranked_topk, ranked_topk_per
from ..registry import register


@register(
    "profile_table_stats",
    oracle="""
SELECT 'documents' AS tbl,
       COUNT(*) AS n_rows,
       COUNT(*) - COUNT(text) AS null_text,
       COUNT(*) - COUNT(lang) AS null_lang,
       COUNT(DISTINCT lang) AS ndv_lang,
       COUNT(DISTINCT source) AS ndv_source,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
""",
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column profile of the corpus table: row count, null
    counts, exact NDVs, ranges, volume. All statistics ride ONE
    aggregation (map-side partials + a single-row final), the shape that
    profiles a 100 TB table in one pass; at that scale the exact NDVs
    swap for approx_count_distinct without touching the plan shape.
    """
    d = load_table(spark, sf_dir, "documents")
    cnt = F.count(F.lit(1))
    return d.agg(
        F.lit("documents").alias("tbl"),
        cnt.alias("n_rows"),
        (cnt - F.count("text")).alias("null_text"),
        (cnt - F.count("lang")).alias("null_lang"),
        F.countDistinct("lang").alias("ndv_lang"),
        F.countDistinct("source").alias("ndv_source"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "lateral_topk_per_customer",
    oracle="""
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
WHERE c.c_mktsegment = 'MACHINERY'
""",
)
def lateral_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery in SQL TEXT (not the DataFrame API):
    each MACHINERY customer's top-2 orders by price. Exercises the
    engine's SQL face — Catalyst decorrelates the LATERAL into the same
    join + per-key window top-k a DataFrame author would write, so the
    declarative-SQL path and the DataFrame path converge on one physical
    plan shape at any scale.
    """
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c
        JOIN LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'MACHINERY'
        """
    )


HIST_WIDTH = 25.0
HIST_MAX_BUCKET = 19


@register(
    "profile_column_histogram",
    oracle=f"""
WITH b AS (
  SELECT LEAST(CAST(floor(value / {HIST_WIDTH}) AS BIGINT), {HIST_MAX_BUCKET})
           AS bucket
  FROM events
)
SELECT bucket,
       bucket * {HIST_WIDTH} AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) * 1.0
         / (SELECT COUNT(*) FROM events) AS frac
FROM b
GROUP BY bucket
""",
)
def profile_column_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of a numeric column (20 buckets of width 25,
    last bucket open-ended) with mass fractions — the data-profiling
    primitive behind NDV/skew estimation and bucket-pruning decisions.

    Map-side bucket assignment + one tiny-key aggregation; the total for
    the fraction is a 1-row broadcast. At 100 TB this is a single scan
    with O(buckets) state — the same pass that would feed ANALYZE-style
    column statistics.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.floor(F.col("value") / HIST_WIDTH).cast("bigint"),
        F.lit(HIST_MAX_BUCKET).cast("bigint"),
    )
    hist = ev.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    total = ev.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    return hist.crossJoin(F.broadcast(total)).select(
        "bucket",
        (F.col("bucket") * HIST_WIDTH).alias("bucket_lo"),
        "n",
        (F.col("n") * F.lit(1.0) / F.col("total")).alias("frac"),
    )


@register(
    "profile_key_skew",
    oracle="""
WITH freq AS (
  SELECT l_orderkey AS key, COUNT(*) AS cnt
  FROM lineitem GROUP BY l_orderkey
),
moments AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt,
         CAST(quantile_disc(cnt, 0.99) AS BIGINT) AS p99_cnt
  FROM freq
),
heavy AS (
  SELECT key, cnt FROM (
    SELECT key, cnt,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rk
    FROM freq
  ) t WHERE rk <= 10
)
SELECT h.key AS hot_key,
       CAST(h.cnt AS BIGINT) AS hot_cnt,
       m.n_keys, m.n_rows, m.max_cnt, m.p99_cnt,
       CAST(m.max_cnt AS DOUBLE) * m.n_keys / m.n_rows AS skew_factor
FROM heavy h CROSS JOIN moments m
""",
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit: the top-10 heaviest l_orderkey values plus
    corpus-level frequency moments (max, exact p99, skew factor =
    max/mean) — the report a planner (or an engineer) reads to decide
    between a plain shuffle join, AQE skew splitting, and explicit
    salting (join_salted_skew is the treatment; this is the diagnosis).

    Scale shape: one hash aggregation on the key, then two tiny
    reductions (global moments and a top-10 TakeOrdered) over the
    key-frequency table — which is |distinct keys|, already far smaller
    than the fact table. The exact p99 runs over counts, not rows, and
    at 100 TB you'd swap it for approx_percentile with no other change.
    """
    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    moments = freq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt)")
        .cast("bigint")
        .alias("p99_cnt"),
    )
    heavy = ranked_topk(freq.select("key", "cnt"), [F.col("cnt").desc(), "key"], 10)
    return heavy.crossJoin(F.broadcast(moments)).select(
        F.col("key").alias("hot_key"),
        F.col("cnt").cast("bigint").alias("hot_cnt"),
        "n_keys",
        "n_rows",
        "max_cnt",
        "p99_cnt",
        (
            F.col("max_cnt").cast("double")
            * F.col("n_keys")
            / F.col("n_rows")
        ).alias("skew_factor"),
    )


# Z-order interleave width: low 8 bits of each of the two keys.
_Z_SQL = "((l_partkey // 1) % 2) * 1 + ((l_suppkey // 1) % 2) * 2 + ((l_partkey // 2) % 2) * 4 + ((l_suppkey // 2) % 2) * 8 + ((l_partkey // 4) % 2) * 16 + ((l_suppkey // 4) % 2) * 32 + ((l_partkey // 8) % 2) * 64 + ((l_suppkey // 8) % 2) * 128 + ((l_partkey // 16) % 2) * 256 + ((l_suppkey // 16) % 2) * 512 + ((l_partkey // 32) % 2) * 1024 + ((l_suppkey // 32) % 2) * 2048 + ((l_partkey // 64) % 2) * 4096 + ((l_suppkey // 64) % 2) * 8192 + ((l_partkey // 128) % 2) * 16384 + ((l_suppkey // 128) % 2) * 32768"
_Z_SPARK = "((l_partkey div 1) % 2) * 1 + ((l_suppkey div 1) % 2) * 2 + ((l_partkey div 2) % 2) * 4 + ((l_suppkey div 2) % 2) * 8 + ((l_partkey div 4) % 2) * 16 + ((l_suppkey div 4) % 2) * 32 + ((l_partkey div 8) % 2) * 64 + ((l_suppkey div 8) % 2) * 128 + ((l_partkey div 16) % 2) * 256 + ((l_suppkey div 16) % 2) * 512 + ((l_partkey div 32) % 2) * 1024 + ((l_suppkey div 32) % 2) * 2048 + ((l_partkey div 64) % 2) * 4096 + ((l_suppkey div 64) % 2) * 8192 + ((l_partkey div 128) % 2) * 16384 + ((l_suppkey div 128) % 2) * 32768"
_Z_BUCKET = 256  # bucket = z >> 8 (the "file" a z-ordered writer would cut)


@register(
    "layout_zorder_locality",
    oracle=f"""
WITH z AS (
  SELECT ({_Z_SQL}) // {_Z_BUCKET} AS z_bucket, l_partkey, l_suppkey
  FROM lineitem
)
SELECT CAST(z_bucket AS BIGINT) AS z_bucket,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_partkey) AS ndv_part,
       COUNT(DISTINCT l_suppkey) AS ndv_supp
FROM z GROUP BY z_bucket
""",
)
def layout_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) locality audit: interleave the low 8 bits of
    (l_partkey, l_suppkey) into a Morton code, cut it into 256-wide
    buckets (the files a Z-ORDER writer would emit), and report each
    bucket's row count and per-key distinct counts. Low NDVs per bucket
    = both keys stay range-prunable — the measurement that decides
    whether a 100 TB table earns a Z-ORDER rewrite (multi-column
    range-scan pruning) or single-key sorting is enough.

    Determinism: the Morton code is pure integer arithmetic
    (div/mod/multiply-add), written with Spark's `div` and DuckDB's
    `//` integer division — bit-identical in both engines.

    Scale shape: code + bucket are map-side expressions; the audit is
    one hash aggregation keyed by bucket (the same key the writer would
    partition on, so the audit's shuffle IS the rewrite's shuffle).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # `div` (not "/") keeps the bucket cut in exact integer arithmetic
    z_bucket = F.expr(f"(({_Z_SPARK}) div {_Z_BUCKET})")
    return (
        li.select(z_bucket.cast("bigint").alias("z_bucket"), "l_partkey", "l_suppkey")
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_partkey").alias("ndv_part"),
            F.countDistinct("l_suppkey").alias("ndv_supp"),
        )
    )


# Categorical columns audited for concentration (table, column).
_GINI_COLS = (
    ("documents", "lang"),
    ("documents", "source"),
    ("events", "event_type"),
    ("customer", "c_mktsegment"),
    ("orders", "o_orderpriority"),
)


@register(
    "profile_column_gini",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{tbl}.{col}' AS col,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       COUNT(*) AS ndv,
       1.0 - CAST(SUM(c * c) AS DOUBLE)
           / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE))
         AS gini_impurity
FROM (SELECT {col}, COUNT(*) AS c FROM {tbl} GROUP BY {col})"""
        for tbl, col in _GINI_COLS
    ),
)
def profile_column_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical concentration audit: Gini impurity 1 − Σ pᵢ² per
    low-cardinality column — the skew/balance profile that predicts
    both partition skew (a 0.1-impurity key is a shuffle hot spot) and
    class imbalance in sampled training sets. Gini instead of Shannon
    entropy on purpose: pᵢ² is two correctly-rounded double ops where
    ln(pᵢ) has no cross-engine rounding guarantee — same ranking,
    bit-reproducible score.

    Scale shape: one hash aggregation per column to value-grain counts
    (map-side partials; value grain is tiny by construction for
    categorical columns), then ONE more aggregate — the identity
    1 − Σpᵢ² = 1 − Σcᵢ²/n² keeps the sum in EXACT BIGINT (cᵢ² of
    per-value counts), so the only float op is a single final
    division: bit-reproducible with no decimal machinery and no
    global window (the previous p²-sum formulation needed a
    single-partition window to carry n — plan audit flagged it).
    """
    parts = []
    for tbl, col in _GINI_COLS:
        t = load_table(spark, sf_dir, tbl)
        counts = t.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        parts.append(
            counts.agg(
                F.lit(f"{tbl}.{col}").alias("col"),
                F.sum("c").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).alias("ndv"),
                (
                    F.lit(1.0)
                    - F.sum(F.col("c") * F.col("c")).cast("double")
                    / (
                        F.sum("c").cast("double")
                        * F.sum("c").cast("double")
                    )
                ).alias("gini_impurity"),
            ).select("col", "n_rows", "ndv", "gini_impurity")
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


@register(
    "profile_observed_metrics",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_input_rows,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_discounted,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
         AS sum_price,
       CAST(SUM(CASE WHEN l_tax = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_taxfree
FROM lineitem
""",
)
def profile_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via the Observation API: data-quality
    metrics (row count, predicate incidence, exact decimal volume) are attached to the scan with `df.observe(...)` and collected
    as a side effect of a REAL downstream job — zero extra passes over
    the data. This is how a 100 TB ingest gets its per-batch health
    metrics: the monitoring rides the job you were running anyway,
    instead of doubling the scan (the naive profile-then-process shape).
    The oracle recomputes the same metrics straight from the table, so a
    green row certifies the observed values are the true full-scan
    statistics, not a sample.

    The downstream job here is a genuine aggregation (revenue by return
    flag) whose result is intentionally discarded — only the observed
    metrics are returned, mirroring a monitoring hook. The collect() is
    the Observation contract (metrics surface on action completion);
    what crosses the driver is ONE metrics row.
    """
    from pyspark.sql import Observation

    from ..functions.deterministic import dsum

    obs = Observation("ingest_health")
    li = load_table(spark, sf_dir, "lineitem").observe(
        obs,
        F.count(F.lit(1)).alias("n_input_rows"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
        .cast("bigint")
        .alias("n_discounted"),
        dsum("l_extendedprice").alias("sum_price"),
        F.sum(F.when(F.col("l_tax") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_taxfree"),
    )
    # the real job the metrics piggyback on
    li.groupBy("l_returnflag").agg(
        dsum("l_extendedprice").alias("revenue")
    ).collect()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_input_rows"],
                m["n_discounted"],
                m["sum_price"],
                m["n_taxfree"],
            )
        ],
        "n_input_rows bigint, n_discounted bigint, sum_price double, "
        "n_taxfree bigint",
    )


N_SHARDS = 8  # rendezvous ring size under audit (and N_SHARDS-1 after removal)


def _sql_hrw(n: int, col: str) -> str:
    """DuckDB CTE body: per-doc HRW argmax over shards 0..n-1."""
    return " UNION ALL ".join(
        f"SELECT doc_id, md5('rv:' || CAST(doc_id AS VARCHAR) || ':{s}') "
        f"AS h, {s} AS s FROM {col}"
        for s in range(n)
    )


@register(
    "layout_rendezvous_sharding",
    oracle=f"""
WITH scores AS ({_sql_hrw(N_SHARDS, 'documents')}),
a8 AS (
  SELECT doc_id, s AS shard8 FROM (
    SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY h DESC, s DESC) AS rn
    FROM scores) t WHERE rn = 1
),
a7 AS (
  SELECT doc_id, s AS shard7 FROM (
    SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY h DESC, s DESC) AS rn
    FROM scores WHERE s < {N_SHARDS - 1}) t WHERE rn = 1
),
pairs AS (
  SELECT a8.shard8, a7.shard7, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM a8 JOIN a7 USING (doc_id) GROUP BY 1, 2
),
shards AS (SELECT range AS shard FROM range({N_SHARDS}))
SELECT s.shard,
       CAST(COALESCE((SELECT SUM(cnt) FROM pairs p WHERE p.shard8 = s.shard), 0)
            AS BIGINT) AS n_docs_8,
       CAST(COALESCE((SELECT SUM(cnt) FROM pairs p WHERE p.shard7 = s.shard), 0)
            AS BIGINT) AS n_docs_7,
       CAST(COALESCE((SELECT SUM(cnt) FROM pairs p
                      WHERE p.shard7 = s.shard AND p.shard8 <> p.shard7), 0)
            AS BIGINT) AS n_moved_in,
       CAST(COALESCE((SELECT SUM(cnt) FROM pairs p
                      WHERE p.shard8 = s.shard AND p.shard8 <> {N_SHARDS - 1}
                        AND p.shard7 <> p.shard8), 0)
            AS BIGINT) AS n_moved_wrongly
FROM shards s
""",
)
def layout_rendezvous_sharding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding with its
    minimal-disruption contract AUDITED: every doc is assigned
    argmax over shards of md5('rv:' || doc_id || ':' || shard), under
    the full {N_SHARDS}-shard ring and again with the last shard
    removed. HRW's defining property — removing a shard remaps ONLY
    that shard's documents — comes back as a checked column:
    n_moved_wrongly must be 0 for every surviving shard, while
    n_moved_in shows how the removed shard's docs redistribute. This is
    the resharding math a 100 TB store lives by (consistent placement
    without a central directory, graceful decommission).

    Determinism: assignments are md5-string argmax (128-bit lexicographic
    order, same bytes in both engines, shard-id tiebreak for formality);
    every output is an exact BIGINT count.

    Scale shape: the per-doc argmax is MAP-SIDE (an array of
    {N_SHARDS} md5 structs + array_max — no join, no shuffle); the only
    shuffle is one groupBy to the ≤{N_SHARDS}×{N_SHARDS} transition
    table, from which all four statistics reshape without touching the
    corpus again.
    """
    d = load_table(spark, sf_dir, "documents")

    def scored(n: int):
        return F.array(
            *[
                F.struct(
                    F.md5(
                        F.concat(
                            F.lit("rv:"),
                            F.col("doc_id").cast("string"),
                            F.lit(f":{s}"),
                        )
                    ).alias("h"),
                    F.lit(s).alias("s"),
                )
                for s in range(n)
            ]
        )

    assigned = d.select(
        F.array_max(scored(N_SHARDS)).getField("s").alias("shard8"),
        F.array_max(scored(N_SHARDS - 1)).getField("s").alias("shard7"),
    )
    pairs = (
        assigned.groupBy("shard8", "shard7")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint()  # <= 8x8 rows; 4 reshapes below read this
    )
    shards = spark.range(N_SHARDS).select(F.col("id").alias("shard"))

    def stat(df, key, name):
        return df.groupBy(F.col(key).alias("shard")).agg(
            F.sum("cnt").cast("bigint").alias(name)
        )

    out = (
        shards.join(stat(pairs, "shard8", "n_docs_8"), "shard", "left")
        .join(stat(pairs, "shard7", "n_docs_7"), "shard", "left")
        .join(
            stat(
                pairs.filter(F.col("shard7") != F.col("shard8")),
                "shard7",
                "n_moved_in",
            ),
            "shard",
            "left",
        )
        .join(
            stat(
                pairs.filter(
                    (F.col("shard8") != N_SHARDS - 1)
                    & (F.col("shard7") != F.col("shard8"))
                ),
                "shard8",
                "n_moved_wrongly",
            ),
            "shard",
            "left",
        )
    )
    return out.select(
        "shard",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
            for c in ("n_docs_8", "n_docs_7", "n_moved_in", "n_moved_wrongly")
        ],
    )


ZONE_ROWS = 8  # rows per simulated row-group (parquet row-group stand-in)
ZONE_LO, ZONE_HI = 120, 180  # the audited predicate: n_chars BETWEEN lo AND hi


@register(
    "layout_zone_map_skipping",
    oracle=f"""
WITH nat AS (
  SELECT doc_id // {ZONE_ROWS} AS grp, n_chars FROM documents
),
srt AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1) // {ZONE_ROWS}
           AS grp,
         n_chars
  FROM documents
),
both_ AS (
  SELECT 'natural' AS layout, grp, n_chars FROM nat
  UNION ALL
  SELECT 'sorted', grp, n_chars FROM srt
),
zones AS (
  SELECT layout, grp, CAST(COUNT(*) AS BIGINT) AS rows_in_grp,
         MIN(n_chars) AS lo, MAX(n_chars) AS hi,
         CAST(COUNT(*) FILTER (WHERE n_chars BETWEEN {ZONE_LO} AND {ZONE_HI})
              AS BIGINT) AS rows_matching
  FROM both_ GROUP BY layout, grp
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(COUNT(*) FILTER (WHERE hi >= {ZONE_LO} AND lo <= {ZONE_HI})
            AS BIGINT) AS groups_read,
       CAST(SUM(CASE WHEN hi >= {ZONE_LO} AND lo <= {ZONE_HI}
                     THEN rows_in_grp ELSE 0 END) AS BIGINT) AS rows_read,
       CAST(SUM(rows_matching) AS BIGINT) AS rows_matching,
       CAST(SUM(CASE WHEN hi >= {ZONE_LO} AND lo <= {ZONE_HI}
                     THEN rows_in_grp ELSE 0 END) AS DOUBLE)
         / SUM(rows_matching) AS read_amplification
FROM zones GROUP BY layout
""",
)
def layout_zone_map_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) file-skipping audit — the quantified
    version of what layout_zorder_locality shows spatially: parquet row
    groups store per-column min/max, and a range predicate skips every
    group whose [min, max] misses the range. Simulated at row-group
    grain {ZONE_ROWS}: the 'natural' layout groups by insertion order
    (doc_id), the 'sorted' layout clusters by the predicate column
    first — the before/after of an OPTIMIZE ... ZORDER/ORDER BY run.

    Per layout: groups whose zone overlaps [{ZONE_LO}, {ZONE_HI}],
    rows scanned vs rows actually matching, and read_amplification =
    rows_read / rows_matching. On unsorted data a selective range reads
    nearly every group (amplification >> 1, min/max zones are all wide);
    on clustered data amplification approaches 1 — the measured
    justification for paying the sort at write time at 100 TB, where
    rows_read IS the scan bill. Pure integer arithmetic; the sorted
    layout's global ROW_NUMBER is rank assignment for the simulation
    only (a real rewrite uses repartitionByRange — audited by
    layout_range_partition_balance in planning.py).
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    nat = d.select(
        F.lit("natural").alias("layout"),
        F.expr(f"doc_id DIV {ZONE_ROWS}").alias("grp"),
        "n_chars",
    )
    srt = d.select(
        F.lit("sorted").alias("layout"),
        F.expr(
            f"(row_number() OVER (ORDER BY n_chars, doc_id) - 1) DIV {ZONE_ROWS}"
        ).alias("grp"),
        "n_chars",
    )
    zones = (
        nat.unionByName(srt)
        .groupBy("layout", "grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("rows_in_grp"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
            F.sum(
                F.col("n_chars").between(ZONE_LO, ZONE_HI).cast("long")
            )
            .cast("bigint")
            .alias("rows_matching"),
        )
    )
    overlaps = (F.col("hi") >= ZONE_LO) & (F.col("lo") <= ZONE_HI)
    return zones.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(overlaps.cast("long")).cast("bigint").alias("groups_read"),
        F.sum(F.when(overlaps, F.col("rows_in_grp")).otherwise(0))
        .cast("bigint")
        .alias("rows_read"),
        F.sum("rows_matching").cast("bigint").alias("rows_matching"),
        (
            F.sum(F.when(overlaps, F.col("rows_in_grp")).otherwise(0)).cast(
                "double"
            )
            / F.sum("rows_matching")
        ).alias("read_amplification"),
    )


@register(
    "profile_encoding_advisor",
    oracle="""
WITH vals AS (
  SELECT doc_id, 'lang' AS col, lang AS v FROM documents
  UNION ALL
  SELECT doc_id, 'source', source FROM documents
  UNION ALL
  SELECT doc_id, 'text', text FROM documents
),
runs AS (
  SELECT col, v, length(v) AS len,
         CASE WHEN v = LAG(v) OVER (PARTITION BY col ORDER BY doc_id)
              THEN 0 ELSE 1 END AS is_run_start
  FROM vals
),
st AS (
  SELECT col,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
         CAST(SUM(len) AS BIGINT) AS plain_bytes,
         CAST(SUM(is_run_start) AS BIGINT) AS n_runs
  FROM runs GROUP BY col
),
dl AS (
  SELECT col, CAST(SUM(len) AS BIGINT) AS dict_payload
  FROM (SELECT DISTINCT col, v, length(v) AS len FROM vals) d GROUP BY col
),
est AS (
  SELECT st.col, st.n_rows, st.ndv, st.n_runs, st.plain_bytes,
         dl.dict_payload
           + st.n_rows * ((length(bin(st.ndv)) + 7) // 8) AS dict_bytes,
         dl.dict_payload
           + st.n_runs * (((length(bin(st.ndv)) + 7) // 8) + 2)
           AS rle_dict_bytes
  FROM st JOIN dl USING (col)
)
SELECT col, n_rows, ndv, n_runs, plain_bytes,
       CAST(dict_bytes AS BIGINT) AS dict_bytes,
       CAST(rle_dict_bytes AS BIGINT) AS rle_dict_bytes,
       CASE WHEN rle_dict_bytes <= dict_bytes
             AND rle_dict_bytes <= plain_bytes THEN 'rle_dict'
            WHEN dict_bytes <= plain_bytes THEN 'dict'
            ELSE 'plain' END AS recommended
FROM est
""",
)
def profile_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-encoding advisor — the write-path twin of
    layout_zone_map_skipping: before a 100 TB rewrite, price each string
    column under the three parquet encodings from one scan. Models (all
    exact integers): plain = total value bytes; dictionary = distinct
    payload + ceil(log2 ndv)/8-byte codes per row; RLE-on-dictionary =
    distinct payload + (code + 2-byte run length) per run, where runs
    count value changes in insertion order (LAG per column). Low-ndv
    columns (lang, source) should recommend dict or rle_dict; the
    free-text column must fall back to plain — the advisor's CASE picks
    the byte-minimal encoding, and the recommendation drives whether a
    sort-before-write (which collapses n_runs toward ndv) pays for
    itself.

    Shape: one unpivot (3x row multiply on the string columns only),
    one lag window per column partition, two column-grain aggregates —
    linear, no joins wider than the 3-row stats table. The same pass
    extended with min/max feeds the zone-map audit; together they are
    the table-format writer's planning inputs (parquet
    ColumnChunkMetaData encodings + Delta/Iceberg OPTIMIZE decisions).
    """
    d = load_table(spark, sf_dir, "documents")
    vals = d.selectExpr(
        "doc_id",
        "stack(3, 'lang', lang, 'source', source, 'text', text) AS (col, v)",
    )
    runs = vals.select(
        "col",
        "v",
        F.length("v").alias("len"),
        F.when(
            F.col("v")
            == F.lag("v").over(Window.partitionBy("col").orderBy("doc_id")),
            0,
        )
        .otherwise(1)
        .alias("is_run_start"),
    )
    st = runs.groupBy("col").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("v").cast("bigint").alias("ndv"),
        F.sum("len").cast("bigint").alias("plain_bytes"),
        F.sum("is_run_start").cast("bigint").alias("n_runs"),
    )
    dl = (
        vals.select("col", "v")
        .distinct()
        .groupBy("col")
        .agg(F.sum(F.length("v")).cast("bigint").alias("dict_payload"))
    )
    code_bytes = F.expr("(length(bin(ndv)) + 7) DIV 8")
    est = st.join(dl, "col").select(
        "col",
        "n_rows",
        "ndv",
        "n_runs",
        "plain_bytes",
        (F.col("dict_payload") + F.col("n_rows") * code_bytes)
        .cast("bigint")
        .alias("dict_bytes"),
        (F.col("dict_payload") + F.col("n_runs") * (code_bytes + 2))
        .cast("bigint")
        .alias("rle_dict_bytes"),
    )
    return est.select(
        "*",
        F.when(
            (F.col("rle_dict_bytes") <= F.col("dict_bytes"))
            & (F.col("rle_dict_bytes") <= F.col("plain_bytes")),
            "rle_dict",
        )
        .when(F.col("dict_bytes") <= F.col("plain_bytes"), "dict")
        .otherwise("plain")
        .alias("recommended"),
    )


# --- exact Kolmogorov-Smirnov two-sample drift per source -------------------

@register(
    "profile_ks_drift",
    oracle="""
WITH srcs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY source
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
vals AS (SELECT DISTINCT n_chars AS v FROM documents),
cnt AS (
  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY source, n_chars
),
gcum AS (
  SELECT v, SUM(c) OVER (ORDER BY v) AS gc
  FROM (SELECT v, SUM(c) AS c FROM cnt GROUP BY v) t
),
grid AS (
  SELECT s.source, s.n_s, va.v, COALESCE(c.c, 0) AS c
  FROM srcs s CROSS JOIN vals va
  LEFT JOIN cnt c ON c.source = s.source AND c.v = va.v
),
cum AS (
  SELECT g.source, g.n_s, g.v,
         SUM(g.c) OVER (PARTITION BY g.source ORDER BY g.v) AS cs,
         gc.gc
  FROM grid g JOIN gcum gc ON gc.v = g.v
),
diff AS (
  SELECT source, n_s, v,
         ABS(CAST(cs AS DOUBLE) / n_s
             - CAST(gc - cs AS DOUBLE) / ((SELECT n FROM tot) - n_s))
           AS dks
  FROM cum
)
SELECT source, n_s,
       dks AS ks_stat,
       CAST(v AS BIGINT) AS ks_at_value
FROM (
  SELECT source, n_s, v, dks,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY dks DESC, v) AS rn
  FROM diff
) t WHERE rn = 1
""",
)
def profile_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic per source: for
    every source, the sup-norm distance between ITS document-length ECDF
    and the ECDF of the REST of the corpus, plus the length at which the
    gap peaks. The distribution-drift detector that complements
    snapshot_distribution_drift's PSI (binned, needs bin choices) with
    the binning-free exact statistic — a large KS on one source is the
    "this crawl batch looks different" alarm, and ks_at_value says WHERE
    the distributions diverge.

    Deterministic: ECDFs are exact integer cumulative counts over the
    shared distinct-value grid; the two divisions and the |a−b| are
    single IEEE ops in identical order; the argmax is total-ordered by
    (gap DESC, value).

    Scale shape: one (source, value) aggregation, a value-grid cross
    join (|sources| × |distinct values| rows — metadata-scale, NOT row
    scale), and per-source running sums. At 100 TB with unbounded value
    domains the grid is first quantized to, e.g., 10k distinct quantile
    buckets (KS over a quantization is a lower bound with error ≤ bucket
    mass) — the same sketch-before-exact doctrine as the HLL/KLL
    batteries.
    """
    d = load_table(spark, sf_dir, "documents")
    srcs = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    total = d.count()
    vals = d.select(F.col("n_chars").alias("v")).distinct()
    cnt = d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    gcum = (
        cnt.groupBy("v")
        .agg(F.sum("c").alias("c"))
        .select("v", F.sum("c").over(Window.orderBy("v")).alias("gc"))
    )
    grid = (
        srcs.crossJoin(vals)
        .join(cnt, ["source", "v"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    cum = grid.select(
        "source",
        "n_s",
        "v",
        F.sum("c").over(Window.partitionBy("source").orderBy("v")).alias("cs"),
    ).join(gcum, "v")
    diff = cum.select(
        "source",
        "n_s",
        "v",
        F.abs(
            F.col("cs").cast("double") / F.col("n_s").cast("double")
            - (F.col("gc") - F.col("cs")).cast("double")
            / (F.lit(total) - F.col("n_s")).cast("double")
        ).alias("dks"),
    )
    return (
        ranked_topk_per(
            diff, ["source"], [F.col("dks").desc(), "v"], 1, rk_col=None
        )
        .select(
            "source",
            "n_s",
            F.col("dks").alias("ks_stat"),
            F.col("v").cast("bigint").alias("ks_at_value"),
        )
    )


# --- full pairwise Pearson matrix over the lineitem measures -----------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_CORR_PAIRS = tuple(
    (_CORR_COLS[i], _CORR_COLS[j])
    for i in range(len(_CORR_COLS))
    for j in range(i + 1, len(_CORR_COLS))
)


def _corr_moment_sql() -> str:
    sums = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in _CORR_COLS:
        sums.append(f"CAST(SUM(CAST({c} AS DECIMAL(28,6))) AS DOUBLE) AS s_{c}")
        sums.append(
            f"CAST(SUM(CAST({c} * {c} AS DECIMAL(28,6))) AS DOUBLE) AS ss_{c}"
        )
    for a, b in _CORR_PAIRS:
        sums.append(
            f"CAST(SUM(CAST({a} * {b} AS DECIMAL(28,6))) AS DOUBLE)"
            f" AS sp_{a}_{b}"
        )
    return "m AS (SELECT " + ", ".join(sums) + " FROM lineitem)"


def _corr_row_sql(a: str, b: str) -> str:
    return (
        f"SELECT '{a}' AS col_x, '{b}' AS col_y, CAST(n AS BIGINT) AS n_rows,"
        f" (n * sp_{a}_{b} - s_{a} * s_{b})"
        f" / (sqrt(n * ss_{a} - s_{a} * s_{a})"
        f" * sqrt(n * ss_{b} - s_{b} * s_{b})) AS pearson_r"
        f" FROM m"
    )


@register(
    "profile_correlation_matrix",
    oracle="WITH "
    + _corr_moment_sql()
    + "\n"
    + "\nUNION ALL\n".join(_corr_row_sql(a, b) for a, b in _CORR_PAIRS),
)
def profile_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over the four lineitem measures in
    ONE scan — the profiling matrix a feature-engineering pass reads
    before dropping redundant columns, generalizing the single-pair
    `corr_text_embedding` to the full measure set.

    All 14 moment sums (4 Σx, 4 Σx², 6 Σxy) accumulate in a single
    multi-aggregate through DECIMAL(28,6) (order-free; scale 6 because
    price-squared terms at sf0.1 would overflow scale 12 — the verify
    skill's documented large-magnitude rule), then the 6 r values are a
    pure projection of the one moment row — stack()ed into rows without
    re-aggregating. One scan, one 1-row shuffle, regardless of how many
    pairs the matrix has.
    """
    # spread: 14 decimal sums per row are compute-bound and the fixture
    # parquet is one partition — partial aggregation wants the cores
    # (measured 5.6 s -> 2.2 s at sf0.1); the merge stays a 1-row shuffle
    li = spread(load_table(spark, sf_dir, "lineitem"))
    d6 = lambda c: F.sum(c.cast("decimal(28,6)")).cast("double")  # noqa: E731
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in _CORR_COLS:
        col = F.col(c)
        aggs.append(d6(col).alias(f"s_{c}"))
        aggs.append(d6(col * col).alias(f"ss_{c}"))
    for a, b in _CORR_PAIRS:
        aggs.append(d6(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    m = li.agg(*aggs)
    n = F.col("n")
    rows = []
    for a, b in _CORR_PAIRS:
        r = (n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")) / (
            F.sqrt(n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
            * F.sqrt(n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
        )
        rows.append(
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                n.cast("bigint").alias("n_rows"),
                r.alias("pearson_r"),
            )
        )
    return (
        m.select(F.explode(F.array(*rows)).alias("p"))
        .select("p.col_x", "p.col_y", "p.n_rows", "p.pearson_r")
    )


# --- categorical entropy profile ---------------------------------------------

_ENTROPY_COLS = (
    ("orders", "o_orderpriority"),
    ("lineitem", "l_returnflag"),
    ("lineitem", "l_linestatus"),
    ("events", "event_type"),
)


def _entropy_sql(table: str, col: str) -> str:
    return f"""
SELECT '{table}.{col}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(SUM(h) AS DOUBLE) AS entropy_nats,
       CASE WHEN COUNT(*) <= 1 THEN NULL
            ELSE CAST(CAST(CAST(SUM(h) AS DOUBLE)
                 / ln(CAST(COUNT(*) AS DOUBLE))
                 AS DECIMAL(28,12)) AS DOUBLE) END AS entropy_norm
FROM (
  SELECT c, CAST(-p * ln(p) AS DECIMAL(28,12)) AS h
  FROM (
    SELECT c, CAST(c AS DOUBLE) / CAST(SUM(c) OVER () AS DOUBLE) AS p
    FROM (SELECT {col}, CAST(COUNT(*) AS BIGINT) AS c
          FROM {table} GROUP BY {col}) t0
  ) t1
) t2
"""


@register(
    "profile_entropy_by_column",
    oracle="\nUNION ALL\n".join(
        _entropy_sql(t, c) for t, c in _ENTROPY_COLS
    ),
)
def profile_entropy_by_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (and its log-cardinality-normalized form) for the
    categorical columns a profiler watches — the one-number skew summary
    behind partition-key and dictionary-encoding choices
    (`profile_encoding_advisor` decides HOW to store; this says WHICH
    columns still carry distributional information vs collapsed to a
    near-constant).

    Each -p·ln p term is computed at VALUE grain (one exact BIGINT count
    per distinct value, one division, one ln), quantized to
    DECIMAL(28,12), and summed order-free — the value grain is the
    column's dictionary, orders of magnitude under row grain, so the
    whole audit after the per-column count agg is dictionary-sized.
    """
    out = None
    for table, col in _ENTROPY_COLS:
        t = load_table(spark, sf_dir, table)
        counts = t.groupBy(col).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        wall = Window.partitionBy()
        p = F.col("c").cast("double") / F.sum("c").over(wall).cast("double")
        term = (-p * F.log(p)).cast("decimal(28,12)")
        row = (
            counts.select(F.col("c"), term.alias("h"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_values"),
                F.sum("c").cast("bigint").alias("n_rows"),
                F.sum("h").cast("double").alias("entropy_nats"),
            )
            .select(
                F.lit(f"{table}.{col}").alias("column_name"),
                "n_values",
                "n_rows",
                "entropy_nats",
                F.when(
                    F.col("n_values") > 1,
                    (
                        F.col("entropy_nats")
                        / F.log(F.col("n_values").cast("double"))
                    )
                    .cast("decimal(28,12)")
                    .cast("double"),
                ).alias("entropy_norm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "profile_chi2_independence",
    oracle="""
WITH o AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
  FROM documents GROUP BY lang, source
),
m AS (
  SELECT lang, source, obs,
         CAST(SUM(obs) OVER (PARTITION BY lang) AS BIGINT) AS row_n,
         CAST(SUM(obs) OVER (PARTITION BY source) AS BIGINT) AS col_n,
         CAST(SUM(obs) OVER () AS BIGINT) AS n
  FROM o
),
c AS (
  SELECT lang, source, obs,
         CAST(row_n AS DOUBLE) * col_n / n AS expected,
         CAST((obs - CAST(row_n AS DOUBLE) * col_n / n)
              * (obs - CAST(row_n AS DOUBLE) * col_n / n)
              / (CAST(row_n AS DOUBLE) * col_n / n)
              AS DECIMAL(28,6)) AS contrib_q
  FROM m
),
tot AS (
  SELECT CAST(SUM(contrib_q) AS DOUBLE) AS chi2,
         CAST((COUNT(DISTINCT lang) - 1)
              * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof
  FROM c
)
SELECT c.lang, c.source, c.obs, c.expected,
       CAST(c.contrib_q AS DOUBLE) AS contrib,
       tot.chi2, tot.dof
FROM c CROSS JOIN tot
""",
)
def profile_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between lang and source —
    'does this corpus's language mix differ by source' as a statistic,
    not an eyeball: per-cell expected counts e = row·col/n from the
    margins, contributions (o−e)²/e, and the table-level χ² + degrees of
    freedom repeated on every cell row so the biggest-contributor cells
    (the actual diagnostic payload) are directly rankable. Complements
    profile_ks_drift (two numeric samples) and snapshot drift's PSI
    (fixed bins) with the categorical×categorical case.

    Determinism: observed counts and margins are exact integers computed
    by three windows over the |langs|×|sources| contingency table (one
    tiny input, no re-scan per margin); each cell's e and (o−e)²/e are
    fixed-order IEEE ops on those integers, quantized to DECIMAL(28,6)
    so the χ² SUM is exact decimal addition.

    Scale shape: ONE hash agg over the corpus builds the contingency
    table (map-side combine to r×c rows); margins, expecteds and the
    statistic all run on that grid. At 100 TB: one scan, grid math.
    """
    d = load_table(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    m = o.select(
        "lang",
        "source",
        "obs",
        F.sum("obs").over(Window.partitionBy("lang")).cast("bigint").alias("row_n"),
        F.sum("obs").over(Window.partitionBy("source")).cast("bigint").alias("col_n"),
        F.sum("obs").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    e = F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    contrib_q = (
        (F.col("obs") - e) * (F.col("obs") - e) / e
    ).cast("decimal(28,6)")
    c = m.select(
        "lang", "source", "obs", e.alias("expected"), contrib_q.alias("contrib_q")
    )
    tot = c.agg(
        F.sum("contrib_q").cast("double").alias("chi2"),
        (
            (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
        ).cast("bigint").alias("dof"),
    )
    return c.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "obs",
        "expected",
        F.col("contrib_q").cast("double").alias("contrib"),
        "chi2",
        "dof",
    )
