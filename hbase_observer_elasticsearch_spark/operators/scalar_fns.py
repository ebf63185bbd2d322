"""Scalar function batteries (SURVEY §2.3): string / date / math / array /
map / higher-order / JSON — all built-in `pyspark.sql.functions`, all inside
whole-stage codegen (zero Python in the hot path).

Oracle-dialect notes are inline where Spark and DuckDB disagree on defaults
(dayofweek origin, list indexing); queries are written to semantics both
engines share exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register


@register(
    "string_funcs",
    oracle="""
SELECT p_partkey,
       upper(p_name) AS name_u,
       lower(p_brand) AS brand_l,
       substr(p_type, 1, 5) AS type5,
       length(p_name) AS name_len,
       concat(p_brand, ':', p_type) AS brand_type,
       trim(concat('  ', p_name, '  ')) AS trimmed,
       replace(p_name, ' ', '_') AS snake,
       strpos(p_type, 'a') AS first_a,
       regexp_extract(p_type, '([a-z]+)', 1) AS first_word,
       regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled,
       reverse(p_brand) AS brand_rev,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
       split_part(p_type, ' ', 1) AS type_head
FROM part
""",
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String battery: case, substr, concat, trim, replace, position,
    regexp extract/replace, reverse, pad, split_part."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_u"),
        F.lower("p_brand").alias("brand_l"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake"),
        F.instr("p_type", "a").cast("bigint").alias("first_a"),
        F.regexp_extract("p_type", r"([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("devoweled"),
        F.reverse("p_brand").alias("brand_rev"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
    )


@register(
    "date_funcs",
    oracle="""
SELECT o_orderkey,
       year(o_orderdate) AS yr,
       month(o_orderdate) AS mo,
       day(o_orderdate) AS dom,
       quarter(o_orderdate) AS qtr,
       isodow(o_orderdate) AS iso_dow,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_day,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
       datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_95,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
       strftime(o_orderdate, '%Y-%m') AS ym
FROM orders
""",
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date battery: parts, ISO weekday, trunc, interval arithmetic,
    last_day, datediff, epoch seconds, formatting.

    Dialect traps handled: Spark `dayofweek` is 1=Sunday while DuckDB's is
    0=Sunday — both sides use ISO day-of-week instead. `date_format` ↔
    `strftime` for the %Y-%m rendering.
    """
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("yr"),
        F.month(d).cast("bigint").alias("mo"),
        F.dayofmonth(d).cast("bigint").alias("dom"),
        F.quarter(d).cast("bigint").alias("qtr"),
        (F.weekday(d) + 1).cast("bigint").alias("iso_dow"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.date_add(d.cast("date"), 30), "yyyy-MM-dd").alias("due_day"),
        F.date_format(F.last_day(d.cast("date")), "yyyy-MM-dd").alias("eom"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_95"),
        F.unix_timestamp(d).alias("epoch_s"),
        F.date_format(d, "yyyy-MM").alias("ym"),
    )


@register(
    "math_funcs",
    oracle="""
SELECT l_orderkey,
       l_linenumber,
       abs(l_discount - 0.05) AS abs_off,
       round(l_extendedprice, 1) AS price_r1,
       CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
       CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
       CAST(l_quantity AS BIGINT) % 7 AS qty_mod7,
       sqrt(l_quantity) AS qty_sqrt,
       CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
       greatest(l_tax, l_discount) AS max_rate,
       least(l_tax, l_discount) AS min_rate
FROM lineitem
WHERE l_orderkey % 100 = 0
""",
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery: abs/round/floor/ceil/mod/sqrt/sign/greatest/least.

    Only IEEE-exact ops (sqrt is correctly rounded; no libm-dependent
    exp/log whose last ulp differs across engines).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_off"),
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil("l_quantity").alias("qty_ceil"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod7"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


@register(
    "array_funcs",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_words,
       len(list_distinct(string_split(text, ' '))) AS n_uniq_words,
       list_contains(string_split(text, ' '), 'spark') AS has_spark,
       string_split(text, ' ')[1] AS first_word,
       string_split(text, ' ')[-1] AS last_word,
       list_sort(string_split(text, ' '))[1] AS min_word,
       array_to_string(string_split(text, ' ')[1:3], '|') AS head3
FROM documents
""",
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array battery over tokenized text: size, distinct, contains,
    indexing (1-based both engines; -1 = last), sort, slice+join."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(words)).cast("bigint").alias("n_uniq_words"),
        F.array_contains(words, "spark").alias("has_spark"),
        F.element_at(words, 1).alias("first_word"),
        F.element_at(words, -1).alias("last_word"),
        F.element_at(F.array_sort(words), 1).alias("min_word"),
        F.concat_ws("|", F.slice(words, 1, 3)).alias("head3"),
    )


@register(
    "higher_order_funcs",
    oracle="""
SELECT doc_id,
       len(list_filter(string_split(text, ' '), x -> len(x) > 5)) AS n_long_words,
       CAST(list_sum(list_transform(string_split(text, ' '), x -> len(x))) AS BIGINT) AS total_chars,
       list_max(list_transform(string_split(text, ' '), x -> len(x))) AS max_word_len,
       list_count(list_filter(string_split(text, ' '), x -> x = 'the')) AS n_the
FROM documents
""",
)
def higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order lambda battery: filter, transform+aggregate, max-reduce.

    Integer lambdas only → exact in both engines. (Same machinery the
    similarity module uses for dot products.)
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    lens = F.transform(words, lambda x: F.length(x).cast("bigint"))
    return d.select(
        "doc_id",
        F.size(F.filter(words, lambda x: F.length(x) > 5))
        .cast("bigint")
        .alias("n_long_words"),
        F.aggregate(lens, F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias(
            "total_chars"
        ),
        F.array_max(lens).alias("max_word_len"),
        F.size(F.filter(words, lambda x: x == "the")).cast("bigint").alias("n_the"),
    )


@register(
    "map_funcs",
    oracle="""
SELECT user_id,
       n_click + n_view AS n_interactions,
       n_click AS clicks_via_map
FROM (
  SELECT user_id,
         COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
         COUNT(*) FILTER (WHERE event_type = 'view') AS n_view
  FROM events
  GROUP BY user_id
) t
""",
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map assembly + lookup: build MAP<event_type, count> per user
    (the reference's {qualifier: value} doc shape,
    HbaseDataSyncEsObserver.java:93-104) and read counts back out via
    element_at. The oracle computes identical scalars without the map —
    the map is the machinery under test on the Spark side.
    """
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    doc = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("type_counts")
    )
    get = lambda k: F.coalesce(  # noqa: E731
        F.element_at(F.col("type_counts"), k), F.lit(0).cast("bigint")
    )
    return doc.select(
        "user_id",
        (get("click") + get("view")).alias("n_interactions"),
        get("click").alias("clicks_via_map"),
    )


@register(
    "json_funcs",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       json_extract_string(props, '$.missing') AS missing_val,
       CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
            THEN 'high' ELSE 'low' END AS k_bucket
FROM events
""",
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON battery over events.props: path extraction, missing-path NULL,
    downstream predicate. (from_json with an explicit schema is the
    schema-full variant; get_json_object is the schema-less one — both
    stay JVM-side.)"""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.select(
        "event_id",
        k.alias("k_val"),
        F.get_json_object("props", "$.missing").alias("missing_val"),
        F.when(k > 50, "high").otherwise("low").alias("k_bucket"),
    )


@register(
    "agg_conditional_battery",
    oracle="""
WITH ranked AS (
  SELECT event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rmax,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id) AS rmin
  FROM events
),
base AS (
  SELECT event_type,
         CAST(COUNT(*) FILTER (WHERE value > 50) AS BIGINT) AS n_high,
         CAST(COUNT(*) FILTER (WHERE value <= 50) AS BIGINT) AS n_low,
         bool_and(value >= 0) AS all_nonneg,
         bool_or(value > 99) AS any_gt99
  FROM events GROUP BY event_type
)
SELECT base.*,
       CAST(mx.event_id AS BIGINT) AS max_value_event,
       CAST(mn.event_id AS BIGINT) AS min_value_event
FROM base
JOIN (SELECT event_type, event_id FROM ranked WHERE rmax = 1) mx
  USING (event_type)
JOIN (SELECT event_type, event_id FROM ranked WHERE rmin = 1) mn
  USING (event_type)
""",
)
def agg_conditional_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate battery: count_if / FILTER counts, every()/
    some() boolean aggregates, and argmax/argmin with explicit unique
    tiebreaks (max_by/min_by on a (value, id) struct — the
    nondeterministic bare form is exactly what the determinism rules
    forbid).

    All map-side partial-aggregable: one hash shuffle on event_type.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 50).cast("bigint").alias("n_high"),
        F.count_if(F.col("value") <= 50).cast("bigint").alias("n_low"),
        F.every(F.col("value") >= 0).alias("all_nonneg"),
        F.some(F.col("value") > 99).alias("any_gt99"),
        F.max_by(
            "event_id", F.struct(F.col("value"), (-F.col("event_id")).alias("t"))
        ).cast("bigint").alias("max_value_event"),
        F.min_by(
            "event_id", F.struct(F.col("value"), F.col("event_id").alias("t"))
        ).cast("bigint").alias("min_value_event"),
    )


@register(
    "bitwise_funcs",
    oracle="""
SELECT event_type,
       CAST(bit_and(event_id) AS BIGINT) AS band,
       CAST(bit_or(event_id) AS BIGINT) AS bor,
       CAST(bit_xor(event_id) AS BIGINT) AS bxor,
       CAST(SUM(bit_count(event_id)) AS BIGINT) AS total_popcount,
       CAST(SUM(event_id & 255) AS BIGINT) AS sum_low_byte,
       CAST(SUM(CASE WHEN event_id & 1 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_odd
FROM events
GROUP BY event_type
""",
)
def bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise battery: bit_and/or/xor aggregates, popcount, masking and
    parity — the bit-level surface sketch/bloom implementations lean on
    (functions/hashing.py uses the same ops for minhash/simhash).

    Integer-only: no float-determinism machinery needed anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bit_and("event_id").cast("bigint").alias("band"),
        F.bit_or("event_id").cast("bigint").alias("bor"),
        F.bit_xor("event_id").cast("bigint").alias("bxor"),
        F.sum(F.bit_count("event_id")).cast("bigint").alias("total_popcount"),
        F.sum(F.col("event_id").bitwiseAND(F.lit(255)))
        .cast("bigint")
        .alias("sum_low_byte"),
        F.sum(
            F.when(F.col("event_id").bitwiseAND(F.lit(1)) == 1, 1).otherwise(0)
        ).cast("bigint").alias("n_odd"),
    )


@register(
    "null_handling_funcs",
    oracle="""
SELECT event_id,
       COALESCE(json_extract_string(props, '$.missing'), 'absent') AS coal,
       NULLIF(event_type, 'error') AS nullif_err,
       (CASE WHEN json_extract_string(props, '$.missing') IS NOT NULL
             THEN 'has' ELSE 'hasnt' END) AS nvl2_shape,
       (event_type IS NOT DISTINCT FROM 'error') AS nullsafe_is_err,
       (json_extract_string(props, '$.missing')
          IS DISTINCT FROM event_type) AS distinct_from_type
FROM events
""",
)
def null_handling_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics battery: coalesce, nullif, nvl2 shape, and null-safe
    (IS [NOT] DISTINCT FROM) comparison — the three-valued-logic corners
    that silently flip anti-join and filter results when mishandled
    (the CDC tombstone queries lean on eqNullSafe for exactly this).

    Pure map-side expressions over one scan.
    """
    ev = load_table(spark, sf_dir, "events")
    missing = F.get_json_object("props", "$.missing")
    return ev.select(
        "event_id",
        F.coalesce(missing, F.lit("absent")).alias("coal"),
        F.nullif("event_type", F.lit("error")).alias("nullif_err"),
        F.when(missing.isNotNull(), "has").otherwise("hasnt").alias(
            "nvl2_shape"
        ),
        F.col("event_type").eqNullSafe("error").alias("nullsafe_is_err"),
        (~missing.eqNullSafe(F.col("event_type"))).alias(
            "distinct_from_type"
        ),
    )


@register(
    "variant_funcs",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_typed,
       CAST(json_extract(props, '$.missing') AS BIGINT) AS missing_typed,
       CASE WHEN json_extract(props, '$.k') IS NOT NULL THEN 'BIGINT'
            ELSE NULL END AS k_type
FROM events
""",
)
def variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT battery (Spark 4): `parse_json` into a
    VARIANT column, typed path extraction with `variant_get`, and
    `schema_of_variant` for type introspection — the open-schema
    ingestion surface that replaces stringly `get_json_object` chains
    when the payload shape varies row to row (exactly the reference's
    `info` JSON envelope, SURVEY §2.1 #6, whose fields HBase never
    types).

    VARIANT keeps a binary-encoded value with embedded types, so the
    typed extraction is one pass with no re-parse per path — at 100 TB
    the difference between parsing JSON once per row and once per
    (row × path). The oracle reads the same paths with DuckDB's typed
    json_extract.
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    return ev.select(
        "event_id",
        k.alias("k_typed"),
        F.try_variant_get(v, "$.missing", "bigint").alias("missing_typed"),
        F.when(k.isNotNull(), F.schema_of_variant(F.try_variant_get(v, "$.k", "variant"))).alias(
            "k_type"
        ),
    )


@register(
    "explode_outer_semantics",
    oracle="""
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN []
              WHEN doc_id % 3 = 1 THEN NULL
              ELSE string_split(lang, '') END AS arr
  FROM documents
),
inner_x AS (
  SELECT s.doc_id, u.e FROM src s, unnest(s.arr) u(e)
),
outer_x AS (
  SELECT s.doc_id, u.e
  FROM src s LEFT JOIN LATERAL (SELECT unnest(s.arr) AS e) u ON true
)
SELECT 'inner' AS mode,
       COUNT(*) AS n_rows,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       COUNT(e) AS n_non_null
FROM inner_x
UNION ALL
SELECT 'outer' AS mode,
       COUNT(*) AS n_rows,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       COUNT(e) AS n_non_null
FROM outer_x
""",
)
def explode_outer_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode vs explode_outer on the three array shapes that differ:
    populated arrays (both emit elements), EMPTY arrays and NULL arrays
    (inner drops the row entirely; outer keeps it with a NULL element).
    The row-count delta between the two modes is exactly the
    empty-plus-null row population — the semantics that silently loses
    parent rows when a flattening pipeline picks the wrong one.

    Scale shape: both are map-side Generate operators (no shuffle); the
    oracle states the same two behaviors as unnest vs LEFT JOIN LATERAL
    unnest — the ANSI restatements of Spark's inner/outer explode.
    """
    d = load_table(spark, sf_dir, "documents")
    arr = (
        F.when(F.col("doc_id") % 3 == 0, F.array().cast("array<string>"))
        .when(F.col("doc_id") % 3 == 1, F.lit(None).cast("array<string>"))
        .otherwise(F.split(F.col("lang"), ""))
    )
    src = d.select("doc_id", arr.alias("arr"))
    inner = src.select("doc_id", F.explode("arr").alias("e"))
    outer = src.select("doc_id", F.explode_outer("arr").alias("e"))
    parts = []
    for mode, df in (("inner", inner), ("outer", outer)):
        parts.append(
            df.agg(
                F.lit(mode).alias("mode"),
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
                F.count("e").alias("n_non_null"),
            )
        )
    return parts[0].unionByName(parts[1])
