"""Source/sink format surface: text-format round-trips and
partition-layout writes, proven as registered queries.

The reference reads exactly one source (HBase WAL edits via coprocessor
hooks) and writes exactly one sink (ES bulk JSON,
observer6/ElasticSearchBulkOperator.java:84) — a Spark engine's users
expect the full format matrix. These queries prove the CSV/JSON read
paths and the partitioned-parquet write+prune path end-to-end: each
writes a temp dataset derived deterministically from the fixtures, reads
it back through the format under test, and aggregates — the DuckDB
oracle computes the same aggregate straight from the fixture table, so a
green row certifies the round-trip lost nothing.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.deterministic import dsum, sql_dsum
from ..registry import register

_RT_AGG_SQL = """
SELECT '{fmt}' AS fmt,
       COUNT(*) AS n_rows,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       COUNT(DISTINCT lang) AS ndv_lang
FROM documents"""


@register(
    "source_csv_json_roundtrip",
    oracle="\nUNION ALL\n".join(
        _RT_AGG_SQL.format(fmt=f) for f in ("csv", "json")
    ),
)
def source_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV and JSON-lines source connectors, certified by round-trip:
    the documents table (minus free text — delimiter-safe columns) is
    written to each text format and read back with an EXPLICIT schema;
    identical aggregates to the parquet fixture prove no row, value, or
    type was lost in either format's writer→parser cycle.

    Scale shape: text sources split by line ranges exactly like parquet
    row groups, so the read-back scan parallelizes the same way; the
    explicit schema keeps schema inference (a full extra pass at 100 TB)
    out of the plan. Aggregation is one single-row multi-agg per format.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    schema = "doc_id bigint, lang string, source string, n_chars bigint"
    base = tempfile.mkdtemp(prefix="io_roundtrip_")
    try:
        csv_dir = f"{base}/csv"
        json_dir = f"{base}/json"
        d.write.mode("overwrite").option("header", True).csv(csv_dir)
        d.write.mode("overwrite").json(json_dir)

        parts = []
        for fmt, df in (
            (
                "csv",
                spark.read.schema(schema)
                .option("header", True)
                .csv(csv_dir),
            ),
            ("json", spark.read.schema(schema).json(json_dir)),
        ):
            parts.append(
                df.agg(
                    F.lit(fmt).alias("fmt"),
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
                    F.sum("n_chars").cast("bigint").alias("sum_chars"),
                    F.countDistinct("lang").alias("ndv_lang"),
                )
            )
        out = parts[0].unionByName(parts[1])
        # materialize before the temp dir disappears
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "sink_partitioned_prune",
    oracle=f"""
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
       COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice")} AS sum_price
FROM orders
WHERE EXTRACT(YEAR FROM o_orderdate) IN (1996, 1997)
GROUP BY 1
""",
)
def sink_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink + partition-pruned read-back:
    orders are written partitioned by order year, then read back with a
    partition predicate (1996, 1997) — the write layout every
    time-organized 100 TB table uses, where the predicate prunes whole
    directories BEFORE any file IO (tests/test_plans.py asserts the
    pruning reaches the scan as PartitionFilters; the green oracle row
    certifies the partition column round-trips losslessly through the
    directory encoding).

    Scale shape: the write shuffles once on the partition key (years ×
    files, no small-file explosion); the read-back touches 2 of 7 year
    directories. Sums go through exact decimals as everywhere.
    """
    o = load_table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="io_partitioned_")
    try:
        path = f"{base}/orders_by_year"
        (
            o.withColumn("o_year", F.year("o_orderdate"))
            # one file per partition dir: repartition on the partition
            # key BEFORE the write (the anti-small-files discipline)
            .repartition("o_year")
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(path)
        )
        back = (
            spark.read.parquet(path)
            .filter(F.col("o_year").isin(1996, 1997))
            .groupBy(F.col("o_year").cast("int").alias("o_year"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum("o_totalprice").alias("sum_price"),
            )
        )
        rows = back.collect()
        return spark.createDataFrame(rows, back.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "source_orc_roundtrip",
    oracle="""
SELECT 'orc' AS fmt,
       COUNT(*) AS n_rows,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
       COUNT(DISTINCT text) AS ndv_text,
       MIN(text) AS min_text,
       MAX(text) AS max_text
FROM documents
""",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink connector, certified by round-trip — the columnar
    sibling of the parquet path (Spark bundles native ORC readers with
    predicate pushdown and vectorization, so a lakehouse mixing ORC and
    parquet reads both through the same DataFrame API). Unlike the
    CSV/JSON round-trip (delimiter-safe columns only), ORC is binary-
    safe, so this one carries the FULL free-text column and certifies
    its fidelity via length-sum, distinct-count, and min/max aggregates.

    The Avro datasource is the one format gap: spark-avro is an external
    module not present in this environment (only avro-core jars ship),
    so its round-trip is env-gated out rather than stubbed as fake
    coverage.

    Scale shape: ORC splits by stripes exactly like parquet row groups;
    the read-back is a parallel columnar scan and the aggregate is one
    single-row multi-agg.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="io_orc_")
    try:
        path = f"{base}/docs_orc"
        d.write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        out = back.agg(
            F.lit("orc").alias("fmt"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
            F.countDistinct("text").alias("ndv_text"),
            F.min("text").alias("min_text"),
            F.max("text").alias("max_text"),
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "source_schema_evolution",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(source) AS BIGINT) AS n_with_source,
       COUNT(DISTINCT source) AS ndv_source,
       COUNT(DISTINCT lang) AS ndv_lang
FROM (
  SELECT doc_id, lang, n_chars,
         CASE WHEN doc_id % 2 = 1 THEN source END AS source
  FROM documents
) t
""",
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution, certified by round-trip: an "old" batch
    (doc_id, lang, n_chars — the even doc_ids) and a "new" batch that
    added a `source` column (the odd doc_ids) are written as separate
    parquet datasets, then read back through ONE mergeSchema scan. The
    merged relation must null-fill `source` for exactly the old rows —
    the oracle restates that contract as a CASE over the fixture, so a
    green row certifies both the union of schemas and the null-fill.

    This is the table-format reality at 100 TB: columns get added over a
    corpus's life, and historical partitions must stay readable without
    rewrite. mergeSchema reconciles footers at planning time; the scan
    itself stays a parallel pruned columnar read (the per-file footer
    merge is why production tables cache the merged schema in a
    catalog — flagged here rather than hidden).

    Scale shape: two one-pass writes, one merged scan, one single-row
    multi-agg. No shuffle besides the final aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="io_evolve_")
    try:
        old_dir = f"{base}/batch_v1"
        new_dir = f"{base}/batch_v2"
        (
            d.filter(F.col("doc_id") % 2 == 0)
            .select("doc_id", "lang", "n_chars")
            .write.mode("overwrite")
            .parquet(old_dir)
        )
        (
            d.filter(F.col("doc_id") % 2 == 1)
            .select("doc_id", "lang", "n_chars", "source")
            .write.mode("overwrite")
            .parquet(new_dir)
        )
        back = spark.read.option("mergeSchema", True).parquet(old_dir, new_dir)
        out = back.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.count("source").cast("bigint").alias("n_with_source"),
            F.countDistinct("source").alias("ndv_source"),
            F.countDistinct("lang").alias("ndv_lang"),
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "layout_dynamic_partition_pruning",
    oracle=f"""
WITH fact AS (
  SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
         CAST(round(l_quantity) AS BIGINT) AS q
  FROM lineitem
),
dim AS (
  SELECT DISTINCT strftime(date_trunc('month', o_orderdate), '%Y-%m')
           AS ship_month,
         CONCAT(CAST(year(o_orderdate) AS VARCHAR), 'Q',
                CAST(quarter(o_orderdate) AS VARCHAR)) AS quarter
  FROM orders
)
SELECT f.ship_month,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(f.q) AS DOUBLE) AS sum_qty
FROM fact f JOIN dim d ON d.ship_month = f.ship_month
WHERE d.quarter = '1996Q1'
GROUP BY f.ship_month
""",
)
def layout_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP), demonstrated for real: lineitem
    is written Hive-partitioned by ship month, then joined to a derived
    calendar dim on the PARTITION column with the filter on a
    dim-ONLY attribute (quarter = '1996Q1') — the star-schema shape
    where static pruning is impossible (the fact table never sees
    'quarter') and Spark instead builds the dim's month set at runtime
    and prunes fact DIRECTORIES before file IO. tests/test_r9g_ops.py
    asserts the `dynamicpruning` subquery reaches the fact scan; the
    green oracle row certifies the pruned plan still computes the exact
    join-aggregate.

    Scale shape: at 100 TB a month-partitioned fact with a quarter
    filter reads 3 of N directories instead of all — DPP is THE
    mechanism that makes dim-attribute slicing affordable on
    time-partitioned lakehouse tables, and it composes with the static
    PartitionFilters path certified by sink_partitioned_prune. The
    write shuffles once on the partition key (anti-small-files);
    the dim side broadcasts.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="io_dpp_")
    try:
        path = f"{base}/lineitem_by_month"
        (
            li.select(
                F.date_format(
                    F.date_trunc("month", "l_shipdate"), "yyyy-MM"
                ).alias("ship_month"),
                F.round(F.col("l_quantity")).cast("long").alias("q"),
            )
            .repartition("ship_month")
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(path)
        )
        dim = (
            o.select(
                F.date_format(
                    F.date_trunc("month", "o_orderdate"), "yyyy-MM"
                ).alias("ship_month"),
                F.concat(
                    F.year("o_orderdate").cast("string"),
                    F.lit("Q"),
                    F.quarter("o_orderdate").cast("string"),
                ).alias("quarter"),
            )
            .distinct()
        )
        fact = spark.read.parquet(path)
        out = (
            fact.join(
                F.broadcast(dim.filter(F.col("quarter") == "1996Q1")),
                "ship_month",
            )
            .groupBy("ship_month")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_items"),
                F.sum("q").cast("double").alias("sum_qty"),
            )
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)
