"""The Python UDF surface (SURVEY §2.3 "UDF surface").

One oracle-checked query per UDF flavor, each used where that flavor is the
*right* tool — and documented where it is not:

- ``pandas_udf`` (Arrow-vectorized scalar): the default for custom logic
  Spark built-ins can't express. Batch-columnar transfer, NumPy/str
  vectorized kernels, ~10-100× over row-at-a-time.
- ``applyInPandas`` (grouped map): whole-group custom aggregation — the
  escape hatch for "Aggregator"-style logic. One shuffle on the group key,
  group must fit in executor memory (bounded groups only at 100 TB).
- row-at-a-time ``F.udf``: the SLOW path — per-row Python round-trip,
  breaks whole-stage codegen. Demonstrated on a 25-row dimension table
  only; anything in a 100 TB hot path uses built-ins or pandas_udf.
- Python UDTF (Spark ≥ 3.5): table function via LATERAL join — one input
  row fans out to many output rows with per-row Python state.

Determinism discipline (registry rules): every UDF here does integer or
string arithmetic only, so DuckDB oracles reproduce values exactly.

Reference analog: none — the reference (a fixed-function Java coprocessor,
observer6/HbaseDataSyncEsObserver.java:83-135) has no user-function
extension point at all; this surface is pure [NORTH-STAR] engine scope.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..catalog import load_table
from ..registry import register


# --------------------------------------------------------------------------
# 1. Vectorized scalar pandas_udf (Arrow batches, the preferred custom path)
# --------------------------------------------------------------------------

@pandas_udf(LongType())
def _quality_millis(text: pd.Series) -> pd.Series:
    """Lexical-diversity score ×1000: unique_tokens * 1000 // tokens.

    Integer-only so the DuckDB oracle matches bit-for-bit. Vectorized via
    pandas str ops — one Arrow batch per ~10k rows, no per-row Python.
    """
    toks = text.str.split(" ")
    n = toks.str.len()
    uniq = toks.map(lambda ws: len(set(ws)))
    return (uniq * 1000 // n).astype("int64")


@register(
    "udf_pandas_scalar",
    oracle="""
SELECT doc_id,
       CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(length(list_distinct(string_split(text, ' '))) * 1000
            // length(string_split(text, ' ')) AS BIGINT) AS quality_millis
FROM documents
""",
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas_udf: per-document lexical diversity.

    The custom-kernel path for 100 TB text pipelines: Arrow batch transfer,
    pandas str kernels, fully partition-parallel, no shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        _quality_millis(F.col("text")).alias("quality_millis"),
    )


# --------------------------------------------------------------------------
# 2. Grouped-map applyInPandas (whole-group custom aggregation)
# --------------------------------------------------------------------------

_GROUP_STATS_SCHEMA = StructType(
    [
        StructField("l_returnflag", StringType()),
        StructField("l_linestatus", StringType()),
        StructField("n_rows", LongType()),
        StructField("qty_cents", LongType()),
        StructField("max_price_cents", LongType()),
    ]
)


def _group_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    """Whole-group kernel: exact integer totals per (returnflag, linestatus).

    Integer cents make the sum order-independent (group row order is not
    deterministic across runs), so the result is oracle-exact.
    """
    qty = (pdf["l_quantity"] * 100).round().astype("int64")
    price = (pdf["l_extendedprice"] * 100).round().astype("int64")
    return pd.DataFrame(
        {
            "l_returnflag": [pdf["l_returnflag"].iloc[0]],
            "l_linestatus": [pdf["l_linestatus"].iloc[0]],
            "n_rows": [len(pdf)],
            "qty_cents": [int(qty.sum())],
            "max_price_cents": [int(price.max())],
        }
    )


@register(
    "udf_grouped_applyinpandas",
    oracle="""
SELECT l_returnflag,
       l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
       MAX(CAST(round(l_extendedprice * 100) AS BIGINT)) AS max_price_cents
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def udf_grouped_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: custom whole-group aggregation kernel.

    The "Aggregator" escape hatch — the full group arrives as one pandas
    DataFrame. Costs one shuffle on the key and requires the group to fit
    in executor memory: at 100 TB use only on bounded-cardinality groups
    (here: 6 flag×status groups), never on raw high-cardinality keys.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").applyInPandas(
        _group_stats, schema=_GROUP_STATS_SCHEMA
    )


# --------------------------------------------------------------------------
# 3. Row-at-a-time Python UDF (the slow path — small dims only)
# --------------------------------------------------------------------------

@F.udf(returnType=StringType())
def _mirror_name(s):
    return s[::-1] if s is not None else None


@register(
    "udf_scalar_python",
    oracle="""
SELECT n_nationkey, n_name, reverse(n_name) AS mirrored
FROM nation
""",
)
def udf_scalar_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — demonstrated, and deliberately confined
    to the 25-row nation dim. Each row pays a Python round-trip and breaks
    whole-stage codegen; on a 100 TB fact table this flavor is forbidden
    in favor of built-ins (F.reverse exists!) or pandas_udf."""
    n = load_table(spark, sf_dir, "nation")
    return n.select("n_nationkey", "n_name", _mirror_name("n_name").alias("mirrored"))


# --------------------------------------------------------------------------
# 4. Python UDTF (table function, Spark ≥ 3.5) via LATERAL join
# --------------------------------------------------------------------------

@udtf(returnType="pos: int, token: string")
class _Tokenize:
    """One input row → one output row per token, with position."""

    def eval(self, text: str):  # noqa: ANN001
        if text is None:
            return
        for i, tok in enumerate(text.split(" ")):
            yield i, tok


@register(
    "udf_python_udtf",
    oracle="""
SELECT doc_id,
       CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INTEGER) AS pos,
       unnest(string_split(text, ' ')) AS token
FROM documents
WHERE doc_id < 20
""",
)
def udf_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF fan-out: tokenize via LATERAL join (Spark ≥ 3.5).

    The table-function shape for per-row fan-out with Python state (real
    pipelines: sentence splitting, BPE encoding). Fan-out is map-side —
    no shuffle; downstream aggs see ordinary rows.
    """
    spark.udtf.register("hoes_tokenize", _Tokenize)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("hoes_docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM hoes_docs_udtf d, LATERAL hoes_tokenize(d.text) t
        WHERE d.doc_id < 20
        """
    )


# --------------------------------------------------------------------------
# 5. GROUPED_AGG pandas_udf: a custom aggregate expression (usable inside
#    groupBy(...).agg(...) alongside built-ins, unlike applyInPandas which
#    replaces the whole aggregation)


@pandas_udf(LongType())
def _char_weighted_tokens(text: pd.Series) -> int:  # GROUPED_AGG
    # integer-only kernel: Σ n_tokens·min(n_tokens, 10) per group — a
    # nonlinear aggregate no single built-in expresses
    n = text.str.split(" ").str.len()
    return int((n * n.clip(upper=10)).sum())


@pandas_udf(LongType())
def _pandas_count(text: pd.Series) -> int:  # GROUPED_AGG
    # Spark refuses to mix GROUPED_AGG pandas UDFs with JVM aggregates
    # in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so even the row count
    # must be a pandas aggregate here — a real API constraint worth
    # demonstrating: going pandas for one aggregate drags EVERY sibling
    # aggregate out of the JVM.
    return int(len(text))


@register(
    "udf_pandas_grouped_agg",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))
                * LEAST(len(string_split(text, ' ')), 10)) AS BIGINT)
         AS weighted_tokens
FROM documents
GROUP BY lang
""",
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas_udf — the fourth UDF execution mode: a custom
    Arrow-vectorized AGGREGATE that composes with built-in aggregates in
    one ``agg(...)`` call (applyInPandas replaces the whole group
    computation; this slots a custom reducer INTO normal aggregation).

    Scale caveat (why built-ins still win): GROUPED_AGG has no partial
    aggregation — all rows of a group cross the shuffle before Python
    sees them, where the equivalent built-in expression (the oracle's
    SUM/LEAST form) combines map-side. Right tool only when the kernel
    genuinely needs NumPy/pandas; the plan shape (one shuffle on the
    group key) is otherwise identical. Integer-only kernel ⇒ exact
    oracle equality.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        _pandas_count(F.col("text")).alias("n_docs"),
        _char_weighted_tokens(F.col("text")).alias("weighted_tokens"),
    )


# --------------------------------------------------------------------------
# 6. mapInArrow: zero-copy pyarrow RecordBatch transform — the lowest-
#    overhead Python escape hatch (no pandas conversion at all)


@register(
    "udf_map_in_arrow",
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS text_bytes,
       CAST(strlen(text) % 97 AS BIGINT) AS shard
FROM documents
""",
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the fifth UDF execution mode: the Python function
    receives raw pyarrow RecordBatches (no pandas materialization), the
    right shape for byte-level work on big batches — here UTF-8 byte
    lengths and a mod-97 shard id via pyarrow compute kernels only.

    Scale shape: map-side, streaming batch-at-a-time (peak memory is one
    Arrow batch), no shuffle; vs pandas_udf this skips the
    Arrow→pandas→Arrow conversion entirely — the same reason the
    multimodal blob operators (operators/multimodal.py) stay in
    mapInPandas/Arrow: payload bytes never become Python objects.
    Integer-only kernel ⇒ exact oracle equality.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def batches(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in it:
            tbl = pa.Table.from_batches([batch])
            nbytes = pc.cast(
                pc.binary_length(pc.cast(tbl["text"], pa.binary())),
                pa.int64(),
            )
            out = pa.table(
                {
                    "doc_id": tbl["doc_id"],
                    "text_bytes": nbytes,
                    "shard": pc.cast(
                        pc.subtract(
                            nbytes,
                            pc.multiply(
                                pc.cast(
                                    pc.floor(
                                        pc.divide(
                                            pc.cast(nbytes, pa.float64()),
                                            97.0,
                                        )
                                    ),
                                    pa.int64(),
                                ),
                                97,
                            ),
                        ),
                        pa.int64(),
                    ),
                }
            )
            yield from out.to_batches()

    return d.mapInArrow(
        batches, schema="doc_id long, text_bytes long, shard long"
    )


@register(
    "udf_arrow_scalar",
    oracle="""
SELECT n_nationkey,
       n_name,
       reverse(n_name) || ':' || CAST(length(n_name) AS VARCHAR) AS tagged
FROM nation
""",
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-OPTIMIZED scalar Python UDF (`F.udf(useArrow=True)`, Spark
    3.5+/4.x) — the execution mode BETWEEN the row-at-a-time pickle UDF
    (udf_scalar_python) and the batch-signature pandas_udf
    (udf_pandas_scalar): the function still receives one value per call
    (no pandas in user code), but values cross the JVM boundary in Arrow
    batches instead of pickled rows, which removes most of the serdes
    tax while keeping the simplest possible signature. Completes the
    scalar-UDF execution-mode matrix; like its row-at-a-time sibling it
    is confined to the 25-row nation dim — on a 100 TB fact the built-in
    expression (reverse/length/concat exist!) is still the answer.
    """
    @F.udf(returnType="string", useArrow=True)
    def tag(name: str) -> str:
        return f"{name[::-1]}:{len(name)}"

    n = load_table(spark, sf_dir, "nation")
    return n.select("n_nationkey", "n_name", tag("n_name").alias("tagged"))


# --------------------------------------------------------------------------
# 7. Cogrouped map (df.groupby().cogroup().applyInPandas) — r8e
# --------------------------------------------------------------------------

def _spend_vs_balance(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Pair one customer's rows with that customer's orders and reconcile
    spend against account balance in pandas.

    Integer-cents arithmetic only (`floor(x*100)` → int64) so the DuckDB
    oracle reproduces every value exactly: double*100 and floor are both
    single IEEE ops, and the cent sums are order-independent BIGINTs.
    """
    if left.empty:  # orders whose customer is absent from the dim: drop
        return pd.DataFrame(
            columns=[
                "c_custkey", "c_mktsegment", "n_orders",
                "spend_cents", "bal_cents", "spend_gt_bal",
            ]
        )
    cust = left.iloc[0]
    # int64 BEFORE summing: a float64 sum is exact only under 2^53 cents,
    # while the oracle sums BIGINTs exactly
    spend = (
        int(
            np.floor(right["o_totalprice"].to_numpy() * 100)
            .astype("int64")
            .sum()
        )
        if len(right)
        else 0
    )
    bal = int(np.floor(cust["c_acctbal"] * 100))
    return pd.DataFrame(
        {
            "c_custkey": [int(cust["c_custkey"])],
            "c_mktsegment": [cust["c_mktsegment"]],
            "n_orders": [len(right)],
            "spend_cents": [spend],
            "bal_cents": [bal],
            "spend_gt_bal": [spend > bal],
        }
    )


@register(
    "udf_cogroup_pandas",
    oracle="""
SELECT c.c_custkey,
       c.c_mktsegment,
       COUNT(o.o_orderkey) AS n_orders,
       COALESCE(CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                     AS BIGINT), 0) AS spend_cents,
       CAST(floor(c.c_acctbal * 100) AS BIGINT) AS bal_cents,
       COALESCE(CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                     AS BIGINT), 0)
         > CAST(floor(c.c_acctbal * 100) AS BIGINT) AS spend_gt_bal
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_mktsegment, c.c_acctbal
""",
)
def udf_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped map — the last Pandas-UDF execution mode in the matrix:
    ``customer.groupby(key).cogroup(orders.groupby(key)).applyInPandas``
    hands each custkey's customer row AND its order rows to one Python
    function as two aligned pandas frames. This is the escape hatch for
    per-key logic that needs BOTH sides whole (sessionized enrichment,
    per-entity reconciliation, trajectory merge) where a join would
    explode rows and a separate groupBy would lose pairing.

    Scale shape: one shuffle per side on the cogroup key (identical to a
    shuffle join), then purely partition-local pairing; each key's pair
    of groups must fit in executor memory — bounded groups only, same
    rule as applyInPandas. For THIS reconciliation a plain
    join+aggregate is the faster plan (the oracle is exactly that plan);
    the query exists to pin the cogroup surface with an oracle twin.
    """
    # Project to the UDF's working set BEFORE the cogroup: Catalyst cannot
    # prune columns through FlatMapCoGroupsInPandas (the UDF body is
    # opaque), so without this every customer/orders column rides the
    # shuffle AND the Arrow transfer into Python.
    # Pin the cogroup's parallelism with an explicit numbered repartition
    # on the key: the stage's cost is per-key Python function calls, not
    # bytes, so AQE's byte-based coalescing (which shrank the projected
    # shuffle to 2 partitions and serialized ~15k calls onto 2 cores) is
    # exactly wrong here. REPARTITION_BY_NUM is exempt from AQE coalesce,
    # and the cogroup reuses the partitioning (no second shuffle).
    n_part = spark.sparkContext.defaultParallelism
    c = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .repartition(n_part, "c_custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .repartition(n_part, "o_custkey")
    )
    return (
        c.groupby("c_custkey")
        .cogroup(o.groupby("o_custkey"))
        .applyInPandas(
            _spend_vs_balance,
            schema=(
                "c_custkey bigint, c_mktsegment string, n_orders bigint, "
                "spend_cents bigint, bal_cents bigint, spend_gt_bal boolean"
            ),
        )
    )
