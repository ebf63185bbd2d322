"""Ranking: every top-k, latest-per-key and exact distributed prefix sum.

The plan choice for each lives here and nowhere else:

- :func:`ranked_topk` — global top-k: a partial top-k per partition
  merged into k rows, then the rank window over those k rows.
- :func:`ranked_topk_per` — top-k within each group: one hash shuffle on
  the group key. With ``k=1`` it is last-writer-wins, the reference's
  "latest mutation per key" upsert rule.
- :func:`range_prefix_sum` — an exact running sum (or global row rank)
  without a single-partition window: range partitions, a partition-local
  window, plus tiny broadcast per-partition offsets.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ranked_topk(
    df: DataFrame,
    order_cols: Sequence,
    k: int,
    rk_col: str = "rk",
    rk_cast: str | None = None,
) -> DataFrame:
    """Global top-k with a rank column ``rk_col`` (cast to ``rk_cast``
    when given; ``row_number``'s int otherwise).

    ``orderBy(...).limit(k)`` plans as TakeOrderedAndProject (a partial
    top-k per partition, then a k-row merge) and the rank window runs
    over the k survivors, never sorting every row in one partition.
    (Spark's InferWindowGroupLimit gives ``row_number()`` over a global
    order plus ``rk <= k`` the same plan; this form does not rely on it.)
    The two keep the same rows only when ``order_cols`` is a total
    order, so every caller ends its order with a unique column."""
    rk = F.row_number().over(Window.orderBy(*order_cols))
    if rk_cast is not None:
        rk = rk.cast(rk_cast)
    return df.orderBy(*order_cols).limit(k).withColumn(rk_col, rk)


def ranked_topk_per(
    df: DataFrame,
    by: Sequence,
    order_cols: Sequence,
    k: int,
    rk_col: str | None = "rk",
    rk_cast: str | None = None,
) -> DataFrame:
    """The first ``k`` rows of each ``by`` group in ``order_cols`` order:
    ``row_number()`` over ``partitionBy(*by).orderBy(*order_cols)`` kept
    at rank <= k (planned as a WindowGroupLimit ahead of the shuffle).
    The rank is appended as ``rk_col``, cast to ``rk_cast`` when given;
    ``rk_col=None`` drops it."""
    name = rk_col or "__rk"
    w = Window.partitionBy(*by).orderBy(*order_cols)
    out = df.withColumn(name, F.row_number().over(w)).filter(F.col(name) <= k)
    if rk_col is None:
        return out.drop(name)
    if rk_cast is not None:
        out = out.withColumn(name, F.col(name).cast(rk_cast))
    return out


def range_partitioned(df: DataFrame, *cols) -> DataFrame:
    """``df`` range-partitioned by ``cols`` into ``defaultParallelism``
    partitions, with the partition id as column ``pid``. Pinned by
    ``localCheckpoint``: the bounds come from a sample, so a recomputed
    branch could partition differently. Equal ``cols`` share a pid."""
    n_part = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartitionByRange(n_part, *cols)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )


def range_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    by: Sequence[str] = (),
    weight: str | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """``df`` plus ``cum``: the running sum of ``weight`` in
    ``order_cols`` order within each ``by`` group, the current row
    included; with ``weight=None``, the row's 1-based rank. ``total_col``
    also attaches the group's total. ``order_cols`` must be a total
    order within ``by``.

    No group goes through one reducer: range-partition by
    ``(*by, *order_cols)``, run the window within each partition, and add
    the sum over the group's earlier partitions (a broadcast table of
    ``defaultParallelism`` rows per group)."""
    by = list(by)
    rp = range_partitioned(df, *by, *order_cols)
    part = F.count(F.lit(1)) if weight is None else F.sum(weight)
    before = (
        Window.partitionBy(*by)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_cols = [F.coalesce(F.sum("pt").over(before), F.lit(0)).alias("off")]
    if total_col is not None:
        off_cols.append(F.sum("pt").over(Window.partitionBy(*by)).alias(total_col))
    off = rp.groupBy(*by, "pid").agg(part.alias("pt")).select(*by, "pid", *off_cols)
    local = Window.partitionBy(*by, "pid").orderBy(*order_cols)
    run = (
        F.row_number().over(local)
        if weight is None
        else F.sum(weight).over(local.rowsBetween(Window.unboundedPreceding, 0))
    )
    total = [total_col] if total_col is not None else []
    return rp.join(F.broadcast(off), [*by, "pid"]).select(
        *df.columns, (run + F.col("off")).alias("cum"), *total
    )
