"""`functions/ranking.py`: `ranked_topk` is only called with total orders,
`ranked_topk_per` matches the inline window form, and `range_prefix_sum`
matches the single-partition window across range-partition boundaries."""

from __future__ import annotations

import importlib
import pkgutil

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import hbase_observer_elasticsearch_spark as pkg
from hbase_observer_elasticsearch_spark.catalog import TABLES
from hbase_observer_elasticsearch_spark.functions import ranking
from hbase_observer_elasticsearch_spark.functions.ranking import (
    range_partitioned,
    range_prefix_sum,
    ranked_topk_per,
)
from hbase_observer_elasticsearch_spark.registry import oracle_sql, queries
from tools.check import canon


def test_search_pinned_query_matches_oracle(spark, sf_dir):
    """A single unique column is a total order: `search_pinned_query`
    ranks by its unique `ord` alone and must match its DuckDB oracle."""
    got = queries()["search_pinned_query"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = con.sql(oracle_sql()["search_pinned_query"]).df()
    assert len(got) > 0
    assert sorted(got.columns) == sorted(want.columns)
    assert canon(got) == canon(want)


class TiedOrderError(Exception):
    """`ranked_topk` was called with an order that is not total."""


def test_every_ranked_topk_order_is_total(spark, sf_dir, monkeypatch):
    """`ranked_topk` keeps the same rows as the window form only when
    ``order_cols`` is a total order over its input. Patch it in every
    package module that imports it, with a wrapper that checks each
    call's input for ties (rank differs from row_number exactly on tied
    rows) before delegating, and run every registered query defined in
    those modules."""
    real = ranking.ranked_topk
    calls: list[str] = []

    def checked(df, order_cols, k, *args, **kwargs):
        w = Window.orderBy(*order_cols)
        tied = df.select(
            (F.rank().over(w) != F.row_number().over(w)).alias("tied")
        ).filter("tied")
        if tied.limit(1).count():
            raise TiedOrderError(f"order {order_cols!r} has ties")
        calls.append(repr(order_cols))
        return real(df, order_cols, k, *args, **kwargs)

    modules = []
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(info.name)
        if mod is not ranking and getattr(mod, "ranked_topk", None) is real:
            monkeypatch.setattr(mod, "ranked_topk", checked)
            modules.append(info.name)
    run = {q: fn for q, fn in queries().items() if fn.__module__ in modules}
    for q, fn in run.items():
        try:
            fn(spark, sf_dir).collect()
        except TiedOrderError as exc:
            raise AssertionError(f"{q}: {exc}") from exc
    assert len(modules) >= 8, modules
    assert len(run) > 250 and len(calls) >= 45, (len(run), len(calls))


def test_ranked_topk_per_keeps_latest_per_key(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "k long, ts long, v string"
    )
    got = ranked_topk_per(df, ["k"], [F.col("ts").desc()], 1, rk_col=None)
    assert sorted(got.collect()) == [(1, 20, "b"), (2, 5, "c")]


@pytest.mark.parametrize(
    "rk_col, rk_cast", [("rk", None), ("rk", "bigint"), (None, None)]
)
def test_ranked_topk_per_matches_inline_form(spark, rk_col, rk_cast):
    df = spark.createDataFrame(
        [(g, i, (i * 7) % 5) for g in range(3) for i in range(12)],
        "g int, id int, score int",
    )
    order = [F.col("score").desc(), "id"]
    rk = F.row_number().over(Window.partitionBy("g").orderBy(*order))
    inline = df.withColumn("rk", rk.cast(rk_cast) if rk_cast else rk).filter(
        F.col("rk") <= 4
    )
    if rk_col is None:
        inline = inline.drop("rk")
    got = ranked_topk_per(df, ["g"], order, 4, rk_col=rk_col, rk_cast=rk_cast)
    assert got.schema == inline.schema
    assert sorted(got.collect()) == sorted(inline.collect())
    assert got.count() == 12


@pytest.fixture(scope="module")
def straddling(spark):
    """Three groups of 200 rows (o unique per group) split across range
    partitions."""
    df = spark.createDataFrame(
        [(g, (i * 37) % 200, i % 7 + 1) for g in range(3) for i in range(200)],
        "g int, o int, w long",
    )
    pids = range_partitioned(df, "g", "o").groupBy("g").agg(F.countDistinct("pid"))
    assert max(r[1] for r in pids.collect()) > 1
    return df


@pytest.mark.parametrize("by", [(), ("g",)], ids=["global", "per_group"])
@pytest.mark.parametrize("weight", [None, "w"], ids=["rank", "sum"])
def test_range_prefix_sum_matches_single_partition_window(
    straddling, by, weight
):
    order = ["o"] if by else ["g", "o"]
    w = Window.partitionBy(*by).orderBy(*order)
    if weight is None:
        want = F.row_number().over(w)
    else:
        want = F.sum(weight).over(w.rowsBetween(Window.unboundedPreceding, 0))
    ref = straddling.coalesce(1).select("g", "o", want.alias("cum"))
    got = range_prefix_sum(straddling, order, by=by, weight=weight)
    assert got.columns == ["g", "o", "w", "cum"]
    assert sorted(got.drop("w").collect()) == sorted(ref.collect())
