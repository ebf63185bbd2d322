"""`ranked_topk` accepts any total order, including a single unique
column: `search_pinned_query` ranks by its unique `ord` alone and must
match its DuckDB oracle."""

from __future__ import annotations

import duckdb

from hbase_observer_elasticsearch_spark.catalog import TABLES
from hbase_observer_elasticsearch_spark.registry import oracle_sql, queries
from tools.check import canon


def test_search_pinned_query_matches_oracle(spark, sf_dir):
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
    ``order_cols`` is a total order over its input. Run every registered
    query whose module calls it with a wrapper that checks each call's
    input for ties (rank differs from row_number exactly on tied rows)
    before delegating."""
    import importlib

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hbase_observer_elasticsearch_spark.operators import text

    real = text.ranked_topk
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

    modules = [
        "hbase_observer_elasticsearch_spark.operators.text",
        "hbase_observer_elasticsearch_spark.operators.es_surface",
    ]
    for name in modules:
        monkeypatch.setattr(importlib.import_module(name), "ranked_topk", checked)
    run = {q: fn for q, fn in queries().items() if fn.__module__ in modules}
    for q, fn in run.items():
        try:
            fn(spark, sf_dir).collect()
        except TiedOrderError as exc:
            raise AssertionError(f"{q}: {exc}") from exc
    assert len(run) > 100 and len(calls) >= 30, (len(run), len(calls))
