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
