"""Smoke: every registered query runs at sf0.001 with a stable schema,
starts a stream exactly when it declares a ``stream=`` contract, never
writes the shuffle-partition count of the session it was handed, and every
oracle parses in DuckDB. (Exact value parity vs DuckDB is covered by
tools/check.py at sf0.01 — too slow for the unit suite.)"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql.conf import RuntimeConfig
from pyspark.sql.streaming.readwriter import DataStreamWriter

from hbase_observer_elasticsearch_spark.catalog import TABLES
from hbase_observer_elasticsearch_spark.registry import (
    oracle_sql,
    queries,
    stream_contracts,
)

QS = queries()
ORACLES = oracle_sql()
STREAMS = stream_contracts()


@pytest.mark.parametrize("name", sorted(QS))
def test_query_runs(spark, sf_dir, name, monkeypatch):
    starts = []
    for method in ("start", "toTable"):
        real = getattr(DataStreamWriter, method)

        def counted(self, *a, _real=real, **kw):
            starts.append(1)
            return _real(self, *a, **kw)

        monkeypatch.setattr(DataStreamWriter, method, counted)
    # a query sizes its shuffles on a session of its own (newSession());
    # the handed session's count is visible to every concurrent job on it
    handed = spark.conf._jconf
    parts_writes = []
    real_set = RuntimeConfig.set

    def guarded_set(self, key, value):
        if key == "spark.sql.shuffle.partitions" and self._jconf == handed:
            parts_writes.append(value)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", guarded_set)
    df = QS[name](spark, sf_dir)
    assert len(df.columns) > 0
    assert df.count() >= 0
    assert not parts_writes, (
        f"{name}: set spark.sql.shuffle.partitions to {parts_writes} "
        "on the session it was handed"
    )
    assert bool(starts) == (name in STREAMS), (
        f"{name}: started {len(starts)} streams but "
        f"{'declares' if name in STREAMS else 'does not declare'} stream="
    )


def test_every_oracle_parses_and_oracle_coverage(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name, sql in ORACLES.items():
        con.sql(sql)  # raises on parse/bind errors
    # every oracle key is a registered query
    assert set(ORACLES) <= set(QS)
    # every query has an oracle (r3: even the Lloyd trainer is unrolled)
    assert set(QS) == set(ORACLES)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"event_type", "n_users", "sum_value", "avg_value"}
