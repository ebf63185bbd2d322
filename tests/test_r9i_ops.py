"""Operator invariants: cohort LTV triangle arithmetic and ABC
boundary classification on planted revenue shares."""

from __future__ import annotations

import datetime

import hbase_observer_elasticsearch_spark.operators.relational as rel
from hbase_observer_elasticsearch_spark.operators.relational import (
    orders_cohort_ltv,
    parts_abc_classification,
)

ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def test_cohort_ltv_triangle(spark, monkeypatch):
    jan = datetime.datetime(2024, 1, 10)
    mar = datetime.datetime(2024, 3, 5)
    orders = spark.createDataFrame(
        [
            (1, 1, "O", 100.0, jan, "1-URGENT"),
            (2, 1, "O", 50.0, mar, "1-URGENT"),
            (3, 2, "O", 200.0, jan, "1-URGENT"),
        ],
        ORDERS_SCHEMA,
    )
    monkeypatch.setattr(rel, "load_table", lambda s, sf, n: orders)
    rows = {r.age_m: r for r in orders_cohort_ltv(spark, "r9i").collect()}
    assert set(rows) == {0, 2}
    assert rows[0].n_cust == 2
    assert rows[0].revenue == 300.0
    assert rows[0].cum_ltv_per_cust == 150.0
    assert rows[2].revenue == 50.0
    assert rows[2].cum_ltv_per_cust == 175.0


def test_abc_boundaries(spark, monkeypatch):
    li = spark.createDataFrame(
        [(1, 1, 80.0), (2, 2, 15.0), (3, 3, 5.0)],
        "l_orderkey long, l_partkey long, l_extendedprice double",
    )
    monkeypatch.setattr(rel, "load_table", lambda s, sf, n: li)
    rows = {r.abc: r for r in parts_abc_classification(spark, "r9i").collect()}
    assert rows["A"].n_parts == 1 and rows["A"].revenue_share == 0.8
    assert rows["B"].n_parts == 1 and rows["B"].revenue_share == 0.15
    assert rows["C"].n_parts == 1 and rows["C"].revenue_share == 0.05
