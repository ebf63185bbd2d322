"""Operator invariants: CUBE lattice arithmetic, the
first-occurrence running-distinct trick, closed-form OLS on a planted
line, Poisson-bootstrap degeneracy on constant data, and the KM
product-limit on a planted censoring pattern."""

from __future__ import annotations

import datetime
import math

import hbase_observer_elasticsearch_spark.operators.relational as rel
import hbase_observer_elasticsearch_spark.operators.sampling as sa
import hbase_observer_elasticsearch_spark.operators.time_windows as tw
from hbase_observer_elasticsearch_spark.operators.relational import (
    agg_grouping_sets_cube,
)
from hbase_observer_elasticsearch_spark.operators.sampling import (
    sample_poisson_bootstrap_ci,
)
from hbase_observer_elasticsearch_spark.operators.time_windows import (
    events_new_vs_returning,
    events_ols_trend_daily,
    events_survival_km,
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
LI_SCHEMA = (
    "l_returnflag string, l_linestatus string, l_quantity double, "
    "l_extendedprice double"
)
ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def _ev(eid, ts, uid=1, etype="click", value=10.0):
    return (eid, ts, uid, etype, value, "{}")


def test_cube_lattice_levels(spark, monkeypatch):
    li = spark.createDataFrame(
        [
            ("A", "F", 1.0, 10.0),
            ("A", "O", 2.0, 20.0),
            ("R", "F", 3.0, 30.0),
        ],
        LI_SCHEMA,
    )
    monkeypatch.setattr(rel, "load_table", lambda s, sf, n: li)
    rows = {
        (r.returnflag, r.linestatus): r
        for r in agg_grouping_sets_cube(spark, "r9b").collect()
    }
    # 3 detail + 2 per-flag + 2 per-status + 1 grand total
    assert len(rows) == 8
    g = rows[("<all>", "<all>")]
    assert (g.gid, g.n_rows, g.sum_qty) == (3, 3, 6.0)
    a = rows[("A", "<all>")]
    assert (a.gid, a.n_rows, a.sum_qty, a.sum_base_price) == (1, 2, 3.0, 30.0)
    f = rows[("<all>", "F")]
    assert (f.gid, f.n_rows, f.sum_qty) == (2, 2, 4.0)
    d = rows[("A", "F")]
    assert (d.gid, d.n_rows) == (0, 1)


def test_new_vs_returning_first_occurrence(spark, monkeypatch):
    d1 = datetime.datetime(2024, 1, 1)
    d2 = datetime.datetime(2024, 1, 2)
    events = spark.createDataFrame(
        [
            _ev(1, d1, uid=1),
            _ev(2, d2, uid=1),
            _ev(3, d2, uid=2),
        ],
        EVENTS_SCHEMA,
    )
    monkeypatch.setattr(tw, "load_table", lambda s, sf, n: events)
    rows = {
        r.day: r for r in events_new_vs_returning(spark, "r9b").collect()
    }
    assert rows[d1].new_users == 1
    assert rows[d1].returning_users == 0
    assert rows[d1].cum_distinct_users == 1
    assert rows[d2].actives == 2
    assert rows[d2].new_users == 1
    assert rows[d2].returning_users == 1
    assert rows[d2].cum_distinct_users == 2


def test_ols_recovers_planted_line(spark, monkeypatch):
    # one event per day, daily total = 2*x + 3 -> exact closed form
    rows_in = [
        _ev(i, datetime.datetime(2024, 1, 1 + i), value=2.0 * i + 3.0)
        for i in range(10)
    ]
    events = spark.createDataFrame(rows_in, EVENTS_SCHEMA)
    monkeypatch.setattr(tw, "load_table", lambda s, sf, n: events)
    out = events_ols_trend_daily(spark, "r9b").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n == 10
    assert r.slope == 2.0
    assert r.intercept == 3.0
    assert r.r2 == 1.0


def test_poisson_bootstrap_constant_data(spark, monkeypatch):
    # constant price -> every replica mean equals the point estimate
    orders = spark.createDataFrame(
        [
            (i, 1, "O", 50.0, datetime.datetime(2024, 1, 1), "1-URGENT")
            for i in range(200)
        ],
        ORDERS_SCHEMA,
    )
    monkeypatch.setattr(sa, "load_table", lambda s, sf, n: orders)
    out = sample_poisson_bootstrap_ci(spark, "r9b").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_orders, r.mean_price) == (200, 50.0)
    assert r.ci_lo == 50.0 and r.ci_hi == 50.0


def test_km_product_limit_planted(spark, monkeypatch):
    base = datetime.datetime(2024, 1, 1)
    h = datetime.timedelta(hours=1)
    events = spark.createDataFrame(
        [
            # subject (u1, day): converts at t=1h
            _ev(1, base, uid=1, etype="click"),
            _ev(2, base + h, uid=1, etype="purchase"),
            # subject (u2, day): censored at t=2h (no purchase)
            _ev(3, base, uid=2, etype="click"),
            _ev(4, base + 2 * h, uid=2, etype="click"),
        ],
        EVENTS_SCHEMA,
    )
    monkeypatch.setattr(tw, "load_table", lambda s, sf, n: events)
    out = events_survival_km(spark, "r9b").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.t_hours, r.n_risk, r.d_converted, r.c_censored) == (1, 2, 1, 0)
    assert abs(r.km_surv - 0.5) < 1e-5
    assert abs(r.log_surv - math.log(0.5)) < 1e-5
