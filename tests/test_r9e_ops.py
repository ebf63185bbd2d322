"""Operator invariants: Apriori triple support/lift arithmetic,
permutation-test degeneracy under the null, exact funnel-step
percentiles, and DiD recovering a planted uplift with a zero placebo."""

from __future__ import annotations

import datetime

import hbase_observer_elasticsearch_spark.operators.relational as rel
import hbase_observer_elasticsearch_spark.operators.sampling as sa
import hbase_observer_elasticsearch_spark.operators.time_windows as tw
from hbase_observer_elasticsearch_spark.operators.relational import (
    basket_apriori_triples,
)
from hbase_observer_elasticsearch_spark.operators.sampling import (
    PERM_B,
    sample_permutation_test,
)
from hbase_observer_elasticsearch_spark.operators.time_windows import (
    events_funnel_time_stats,
    events_uplift_did,
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _ev(eid, ts, uid=1, etype="click", value=10.0):
    return (eid, ts, uid, etype, value, "{}")


def test_apriori_triples_planted_basket(spark, monkeypatch):
    li = spark.createDataFrame(
        [(o, pk, 1.0) for o in range(1, 11) for pk in (1, 2, 3)],
        "l_orderkey long, l_partkey long, l_quantity double",
    )
    part = spark.createDataFrame(
        [(1, "BrandA"), (2, "BrandB"), (3, "BrandC")],
        "p_partkey long, p_brand string",
    )
    tables = {"lineitem": li, "part": part}
    monkeypatch.setattr(rel, "load_table", lambda s, sf, n: tables[n])
    out = basket_apriori_triples(spark, "r9e").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.a, r.b, r.c, r.nabc, r.rk) == (
        "BrandA", "BrandB", "BrandC", 10, 1,
    )
    assert r.lift == 1.0  # 10 * 10 * 10 / (10 * 10 * 10)


def test_permutation_test_null_is_degenerate(spark, monkeypatch):
    base = datetime.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [
            _ev(i, base, etype=("click" if i % 2 == 0 else "view"), value=5.0)
            for i in range(100)
        ],
        EVENTS_SCHEMA,
    )
    monkeypatch.setattr(sa, "load_table", lambda s, sf, n: events)
    out = sample_permutation_test(spark, "r9e").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_a, r.n_b, r.t_obs) == (50, 50, 0.0)
    assert r.n_extreme == PERM_B
    assert r.p_value == 1.0


def test_funnel_time_stats_planted_chain(spark, monkeypatch):
    base = datetime.datetime(2024, 1, 1)
    m = datetime.timedelta(minutes=1)
    events = spark.createDataFrame(
        [
            _ev(1, base, etype="view"),
            _ev(2, base + 10 * m, etype="click"),
            _ev(3, base + 40 * m, etype="purchase"),
        ],
        EVENTS_SCHEMA,
    )
    monkeypatch.setattr(tw, "load_table", lambda s, sf, n: events)
    rows = {
        r.step_pair: r for r in events_funnel_time_stats(spark, "r9e").collect()
    }
    vc = rows["view->click"]
    assert (vc.n_pairs, vc.p50_min, vc.p90_min, vc.avg_min) == (1, 10, 10, 10.0)
    cp = rows["click->purchase"]
    assert (cp.n_pairs, cp.p50_min, cp.p90_min, cp.avg_min) == (1, 30, 30, 30.0)


def test_did_recovers_planted_uplift(spark, monkeypatch):
    base = datetime.datetime(2024, 1, 1)

    def day(i):
        return base + datetime.timedelta(days=i)

    rows_in = []
    eid = 0
    for d, t_val, c_val in [(0, 10.0, 10.0), (10, 10.0, 10.0), (20, 22.0, 12.0)]:
        rows_in.append(_ev((eid := eid + 1), day(d), etype="click", value=t_val))
        rows_in.append(_ev((eid := eid + 1), day(d), etype="view", value=c_val))
    events = spark.createDataFrame(rows_in, EVENTS_SCHEMA)
    monkeypatch.setattr(tw, "load_table", lambda s, sf, n: events)
    rows = {r.analysis: r for r in events_uplift_did(spark, "r9e").collect()}
    a = rows["actual"]
    assert (a.t_pre, a.t_post, a.c_pre, a.c_post) == (10.0, 22.0, 10.0, 12.0)
    assert a.did == 10.0
    p = rows["placebo"]
    assert p.did == 0.0
