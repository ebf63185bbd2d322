"""Property-style invariants for these operators: the winnowing
guarantee, KM monotonicity, bootstrap CI ordering, and OLS shift
equivariance — claims the docstrings make, asserted on generated data."""

from __future__ import annotations

import datetime

import hbase_observer_elasticsearch_spark.operators.sampling as sa
import hbase_observer_elasticsearch_spark.operators.text as tx
import hbase_observer_elasticsearch_spark.operators.time_windows as tw
from hbase_observer_elasticsearch_spark.operators.sampling import (
    sample_poisson_bootstrap_ci,
)
from hbase_observer_elasticsearch_spark.operators.text import (
    WIN_K,
    WIN_W,
    text_winnowing_fingerprints,
)
from hbase_observer_elasticsearch_spark.operators.time_windows import (
    events_ols_trend_daily,
    events_survival_km,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def test_winnowing_guarantee_shared_substring(spark, monkeypatch):
    """Schleimer et al.'s theorem: any shared substring of length
    >= k + w - 1 guarantees at least one shared fingerprint — even when
    the surrounding text is completely different."""
    shared = "XYZQWERTYUIOPAB"  # length 15 >= WIN_K + WIN_W - 1 == 11
    assert len(shared) >= WIN_K + WIN_W - 1
    d1 = "aaaaaaaaaaaaaaaaaaaa" + shared + "bbbbbbbbbbbbbbbbbbbb"
    d2 = "cccccccccccccccccccc" + shared + "dddddddddddddddddddd"
    docs = spark.createDataFrame(
        [(1, d1, "en", "s", len(d1)), (2, d2, "en", "s", len(d2))],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(tx, "load_table", lambda s, sf, n: docs)
    # WIN_MIN_SHARED may exceed the guaranteed single fingerprint;
    # drop the floor to observe the raw guarantee
    monkeypatch.setattr(tx, "WIN_MIN_SHARED", 1)
    rows = text_winnowing_fingerprints(spark, "r9prop-win").collect()
    pairs = {(r.doc1, r.doc2): r.shared_fp for r in rows}
    assert pairs.get((1, 2), 0) >= 1


def test_km_survival_monotone_nonincreasing(spark, monkeypatch):
    base = datetime.datetime(2024, 1, 1)
    h = datetime.timedelta(hours=1)
    rows = []
    eid = 0
    # 20 subjects converting at hours 1..5, 10 censored at varying times
    for u in range(20):
        rows.append((eid := eid + 1, base, u, "click", 1.0, "{}"))
        rows.append(
            (eid := eid + 1, base + (1 + u % 5) * h, u, "purchase", 1.0, "{}")
        )
    for u in range(20, 30):
        rows.append((eid := eid + 1, base, u, "click", 1.0, "{}"))
        rows.append((eid := eid + 1, base + (u % 7 + 1) * h, u, "view", 1.0, "{}"))
    events = spark.createDataFrame(rows, EVENTS_SCHEMA)
    monkeypatch.setattr(tw, "load_table", lambda s, sf, n: events)
    out = sorted(
        events_survival_km(spark, "r9prop-km").collect(), key=lambda r: r.t_hours
    )
    assert len(out) >= 3
    surv = [r.km_surv for r in out]
    assert all(a >= b for a, b in zip(surv, surv[1:]))  # non-increasing
    assert all(0 <= s <= 1 for s in surv)
    # risk sets strictly shrink over event times
    risks = [r.n_risk for r in out]
    assert all(a > b for a, b in zip(risks, risks[1:]))


def test_bootstrap_ci_brackets_and_tightens(spark, monkeypatch):
    def orders_of(n, spread):
        return spark.createDataFrame(
            [
                (i, 1, "O", 50.0 + spread * ((i * 13) % 21 - 10),
                 datetime.datetime(2024, 1, 1), "1-URGENT")
                for i in range(n)
            ],
            ORDERS_SCHEMA,
        )

    widths = []
    for spread in (2.0, 0.5):
        monkeypatch.setattr(
            sa, "load_table", lambda s, sf, n, _o=orders_of(400, spread): _o
        )
        r = sample_poisson_bootstrap_ci(spark, f"r9prop-{spread}").collect()[0]
        assert r.ci_lo <= r.mean_price <= r.ci_hi
        widths.append(r.ci_hi - r.ci_lo)
    assert widths[1] < widths[0]  # lower variance -> tighter interval


def test_ols_shift_equivariance(spark, monkeypatch):
    def series(shift):
        return spark.createDataFrame(
            [
                (
                    i,
                    datetime.datetime(2024, 1, 1 + i),
                    1,
                    "click",
                    3.0 * i + 7.0 + shift + (1.0 if i % 2 else -1.0),
                    "{}",
                )
                for i in range(12)
            ],
            EVENTS_SCHEMA,
        )

    got = []
    for shift in (0.0, 100.0):
        monkeypatch.setattr(
            tw, "load_table", lambda s, sf, n, _e=series(shift): _e
        )
        r = events_ols_trend_daily(spark, f"r9prop-ols-{shift}").collect()[0]
        got.append(r)
    # slope and R^2 are shift-invariant; intercept moves by the shift
    assert abs(got[0].slope - got[1].slope) < 1e-9
    assert abs(got[0].r2 - got[1].r2) < 1e-9
    assert abs((got[1].intercept - got[0].intercept) - 100.0) < 1e-9
