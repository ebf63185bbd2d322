"""Operator invariants: chi-square zero on an independent
table, perfect seasonal skill on a planted weekly series, and IPW
collapsing to the raw difference under constant propensity."""

from __future__ import annotations

import datetime

import hbase_observer_elasticsearch_spark.operators.profiling as pf
import hbase_observer_elasticsearch_spark.operators.quality as ql
import hbase_observer_elasticsearch_spark.operators.time_windows as tw
from hbase_observer_elasticsearch_spark.operators.profiling import (
    profile_chi2_independence,
)
from hbase_observer_elasticsearch_spark.operators.quality import (
    quality_ipw_adjusted_diff,
)
from hbase_observer_elasticsearch_spark.operators.time_windows import (
    events_forecast_backtest,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_chi2_zero_on_independent_table(spark, monkeypatch):
    rows = []
    i = 0
    for lang, source, n in [
        ("en", "a", 10), ("en", "b", 20), ("de", "a", 10), ("de", "b", 20),
    ]:
        for _ in range(n):
            rows.append((i, "x", lang, source, 1))
            i += 1
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    monkeypatch.setattr(pf, "load_table", lambda s, sf, n: docs)
    out = profile_chi2_independence(spark, "r9h").collect()
    assert len(out) == 4
    for r in out:
        assert r.contrib == 0.0
        assert r.chi2 == 0.0
        assert r.dof == 1
    cells = {(r.lang, r.source): r for r in out}
    assert cells[("en", "a")].expected == 10.0


def test_forecast_perfect_weekly_skill(spark, monkeypatch):
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(35):
        day = base + datetime.timedelta(days=i)
        di = (day - datetime.datetime(1970, 1, 1)).days
        v = 100.0 + 10.0 * (di % 7)  # exact weekly pattern
        rows.append((i, day, 1, "click", v, "{}"))
    events = spark.createDataFrame(rows, EVENTS_SCHEMA)
    monkeypatch.setattr(tw, "load_table", lambda s, sf, n: events)
    out = events_forecast_backtest(spark, "r9h").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_test == 7
    assert r.mae_seasonal == 0.0
    assert r.mae_naive > 0
    assert r.skill == 1.0


def test_ipw_equals_raw_under_constant_propensity(spark, monkeypatch):
    scores = spark.createDataFrame(
        [
            (1, "web", "en", 3, 1.0),
            (2, "web", "en", 3, 1.0),
            (3, "web", "de", 3, 1.0),
            (4, "web", "de", 3, 1.0),
        ],
        "doc_id long, source string, lang string, n_tok long, score double",
    )
    docs = spark.createDataFrame(
        [(1, "x", "en", "web", 100), (2, "x", "en", "web", 200),
         (3, "x", "de", "web", 50), (4, "x", "de", "web", 150)],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(ql, "_hash_doc_scores", lambda sp, sf: scores)
    monkeypatch.setattr(ql, "load_table", lambda s, sf, n: docs)
    out = quality_ipw_adjusted_diff(spark, "r9h").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n, r.n_treated) == (4, 2)
    assert r.raw_diff == 50.0  # 150 - 100
    assert abs(r.ipw_diff - r.raw_diff) < 1e-6
