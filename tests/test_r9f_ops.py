"""Operator invariants: midrank AUC on planted separations and
U-shaped attribution credit conservation."""

from __future__ import annotations

import datetime

import hbase_observer_elasticsearch_spark.operators.quality as ql
import hbase_observer_elasticsearch_spark.operators.time_windows as tw
from hbase_observer_elasticsearch_spark.operators.quality import (
    quality_classifier_auc,
)
from hbase_observer_elasticsearch_spark.operators.time_windows import (
    events_attribution_position,
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _scores(spark, rows):
    return spark.createDataFrame(
        [(i, "web", lang, 3, s) for i, (s, lang) in enumerate(rows)],
        "doc_id long, source string, lang string, n_tok long, score double",
    )


def test_auc_perfect_separation(spark, monkeypatch):
    s = _scores(
        spark, [(2.0, "en"), (3.0, "en"), (0.0, "de"), (1.0, "de")]
    )
    monkeypatch.setattr(ql, "_hash_doc_scores", lambda sp, sf: s)
    out = quality_classifier_auc(spark, "r9f").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_pos, r.n_neg, r.auc, r.gini) == (2, 2, 1.0, 1.0)


def test_auc_all_tied_is_half(spark, monkeypatch):
    s = _scores(
        spark, [(1.0, "en"), (1.0, "en"), (1.0, "de"), (1.0, "de")]
    )
    monkeypatch.setattr(ql, "_hash_doc_scores", lambda sp, sf: s)
    r = quality_classifier_auc(spark, "r9f-tied").collect()[0]
    assert (r.auc, r.gini) == (0.5, 0.0)


def test_position_attribution_u_shape(spark, monkeypatch):
    base = datetime.datetime(2024, 1, 1)
    m = datetime.timedelta(minutes=1)
    events = spark.createDataFrame(
        [
            (1, base + 0 * m, 1, "view", 1.0, "{}"),
            (2, base + 1 * m, 1, "click", 1.0, "{}"),
            (3, base + 2 * m, 1, "view", 1.0, "{}"),
            (4, base + 3 * m, 1, "click", 1.0, "{}"),
            (5, base + 4 * m, 1, "purchase", 1.0, "{}"),
        ],
        EVENTS_SCHEMA,
    )
    monkeypatch.setattr(tw, "load_table", lambda s, sf, n: events)
    rows = {
        (r.event_type, r.position): r
        for r in events_attribution_position(spark, "r9f").collect()
    }
    assert rows[("view", "first")].credit == 0.4
    assert rows[("click", "last")].credit == 0.4
    assert rows[("view", "middle")].credit == 0.1
    assert rows[("click", "middle")].credit == 0.1
    # credit conserves: one conversion distributes exactly 1.0
    assert sum(r.credit for r in rows.values()) == 1.0
    assert sum(r.n_touches for r in rows.values()) == 4
