"""Operator invariants: add-one bigram LM math on a planted
corpus, winnowing's shared-substring guarantee, and STL decomposition
recovering a planted weekly pattern exactly."""

from __future__ import annotations

import datetime
import math

import hbase_observer_elasticsearch_spark.operators.text as tx
import hbase_observer_elasticsearch_spark.operators.time_windows as tw
from hbase_observer_elasticsearch_spark.operators.text import (
    corpus_bigram_lm_perplexity,
    text_winnowing_fingerprints,
)
from hbase_observer_elasticsearch_spark.operators.time_windows import (
    events_stl_decompose,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _doc(i, text):
    return (i, text, "en", "web", len(text))


def test_bigram_lm_add_one_math(spark, monkeypatch):
    # md5('lmsplit:1')[0] < '8' -> doc 1 trains; doc 0 is held out.
    # Train "a b a b": c(a,b)=2, c(b,a)=1, c1(a)=2, c1(b)=1, V=2+1=3.
    # Heldout "a b": p(b|a) = (2+1)/(2+3) = 0.6 -> avg_nll = -ln(0.6).
    docs = spark.createDataFrame(
        [_doc(1, "a b a b"), _doc(0, "a b")], DOC_SCHEMA
    )
    monkeypatch.setattr(tx, "load_table", lambda s, sf, n: docs)
    out = corpus_bigram_lm_perplexity(spark, "r9c").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_id, r.n_bigrams, r.ppl_quartile) == (0, 1, 1)
    assert abs(r.avg_nll - (-math.log(0.6))) < 1e-5
    assert abs(r.ppl - 1 / 0.6) < 1e-4


def test_winnowing_identical_docs_full_containment(spark, monkeypatch):
    t = "the quick brown fox jumps over the lazy dog again"
    docs = spark.createDataFrame(
        [_doc(1, t), _doc(2, t), _doc(3, "zzzzqqqqxxxxwwwwvvvvkkkkjjjj")],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(tx, "load_table", lambda s, sf, n: docs)
    rows = {
        (r.doc1, r.doc2): r
        for r in text_winnowing_fingerprints(spark, "r9c").collect()
    }
    assert set(rows) == {(1, 2)}
    r = rows[(1, 2)]
    assert r.n_fp1 == r.n_fp2 == r.shared_fp
    assert r.containment == 1.0


def test_stl_recovers_planted_weekly_pattern(spark, monkeypatch):
    # daily value 100, +70 extra on epoch-dow 0 -> trend 110 flat,
    # seasonal exactly (60, -10, ...), resid 0, no anomalies
    base = datetime.datetime(2024, 1, 1)
    rows_in = []
    for i in range(21):
        day = base + datetime.timedelta(days=i)
        di = (day - datetime.datetime(1970, 1, 1)).days
        v = 170.0 if di % 7 == 0 else 100.0
        rows_in.append((i, day, 1, "click", v, "{}"))
    events = spark.createDataFrame(rows_in, EVENTS_SCHEMA)
    monkeypatch.setattr(tw, "load_table", lambda s, sf, n: events)
    out = events_stl_decompose(spark, "r9c").collect()
    assert len(out) == 15  # interior days only
    for r in out:
        assert r.trend == 110.0
        di = (r.day - datetime.datetime(1970, 1, 1)).days
        want_seasonal = 60.0 if di % 7 == 0 else -10.0
        assert abs(r.seasonal - want_seasonal) < 1e-9
        assert abs(r.resid) < 1e-9
        assert not r.is_anomaly
