"""Operator invariants: decontamination apply accounting,
weak-tie link prediction wedge math, champion-list losslessness at full
width, and the exact KS statistic on planted distributions."""

from __future__ import annotations

import hbase_observer_elasticsearch_spark.operators.dedup as dd
import hbase_observer_elasticsearch_spark.operators.profiling as pf
import hbase_observer_elasticsearch_spark.operators.text as tx
from hbase_observer_elasticsearch_spark.operators.dedup import (
    RA_SCALE,
    corpus_decontam_apply,
    graph_link_prediction,
)
from hbase_observer_elasticsearch_spark.operators.profiling import (
    profile_ks_drift,
)
from hbase_observer_elasticsearch_spark.operators.text import (
    search_champion_lists,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_decontam_drops_planted_duplicate(spark, monkeypatch):
    # doc 17 is the eval split (17 % 17 == 0); doc 1 duplicates it fully
    # (dropped); doc 2 is unrelated (kept); doc 3 has < 3 tokens (no
    # shingles -> kept by construction)
    docs = spark.createDataFrame(
        [
            (17, "alpha beta gamma delta", "en", "s1", 22),
            (1, "alpha beta gamma delta", "en", "s1", 22),
            (2, "one two three four five", "en", "s1", 23),
            (3, "hi there", "en", "s1", 8),
        ],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(dd, "load_table", lambda s, sf, n: docs)
    rows = {r.source: r for r in corpus_decontam_apply(spark, "r8f-dc").collect()}
    r = rows["s1"]
    assert r.n_train_docs == 3 and r.n_dropped == 1 and r.n_kept == 2
    assert r.chars_dropped == 22 and r.chars_kept == 23 + 8
    assert abs(r.drop_rate - 1 / 3) < 1e-12


def test_link_prediction_open_wedge(spark, monkeypatch):
    # path a-b-c: predict (a, c) via common neighbor b; deg(b) = 2
    pairs = spark.createDataFrame(
        [(1, 2, 5, 0.9), (2, 3, 5, 0.9)],
        "doc_a long, doc_b long, n_shared long, jaccard double",
    )
    monkeypatch.setattr(dd, "_verified_pairs_memo", lambda s, sf: pairs)
    out = graph_link_prediction(spark, "r8f-lp").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (1, 3)
    assert r.n_common == 1 and r.ra_micro == RA_SCALE // 2


def test_champion_lists_lossless_at_full_width(spark, monkeypatch):
    # with m >= df(t) for every term, pruning keeps every posting, so the
    # champion top-k must equal the exact top-k rank by rank
    docs = spark.createDataFrame(
        [
            (i, f"spark join window stream filter pad{i} pad{i}", "en", "s", 30)
            for i in range(12)
        ]
        + [(99, "spark spark join join window", "en", "s", 25)],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(tx, "load_table", lambda s, sf, n: docs)
    monkeypatch.setattr(tx, "CHAMPION_M", 10_000)
    out = search_champion_lists(spark, "r8f-ch").collect()
    assert out and all(r.same_doc for r in out)
    for r in out:
        assert r.score_full == r.score_champ


def test_ks_zero_for_identical_and_positive_for_shifted(spark, monkeypatch):
    rows = (
        [(i, "x", "en", "same_a", 100 + (i % 5)) for i in range(10)]
        + [(100 + i, "x", "en", "same_b", 100 + (i % 5)) for i in range(10)]
        + [(200 + i, "x", "en", "shifted", 1000 + (i % 5)) for i in range(10)]
    )
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    monkeypatch.setattr(pf, "load_table", lambda s, sf, n: docs)
    out = {r.source: r for r in profile_ks_drift(spark, "r8f-ks").collect()}
    # same_a vs rest: its ECDF matches same_b's but the shifted third
    # pulls the complement down at low values: sup gap = 10/20 - 0 at the
    # last low value... compute exact: at v=104, F_a = 1.0, F_rest = 10/20
    assert abs(out["same_a"].ks_stat - 0.5) < 1e-12
    # shifted vs rest: complement fully below 1000 -> gap 1.0 at v=104
    assert abs(out["shifted"].ks_stat - 1.0) < 1e-12
    assert out["shifted"].ks_at_value == 104
