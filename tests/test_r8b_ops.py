"""Operator invariants on hand-computed inputs: the estimator
ladder actually separating on skew, range-partition disjointness, the
blocked prefix-scan matching a pure-Python watermark replay, perplexity
tercile ordering, postings varint arithmetic, and matched-pair counts."""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta

import hbase_observer_elasticsearch_spark.operators.planning as pl
import hbase_observer_elasticsearch_spark.operators.sampling as sp
import hbase_observer_elasticsearch_spark.operators.text as tx
from hbase_observer_elasticsearch_spark.operators.planning import (
    JITTER_MOD_US,
    WM_DELAYS_S,
    layout_range_partition_balance,
    profile_join_cardinality_est,
    stream_watermark_lateness_audit,
)
from hbase_observer_elasticsearch_spark.operators.sampling import (
    sample_matched_pairs,
)
from hbase_observer_elasticsearch_spark.operators.text import (
    corpus_perplexity_buckets,
    search_postings_delta_stats,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EPOCH = datetime(1970, 1, 1)


def _patch_tables(monkeypatch, mod, tables):
    monkeypatch.setattr(
        mod, "load_table", lambda spark, sf_dir, name: tables[name]
    )


def test_cardinality_ladder_separates_on_skew(spark, monkeypatch):
    # Month 1: both sides pile 10 rows on ONE day (actual 10*10=100).
    # Month 2: 10 matching days, 1 row each side (actual 10).
    # uniform-NDV: 20*20 DIV 11 = 36  -> qerr 110/36 > 3 (underestimates).
    # month histogram: 100//1 + 100//10 = 110 -> exact.
    m1 = datetime(2024, 1, 5)
    m2 = [datetime(2024, 2, d + 1) for d in range(10)]
    o = spark.createDataFrame(
        [(m1,)] * 10 + [(d,) for d in m2], "o_orderdate timestamp"
    )
    li = spark.createDataFrame(
        [(m1,)] * 10 + [(d,) for d in m2], "l_shipdate timestamp"
    )
    _patch_tables(monkeypatch, pl, {"orders": o, "lineitem": li})
    r = profile_join_cardinality_est(spark, "x").collect()[0]
    assert r.actual_rows == 110
    assert r.est_hist_month == 110 and r.qerr_hist_month == 1.0
    assert r.est_uniform_ndv == 36
    assert r.qerr_uniform > 2.0  # the docstring's skew-alarm claim


def test_range_partitions_are_disjoint_and_complete(spark, monkeypatch):
    li = spark.createDataFrame(
        [(k, 1) for k in range(1000)], "l_orderkey long, l_linenumber int"
    )
    _patch_tables(monkeypatch, pl, {"lineitem": li})
    rows = sorted(
        layout_range_partition_balance(spark, "x").collect(),
        key=lambda r: r.partition_id,
    )
    assert sum(r.n_rows for r in rows) == 1000  # nothing lost or duplicated
    for prev, cur in zip(rows, rows[1:]):
        assert prev.max_key < cur.min_key  # ranges disjoint and ordered
    total = sum(r.n_rows for r in rows)
    for r in rows:
        assert abs(r.load_x_avg - r.n_rows * len(rows) / total) < 1e-12


def _py_jitter(event_id: int) -> int:
    h = hashlib.md5(f"wmj:{event_id}".encode()).hexdigest()[:8]
    return int(h, 16) % JITTER_MOD_US


def test_watermark_audit_matches_python_replay(spark, monkeypatch):
    # 200 events, 30s apart; jitter reshuffles arrival. The blocked
    # prefix-scan must equal a straight sequential watermark replay.
    base = datetime(2024, 3, 1)
    rows = [(i, base + timedelta(seconds=30 * i)) for i in range(200)]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp")
    _patch_tables(monkeypatch, pl, {"events": ev})
    got = {
        r.delay_s: r
        for r in stream_watermark_lateness_audit(spark, "x").collect()
    }

    t_us = {
        i: int((ts - EPOCH).total_seconds() * 1_000_000) for i, ts in rows
    }
    arr = sorted(rows, key=lambda r: (t_us[r[0]] + _py_jitter(r[0]), r[0]))
    run, lags = -1, []
    for i, _ in arr:
        lags.append(max(run - t_us[i], 0))
        run = max(run, t_us[i])
    for d in WM_DELAYS_S:
        exp = sum(1 for lag in lags if lag > d * 1_000_000)
        assert got[d].n_dropped == exp
        assert got[d].n_events == 200
        assert got[d].max_lag_s == max(lags) // 1_000_000
    # sanity: jitter (<=10 min) makes SOME event late at the 60s delay
    assert got[60].n_dropped > 0 and got[900].n_dropped == 0


def test_perplexity_terciles_order_and_balance(spark, monkeypatch):
    # 7 en docs: ntile(3) -> cells of 3/2/2; head must score >= tail.
    texts = [
        "a b a b a b",  # LM-like (trained on docs 1..6)
        "a b a b",
        "a b a",
        "b a b a",
        "a b",
        "b a",
        "q z q",  # unseen bigrams -> backoff -> tail
    ]
    docs = spark.createDataFrame(
        [(i + 1, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(tx, "load_table", lambda s, sf, n: docs)
    rows = {r.bucket: r for r in corpus_perplexity_buckets(spark, "x").collect()}
    assert set(rows) == {"head", "middle", "tail"}
    assert rows["head"].n_docs == 3
    assert rows["middle"].n_docs == 2 and rows["tail"].n_docs == 2
    assert (
        rows["head"].mean_doc_score
        >= rows["middle"].mean_doc_score
        >= rows["tail"].mean_doc_score
    )
    assert sum(r.n_docs for r in rows.values()) == 7


def test_postings_varint_arithmetic(spark, monkeypatch):
    # term a: docs {0,1,2}   gaps 1,1,1      -> 3 x 1B delta, 3 x 1B raw
    # term e: docs {5000,5001} gaps 5001,1   -> 2B+1B delta, 2B+2B raw
    # buckets: df=3 -> len(bin(3))=2 holds a; df=2 -> bucket 2 too (bin(2)
    # ='10'); df=1 terms land in bucket 1.
    docs = [
        (0, "a b"),
        (1, "a"),
        (2, "a c"),
        (5000, "e"),
        (5001, "e"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in docs], DOC_SCHEMA
    )
    monkeypatch.setattr(tx, "load_table", lambda s, sf, n: df)
    rows = {r.df_bucket: r for r in search_postings_delta_stats(spark, "x").collect()}
    b1, b2 = rows[1], rows[2]
    # bucket 1: terms b (doc 0) and c (doc 2): gaps 1 and 3, 1 byte each
    assert b1.n_terms == 2 and b1.n_postings == 2
    assert b1.delta_bytes == 2 and b1.raw_bytes == 2
    assert b1.avg_gap == 2.0  # (1 + 3) / 2
    # bucket 2: a (df 3) and e (df 2)
    assert b2.n_terms == 2 and b2.n_postings == 5
    assert b2.delta_bytes == 3 + 3  # a: 1+1+1, e: 2+1
    assert b2.raw_bytes == 3 + 4  # a: 1+1+1, e: 2+2
    assert b2.savings_frac == (7 - 6) / 7


def test_matched_pairs_counts_are_min_of_cells(spark, monkeypatch):
    # arm A (src0): 20 docs -> deciles of 2; arm B (src1): 10 -> 1 each.
    rows = [
        (i, "t", "en", "src0", 100 + i) for i in range(20)
    ] + [
        (100 + i, "t", "en", "src1", 100 + i) for i in range(10)
    ]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    monkeypatch.setattr(sp, "load_table", lambda s, sf, n: docs)
    out = sample_matched_pairs(spark, "x").collect()
    assert len(out) == 10  # every decile pairs
    assert all(r.n_pairs == 1 for r in out)  # min(|A cell|=2, |B cell|=1)
    assert all(r.sum_len_diff >= 0 and r.max_len_diff >= 0 for r in out)


def test_unimax_epoch_cap_arithmetic(spark, monkeypatch):
    # sources of 10/20/100 tokens; budget = 130; capacities 40/80/400.
    # Uncapped prefix = {s1} (40 + 2*40 <= 130); cap = (130-40) DIV 2 = 45.
    # Allocations 40/45/45 fill the budget exactly; epochs 4.0/2.25/0.45.
    def words(n):
        return " ".join(["w"] * n)

    rows = [
        (1, words(10), "en", "s1", 10),
        (2, words(20), "en", "s2", 20),
        (3, words(100), "en", "s3", 100),
    ]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    monkeypatch.setattr(tx, "load_table", lambda s, sf, n: docs)
    from hbase_observer_elasticsearch_spark.operators.text import (
        corpus_mix_unimax,
    )

    out = {r.source: r for r in corpus_mix_unimax(spark, "x").collect()}
    assert out["s1"].allocated_tokens == 40 and not out["s1"].is_capped
    assert out["s2"].allocated_tokens == 45 and out["s2"].is_capped
    assert out["s3"].allocated_tokens == 45 and out["s3"].is_capped
    assert sum(r.allocated_tokens for r in out.values()) == 130
    assert out["s1"].epochs == 4.0
    assert out["s2"].epochs == 2.25
    assert out["s3"].epochs == 0.45
