"""Operator invariants on hand-computed corpora: BPE greedy
left-to-right merge semantics (the overlap rule) and DSIR smoothed
count-ratio arithmetic."""

from __future__ import annotations

import hbase_observer_elasticsearch_spark.operators.text as tx
from hbase_observer_elasticsearch_spark.operators.text import (
    corpus_bpe_merges,
    corpus_dsir_importance,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _patched(spark, monkeypatch, rows):
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows], DOC_SCHEMA
    )
    monkeypatch.setattr(tx, "load_table", lambda spark, sf_dir, name: docs)


def test_bpe_greedy_overlap_and_merge_order(spark, monkeypatch):
    # vocab: aaa (freq 2), bb (freq 1)
    # merge 1: pairs (a,a) weighted 2*2=4 beats (b,b)=1 -> merge (a,a)
    #   greedy left-to-right: 'aaa' -> [aa, a]  (NOT [a, aa])
    # merge 2: (aa,a)=2 beats (b,b)=1 -> merge (aa,a)  <- proves greedy
    # merge 3: only (b,b)=1 remains
    # final segmentation: aaa->[aaa] x2, bb->[bb] -> 3 corpus symbols
    _patched(spark, monkeypatch, [(1, "aaa bb aaa")])
    rows = {r.rk: r for r in corpus_bpe_merges(spark, "x").collect()}
    assert (rows[1].p1, rows[1].p2, rows[1].cnt) == ("a", "a", 4)
    assert (rows[2].p1, rows[2].p2, rows[2].cnt) == ("aa", "a", 2)
    assert (rows[3].p1, rows[3].p2, rows[3].cnt) == ("b", "b", 1)
    assert all(r.corpus_symbols_final == 3 for r in rows.values())


def test_bpe_tiebreak_is_lexicographic(spark, monkeypatch):
    # 'cd' and 'ab' both have pair count 1 -> (a,b) wins on (p1,p2)
    _patched(spark, monkeypatch, [(1, "cd ab")])
    rows = sorted(corpus_bpe_merges(spark, "x").collect(), key=lambda r: r.rk)
    assert (rows[0].p1, rows[0].p2) == ("a", "b")
    assert (rows[1].p1, rows[1].p2) == ("c", "d")


def test_dsir_smoothed_ratio_arithmetic(spark, monkeypatch):
    # target (doc 10): "x x y" -> t_cnt x:2 y:1, total_t=3
    # raw: doc 1 "x y", doc 2 "z z" -> r_cnt x:1 y:1 z:2, total_r=4
    # doc1: x -> (2+1)*4/(1*3) = 4.0 ; y -> (1+1)*4/(1*3) = 2.666667 (dec6)
    #   mean = 6.666667 / 2 = 3.3333335 (exact halving)
    # doc2: z -> (0+1)*4/(2*3) = 0.666667 ; mean = 0.666667
    _patched(spark, monkeypatch, [(1, "x y"), (2, "z z"), (10, "x x y")])
    rows = {r.doc_id: r for r in corpus_dsir_importance(spark, "x").collect()}
    assert set(rows) == {1, 2}  # the target doc is never scored
    assert rows[1].mean_ratio == 3.3333335
    assert rows[2].mean_ratio == 0.666667
    assert rows[1].rk == 1 and rows[2].rk == 2
    # n_raw = 2: top-1/5 selection selects nobody at this size
    assert not rows[1].selected and not rows[2].selected


def test_bpe_apply_reconciles_with_training_compression(spark, monkeypatch):
    # same corpus as the merge-order test: after 3 merges aaa->1 symbol,
    # bb->1 symbol; doc has tokens [aaa, bb, aaa] -> 3 bpe symbols for
    # 8 chars
    _patched(spark, monkeypatch, [(1, "aaa bb aaa")])
    rows = tx.corpus_bpe_apply(spark, "x").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_words == 3
    assert r.n_char_symbols == 8
    assert r.n_bpe_symbols == 3
    assert r.symbols_saved == 5
    assert r.compression == 8.0 / 3.0


def test_stream_semantic_admission_equals_batch(spark, sf_dir):
    # the streaming drain and the batch query share one oracle; pin the
    # stronger row-identity claim directly (same data, same fold -> the
    # doubles must be bit-identical, not approximately equal)
    from hbase_observer_elasticsearch_spark.operators.similarity import (
        dedup_semantic_incremental,
    )
    from hbase_observer_elasticsearch_spark.operators.stream_queries import (
        stream_semantic_admission,
    )

    batch = {
        r.vec_id: (r.cluster_id, r.n_near_dups, r.best_cos, r.admit)
        for r in dedup_semantic_incremental(spark, sf_dir).collect()
    }
    stream = {
        r.vec_id: (r.cluster_id, r.n_near_dups, r.best_cos, r.admit)
        for r in stream_semantic_admission(spark, sf_dir).collect()
    }
    assert stream == batch


def test_pipeline_funnel_monotone_and_consistent(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.operators.dedup import (
        corpus_pipeline_funnel,
        dedup_exact,
    )

    rows = sorted(
        corpus_pipeline_funnel(spark, sf_dir).collect(),
        key=lambda r: r.stage_no,
    )
    assert [r.stage for r in rows] == [
        "raw", "exact_dedup", "fuzzy_dedup", "span_excision",
    ]
    # docs and chars never increase down the funnel; fractions in (0, 1]
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_docs <= prev.n_docs
        assert cur.n_chars <= prev.n_chars
    for r in rows:
        assert 0 < r.docs_retained_frac <= 1.0
        assert 0 < r.chars_retained_frac <= 1.0
    # stage-1 consistency with the registered exact-dedup query
    n_canon = (
        dedup_exact(spark, sf_dir).select("canon_hash").distinct().count()
    )
    assert rows[1].n_docs == n_canon
