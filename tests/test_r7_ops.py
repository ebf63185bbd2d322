"""Operator invariants pinned on tiny literal DataFrames and
the sf0.001 fixture: span-merge island edges, span-excision accounting,
PRF empty-overlap degeneracy, re-rank recall dominance, SemDeDup pair
discipline + incremental consistency, and bigram stupid-backoff
arithmetic (alpha = 2/5 exactly)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

import hbase_observer_elasticsearch_spark.operators.similarity as sim
import hbase_observer_elasticsearch_spark.operators.text as tx
from hbase_observer_elasticsearch_spark.operators.similarity import (
    SEMDEDUP_T,
    dedup_semantic_incremental,
    dedup_semantic_kmeans,
    similarity_rerank_recall_ivfpq,
)
from hbase_observer_elasticsearch_spark.operators.text import (
    CHUNK_LEN,
    CHUNK_STRIDE,
    corpus_bigram_familiarity,
    search_bm25_expanded,
    search_prf_expansion,
    text_dedup_apply_spans,
    text_dup_span_merge,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _mkdocs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows], DOC_SCHEMA
    )


def _patched(monkeypatch, docs):
    monkeypatch.setattr(tx, "load_table", lambda spark, sf_dir, name: docs)


# --- span merge: island edges ------------------------------------------------


def _alpha(n, seed):
    """Deterministic non-repeating filler (no accidental dup chunks)."""
    out = []
    x = seed
    for _ in range(n):
        x = (x * 1103515245 + 12345) % (2**31)
        out.append(chr(ord("a") + x % 26))
    return "".join(out)


def test_span_merge_adjacent_runs_merge_to_one_island(spark, monkeypatch):
    # E and G share their first CHUNK_STRIDE + CHUNK_LEN = 210 chars:
    # dup grid starts {1, 91} are stride-adjacent -> ONE island of 210.
    shared = _alpha(CHUNK_STRIDE + CHUNK_LEN, 7)
    e_txt = shared + _alpha(400, 11)
    g_txt = shared + _alpha(400, 13)
    docs = _mkdocs(spark, [(1, e_txt), (2, g_txt)])
    _patched(monkeypatch, docs)
    rows = {r.doc_id: r for r in text_dup_span_merge(spark, "x").collect()}
    assert rows[1].n_spans == 1
    assert rows[1].dup_chars == CHUNK_STRIDE + CHUNK_LEN  # 210, merged
    assert rows[1].max_span_chars == 210
    assert rows[2].n_spans == 1 and rows[2].dup_chars == 210


def test_span_merge_two_islands_and_short_doc(spark, monkeypatch):
    # C shares chunk [1,120] and chunk [361,480] with D (grid-aligned in
    # both docs); grid starts 91/181/271 unique -> TWO islands of 120.
    # The short doc (< CHUNK_LEN) yields no chunks at all.
    x_blk = _alpha(CHUNK_LEN, 3)
    y_blk = _alpha(CHUNK_LEN, 5)
    c_txt = x_blk + _alpha(240, 17) + y_blk + _alpha(100, 19)
    # In D: x_blk at grid start 1; 60 filler; y_blk lands at 181 (grid).
    d_txt = x_blk + _alpha(60, 23) + y_blk + _alpha(100, 29)
    docs = _mkdocs(spark, [(1, c_txt), (2, d_txt), (3, "tiny doc")])
    _patched(monkeypatch, docs)
    rows = {r.doc_id: r for r in text_dup_span_merge(spark, "x").collect()}
    assert rows[1].n_spans == 2
    assert rows[1].dup_chars == 2 * CHUNK_LEN
    assert rows[1].max_span_chars == CHUNK_LEN
    assert 3 not in rows  # sub-chunk doc: no spans, absent from the map


def test_dedup_apply_excises_exactly_the_mapped_spans(spark, monkeypatch):
    shared = _alpha(CHUNK_STRIDE + CHUNK_LEN, 7)
    texts = {1: shared + _alpha(400, 11), 2: shared + _alpha(400, 13)}
    _patched(monkeypatch, _mkdocs(spark, sorted(texts.items())))
    spans = {
        r.doc_id: r for r in text_dup_span_merge(spark, "x").collect()
    }
    out = {r.doc_id: r for r in text_dedup_apply_spans(spark, "x").collect()}
    for did, t in texts.items():
        r = out[did]
        assert r.chars_ok
        assert r.kept_chars == len(t) - spans[did].dup_chars
        # python-reference excision: spans here = [1 .. 210] (1-based)
        clean_ref = t[210:]
        assert r.kept_chars == len(clean_ref)
        assert r.clean_hash == hashlib.md5(clean_ref.encode()).hexdigest()


# --- PRF: empty feedback overlap ----------------------------------------------


def test_prf_empty_expansion_second_pass_equals_first(spark, monkeypatch):
    # Every token of every doc is an ORIGINAL query term -> the feedback
    # vocabulary minus the query is empty -> no expansion terms, and the
    # expanded second pass must reproduce the first-pass ranking exactly.
    docs = _mkdocs(
        spark,
        [
            (1, "spark join window spark"),
            (2, "join window"),
            (3, "spark filter stream filter"),
        ],
    )
    _patched(monkeypatch, docs)
    assert search_prf_expansion(spark, "x").count() == 0
    rows = search_bm25_expanded(spark, "x").collect()
    assert rows, "expanded pass must still rank the first-pass docs"
    for r in rows:
        assert not r.is_new
        assert r.rk_first == r.rk_exp
        assert r.rank_gain == 0


# --- re-rank audit: exact re-rank dominates ADC ranking ------------------------


def test_rerank_recall_dominates_adc(spark, sf_dir):
    rows = similarity_rerank_recall_ivfpq(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        # the exact re-rank can only fix ADC misrankings inside the pool,
        # never lose a true neighbor ADC already surfaced
        assert r.recall_rerank >= r.recall_adc
        assert 0.0 <= r.recall_adc <= 1.0


# --- SemDeDup: pair discipline + incremental consistency ----------------------


def test_semdedup_pair_discipline(spark, sf_dir):
    rows = dedup_semantic_kmeans(spark, sf_dir).collect()
    assert len(rows) > 0
    seen = set()
    for r in rows:
        assert r.vec_a < r.vec_b  # canonical orientation, no mirrors
        assert r.cos_sim >= SEMDEDUP_T  # threshold boundary inclusive
        assert (r.vec_a, r.vec_b) not in seen
        seen.add((r.vec_a, r.vec_b))


def test_semdedup_incremental_consistent_with_full_pass(spark, sf_dir):
    # Cross-split pairs of the FULL SemDeDup pass must equal the
    # incremental admission counts: old ids < split <= new ids and
    # vec_a < vec_b means every old-new pair appears as (old, new).
    from hbase_observer_elasticsearch_spark.catalog import load_table

    mx = load_table(spark, sf_dir, "embeddings").agg(
        F.max("vec_id").alias("m")
    ).collect()[0].m
    split = (mx + 1) * sim.SEM_INCR_NUM // sim.SEM_INCR_DEN
    full = dedup_semantic_kmeans(spark, sf_dir).collect()
    cross: dict[int, int] = {}
    for r in full:
        if r.vec_a < split <= r.vec_b:
            cross[r.vec_b] = cross.get(r.vec_b, 0) + 1
    inc = {r.vec_id: r for r in dedup_semantic_incremental(spark, sf_dir).collect()}
    assert set(inc) >= set(cross)
    for vid, r in inc.items():
        assert r.n_near_dups == cross.get(vid, 0)
        assert r.admit == (r.n_near_dups == 0)
        if r.admit:
            assert r.best_cos == -2.0  # sentinel below any real cosine
        else:
            assert r.best_cos >= SEMDEDUP_T


# --- bigram LM: stupid backoff alpha = 2/5 exactly -----------------------------


def test_bigram_backoff_exact_arithmetic(spark, monkeypatch):
    # Train (doc_id % 10 != 0): "a b a c" and "b a"
    #   unigrams a:3 b:2 c:1 (total 6); bigrams (a,b):1 (b,a):2 (a,c):1
    # Held-out (doc 10): "a b x"
    #   (a,b) seen -> 1/3; (b,x) unseen, cnt(x)=0 -> 2*0/(5*6) = 0
    docs = _mkdocs(spark, [(1, "a b a c"), (2, "b a"), (10, "a b x")])
    _patched(monkeypatch, docs)
    rows = corpus_bigram_familiarity(spark, "x").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_docs == 1 and r.n_bigrams == 2 and r.n_backoff == 1
    assert r.backoff_rate == 0.5
    # DECIMAL(28,6) quantizes 1/3 to 0.333333; mean over 2 bigrams is an
    # exact halving — bit-exact, not approx
    assert r.mean_score == 0.333333 / 2


def test_bigram_backoff_unseen_continuation_uses_unigram_mass(
    spark, monkeypatch
):
    # (c, a): unseen bigram but BOTH unigrams trained ->
    # score = 2*cnt(a) / (5*total) = 2*3/(5*6) = 0.2 exactly
    docs = _mkdocs(spark, [(1, "a b a c"), (2, "b a"), (10, "c a")])
    _patched(monkeypatch, docs)
    r = corpus_bigram_familiarity(spark, "x").collect()[0]
    assert r.n_bigrams == 1 and r.n_backoff == 1
    assert r.mean_score == pytest.approx(0.2, abs=1e-12)
    assert r.backoff_rate == 1.0
