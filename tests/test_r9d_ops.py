"""Operator invariants: MMR greedy selection against a pure
numpy reference, ES bool-query clause semantics, and Lucene-style
pattern expansion."""

from __future__ import annotations

import numpy as np

import hbase_observer_elasticsearch_spark.operators.similarity as sim
import hbase_observer_elasticsearch_spark.operators.text as tx
from hbase_observer_elasticsearch_spark.operators.similarity import (
    MMR_K,
    N_QUERIES,
    TOPK,
    similarity_mmr_diversify,
)
from hbase_observer_elasticsearch_spark.operators.text import (
    search_bool_query,
    search_prefix_wildcard,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def _doc(i, text):
    return (i, text, "en", "web", len(text))


def _mmr_reference(vecs: dict[int, np.ndarray]) -> dict[tuple[int, int], int]:
    """Greedy MMR in numpy, mirroring the operator's definition."""

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    want = {}
    for q in range(N_QUERIES):
        cands = [v for v in vecs if v != q]
        cands = sorted(
            cands, key=lambda c: (-cos(vecs[q], vecs[c]), c)
        )[:TOPK]
        rel = {c: cos(vecs[q], vecs[c]) for c in cands}
        selected = []
        for rnk in range(1, MMR_K + 1):
            remaining = [c for c in cands if c not in selected]
            if not remaining:
                break
            if not selected:
                pick = min(remaining, key=lambda c: (-rel[c], c))
            else:
                def score(c):
                    mx = max(cos(vecs[c], vecs[s]) for s in selected)
                    return 0.7 * rel[c] - 0.3 * mx

                pick = min(remaining, key=lambda c: (-score(c), c))
            selected.append(pick)
            want[(q, rnk)] = pick
    return want


def test_mmr_matches_numpy_reference(spark, monkeypatch):
    rng = np.random.default_rng(7)
    vecs = {
        i: rng.normal(size=8).astype(np.float64) for i in range(N_QUERIES + 8)
    }
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in vecs.items()], EMB_SCHEMA
    )
    monkeypatch.setattr(sim, "load_table", lambda s, sf, n: emb)
    # float32 storage: the reference must see what Spark sees
    stored = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    want = _mmr_reference(stored)
    got = {
        (r.query_id, r.rnk): r.cand_id
        for r in similarity_mmr_diversify(spark, "r9d-mmr").collect()
    }
    assert got == want


def test_bool_query_clause_semantics(spark, monkeypatch):
    docs = spark.createDataFrame(
        [
            _doc(1, "join stream"),       # qualifies
            _doc(2, "join slow stream"),  # must_not excluded
            _doc(3, "stream window"),     # missing must
            _doc(4, "join"),              # should_cnt 0
        ],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(tx, "load_table", lambda s, sf, n: docs)
    out = search_bool_query(spark, "r9d").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_id, r.should_cnt, r.rk) == (1, 1, 1)
    # df(join)=3, df(stream)=3, N=4 -> score = 2 * (1.5/3.5), quantized
    assert abs(r.score - 2 * round(1.5 / 3.5, 6)) < 1e-9


def test_prefix_wildcard_expansion(spark, monkeypatch):
    docs = spark.createDataFrame(
        [
            _doc(1, "spark table"),
            _doc(2, "value stream"),
            _doc(3, "zzz"),
        ],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(tx, "load_table", lambda s, sf, n: docs)
    rows = {
        (r.clause, r.doc_id): r
        for r in search_prefix_wildcard(spark, "r9d").collect()
    }
    assert set(rows) == {
        ("prefix:s", 1),
        ("prefix:s", 2),
        ("wildcard:_a__e", 1),
        ("wildcard:_a__e", 2),
    }
    for r in rows.values():
        assert r.n_matched_terms == 1
        assert r.n_expansions == 2
