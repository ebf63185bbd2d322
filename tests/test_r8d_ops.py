"""Operator invariants: hashed-classifier weight arithmetic,
calibration-diagram accounting, contrastive-mining role semantics, and the
kNN label-noise vote on a planted mislabel."""

from __future__ import annotations

import hashlib
from decimal import ROUND_HALF_UP, Decimal

import hbase_observer_elasticsearch_spark.operators.quality as ql
import hbase_observer_elasticsearch_spark.operators.similarity as sim
from hbase_observer_elasticsearch_spark.operators.quality import (
    CLF_A,
    CLF_B,
    CLF_P,
    CLF_SHIFT,
    HASH_DIM,
    quality_classifier_calibration,
    quality_hash_classifier,
)
from hbase_observer_elasticsearch_spark.operators.similarity import (
    K_CONTRAST,
    K_NOISE,
    quality_knn_label_noise,
    similarity_hard_negatives,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EMB_SCHEMA = "vec_id long, label int, embedding array<float>"


def _weight(token: str) -> int:
    code = int(hashlib.md5(token.encode()).hexdigest()[:8], 16)
    return ((code % HASH_DIM) * CLF_A + CLF_B) % CLF_P - CLF_SHIFT


def test_clf_weight_range_and_reference_value():
    # bucket 0's weight is pure congruence arithmetic: 104729 % 97 - 48.
    assert (0 * CLF_A + CLF_B) % CLF_P - CLF_SHIFT == 104729 % 97 - 48 == 18
    ws = [((b * CLF_A + CLF_B) % CLF_P) - CLF_SHIFT for b in range(HASH_DIM)]
    assert min(ws) >= -CLF_SHIFT and max(ws) <= CLF_P - 1 - CLF_SHIFT
    assert len(set(ws)) > 1  # the congruence actually spreads buckets


def test_hash_classifier_matches_hand_score(spark, monkeypatch):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha", "en", "s1", 16),
            (2, "gamma", "de", "s1", 5),
        ],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(ql, "load_table", lambda s, sf, n: docs)
    rows = {
        (r.source, r.lang): r
        for r in quality_hash_classifier(spark, "r8d-clf").collect()
    }
    w_doc1 = 2 * _weight("alpha") + _weight("beta")
    # mean_score routes through a DECIMAL(28,12) cast (the deterministic-
    # aggregate discipline shared with the oracle), so the expectation
    # must quantize to 12 places the same way.
    expected = float(
        Decimal(w_doc1 / 3).quantize(Decimal("1e-12"), rounding=ROUND_HALF_UP)
    )
    assert rows[("s1", "en")].mean_score == expected
    assert rows[("s1", "de")].mean_score == float(_weight("gamma"))
    for r in rows.values():
        assert r.n_hi == (1 if r.mean_score > 0 else 0)


def test_calibration_accounting(spark, monkeypatch):
    docs = spark.createDataFrame(
        [
            (i, f"tok{i} tok{i * 7} tok{i * 13}", "en" if i % 2 else "de",
             "s", 20)
            for i in range(20)
        ],
        DOC_SCHEMA,
    )
    monkeypatch.setattr(ql, "load_table", lambda s, sf, n: docs)
    rows = quality_classifier_calibration(spark, "r8d-cal").collect()
    assert sum(r.n_docs for r in rows) == 20
    assert {r.decile for r in rows} <= set(range(1, 11))
    for r in rows:
        assert 0.0 <= r.mean_pred <= 1.0
        assert 0.0 <= r.obs_rate <= 1.0
        assert abs(r.abs_gap - abs(r.mean_pred - r.obs_rate)) < 1e-12


def test_hard_negatives_roles_and_ordering(spark, monkeypatch):
    vecs = [
        (0, 1, [1.0, 0.0]),
        (1, 1, [0.9, 0.1]),
        (2, 1, [0.0, 1.0]),
        (3, 2, [0.95, 0.05]),
        (4, 2, [0.1, 0.9]),
        (5, 2, [-1.0, 0.0]),
    ]
    e = spark.createDataFrame(vecs, EMB_SCHEMA)
    monkeypatch.setattr(sim, "load_table", lambda s, sf, n: e)
    label = {v[0]: v[1] for v in vecs}
    out = similarity_hard_negatives(spark, "r8d-hn").collect()
    by_anchor: dict[tuple[int, str], list] = {}
    for r in out:
        assert r.neighbor_id != r.anchor_id
        same = label[r.neighbor_id] == label[r.anchor_id]
        assert r.role == ("hard_pos" if same else "hard_neg")
        by_anchor.setdefault((r.anchor_id, r.role), []).append(r)
    for (_, role), grp in by_anchor.items():
        grp.sort(key=lambda r: r.rk)
        assert len(grp) <= K_CONTRAST
        sims = [r.cos_sim for r in grp]
        # hard positives surface the LEAST similar same-label pairs first,
        # hard negatives the MOST similar cross-label pairs first.
        assert sims == sorted(sims, reverse=(role == "hard_neg"))
    # anchor 0 (label 1): vec 3 (label 2, cos≈0.998) must outrank vec 5
    # (label 2, cos=-1) among its negatives.
    negs0 = [r.neighbor_id for r in sorted(
        by_anchor[(0, "hard_neg")], key=lambda r: r.rk)]
    assert negs0[0] == 3 and negs0[-1] == 5


def test_knn_label_noise_flags_planted_mislabel(spark, monkeypatch):
    # Two exact blobs: vecs 0-4 at direction (2,0) — labels 7 except vec 2
    # planted as 9 — and vecs 5-9 at (0,3), labels 9. k-means seeds
    # (vec_id<8) collapse each blob onto its lowest-cid seed, so each blob
    # is one cell; vec 2's in-cell neighbors all vote 7 -> flagged.
    vecs = [(i, 9 if i == 2 else 7, [2.0, 0.0]) for i in range(5)]
    vecs += [(i, 9, [0.0, 3.0]) for i in range(5, 10)]
    e = spark.createDataFrame(vecs, EMB_SCHEMA)
    monkeypatch.setattr(sim, "load_table", lambda s, sf, n: e)
    rows = {r.label: r for r in
            quality_knn_label_noise(spark, "r8d-noise").collect()}
    assert rows[7].n_vecs == 4 and rows[7].n_flagged == 0
    assert rows[9].n_vecs == 6 and rows[9].n_audited == 6
    assert rows[9].n_flagged == 1
    assert rows[9].noise_rate == 1 / 6
    for r in rows.values():
        assert r.n_flagged <= r.n_audited <= r.n_vecs
        assert K_NOISE == 5
