"""The generalized Murphy identity
Brier = REL − RES + UNC + within-bin variance − 2·within-bin covariance,
asserted on planted scores with DELIBERATELY correlated (p, y) so the
covariance term is non-zero (on covariance-free data the five-term
identity holds by coincidence)."""

from __future__ import annotations

import hbase_observer_elasticsearch_spark.operators.quality as ql
from hbase_observer_elasticsearch_spark.operators.quality import (
    quality_brier_decomposition,
)


def _planted(spark, correlated: bool):
    rows = []
    for i in range(40):
        score = float((i * 13) % 40) / 40.0
        if correlated:
            # y tracks p within bins (plus noise): non-zero within-bin
            # covariance, the general case.
            lang = "en" if (score > 0.45) != (i % 7 == 0) else "de"
        else:
            lang = "en" if (i * 7) % 3 == 0 else "de"
        rows.append((i, "web", lang, 3, score))
    return spark.createDataFrame(
        rows,
        "doc_id long, source string, lang string, n_tok long, score double",
    )


def _identity_gap(r) -> float:
    return abs(
        r.brier
        - (
            r.reliability
            - r.resolution
            + r.uncertainty
            + r.within_bin_var
            - 2.0 * r.within_bin_cov
        )
    )


def test_brier_murphy_identity(spark, monkeypatch):
    monkeypatch.setattr(
        ql, "_hash_doc_scores", lambda sp, sf: _planted(sp, False)
    )
    out = quality_brier_decomposition(spark, "r9k").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n == 40
    assert 0 <= r.brier <= 1
    assert r.reliability >= 0 and r.resolution >= 0 and r.within_bin_var >= 0
    assert _identity_gap(r) < 1e-9


def test_brier_identity_with_covariance(spark, monkeypatch):
    monkeypatch.setattr(
        ql, "_hash_doc_scores", lambda sp, sf: _planted(sp, True)
    )
    r = quality_brier_decomposition(spark, "r9k").collect()[0]
    # the covariance really is non-zero here: the 5-term identity fails...
    assert (
        abs(
            r.brier
            - (
                r.reliability
                - r.resolution
                + r.uncertainty
                + r.within_bin_var
            )
        )
        > 1e-6
    )
    # ...and the 6-term one closes exactly.
    assert _identity_gap(r) < 1e-9
