"""Property / cross-check tests for trailing EWMA,
LOCF gap-fill, trailing median, per-user trend, PageRank, source overlap,
and dup-ngram coverage. The DuckDB oracles prove cross-engine equality;
these tests prove the SEMANTICS against independent brute-force
implementations (pandas/numpy/pure-python), the SURVEY §5 model.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from hbase_observer_elasticsearch_spark.operators.dedup import (
    graph_pagerank,
    _jaccard_pairs_memo,
)
from hbase_observer_elasticsearch_spark.operators.sampling import (
    sample_topk_per_group,
    SAMPLE_K_PER_GROUP,
)
from hbase_observer_elasticsearch_spark.operators.time_windows import (
    events_ewma_trailing,
    events_gap_fill_locf,
    events_value_trend,
    _EWMA_TAPS,
)
from hbase_observer_elasticsearch_spark.operators.windows import (
    window_trailing_median,
)
from hbase_observer_elasticsearch_spark.catalog import load_table


def _events_pd(spark, sf_dir) -> pd.DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )


def test_ewma_matches_bruteforce(spark, sf_dir):
    out = events_ewma_trailing(spark, sf_dir).toPandas()
    ev = _events_pd(spark, sf_dir)
    got = dict(zip(out.event_id, out.ewma))
    for _, grp in ev.groupby("user_id"):
        vals = grp.value.to_numpy()
        for i, eid in enumerate(grp.event_id.to_numpy()):
            taps = vals[max(0, i - _EWMA_TAPS + 1) : i + 1][::-1]
            w = 0.5 ** np.arange(len(taps))
            expect = float(np.dot(taps, w) / w.sum())
            assert abs(got[eid] - expect) < 1e-9, eid


def test_gap_fill_locf_invariants(spark, sf_dir):
    out = events_gap_fill_locf(spark, sf_dir).toPandas()
    for uid, grp in out.groupby("user_id"):
        grp = grp.sort_values("day").reset_index(drop=True)
        # dense daily calendar between first and last day
        days = pd.to_datetime(grp.day)
        assert (days.diff().dropna() == pd.Timedelta(days=1)).all(), uid
        # endpoints are observed (span is min..max of OBSERVED days)
        assert not grp.is_gap.iloc[0] and not grp.is_gap.iloc[-1], uid
        # is_gap <=> no observation that day; filled = LOCF
        assert (grp.is_gap == grp.day_sum.isna()).all(), uid
        assert (grp.filled_sum == grp.day_sum.ffill()).all(), uid


def test_trailing_median_matches_pandas(spark, sf_dir):
    out = window_trailing_median(spark, sf_dir).toPandas()
    ev = _events_pd(spark, sf_dir)
    got = dict(zip(out.event_id, out.med7))
    for _, grp in ev.groupby("user_id"):
        med = grp.value.rolling(7, min_periods=1).median()
        for eid, expect in zip(grp.event_id, med):
            assert abs(got[eid] - expect) < 1e-12, eid


def test_value_trend_matches_polyfit(spark, sf_dir):
    out = events_value_trend(spark, sf_dir).toPandas()
    ev = _events_pd(spark, sf_dir)
    by_user = dict(list(ev.groupby("user_id")))
    for row in out.itertuples():
        grp = by_user[row.user_id]
        t_ms = grp.ts.astype("int64") // 10**6
        x = ((t_ms - t_ms.min()) // 86_400_000).to_numpy(float)
        y = grp.value.to_numpy(float)
        assert row.n == len(grp)
        if np.ptp(x) == 0:
            assert np.isnan(row.slope_per_day) or row.slope_per_day is None
            continue
        slope, intercept = np.polyfit(x, y, 1)
        assert abs(row.slope_per_day - slope) < 1e-6 * max(1, abs(slope))
        assert abs(row.intercept - intercept) < 1e-6 * max(1, abs(intercept))


def test_pagerank_matches_pure_python(spark, sf_dir):
    edges = [
        (r.doc_a, r.doc_b)
        for r in _jaccard_pairs_memo(spark, sf_dir).collect()
    ]
    out = {r.doc_id: (r.degree, r.pagerank) for r in graph_pagerank(spark, sf_dir).collect()}
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    r = {v: 1.0 for v in adj}
    for _ in range(2):
        nxt = {}
        for v, ns in adj.items():
            nxt[v] = 0.15 + 0.85 * sum(r[u] / len(adj[u]) for u in ns)
        r = nxt
    assert set(out) == set(adj)
    for v, (deg, pr) in out.items():
        assert deg == len(adj[v])
        assert abs(pr - r[v]) < 1e-5, v  # decimal(18,6) quantization


def test_sample_topk_per_group_exact_k_and_stable(spark, sf_dir):
    out = sample_topk_per_group(spark, sf_dir).toPandas()
    sizes = out.groupby("lang").size()
    assert (sizes == SAMPLE_K_PER_GROUP).all()
    # deterministic across runs
    again = sample_topk_per_group(spark, sf_dir).toPandas()
    assert sorted(out.doc_id) == sorted(again.doc_id)


def test_blocklist_gate_bounds(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.operators.text import (
        text_blocklist_gate,
        BLOCKLIST,
    )

    out = text_blocklist_gate(spark, sf_dir).toPandas()
    assert ((out.blocked_frac >= 0) & (out.blocked_frac <= 1)).all()
    assert (out.n_blocked_terms <= len(BLOCKLIST)).all()
    assert (out.passes_gate == (out.blocked_frac < 0.05)).all()


def test_prefix_dup_groups_are_real(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.catalog import load_table
    from hbase_observer_elasticsearch_spark.operators.text import (
        text_prefix_dup_groups,
        PREFIX_W,
    )

    out = text_prefix_dup_groups(spark, sf_dir).toPandas()
    assert (out.n_docs > 1).all()
    # cross-check one group against raw text prefixes
    docs = load_table(spark, sf_dir, "documents").toPandas()
    prefixes = docs.text.str.split(" ").map(
        lambda w: " ".join(w[:PREFIX_W]) if len(w) >= PREFIX_W else None
    )
    from collections import Counter

    c = Counter(p for p in prefixes if p is not None)
    assert sorted(out.n_docs) == sorted(v for v in c.values() if v > 1)


def test_key_skew_report_consistent(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.operators.profiling import (
        profile_key_skew,
    )

    out = profile_key_skew(spark, sf_dir).toPandas()
    assert len(out) == 10
    assert out.hot_cnt.max() == out.max_cnt.iloc[0]
    assert (out.hot_cnt <= out.max_cnt).all()
    assert (out.p99_cnt <= out.max_cnt).all()
    assert (out.skew_factor >= 1.0 - 1e-12).all()


def test_rolling_actives_vs_bruteforce(spark, sf_dir):
    import pandas as pd

    from hbase_observer_elasticsearch_spark.catalog import load_table
    from hbase_observer_elasticsearch_spark.operators.time_windows import (
        events_rolling_actives,
    )

    out = events_rolling_actives(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    got = dict(zip(out.window_end, out.n_active_7d))
    days = sorted(ev.day.unique())
    for d in days:
        lo = d - pd.Timedelta(days=6)
        expect = ev[(ev.day >= lo) & (ev.day <= d)].user_id.nunique()
        assert got[d] == expect, d
