"""Operator invariants: PMI arithmetic on a planted corpus,
Flesch banding on hand-computable docs, and nDCG discount math against
monkeypatched ranked lists."""

from __future__ import annotations

import math

import hbase_observer_elasticsearch_spark.operators.similarity as sm
import hbase_observer_elasticsearch_spark.operators.text as tx
from hbase_observer_elasticsearch_spark.operators.similarity import (
    IDCG_AT_K,
    N_QUERIES,
    TOPK,
    search_quality_ndcg,
)
from hbase_observer_elasticsearch_spark.operators.text import (
    corpus_bigram_pmi,
    text_readability_score,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_idcg_constant_matches_definition():
    assert IDCG_AT_K == sum(1.0 / math.log2(i + 1) for i in range(1, TOPK + 1))


def test_pmi_exact_on_planted_corpus(spark, monkeypatch):
    # "x y" x5: tokens = 10 (c_x = c_y = 5), bigram slots = 9,
    # c_(x,y) = 5, c_(y,x) = 4 (below support floor 5 -> dropped).
    docs = spark.createDataFrame(
        [(1, "x y x y x y x y x y", "en", "s1", 19)], DOC_SCHEMA
    )
    monkeypatch.setattr(tx, "load_table", lambda s, sf, n: docs)
    rows = corpus_bigram_pmi(spark, "r8h").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.w1, r.w2, r.c_ab, r.c_w1, r.c_w2) == ("x", "y", 5, 5, 5)
    expected = (5.0 / 9.0) / ((5.0 / 10.0) * (5.0 / 10.0))
    import decimal

    q = decimal.Decimal(math.log(expected)).quantize(
        decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
    )
    assert r.pmi == float(q)


def test_readability_band_hand_computed(spark, monkeypatch):
    # "Hello world." -> 2 words, 1 sentence, 3 vowel groups:
    # 206.835 - 1.015*2 - 84.6*1.5 = 77.905 -> band 7
    docs = spark.createDataFrame(
        [(1, "Hello world.", "en", "s1", 12)], DOC_SCHEMA
    )
    monkeypatch.setattr(tx, "load_table", lambda s, sf, n: docs)
    rows = text_readability_score(spark, "r8h").collect()
    assert len(rows) == 1
    assert (rows[0].source, rows[0].band, rows[0].n_docs) == ("s1", 7, 1)


def test_ndcg_discount_math(spark, monkeypatch):
    # one relevant pair (q0, n1); system 'rhp' places it at rank 1 ->
    # dcg = 1/log2(2) = 1.0; other systems miss -> dcg 0, mean_ndcg 0.
    bf = spark.createDataFrame(
        [(0, 1)], "query_id long, neighbor_id long"
    )
    hit = spark.createDataFrame(
        [(0, 1, 1), (0, 9, 2)], "query_id long, neighbor_id long, rk long"
    )
    miss = spark.createDataFrame(
        [(0, 8, 1)], "query_id long, neighbor_id long, rk long"
    )
    monkeypatch.setattr(sm, "_bruteforce_topk", lambda s, sf: bf)
    monkeypatch.setattr(sm, "similarity_topk_rhp", lambda s, sf: hit)
    monkeypatch.setattr(sm, "similarity_topk_pq", lambda s, sf: miss)
    monkeypatch.setattr(sm, "similarity_topk_ivfpq", lambda s, sf: miss)
    monkeypatch.setattr(sm, "similarity_rank_fusion_rrf", lambda s, sf: miss)
    rows = {r.system: r for r in search_quality_ndcg(spark, "r8h").collect()}
    assert rows["rhp"].n_hits == 1
    assert rows["rhp"].dcg_total == 1.0
    assert abs(
        rows["rhp"].mean_ndcg - 1.0 / (IDCG_AT_K * N_QUERIES)
    ) < 1e-12
    for sysname in ("pq", "ivfpq", "rrf"):
        assert rows[sysname].n_hits == 0
        assert rows[sysname].mean_ndcg == 0.0


def test_sort_key_advisor_self_sort_wins(spark, monkeypatch):
    import hbase_observer_elasticsearch_spark.operators.planning as pl
    from hbase_observer_elasticsearch_spark.operators.planning import (
        layout_sort_key_advisor,
    )

    # 500 rows, values 1..500: okey_band [1000, 2000] lies entirely
    # above the data, so EVERY zone is skippable under EVERY layout.
    # quantity is a scrambled 1..50; sorting by quantity itself packs
    # it into tight zones (most skip mx < 45), any other sort scatters it.
    rows = [
        (k, (k * 571) % 500 + 1, float((k * 271) % 50 + 1), float(k * 37 % 50000))
        for k in range(1, 501)
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_quantity double, "
        "l_extendedprice double",
    )
    monkeypatch.setattr(pl, "load_table", lambda s, sf, n: li)
    out = {
        (r.sort_key, r.predicate): r
        for r in layout_sort_key_advisor(spark, "r8h").collect()
    }
    assert len(out) == 16
    for r in out.values():
        assert 1 <= r.n_zones <= 32 and 0 <= r.n_skipped <= r.n_zones
    for key in ("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"):
        r = out[(key, "okey_band")]
        assert r.n_skipped == r.n_zones and r.skip_frac == 1.0
    self_q = out[("l_quantity", "qty_ge")].skip_frac
    assert self_q > 0.5
    for other in ("l_orderkey", "l_partkey", "l_extendedprice"):
        assert self_q >= out[(other, "qty_ge")].skip_frac


def test_correlation_matrix_planted_extremes(spark, monkeypatch):
    import hbase_observer_elasticsearch_spark.operators.profiling as pf
    from hbase_observer_elasticsearch_spark.operators.profiling import (
        profile_correlation_matrix,
    )

    # price = 2*qty (r = +1), discount = 101 - qty (r = -1)
    rows = [
        (float(k), float(2 * k), float(101 - k), float((k * 7) % 13))
        for k in range(1, 101)
    ]
    li = spark.createDataFrame(
        rows,
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double",
    )
    monkeypatch.setattr(pf, "load_table", lambda s, sf, n: li)
    out = {
        (r.col_x, r.col_y): r
        for r in profile_correlation_matrix(spark, "r8h").collect()
    }
    assert len(out) == 6 and all(r.n_rows == 100 for r in out.values())
    assert abs(out[("l_quantity", "l_extendedprice")].pearson_r - 1.0) < 1e-12
    assert abs(out[("l_quantity", "l_discount")].pearson_r + 1.0) < 1e-12
    assert abs(out[("l_extendedprice", "l_discount")].pearson_r + 1.0) < 1e-12


def test_winsorize_clips_planted_outlier(spark, monkeypatch):
    import hbase_observer_elasticsearch_spark.operators.quality as ql
    from hbase_observer_elasticsearch_spark.operators.quality import (
        quality_winsorize_impact,
    )

    rows = [("P1", float(v)) for v in range(1, 100)] + [("P1", 10000.0)]
    o = spark.createDataFrame(
        rows, "o_orderpriority string, o_totalprice double"
    )
    monkeypatch.setattr(ql, "load_table", lambda s, sf, n: o)
    out = quality_winsorize_impact(spark, "r8h").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_rows == 100
    assert r.n_clipped_high >= 1 and r.n_clipped_low >= 1
    assert r.mean_winsorized < r.mean_raw  # the outlier pulled the raw mean up
    assert r.p_lo < r.p_hi < 10000.0


def test_pca_collapse_rank1_planted(spark, monkeypatch):
    import hbase_observer_elasticsearch_spark.operators.similarity as sm2
    from hbase_observer_elasticsearch_spark.operators.similarity import (
        similarity_pca_collapse_audit,
    )

    # all variance on axis 1 -> rank-1 covariance: var_share -> 1.0,
    # top coordinate is dimension 1
    rows = [
        (k, [float(k)] + [0.0] * 63, 0) for k in range(1, 9)
    ]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(sm2, "load_table", lambda s, sf, n: e)
    r = similarity_pca_collapse_audit(spark, "r8h-pca").collect()[0]
    assert r.n_vectors == 8 and r.dim == 64
    assert r.top_coord == 1
    assert abs(r.var_share - 1.0) < 1e-9
    # population variance of 1..8 = 5.25
    assert abs(r.top_eig - 5.25) < 1e-9


def test_markov_stationary_two_state_exact(spark, monkeypatch):
    import datetime as dt

    import hbase_observer_elasticsearch_spark.operators.time_windows as tw
    from hbase_observer_elasticsearch_spark.operators.time_windows import (
        events_markov_stationary,
    )

    # A->B->A->B: P(A->B) = P(B->A) = 1; uniform start is already
    # stationary, so pi stays exactly (0.5, 0.5) and gap is 0.
    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (k, "A" if k % 2 == 0 else "B", 1, 0.0, t0 + dt.timedelta(minutes=k))
        for k in range(4)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, event_type string, user_id long, value double, "
        "ts timestamp",
    )
    monkeypatch.setattr(tw, "load_table", lambda s, sf, n: ev)
    out = {r.state: r for r in events_markov_stationary(spark, "r8h").collect()}
    assert set(out) == {"A", "B"}
    for st in ("A", "B"):
        assert out[st].stationary_pi == 0.5
        assert out[st].empirical_share == 0.5
        assert out[st].gap == 0.0


def test_rake_degree_freq_arithmetic(spark, monkeypatch):
    import hbase_observer_elasticsearch_spark.operators.text as tx2
    from hbase_observer_elasticsearch_spark.operators.text import (
        text_keyphrase_rake,
    )

    # 3 docs x "big data of big data": 'of' splits two 2-word phrases per
    # doc. freq(big) = freq(data) = 6, degree = 12 -> word score 2.0 each,
    # phrase score 4.0, 6 occurrences.
    docs = spark.createDataFrame(
        [(k, "big data of big data", "en", "s1", 20) for k in range(3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(tx2, "load_table", lambda s, sf, n: docs)
    rows = text_keyphrase_rake(spark, "r8h").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.phrase, r.n_words, r.n_occurrences) == ("big data", 2, 6)
    assert r.rake_score == 4.0


def test_entropy_uniform_two_values(spark, monkeypatch):
    import math

    import hbase_observer_elasticsearch_spark.operators.profiling as pf2
    from hbase_observer_elasticsearch_spark.operators.profiling import (
        profile_entropy_by_column,
    )

    tables = {
        "orders": spark.createDataFrame(
            [("A",), ("B",), ("A",), ("B",)], "o_orderpriority string"
        ),
        "lineitem": spark.createDataFrame(
            [("R", "O")], "l_returnflag string, l_linestatus string"
        ),
        "events": spark.createDataFrame(
            [("click",), ("view",), ("click",), ("view",)],
            "event_type string",
        ),
    }
    monkeypatch.setattr(pf2, "load_table", lambda s, sf, n: tables[n])
    out = {
        r.column_name: r
        for r in profile_entropy_by_column(spark, "r8h").collect()
    }
    r = out["orders.o_orderpriority"]
    assert r.n_values == 2 and r.n_rows == 4
    assert abs(r.entropy_nats - math.log(2)) < 1e-9
    assert abs(r.entropy_norm - 1.0) < 1e-9
    # a constant column carries zero entropy and an undefined norm
    assert out["lineitem.l_returnflag"].entropy_nats == 0.0
    assert out["lineitem.l_returnflag"].entropy_norm is None


def test_gini_gain_perfect_split(spark, monkeypatch):
    import hbase_observer_elasticsearch_spark.operators.quality as ql2
    from hbase_observer_elasticsearch_spark.operators.quality import (
        quality_gini_split_gain,
    )

    # source X: tiny docs; source Y: huge docs -> some decile threshold
    # separates them perfectly: gain = parent gini 0.5 - 0 = 0.5 exactly.
    # word counts separate identically; distinct-word count is constant
    # (every doc repeats one token), so that feature has no valid split
    # and must be absent, not wrong.
    rows = [(k, "w " * k + "w", "en", "X", k) for k in range(1, 6)] + [
        (100 + k, "w " * (100 + k) + "w", "en", "Y", 100 + k)
        for k in range(1, 6)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(ql2, "load_table", lambda s, sf, n: docs)
    out = {r.feature: r for r in quality_gini_split_gain(spark, "r8h").collect()}
    assert set(out) == {"n_chars", "n_words"}
    for feat in ("n_chars", "n_words"):
        r = out[feat]
        assert r.gain == 0.5
        assert r.n_left == 5 and r.n_right == 5


def test_cusum_finds_planted_level_shift(spark, monkeypatch):
    import datetime as dt

    import hbase_observer_elasticsearch_spark.operators.time_windows as tw2
    from hbase_observer_elasticsearch_spark.operators.time_windows import (
        events_changepoint_cusum,
    )

    # 4 days at 10 events, then 4 days at 50: mean 30, cusum bottoms at
    # day 4 (-80), before-mean 10, after-mean 50.
    rows = []
    eid = 0
    t0 = dt.datetime(2026, 3, 1)
    for d in range(8):
        for _ in range(10 if d < 4 else 50):
            rows.append(
                (eid, "view", 1, 0.0, t0 + dt.timedelta(days=d, minutes=eid % 60))
            )
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, event_type string, user_id long, value double, "
        "ts timestamp",
    )
    monkeypatch.setattr(tw2, "load_table", lambda s, sf, n: ev)
    r = events_changepoint_cusum(spark, "r8h").collect()[0]
    assert r.changepoint_day == t0 + dt.timedelta(days=3)
    assert r.cusum_at == -80.0
    assert r.n_days == 8 and r.mean_daily == 30.0
    assert r.mean_before == 10.0 and r.mean_after == 50.0


def test_neyman_allocation_arithmetic(spark, monkeypatch):
    import math

    import hbase_observer_elasticsearch_spark.operators.sampling as sp
    from hbase_observer_elasticsearch_spark.operators.sampling import (
        NEYMAN_BUDGET,
        sample_neyman_allocation,
    )

    # X: 4 docs, n_chars {0, 0, 10, 10} -> S = 5; Y: 2 docs {7, 7} -> S = 0
    # (zero-variance stratum gets weight 0); Z singleton -> excluded.
    rows = (
        [(k, "t", "en", "X", v) for k, v in enumerate([0, 0, 10, 10])]
        + [(10, "t", "en", "Y", 7), (11, "t", "en", "Y", 7)]
        + [(20, "t", "en", "Z", 99)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(sp, "load_table", lambda s, sf, n: docs)
    out = {r.source: r for r in sample_neyman_allocation(spark, "r8h").collect()}
    assert set(out) == {"X", "Y"}  # singleton Z excluded
    assert out["X"].s_h == 5.0 and out["Y"].s_h == 0.0
    assert out["X"].weight == 1.0 and out["Y"].weight == 0.0
    assert out["X"].alloc == NEYMAN_BUDGET and out["Y"].alloc == 0
    assert math.isfinite(out["X"].weight)


def test_wilson_interval_contains_p_hat(spark, monkeypatch):
    import datetime as dt

    import hbase_observer_elasticsearch_spark.operators.time_windows as tw3
    from hbase_observer_elasticsearch_spark.operators.time_windows import (
        events_conversion_wilson,
    )

    # one day: users 1..4 view, users 1..2 also purchase -> p = 0.5
    t0 = dt.datetime(2026, 4, 1)
    rows = [(k, "view", k, 0.0, t0) for k in range(1, 5)] + [
        (10 + k, "purchase", k, 0.0, t0) for k in range(1, 3)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, event_type string, user_id long, value double, "
        "ts timestamp",
    )
    monkeypatch.setattr(tw3, "load_table", lambda s, sf, n: ev)
    r = events_conversion_wilson(spark, "r8h").collect()[0]
    assert (r.viewers, r.buyers, r.p_hat) == (4, 2, 0.5)
    assert 0.0 < r.wilson_lo < 0.5 < r.wilson_hi < 1.0


def test_mode_median_tiebreak(spark, monkeypatch):
    import hbase_observer_elasticsearch_spark.operators.relational as rel2
    from hbase_observer_elasticsearch_spark.operators.relational import (
        agg_mode_median,
    )

    # P1: statuses A x2, B x2 (tie -> smallest value A wins); prices
    # 1,2,3,4 -> median 2.5
    rows = [
        ("P1", "B", 1.0),
        ("P1", "B", 2.0),
        ("P1", "A", 3.0),
        ("P1", "A", 4.0),
    ]
    o = spark.createDataFrame(
        rows, "o_orderpriority string, o_orderstatus string, o_totalprice double"
    )
    monkeypatch.setattr(rel2, "load_table", lambda s, sf, n: o)
    r = agg_mode_median(spark, "r8h").collect()[0]
    assert (r.mode_status, r.mode_count) == ("A", 2)
    assert r.median_price == 2.5 and r.n_orders == 4
