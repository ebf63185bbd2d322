"""Operator tests: the remaining ES pipeline aggs
(serial_diff / normalize / stats_bucket+percentiles_bucket), the robust
metric aggs (boxplot / median_absolute_deviation), the bucket aggs
(date_range / global / diversified_sampler / reverse_nested), and the
search-API surfaces (multi_match cross_fields / match_bool_prefix /
rescore / termvectors / sliced scroll / phrase suggester).

Invariant-level checks at sf0.001; exact cross-engine value equality is
the oracle gate's job (tools/check.py at sf0.01)."""

from __future__ import annotations

import pandas as pd

from hbase_observer_elasticsearch_spark.operators import es_surface as es

SF = "/root/testdata/sf0.001"


def test_serial_diff_lag_and_window(spark):
    df = es.agg_serial_diff(spark, SF).orderBy("day").toPandas()
    assert df["serial_diff_7"].isna().sum() == min(es.SD_LAG, len(df))
    # moving median of a trailing window stays within the value envelope
    lo, hi = df["n_events"].min(), df["n_events"].max()
    assert df["moving_median_7"].between(lo, hi).all()
    # day 8 onward: diff equals n[i] - n[i-7]
    n = df["n_events"].tolist()
    for i in range(es.SD_LAG, len(n)):
        assert df["serial_diff_7"].iloc[i] == n[i] - n[i - es.SD_LAG]


def test_normalize_methods(spark):
    df = es.agg_normalize(spark, SF).toPandas()
    assert abs(df["pct_of_sum"].sum() - 1.0) < 1e-9
    assert df["rescale01"].between(0.0, 1.0).all()
    assert df["rescale01"].min() == 0.0 and df["rescale01"].max() == 1.0
    # mean_frac averages to ~1 across buckets of a near-uniform feed
    assert (df["mean_frac"] > 0).all()


def test_stats_bucket_percentiles_ordered(spark):
    row = es.agg_stats_bucket(spark, SF).toPandas().iloc[0]
    assert row["min_rev"] <= row["p25_rev"] <= row["p50_rev"]
    assert row["p50_rev"] <= row["p75_rev"] <= row["max_rev"]
    assert row["min_rev"] <= row["avg_rev"] <= row["max_rev"]
    assert row["n_buckets"] > 0


def test_boxplot_quartiles_and_fences(spark):
    df = es.agg_boxplot(spark, SF).toPandas()
    assert len(df) > 0
    for _, r in df.iterrows():
        assert r["min_v"] <= r["q1"] <= r["q2"] <= r["q3"] <= r["max_v"]
        assert r["iqr"] == r["q3"] - r["q1"]
        assert 0 <= r["n_outliers"] <= r["n_docs"]


def test_boxplot_matches_nearest_rank_pandas(spark):
    df = es.agg_boxplot(spark, SF).toPandas().set_index("lang")
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    for lang, g in docs.groupby("lang"):
        v = g.sort_values(["n_chars", "doc_id"])["n_chars"].tolist()
        n = len(v)
        assert df.loc[lang, "q1"] == v[(n + 3) // 4 - 1]
        assert df.loc[lang, "q2"] == v[(n + 1) // 2 - 1]
        assert df.loc[lang, "q3"] == v[(3 * n + 3) // 4 - 1]


def test_mad_robust_dispersion(spark):
    df = es.agg_mad(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    for _, r in df.iterrows():
        g = docs[docs["lang"] == r["lang"]]
        assert g["n_chars"].min() <= r["median_chars"] <= g["n_chars"].max()
        assert 0 <= r["mad_chars"] <= g["n_chars"].max() - g["n_chars"].min()


def test_date_range_partitions_feed(spark):
    df = es.agg_date_range(spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    assert df["n_events"].sum() == len(ev)
    by = df.set_index("bucket")
    assert pd.isna(by.loc["early", "from_ts"])
    assert pd.isna(by.loc["late", "to_ts"])
    if "mid" in by.index:
        assert by.loc["mid", "from_ts"] == pd.Timestamp("2024-01-08")
        assert by.loc["mid", "to_ts"] == pd.Timestamp("2024-01-22")
    # observed bounds honor the range keys
    assert by.loc["early", "max_ts"] < pd.Timestamp("2024-01-08")


def test_global_bucket_escapes_query(spark):
    row = es.agg_global_bucket(spark, SF).toPandas().iloc[0]
    assert row["click_hits"] <= row["global_count"]
    assert 0.0 <= row["click_share"] <= 1.0
    ev = pd.read_parquet(f"{SF}/events.parquet")
    assert row["global_count"] == len(ev)
    assert row["click_hits"] == (ev["event_type"] == "click").sum()


def test_diversified_sampler_caps(spark):
    df = es.agg_diversified_sampler(spark, SF).toPandas()
    assert df["n_docs"].sum() <= es.DS_SHARD
    # recompute the diversified sample in pandas and compare the breakdown
    docs = pd.read_parquet(f"{SF}/documents.parquet").sort_values(
        ["n_chars", "doc_id"], ascending=[False, True]
    )
    docs["lang_rk"] = docs.groupby("lang").cumcount() + 1
    sample = docs[docs["lang_rk"] <= es.DS_PER_LANG].head(es.DS_SHARD)
    want = sample.groupby("source")["doc_id"].count().to_dict()
    got = df.set_index("source")["n_docs"].to_dict()
    assert got == want


def test_reverse_nested_parent_counts(spark):
    df = es.agg_reverse_nested(spark, SF).toPandas()
    assert (df["n_active_users"] <= df["n_users"]).all()
    assert (df["n_users"] <= df["n_events"]).all()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    assert df["n_events"].sum() == len(ev)


def test_multi_match_cross_fields_blend(spark):
    df = es.search_multi_match_cross_fields(spark, SF).toPandas()
    assert len(df) <= es.MMC_TOPK
    assert (df["score"] > 0).all()
    assert list(df.sort_values("rk")["score"]) == sorted(
        df["score"], reverse=True
    )
    # blended df really is the max of the per-field dfs for each term
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    toks = docs["text"].str.split(" ")
    for term in es.MMC_TERMS:
        df_title = sum(term in t[: es.MMC_TITLE_LEN] for t in toks)
        df_body = sum(term in t[es.MMC_TITLE_LEN :] for t in toks)
        assert max(df_title, df_body) > 0  # the fixture hits both terms


def test_match_bool_prefix_clauses(spark):
    df = es.search_match_bool_prefix(spark, SF).toPandas()
    assert len(df) <= es.MBP_TOPK
    assert ((df["prefix_score"] == 0.0) | (df["prefix_score"] == 1.0)).all()
    assert (
        df["score"] == df["term_score"] + df["prefix_score"]
    ).all()
    # at least one doc matches only the prefix clause (term_score 0)
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    toks = docs["text"].str.split(" ")
    has_prefix = toks.apply(
        lambda t: any(w.startswith(es.MBP_PREFIX) for w in t)
    )
    has_term = toks.apply(lambda t: es.MBP_TERM in t)
    assert (
        len(df) > 0
        and df["score"].iloc[0] >= df["score"].iloc[len(df) - 1]
    )
    assert (has_prefix | has_term).sum() >= len(df)


def test_rescore_stays_inside_window(spark):
    df = es.search_rescore_window(spark, SF).toPandas()
    assert len(df) <= es.RS_TOPK
    # rescored docs must come from the first-pass top-RS_WINDOW
    from hbase_observer_elasticsearch_spark.operators.text import (
        BM25_TERMS,
        _bm25_agg,
    )

    first = (
        _bm25_agg(spark, SF, BM25_TERMS)
        .orderBy("bm25", ascending=False)
        .toPandas()
        .sort_values(["bm25", "doc_id"], ascending=[False, True])
        .head(es.RS_WINDOW)
    )
    assert set(df["doc_id"]) <= set(first["doc_id"])
    # blend formula holds
    blend = es.RS_QW * df["bm25"] + es.RS_RW * df["n_phrase"]
    assert (abs(df["final_score"] - blend) < 1e-12).all()


def test_termvectors_statistics(spark):
    df = es.search_termvectors(spark, SF).toPandas()
    assert (df["doc_id"] < es.TV_MAX_DOC).all()
    assert (df["tf"] >= es.TV_MIN_TF).all()
    assert (df["ttf"] >= df["tf"]).all()
    assert (df["df"] >= 1).all()
    assert (df["first_pos"] >= 0).all()


def test_sliced_scroll_partitions(spark):
    df = es.search_sliced_scroll(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    assert df["n_docs"].sum() == len(docs)
    assert df["id_checksum"].sum() == docs["doc_id"].sum()
    assert df["slice"].between(0, es.SCROLL_SLICES - 1).all()
    assert df["slice"].is_unique


def test_phrase_suggester_candidates(spark):
    df = es.search_phrase_suggester(spark, SF).toPandas()
    assert len(df) > 0
    assert (df["dist"] <= 1).all()
    assert df["score"].between(0.0, 1.0).all()
    assert list(df.sort_values("rk")["score"]) == sorted(
        df["score"], reverse=True
    )
    # the LM must use real context: any candidate with both bigrams
    # attested outranks one with neither (same smoothing denominator
    # family, strictly larger numerators)
    both = df[(df["bg_prev"] > 0) & (df["bg_next"] > 0)]
    neither = df[(df["bg_prev"] == 0) & (df["bg_next"] == 0)]
    if len(both) and len(neither):
        assert both["score"].max() > neither["score"].max()
