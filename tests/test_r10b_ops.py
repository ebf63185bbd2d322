"""Operator semantics: theta-sketch set algebra,
isotonic calibration (PAV), modularity, co-visitation, pinball quantile,
ACF, and the ES function_score / more_like_this query shapes.

Planted-fixture tests: each writes a tiny corpus whose correct answer is
known in closed form, so the assertions check SEMANTICS (not just
engine-vs-oracle agreement, which tools/check.py already covers)."""

from __future__ import annotations

import datetime as dt
import math

from hbase_observer_elasticsearch_spark.operators.quality import (
    quality_isotonic_calibration,
)
from hbase_observer_elasticsearch_spark.operators.relational import (
    basket_covisitation_topk,
)
from hbase_observer_elasticsearch_spark.operators.sketches import (
    THETA_K,
    sketch_theta_set_ops,
)
from hbase_observer_elasticsearch_spark.operators.text import (
    search_function_score_decay,
    search_more_like_this,
)
from hbase_observer_elasticsearch_spark.operators.time_windows import (
    events_acf_daily,
    events_quantile_regression,
)


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


# --- theta sketch -----------------------------------------------------------


def test_theta_exact_mode_small_sets(spark, tmp_path):
    """Sets smaller than THETA_K run in exact mode (theta = 1.0): every
    estimate must EQUAL the exact set-op cardinality."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    # A = users 0..99, B = users 50..149 -> |A ∩ B| = 50, |A ∪ B| = 150
    for u in range(100):
        rows.append((u, base, u, "a_type", 1.0, "{}"))
    for u in range(50, 150):
        rows.append((1000 + u, base, u, "b_type", 1.0, "{}"))
    d = str(tmp_path / "ev")
    _write_events(spark, d, rows)
    assert 100 < THETA_K  # precondition: exact mode
    r = sketch_theta_set_ops(spark, d).collect()
    assert len(r) == 1
    row = r[0]
    assert row.theta_min == 1.0
    assert row.exact_overlap == 50 and row.est_intersect == 50.0
    assert row.exact_union == 150 and row.est_union == 150.0
    assert row.exact_diff_ab == 50 and row.est_diff_ab == 50.0


def test_theta_estimate_mode_within_rse(spark, tmp_path):
    """Above THETA_K the estimates must land within ~4 RSE of truth
    (RSE ~ 1/sqrt(k-1) ~ 6.3%) on a large planted overlap."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    # A = 0..3999, B = 2000..5999 -> union 6000, intersection 2000
    eid = 0
    for u in range(4000):
        rows.append((eid, base, u, "a_type", 1.0, "{}")); eid += 1
    for u in range(2000, 6000):
        rows.append((eid, base, u, "b_type", 1.0, "{}")); eid += 1
    d = str(tmp_path / "ev")
    _write_events(spark, d, rows)
    row = sketch_theta_set_ops(spark, d).collect()[0]
    assert row.theta_min < 1.0
    tol = 4.0 / math.sqrt(THETA_K - 1)
    assert abs(row.est_union - 6000) / 6000 < tol
    assert abs(row.est_intersect - 2000) / 2000 < tol


# --- isotonic calibration ---------------------------------------------------


def test_isotonic_output_is_monotone_and_mass_preserving(spark):
    df = quality_isotonic_calibration(
        spark, "/root/testdata/sf0.001"
    ).collect()
    rows = sorted(df, key=lambda r: r.decile)
    # PAV output is non-decreasing by construction
    for a, b in zip(rows, rows[1:]):
        assert b.iso_rate >= a.iso_rate - 1e-12
        assert b.monotone_ok
    # PAV preserves the weighted mean (projection property)
    tot = sum(r.n_docs for r in rows)
    obs_mass = sum(r.obs_rate * r.n_docs for r in rows)
    iso_mass = sum(r.iso_rate * r.n_docs for r in rows)
    assert abs(obs_mass - iso_mass) / tot < 1e-9


# --- co-visitation ----------------------------------------------------------


def test_covisitation_cosine_and_symmetry(spark):
    rows = basket_covisitation_topk(spark, "/root/testdata/sf0.001").collect()
    assert rows, "expected co-visitation pairs at sf0.001"
    by_key = {(r.item, r.neighbor): r for r in rows}
    for r in rows:
        assert 0.0 < r.cosine_sim <= 1.0
        assert 1 <= r.rk <= 3
        # if the reverse direction also survived its own top-k, the
        # similarity must be identical (cosine is symmetric)
        rev = by_key.get((r.neighbor, r.item))
        if rev is not None:
            assert rev.cosine_sim == r.cosine_sim


# --- pinball quantile -------------------------------------------------------


def test_quantile_regression_recovers_true_quantile(spark, tmp_path):
    """On values 1..100 the tau=0.75 pinball argmin over the 21-point
    order-stat grid must sit at the 75th percentile neighborhood."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), i, "t", float(i + 1), "{}")
        for i in range(100)
    ]
    d = str(tmp_path / "ev")
    _write_events(spark, d, rows)
    r = events_quantile_regression(spark, d).collect()[0]
    assert r.tau == 0.75
    # any minimizer of the 0.75 pinball loss on 1..100 lies in [75, 76];
    # the grid contains 75.25-ish order stats -> accept the closed range
    assert 74.0 <= r.q_estimate <= 77.0
    assert r.n_events == 100


# --- ACF --------------------------------------------------------------------


def test_acf_period2_series_alternates_sign(spark, tmp_path):
    """A strict period-2 series (100, 200, 100, 200, ...) has ACF ~ -1
    at lag 1 and ~ +1 at lag 2."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in range(20):
        n = 100 if day % 2 == 0 else 200
        for k in range(n):
            rows.append(
                (eid, base + dt.timedelta(days=day, seconds=k), k, "t", 1.0, "{}")
            )
            eid += 1
    d = str(tmp_path / "ev")
    _write_events(spark, d, rows)
    acf = {r.lag: r.r_acf for r in events_acf_daily(spark, d).collect()}
    assert acf[1] < -0.9
    assert acf[2] > 0.85
    assert all(r <= 1.0 + 1e-12 for r in acf.values())


def test_acf_gap_fill_counts_missing_day_as_zero(spark, tmp_path):
    """A missing calendar day must enter the series as 0, not be spliced
    out: with days {1,3} present, n_days must be 3."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        (0, base, 1, "t", 1.0, "{}"),
        (1, base + dt.timedelta(days=2), 1, "t", 1.0, "{}"),
    ]
    d = str(tmp_path / "ev")
    _write_events(spark, d, rows)
    rows_out = events_acf_daily(spark, d).collect()
    assert all(r.n_days == 3 for r in rows_out)


# --- ES query shapes --------------------------------------------------------


def test_function_score_decay_shape(spark, tmp_path):
    """Linear decay: 1.0 within offset of the origin, 0.5 at
    offset+scale, linear in between — and the final score is the plain
    product with the relevance score."""
    docs = [
        # same text -> identical relevance; only n_chars differs
        (1, "spark spark row", "en", "s", 300),   # at origin -> f = 1.0
        (2, "spark spark row", "en", "s", 350),   # at offset edge -> 1.0
        (3, "spark spark row", "en", "s", 500),   # dist 150 -> (300-150)/300 = 0.5
        (4, "spark spark row", "en", "s", 425),   # dist 75 -> 0.75
        (5, "other words here", "en", "s", 300),  # no term -> absent
    ]
    d = str(tmp_path / "docs")
    _write_docs(spark, d, docs)
    out = {r.doc_id: r for r in search_function_score_decay(spark, d).collect()}
    assert 5 not in out
    assert out[1].decay_f == 1.0 and out[2].decay_f == 1.0
    assert out[3].decay_f == 0.5
    assert out[4].decay_f == 0.75
    for r in out.values():
        assert abs(r.fscore - r.ts * r.decay_f) < 1e-12
    # ranking follows the decayed score: doc 1/2 above 4 above 3
    assert out[1].rk < out[4].rk < out[3].rk


def test_more_like_this_finds_near_copy_first(spark, tmp_path):
    """The top MLT hit for the seed must be its near-copy, not the
    unrelated documents; seed itself is excluded."""
    seed_text = "alpha alpha beta beta gamma gamma delta common"
    docs = [
        (1, seed_text, "en", "s", len(seed_text)),          # seed (min doc_id)
        (2, "alpha beta gamma delta common", "en", "s", 29),  # near copy
        (3, "zeta eta theta common common", "en", "s", 28),   # unrelated
        (4, "alpha common zeta", "en", "s", 17),              # partial
        (5, "iota kappa lambda", "en", "s", 17),              # disjoint
    ]
    d = str(tmp_path / "docs")
    _write_docs(spark, d, docs)
    rows = search_more_like_this(spark, d).collect()
    ids = [r.doc_id for r in sorted(rows, key=lambda r: r.rk)]
    assert 1 not in ids  # seed excluded
    assert ids[0] == 2   # near-copy ranks first
    assert 5 not in ids  # disjoint doc never matches


# --- ES aggregation-DSL fidelity (batch 3) ----------------------------------

from hbase_observer_elasticsearch_spark.operators.text import (  # noqa: E402
    search_date_histogram_pipeline,
    search_percolate_queries,
    search_term_suggester,
    search_terms_agg_shard_error,
)


def test_terms_agg_error_bound_holds_and_is_tight_enough(spark):
    rows = search_terms_agg_shard_error(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        # ES invariant: reported count never exceeds the truth, and the
        # truth never exceeds reported + error bound
        assert r.doc_count <= r.true_count
        assert r.bound_holds
        assert r.doc_count_error_upper_bound >= 0


def test_date_histogram_zero_fills_and_derivative(spark, tmp_path):
    base = dt.datetime(2024, 3, 1)
    rows = [
        (0, base, 1, "t", 1.0, "{}"),
        (1, base, 2, "t", 1.0, "{}"),
        # day 2 missing entirely -> zero-filled bucket
        (2, base + dt.timedelta(days=2), 1, "t", 1.0, "{}"),
    ]
    d = str(tmp_path / "ev")
    _write_events(spark, d, rows)
    out = sorted(
        search_date_histogram_pipeline(spark, d).collect(),
        key=lambda r: r.day,
    )
    assert [r.doc_count for r in out] == [2, 0, 1]
    assert [r.cumulative_count for r in out] == [2, 2, 3]
    assert out[0].derivative is None
    assert out[1].derivative == -2 and out[2].derivative == 1


def test_percolate_bool_must_semantics(spark, tmp_path):
    docs = [
        (1, "spark join stream", "en", "s", 17),   # q_spark_join only
        (2, "spark stream window", "en", "s", 19), # q_stream_window only
        (3, "spark alone here", "en", "s", 16),    # matches nothing fully
        (4, "join spark window stream", "en", "s", 24),  # both
    ]
    d = str(tmp_path / "docs")
    _write_docs(spark, d, docs)
    out = {r.query_id: r for r in search_percolate_queries(spark, d).collect()}
    assert out["q_spark_join"].n_matched_docs == 2
    assert out["q_spark_join"].matched_id_sum == 1 + 4
    assert out["q_stream_window"].n_matched_docs == 2
    assert out["q_stream_window"].matched_id_sum == 2 + 4
    assert out["q_vector"].n_matched_docs == 0
    assert out["q_vector"].matched_id_sum == 0


def test_term_suggester_prefers_distance_then_frequency(spark, tmp_path):
    docs = [
        (1, "spark spark spark spork stark", "en", "s", 30),
        (2, "spark table tables", "en", "s", 18),
    ]
    d = str(tmp_path / "docs")
    _write_docs(spark, d, docs)
    rows = [
        r
        for r in search_term_suggester(spark, d).collect()
        if r.misspelled == "spakr"
    ]
    ranked = [r.suggestion for r in sorted(rows, key=lambda r: r.rk)]
    # 'spark' is 2 transposed chars = distance 2... actually 'spakr' ->
    # 'spark' is one transposition = 2 single-char edits under plain
    # levenshtein; 'spork'/'stark' are distance 2 from 'spark' but
    # 'spakr'->'spork' is 3. Verify ordering is (distance, freq desc):
    assert ranked[0] == "spark"
    for r in rows:
        assert r.edit_distance <= 2


# --- group split + centroid drift (batch 4) ----------------------------------

import hashlib  # noqa: E402

from hbase_observer_elasticsearch_spark.operators.sampling import (  # noqa: E402
    sample_group_split_noleak,
)
from hbase_observer_elasticsearch_spark.operators.similarity import (  # noqa: E402
    similarity_centroid_drift,
)


def test_group_split_is_leak_free_and_partitions_corpus(spark):
    rows = sample_group_split_noleak(spark, "/root/testdata/sf0.001").collect()
    by_split = {r.split: r for r in rows}
    assert set(by_split) <= {"train", "valid", "test"}
    assert all(r.leak_free for r in rows)
    assert abs(sum(r.docs_frac for r in rows) - 1.0) < 1e-12
    # train must dominate under the 205/25/26 gate
    assert by_split["train"].n_docs > by_split.get(
        "valid", by_split["train"]
    ).n_docs or "valid" not in by_split


def _drift_cohort(vec_id: int) -> str:
    h = hashlib.md5(f"drift:{vec_id}".encode()).hexdigest()[:2]
    return "a" if h < "80" else "b"


def test_centroid_drift_detects_planted_shift(spark, tmp_path):
    """Plant cohort-a vectors at 0 and cohort-b vectors at 1 in every
    dimension (cohort computed with the exact md5 gate the operator
    uses): shift must be -1 per dim and sq_l2_shift == d."""
    d_dim = 8
    rows = []
    for vid in range(200):
        c = 0.0 if _drift_cohort(vid) == "a" else 1.0
        rows.append((vid, [c] * d_dim, 0))
    path = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/embeddings.parquet"
    )
    out = similarity_centroid_drift(spark, path).collect()
    assert len(out) == d_dim  # top-10 capped at d=8 dims
    for r in out:
        assert r.mu_a == 0.0 and r.mu_b == 1.0
        assert r.shift == -1.0
        assert abs(r.sq_l2_shift - d_dim) < 1e-9


# --- filtered ANN, mutual kNN, clustering factor (batch 5) --------------------

from hbase_observer_elasticsearch_spark.operators.planning import (  # noqa: E402
    layout_clustering_factor,
)
from hbase_observer_elasticsearch_spark.operators.similarity import (  # noqa: E402
    TOPK,
    similarity_filtered_ann_recall,
    similarity_mutual_knn,
)


def test_filtered_ann_postfilter_is_lossy_prefilter_is_exact(spark):
    rows = similarity_filtered_ann_recall(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        # post-filter keeps at most the unfiltered top-k
        assert 0 <= r.n_retained <= TOPK
        # every retained-and-correct hit counts toward recall
        assert 0 <= r.n_hit <= r.n_retained
        assert abs(r.recall_postfilter - r.n_hit / TOPK) < 1e-12
        assert r.shortfall == (r.n_retained < TOPK)
    # with a ~50%-selective predicate, SOME query must fall short —
    # that measured shortfall is the point of the audit
    assert any(r.shortfall for r in rows)


def test_mutual_knn_is_symmetric_and_bounded(spark):
    rows = similarity_mutual_knn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    n_edges = rows[0].n_edges
    assert all(r.n_edges == n_edges for r in rows)
    # sum of degrees = 2 * edges (handshake lemma)
    assert sum(r.n_mutual for r in rows) == 2 * n_edges
    for r in rows:
        assert 1 <= r.n_mutual <= TOPK
        assert abs(r.mutuality_rate - r.n_mutual / TOPK) < 1e-12


def test_clustering_factor_sorted_vs_scattered(spark, tmp_path):
    """A column equal to the sort key clusters perfectly (runs ==
    distinct); a column alternating against it scatters (runs ~ rows)."""
    rows = [
        # l_orderkey ascending = the sort order; l_partkey alternates
        (i, i % 2, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
         __import__("datetime").datetime(2024, 1, 1 + i))
        for i in range(20)
    ]
    path = str(tmp_path / "li")
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
    out = {r.column_name: r for r in layout_clustering_factor(spark, path).collect()}
    ok = out["l_orderkey"]
    assert ok.n_runs == ok.n_distinct == 20  # sort key: one run per value
    assert ok.runs_per_distinct == 1.0
    pk = out["l_partkey"]
    assert pk.n_distinct == 2 and pk.n_runs == 20  # fully scattered
    assert pk.runs_per_distinct == 10.0


# --- streaming theta sketch (batch 6) ----------------------------------------

from hbase_observer_elasticsearch_spark.operators.stream_queries import (  # noqa: E402
    stream_theta_distinct,
)


def test_stream_theta_state_is_order_free(spark):
    """The streaming drain must equal the batch KMV sketch exactly —
    min-k state is commutative/associative/idempotent, so micro-batch
    boundaries cannot change the final (theta, estimate)."""
    rows = {r.op: r for r in stream_theta_distinct(
        spark, "/root/testdata/sf0.001"
    ).collect()}
    assert set(rows) == {"put", "delete"}
    for r in rows.values():
        assert 1 <= r.n_retained <= THETA_K
        if r.n_retained < THETA_K:  # exact mode
            assert r.theta == 1.0 and r.est_distinct == float(r.n_retained)
        else:
            assert 0.0 < r.theta < 1.0
            assert r.est_distinct == (THETA_K - 1) / r.theta


# --- conformal interval + weighted median (batch 7) ---------------------------

from hbase_observer_elasticsearch_spark.operators.quality import (  # noqa: E402
    quality_conformal_interval,
)
from hbase_observer_elasticsearch_spark.operators.relational import (  # noqa: E402
    agg_weighted_median,
)


def test_conformal_coverage_near_target(spark):
    r = quality_conformal_interval(spark, "/root/testdata/sf0.01").collect()[0]
    assert r.target_level == 0.9
    assert r.q_hat > 0
    assert r.n_calib > 0 and r.n_test > 0
    # split-conformal marginal-coverage guarantee is in expectation over
    # splits; on one fixed split allow a finite-sample band
    assert 0.80 <= r.coverage <= 1.0


def test_weighted_median_expansion_equivalence(spark, tmp_path):
    """The weighted median must equal the plain median of the
    quantity-expanded multiset."""
    rows = [
        # flag A: prices 10 (w1), 20 (w1), 30 (w8) -> expanded median 30
        (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "A", "O",
         __import__("datetime").datetime(2024, 1, 1)),
        (2, 1, 1, 1, 1.0, 20.0, 0.0, 0.0, "A", "O",
         __import__("datetime").datetime(2024, 1, 1)),
        (3, 1, 1, 1, 8.0, 30.0, 0.0, 0.0, "A", "O",
         __import__("datetime").datetime(2024, 1, 1)),
        # flag B: prices 5 (w3), 50 (w1) -> expanded median 5
        (4, 1, 1, 1, 3.0, 5.0, 0.0, 0.0, "B", "O",
         __import__("datetime").datetime(2024, 1, 1)),
        (5, 1, 1, 1, 1.0, 50.0, 0.0, 0.0, "B", "O",
         __import__("datetime").datetime(2024, 1, 1)),
    ]
    path = str(tmp_path / "li")
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
    out = {r.l_returnflag: r for r in agg_weighted_median(spark, path).collect()}
    assert out["A"].weighted_median == 30.0 and out["A"].total_weight == 10
    assert out["B"].weighted_median == 5.0 and out["B"].total_weight == 4


# --- ARI + ES join-field (batch 8) -------------------------------------------

from hbase_observer_elasticsearch_spark.operators.dedup import (  # noqa: E402
    dedup_cluster_ari,
)
from hbase_observer_elasticsearch_spark.operators.text import (  # noqa: E402
    search_es_join_field,
)


def test_ari_identical_partitions_on_dup_free_corpus(spark, tmp_path):
    """With no duplicates at all, both partitions are all-singletons —
    identical — so ARI is 1.0 by convention (num == den)."""
    docs = [
        (i, f"unique{i} word{i} token{i} extra{i}", "en", "s", 30)
        for i in range(12)
    ]
    d = str(tmp_path / "docs")
    _write_docs(spark, d, docs)
    r = dedup_cluster_ari(spark, d).collect()[0]
    assert r.n_docs == 12
    assert r.s_ij == 0 and r.s_a == 0 and r.s_b == 0
    # 0/0 form: engines return NULL for 0/0 double division
    assert r.ari is None


def test_ari_fixture_is_bounded_and_consistent(spark):
    r = dedup_cluster_ari(spark, "/root/testdata/sf0.001").collect()[0]
    # pair-count invariants: contingency pairs can never exceed either margin
    assert r.s_ij <= r.s_a and r.s_ij <= r.s_b
    if r.ari is not None:
        assert -1.0 <= r.ari <= 1.0


def test_es_join_field_semi_join_semantics(spark, tmp_path):
    import datetime as dtm

    orders = [
        (1, 1, "O", 10.0, dtm.datetime(2024, 1, 1), "1-URGENT"),
        (2, 1, "O", 10.0, dtm.datetime(2024, 1, 1), "5-LOW"),
        (3, 1, "F", 10.0, dtm.datetime(2024, 1, 1), "1-URGENT"),
    ]
    lines = [
        # order 1: returned + big qty -> has_child hit
        (1, 1, 1, 1, 50.0, 1.0, 0.0, 0.0, "R", "O", dtm.datetime(2024, 1, 2)),
        # order 2: returned but small qty -> no hit
        (2, 1, 1, 1, 10.0, 1.0, 0.0, 0.0, "R", "O", dtm.datetime(2024, 1, 2)),
        # order 3: no lines at all
    ]
    path = str(tmp_path / "db")
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
    out = {r.query_kind: r for r in search_es_join_field(spark, path).collect()}
    assert out["has_child"].n_hits == 1
    assert out["has_child"].id_checksum == 1
    # has_parent: lines of urgent orders -> only order 1's line qualifies
    # (order 3 is urgent but has no children)
    assert out["has_parent"].n_hits == 1
    assert out["has_parent"].id_checksum == 1 * 100 + 1
