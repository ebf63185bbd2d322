"""Invariant / cross-check tests for the r4f additions: bloom
membership, event-rate anomaly, time-constrained patterns, quality
deciles, and z-order locality."""

from __future__ import annotations

import duckdb
import pandas as pd

from hbase_observer_elasticsearch_spark.catalog import load_table
from hbase_observer_elasticsearch_spark.operators.profiling import (
    layout_zorder_locality,
)
from hbase_observer_elasticsearch_spark.operators.quality import (
    corpus_quality_deciles,
)
from hbase_observer_elasticsearch_spark.operators.sketches import (
    BLOOM_K,
    BLOOM_M,
    sketch_bloom_membership,
)
from hbase_observer_elasticsearch_spark.operators.time_windows import (
    events_pattern_within,
    events_rate_anomaly,
)


def test_bloom_no_false_negatives(spark, sf_dir):
    rows = sketch_bloom_membership(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.actually_present:
            assert r.bloom_hit, "bloom filters never miss a member"
        assert r.false_positive == (r.bloom_hit and not r.actually_present)
    # with m=1024, k=3 the FP rate must stay well under 50%
    absent = [r for r in rows if not r.actually_present]
    if absent:
        fp = sum(r.false_positive for r in absent) / len(absent)
        assert fp < 0.5


def test_rate_anomaly_ratios(spark, sf_dir):
    out = events_rate_anomaly(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_days = ev.selectExpr("date_trunc('day', ts) AS d").distinct().count()
    assert len(out) == n_days - 1  # first day has no predecessor
    for r in out:
        assert abs(r.rate_ratio - r.n_events / r.prev_n) < 1e-12
        assert r.is_anomaly == (r.rate_ratio >= 2.0 or r.rate_ratio <= 0.5)


def test_pattern_within_bruteforce(spark, sf_dir):
    out = {
        r.user_id: (r.n_views, r.n_converted)
        for r in events_pattern_within(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .filter("event_type IN ('view', 'purchase')")
        .select("user_id", "event_id", "ts", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    expect: dict[int, list[int]] = {}
    for uid, grp in ev.groupby("user_id"):
        # mirror the operator's (ts, event_id) tie-break: a purchase at
        # the SAME timestamp as the view but with a later event_id is a
        # following row, hence a conversion candidate (a
        # ts-only comparison would miss same-ts collisions)
        views = list(
            grp[grp.event_type == "view"][["ts", "event_id"]].itertuples(
                index=False, name=None
            )
        )
        purch = sorted(
            grp[grp.event_type == "purchase"][["ts", "event_id"]].itertuples(
                index=False, name=None
            )
        )
        n_conv = 0
        for vts, vid in views:
            later = [pts for pts, pid in purch if (pts, pid) > (vts, vid)]
            if later and (min(later) - vts) <= pd.Timedelta(hours=1):
                n_conv += 1
        if n_conv > 0:
            expect[uid] = [len(views), n_conv]
    assert {u: tuple(v) for u, v in expect.items()} == out


def test_quality_deciles_partition_docs(spark, sf_dir):
    rows = corpus_quality_deciles(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert {r.decile for r in rows} == set(range(1, 11))
    by_dec = sorted(rows, key=lambda r: r.decile)
    # score ranges are non-decreasing across deciles
    for a, b in zip(by_dec, by_dec[1:]):
        assert a.min_ttr <= a.max_ttr <= b.min_ttr + 1e-12


def test_zorder_morton_bruteforce(spark, sf_dir):
    out = {r.z_bucket: r for r in layout_zorder_locality(spark, sf_dir).collect()}
    li = duckdb.sql(
        f"SELECT l_partkey, l_suppkey FROM '{sf_dir}/lineitem.parquet'"
    ).df()

    def morton(p: int, s: int) -> int:
        z = 0
        for i in range(8):
            z |= ((p >> i) & 1) << (2 * i)
            z |= ((s >> i) & 1) << (2 * i + 1)
        return z

    li["zb"] = [
        morton(p, s) // 256 for p, s in zip(li.l_partkey, li.l_suppkey)
    ]
    grp = li.groupby("zb").agg(
        n=("l_partkey", "size"),
        ndv_p=("l_partkey", "nunique"),
        ndv_s=("l_suppkey", "nunique"),
    )
    assert len(grp) == len(out)
    for zb, row in grp.iterrows():
        r = out[zb]
        assert (r.n_rows, r.ndv_part, r.ndv_supp) == (
            row.n,
            row.ndv_p,
            row.ndv_s,
        )


def test_rfm_quartiles_partition_customers(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.catalog import load_table
    from hbase_observer_elasticsearch_spark.operators.reshape import (
        customer_rfm_segments,
    )

    rows = customer_rfm_segments(spark, sf_dir).collect()
    n_cust = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    for r in rows:
        assert 1 <= r.r_score <= 4 and 1 <= r.f_score <= 4 and 1 <= r.m_score <= 4


def test_mad_outliers_invariants(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.operators.skew_agg import (
        events_anomaly_mad,
    )

    for r in events_anomaly_mad(spark, sf_dir).collect():
        assert r.mad >= 0
        assert 0 <= r.n_outliers <= r.n_events


def test_stickiness_bounds(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.operators.time_windows import (
        events_dau_mau_stickiness,
    )

    rows = events_dau_mau_stickiness(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.dau <= r.mau
        assert 0.0 < r.stickiness <= 1.0


def test_row_rules_fixtures_pass(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.operators.quality import (
        quality_row_rules,
    )

    rows = quality_row_rules(spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert r.passes == (r.n_violations == 0)


def test_backlog_never_negative_and_ends_at_zero(spark, sf_dir):
    from hbase_observer_elasticsearch_spark.operators.time_windows import (
        orders_open_backlog,
    )

    rows = sorted(
        orders_open_backlog(spark, sf_dir).collect(), key=lambda r: r.day
    )
    assert rows
    assert all(r.open_orders >= 0 for r in rows)
    # every order eventually ships: the sweep returns to a small tail
    assert rows[-1].open_orders <= rows[len(rows) // 2].open_orders
