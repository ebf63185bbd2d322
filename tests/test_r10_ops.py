"""Operator semantics: Theil–Sen robustness vs OLS, and
linkage entity transitivity."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from hbase_observer_elasticsearch_spark.operators.time_windows import (
    events_ols_trend_daily,
    events_theil_sen_trend,
)


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_theil_sen_ignores_outlier_day_ols_does_not(spark, tmp_path):
    # clean series: y = 10 + 2x over 15 days; one flash-sale outlier day
    base = dt.datetime(2024, 1, 1)
    clean, spiked = [], []
    for x in range(15):
        val = 10.0 + 2.0 * x
        # spike the LAST day — an end-of-series outlier has maximal
        # leverage on OLS (a centered one has none)
        for rows, v in ((clean, val), (spiked, 900.0 if x == 14 else val)):
            rows.append(
                (x, base + dt.timedelta(days=x), 1, "click", v, "{}")
            )
    d_clean, d_spiked = str(tmp_path / "clean"), str(tmp_path / "spiked")
    _write_events(spark, d_clean, clean)
    _write_events(spark, d_spiked, spiked)

    ts_clean = events_theil_sen_trend(spark, d_clean).collect()[0]
    ts_spiked = events_theil_sen_trend(spark, d_spiked).collect()[0]
    ols_clean = events_ols_trend_daily(spark, d_clean).collect()[0]
    ols_spiked = events_ols_trend_daily(spark, d_spiked).collect()[0]

    assert abs(ts_clean.ts_slope - 2.0) < 1e-9
    assert abs(ols_clean.slope - 2.0) < 1e-9
    # the single outlier day must not move the Theil-Sen slope...
    assert abs(ts_spiked.ts_slope - 2.0) < 1e-9
    # ...while OLS is dragged well off the true slope
    assert abs(ols_spiked.slope - 2.0) > 1.0
    assert ts_clean.n_pairs == 15 * 14 // 2


def test_linkage_entities_are_transitive(spark, monkeypatch, tmp_path):
    # one customer whose (band, cents2) agree with TWO suppliers -> a
    # single 3-member entity; everyone else singleton.
    import hbase_observer_elasticsearch_spark.operators.relational as rel

    cust = spark.createDataFrame(
        [
            (1, "Customer#000000001", 7, 1234.56, "BUILDING"),
            (2, "Customer#000000002", 7, 42.00, "MACHINERY"),
        ],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    supp = spark.createDataFrame(
        [
            # same 500-band as c1 (1234.56 -> band 2) and same cents2 (56)
            (10, "Supplier#000000010", 7, 1000.56),
            (11, "Supplier#000000011", 7, 1400.56),
            # different nation: never a candidate pair
            (12, "Supplier#000000012", 8, 1234.56),
        ],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    real_load = rel.load_table

    def fake_load(spark_, sf_dir, name):
        if name == "customer":
            return cust
        if name == "supplier":
            return supp
        return real_load(spark_, sf_dir, name)

    monkeypatch.setattr(rel, "load_table", fake_load)
    out = {
        r.entity_size: r
        for r in rel.join_record_linkage_entities(spark, "x").collect()
    }
    # c1+s10+s11 fused (band+cents2 agree => score 7.4M >= upper);
    # c2, s12 singletons
    assert out[3].n_entities == 1
    assert out[3].n_customers == 1 and out[3].n_suppliers == 2
    assert out[1].n_entities == 2
