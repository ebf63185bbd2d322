"""Operator invariants: IVM delta maintenance on a planted
change stream, the 1-bit MinHash estimator identity, partition-pruning touch rules, and SPRT micro-unit math."""

from __future__ import annotations

import math

import hbase_observer_elasticsearch_spark.operators.dedup as dd
import hbase_observer_elasticsearch_spark.operators.planning as pl
import hbase_observer_elasticsearch_spark.operators.skew_agg as sk
import hbase_observer_elasticsearch_spark.operators.time_windows as tw
from hbase_observer_elasticsearch_spark.memos import clear_memos
from hbase_observer_elasticsearch_spark.operators.dedup import (
    dedup_minhash_bbit,
)
from hbase_observer_elasticsearch_spark.operators.planning import (
    layout_partition_pruning_sim,
)
from hbase_observer_elasticsearch_spark.operators.skew_agg import (
    IVM_GROUPS,
    cdc_live_rollup_ivm,
)
from hbase_observer_elasticsearch_spark.operators.time_windows import (
    SPRT_BOUND_U,
    SPRT_CF_U,
    SPRT_CS_U,
    events_sprt_monitor,
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
ORDERS_SCHEMA = "o_orderkey long, o_orderdate timestamp"


def _ev(eid, etype="click", value=20.0):
    import datetime

    return (eid, datetime.datetime(2024, 1, 1), 1, etype, value, "{}")


def test_ivm_live_rollup_planted_chain(spark, monkeypatch):
    # One rowkey (0) hit three times: tombstone (id 0, 0%11==0), upsert
    # v=5 (id 512), upsert v=7 (id 1024). max+1 = 1025 -> epochs 0,1,3.
    events = spark.createDataFrame(
        [_ev(0, value=9.0), _ev(512, value=5.0), _ev(1024, value=7.0)],
        EVENTS_SCHEMA,
    )
    monkeypatch.setattr(sk, "load_table", lambda s, sf, n: events)
    rows = {
        (r.grp, r.epoch): r for r in cdc_live_rollup_ivm(spark, "r9").collect()
    }
    assert len(rows) == IVM_GROUPS * 4
    assert all(r.maintained_ok for r in rows.values())
    g0 = [rows[(0, e)] for e in range(4)]
    assert [r.live_keys for r in g0] == [0, 1, 1, 1]
    assert [r.live_sum for r in g0] == [0.0, 5.0, 5.0, 7.0]
    # every other group stays empty
    assert all(
        rows[(g, e)].live_keys == 0
        for g in range(1, IVM_GROUPS)
        for e in range(4)
    )


def test_bbit_estimator_identity_on_exact_dupes(spark, monkeypatch):
    # identical docs: J = 1, every minhash bit agrees -> est = 1, err = 0
    t = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, t, "en", "s", len(t)), (2, t, "en", "s", len(t))], DOC_SCHEMA
    )
    monkeypatch.setattr(dd, "load_table", lambda s, sf, n: docs)
    try:
        rows = dedup_minhash_bbit(spark, "r9-bbit").collect()
    finally:
        clear_memos()
    assert len(rows) == 1
    r = rows[0]
    assert (r.j_decile, r.n_pairs) == (9, 1)
    assert r.mean_jaccard == 1.0
    assert r.mean_est_1bit == 1.0
    assert r.mean_abs_err == 0.0


def test_partition_pruning_touch_rule(spark, monkeypatch):
    import datetime

    # two months of data; the one_month predicate (1996-03) touches only
    # the March partition at month grain, everything at year grain
    orders = spark.createDataFrame(
        [
            (1, datetime.datetime(1996, 3, 10)),
            (2, datetime.datetime(1996, 3, 20)),
            (3, datetime.datetime(1996, 6, 5)),
        ],
        ORDERS_SCHEMA,
    )
    monkeypatch.setattr(pl, "load_table", lambda s, sf, n: orders)
    rows = {
        (r.grain, r.predicate): r
        for r in layout_partition_pruning_sim(spark, "r9").collect()
    }
    m = rows[("month", "one_month")]
    assert (m.n_parts, m.n_touched) == (2, 1)
    assert m.prune_frac == 0.5
    y = rows[("year", "one_month")]
    assert (y.n_parts, y.n_touched) == (1, 1)
    assert y.prune_frac == 0.0
    # skew: month grain has parts of 2 and 1 rows -> max/avg = 2*2/3
    assert m.skew_max_over_avg == 2 * 2 / 3


def test_sprt_micro_unit_math(spark, monkeypatch):
    # 20 successes, 0 failures, one type, ids 0..19 -> 10 epochs of 2
    events = spark.createDataFrame(
        [_ev(i, value=50.0) for i in range(20)], EVENTS_SCHEMA
    )
    monkeypatch.setattr(tw, "load_table", lambda s, sf, n: events)
    rows = sorted(
        events_sprt_monitor(spark, "r9").collect(), key=lambda r: r.epoch
    )
    assert len(rows) == 10
    for r in rows:
        assert r.s_cum == r.n_cum
        assert r.llr == (r.s_cum * SPRT_CS_U) / 1e12
        expected = (
            "accept_h1" if r.s_cum * SPRT_CS_U >= SPRT_BOUND_U else "continue"
        )
        assert r.decision == expected
    # constants really are the frozen micro-unit logs
    assert SPRT_CS_U == round(math.log(0.84 / 0.80) * 10**12)
    assert SPRT_CF_U == round(math.log(0.16 / 0.20) * 10**12)


def test_ivm_stream_restart_exactly_once(spark, tmp_path, monkeypatch):
    """Keyed IVM state survives a checkpointed restart: drain half the
    feed, stop, reveal the rest, drain again from the SAME checkpoint —
    the union of the two runs' emitted deltas must be every mutation's
    delta exactly once, with the second run's prev values continuing the
    first run's state (not reset to empty)."""
    import glob
    import os
    import shutil

    from hbase_observer_elasticsearch_spark.sources.changefeed import (
        write_changefeed_stream_dir,
    )
    from hbase_observer_elasticsearch_spark.streaming.stateful import (
        stateful_ivm_deltas,
    )

    # rowkey 0 gets updates in files 1 and 2 (restart boundary between):
    # ids 0 (tombstone), 512 (v=5) land in the first half; 1024 (v=7),
    # 1536 (v=3) in the second.
    events = spark.createDataFrame(
        [
            _ev(0, value=9.0),
            _ev(512, value=5.0),
            _ev(1024, value=7.0),
            _ev(1536, value=3.0),
        ],
        EVENTS_SCHEMA,
    )
    monkeypatch.setattr(sk, "load_table", lambda s, sf, n: events)
    feed = str(tmp_path / "feed")
    write_changefeed_stream_dir(
        sk._ivm_change_stream(spark, "r9"), feed, n_files=4
    )
    files = sorted(glob.glob(os.path.join(feed, "*.parquet")))
    assert len(files) == 4
    hidden = str(tmp_path / "hidden")
    os.makedirs(hidden)
    for f in files[2:]:
        shutil.move(f, hidden)

    ckpt = str(tmp_path / "ckpt")

    def drain(name):
        # foreachBatch sink: the memory sink refuses checkpoint recovery,
        # and recovery is exactly what this test exercises
        rows = []

        def sink(df, _epoch):
            rows.extend(df.collect())

        q = (
            stateful_ivm_deltas(spark, feed)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return rows

    first = drain("ivm_restart_a")
    for f in sorted(glob.glob(os.path.join(hidden, "*.parquet"))):
        shutil.move(f, feed)
    second = drain("ivm_restart_b")

    # memory sink is fresh per run, so first ∪ second = all 4 deltas
    got = sorted(
        (r.epoch, r.live_now, r.val_now, r.prev_live, r.prev_value)
        for r in first + second
    )
    assert len(first) == 2 and len(second) == 2
    # epochs: max+1 = 1537, so id*4 DIV 1537 -> 0, 1, 2, 3
    assert got == [
        (0, False, 9.0, False, 0.0),   # tombstone, no prior state
        (1, True, 5.0, False, 9.0),    # upsert after tombstone
        (2, True, 7.0, True, 5.0),     # SECOND RUN: prev = 5.0 from ckpt
        (3, True, 3.0, True, 7.0),     # chained within the same key
    ]


def test_hll_overlap_inclusion_exclusion_small_sets(spark, monkeypatch):
    """On small planted sets HLL is exact, so the audit bit must be true
    and the exact algebra must match hand counts: A={1,2,3}, B={2,3,4}
    -> overlap 2, union 4, jaccard 0.5."""
    import hbase_observer_elasticsearch_spark.operators.sketches as sk9
    from hbase_observer_elasticsearch_spark.operators.sketches import (
        sketch_hll_audience_overlap,
    )

    import datetime

    def ev(eid, etype, uid):
        return (eid, datetime.datetime(2024, 1, 1), uid, etype, 1.0, "{}")

    events = spark.createDataFrame(
        [ev(0, "a", 1), ev(1, "a", 2), ev(2, "a", 3),
         ev(3, "b", 2), ev(4, "b", 3), ev(5, "b", 4)],
        EVENTS_SCHEMA,
    )
    monkeypatch.setattr(sk9, "load_table", lambda s, sf, n: events)
    out = sketch_hll_audience_overlap(spark, "r9").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.type_a, r.type_b) == ("a", "b")
    assert (r.exact_overlap, r.exact_union) == (2, 4)
    assert r.jaccard == 0.5
    assert r.hll_within_10pct
