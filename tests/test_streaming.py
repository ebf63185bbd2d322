"""Streaming pipeline: stream/batch parity, epoch compaction, idempotent
sink MERGE, checkpoint restart."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_observer_elasticsearch_spark.operators.cdc import apply_changefeed
from hbase_observer_elasticsearch_spark.sinks.state_sink import EmulatedEsSink
from hbase_observer_elasticsearch_spark.sources.changefeed import (
    EXPECTED_STATE,
    _ts,
    fixture_changefeed,
    write_changefeed_stream_dir,
)
from hbase_observer_elasticsearch_spark.streaming.pipeline import (
    compact_epoch,
    split_epoch,
    start_pipeline,
)


def state_as_dict(df) -> dict:
    return {r["rowkey"]: dict(r["doc"]) for r in df.collect()}


def test_stream_batch_parity(spark, tmp_path):
    """Drain the fixture changefeed through the streaming pipeline in
    multiple micro-batches; final sink state must equal the batch replay."""
    cf_dir = str(tmp_path / "cf")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    cf = fixture_changefeed(spark)
    write_changefeed_stream_dir(cf, cf_dir, n_files=4)

    q = start_pipeline(
        spark, cf_dir, ckpt, EmulatedEsSink(spark, state_dir),
        trigger={"availableNow": True}, max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    sink = EmulatedEsSink(spark, state_dir)
    got = state_as_dict(sink.read_state())
    assert got == EXPECTED_STATE
    assert got == state_as_dict(apply_changefeed(cf))


def test_stream_restart_idempotent(spark, tmp_path):
    """Restarting from checkpoint with no new data must not change state."""
    cf_dir = str(tmp_path / "cf")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    write_changefeed_stream_dir(fixture_changefeed(spark), cf_dir, n_files=2)

    for _ in range(2):  # second run: nothing new to process
        q = start_pipeline(
            spark, cf_dir, ckpt, EmulatedEsSink(spark, state_dir),
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    sink = EmulatedEsSink(spark, state_dir)
    assert state_as_dict(sink.read_state()) == EXPECTED_STATE


def test_compact_epoch(spark):
    """Epoch compaction: latest put per (rowkey, qualifier) + latest delete
    per key, at cell granularity with versions."""
    cf = fixture_changefeed(spark)
    cells, dels = compact_epoch(cf)
    got = {(r["rowkey"], r["qualifier"]): r["value"] for r in cells.collect()}
    assert got[("r1", "c1")] == "v1b"
    assert got[("r2", "c1")] == "new"  # latest, not the pre-delete value
    assert got[("r3", "c1")] == "from_b"  # family byte-order collision
    assert got[("r4", "c1")] == "winner"  # out-of-order resolved by ts
    assert {r["rowkey"] for r in dels.collect()} == {"r2", "r5"}


def test_compact_epoch_matches_batch_replay(spark, tmp_path):
    """A same-ts put that loses the family tiebreak to a pre-delete put
    but comes after the delete survives compaction: compact_epoch filters
    the deleted cells before it ranks, as apply_changefeed does."""
    cols = "seq long, op string, rowkey string, family string, qualifier string, value string, ts timestamp"
    batch = spark.createDataFrame(
        [
            (1, "put", "k", "z", "c1", "vz", _ts(5)),
            (2, "delete", "k", None, None, None, _ts(5)),
            (3, "put", "k", "a", "c1", "va", _ts(5)),
        ],
        cols,
    )
    expected = state_as_dict(apply_changefeed(batch))
    assert expected == {"k": {"c1": "va"}}
    sink = EmulatedEsSink(spark, str(tmp_path / "s"))
    sink.apply(*compact_epoch(batch))
    assert state_as_dict(sink.read_state()) == expected


def _cells(spark, rows):
    return spark.createDataFrame(
        [(k, q, v, _ts(m), s) for (k, q, v, m, s) in rows],
        "rowkey string, qualifier string, value string, ts timestamp, seq long",
    )


def _dels(spark, rows):
    return spark.createDataFrame(
        [(k, _ts(m), s) for (k, m, s) in rows],
        "rowkey string, ts timestamp, seq long",
    )


def test_sink_lww_merge_semantics(spark, tmp_path):
    """The MERGE is last-write-wins by (ts, seq), not by arrival epoch:
    stale cells and late tombstones from earlier mutation times lose."""
    sink = EmulatedEsSink(spark, str(tmp_path / "s"))
    e = _dels(spark, [])
    # epoch 1: two qualifiers
    sink.apply(_cells(spark, [("a", "x", "1", 5, 50), ("a", "y", "2", 5, 51)]), e)
    # epoch 2: newer y, plus a STALE x from an earlier mutation time → loses
    sink.apply(_cells(spark, [("a", "y", "9", 6, 60), ("a", "x", "0", 1, 10)]), e)
    assert state_as_dict(sink.read_state()) == {"a": {"x": "1", "y": "9"}}
    # epoch 3: tombstone at minute 7 kills everything so far
    sink.apply(_cells(spark, []), _dels(spark, [("a", 7, 70)]))
    assert state_as_dict(sink.read_state()) == {}
    # epoch 4: a stale pre-delete put arrives late → tombstone still wins
    sink.apply(_cells(spark, [("a", "x", "ghost", 6, 65)]), e)
    assert state_as_dict(sink.read_state()) == {}
    # epoch 5: a genuinely newer put re-inserts the doc
    sink.apply(_cells(spark, [("a", "x", "alive", 8, 80)]), e)
    assert state_as_dict(sink.read_state()) == {"a": {"x": "alive"}}


def test_stream_parity_any_file_split(spark, tmp_path):
    """Final state must be invariant to how the feed splits into epochs
    (the bug class the 4-file-only test missed: a 3-file split used to
    let arrival order override mutation order)."""
    for n_files in (1, 2, 3, 5):
        cf_dir = str(tmp_path / f"cf{n_files}")
        state_dir = str(tmp_path / f"state{n_files}")
        ckpt = str(tmp_path / f"ckpt{n_files}")
        write_changefeed_stream_dir(fixture_changefeed(spark), cf_dir, n_files)
        q = start_pipeline(
            spark, cf_dir, ckpt, EmulatedEsSink(spark, state_dir),
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)
        got = state_as_dict(EmulatedEsSink(spark, state_dir).read_state())
        assert got == EXPECTED_STATE, f"n_files={n_files}: {got}"


def test_stateful_lww_applyinpandaswithstate(spark, tmp_path):
    """applyInPandasWithState doc assembly: final emitted doc per key equals
    the batch-replay golden state; deleted keys emit an empty doc."""
    import json

    from hbase_observer_elasticsearch_spark.streaming.stateful import (
        stateful_doc_state,
    )

    cf_dir = str(tmp_path / "cf")
    write_changefeed_stream_dir(fixture_changefeed(spark), cf_dir, n_files=4)

    q = (
        stateful_doc_state(spark, cf_dir)
        .writeStream.format("memory")
        .queryName("lww_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql(
        """SELECT rowkey, doc_json FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY rowkey
                                          ORDER BY version DESC) rn
             FROM lww_state) WHERE rn = 1"""
    ).collect()
    got = {r["rowkey"]: json.loads(r["doc_json"]) for r in rows}
    assert {k: v for k, v in got.items() if v} == EXPECTED_STATE
    assert got["r5"] == {}  # tombstoned key emits the delete marker


def test_cdc_replicator_facade(spark, tmp_path):
    """Bind → start → drained → state == golden; stop is re-entrant."""
    from hbase_observer_elasticsearch_spark.replicator import CdcReplicator

    cf_dir = str(tmp_path / "cf")
    write_changefeed_stream_dir(fixture_changefeed(spark), cf_dir, n_files=4)

    rep = CdcReplicator(
        spark, cf_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    rep.start(trigger={"availableNow": True}, max_files_per_trigger=1)
    rep.await_drained()
    rep.stop()
    rep.stop()  # idempotent

    assert state_as_dict(rep.state()) == EXPECTED_STATE
    # tombstoned key visible at cell level, absent from the doc view
    cells = rep.cells()
    assert cells.filter("rowkey = 'r5' AND qualifier IS NULL").count() == 1


def test_await_drained_raises_on_timeout(spark, tmp_path):
    """A drain that does not finish must raise, not silently
    hand back a partially-replicated state table."""
    from hbase_observer_elasticsearch_spark.replicator import CdcReplicator

    cf_dir = str(tmp_path / "cf")
    write_changefeed_stream_dir(fixture_changefeed(spark), cf_dir, n_files=4)

    rep = CdcReplicator(
        spark, cf_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    # default 30s processing-time trigger: the query stays active forever,
    # so a tiny await_drained window must time out loudly.
    rep.start(max_files_per_trigger=1)
    try:
        import pytest as _pytest

        with _pytest.raises(TimeoutError, match="did not drain"):
            rep.await_drained(timeout_s=1)
    finally:
        rep.stop()


def test_cf_files_env_var_validation(monkeypatch, spark):
    """A non-integer SPARK_GRAFT_CF_FILES raises an error that names the
    variable."""
    import pytest as _pytest

    from hbase_observer_elasticsearch_spark.sources.changefeed import (
        shared_changefeed_stream_dir,
    )

    monkeypatch.setenv("SPARK_GRAFT_CF_FILES", "two")
    with _pytest.raises(ValueError, match="SPARK_GRAFT_CF_FILES"):
        shared_changefeed_stream_dir(spark, "/root/testdata/sf0.001")


def test_stateful_ttl_eviction(spark, tmp_path):
    """Keys idle past the TTL emit one final evicted=true row, state drops,
    and a later mutation restarts from clean state.

    NOTE: no processAllAvailable here — an armed ProcessingTimeTimeout
    keeps the engine scheduling timeout-sweep batches, so 'all available'
    never settles; poll the sink with deadlines instead.
    """
    import json
    import time

    from hbase_observer_elasticsearch_spark.sources.changefeed import (
        CHANGEFEED_SCHEMA,
    )
    from hbase_observer_elasticsearch_spark.streaming.stateful import (
        stateful_doc_state,
    )

    cf_dir = tmp_path / "tcf"

    def put(seq, rowkey, qual, val, minute):
        return (seq, "put", rowkey, "info", qual, val, _ts(minute))

    def wait_for(sql_cond, deadline_s=60):
        deadline = time.time() + deadline_s
        while time.time() < deadline:
            rows = spark.sql(
                f"SELECT * FROM ttl_state WHERE {sql_cond}"
            ).collect()
            if rows:
                return rows
            time.sleep(0.5)
        raise AssertionError(f"timed out waiting for: {sql_cond}")

    spark.createDataFrame(
        [put(1, "r1", "c1", "v1", 0)], CHANGEFEED_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(cf_dir))

    q = (
        stateful_doc_state(spark, str(cf_dir), ttl_ms=1000)
        .writeStream.format("memory")
        .queryName("ttl_state")
        .outputMode("update")
        .start()
    )
    try:
        wait_for("rowkey='r1' AND NOT evicted")
        evicted = wait_for("rowkey='r1' AND evicted")  # TTL sweep fires
        assert json.loads(evicted[0]["doc_json"]) == {"c1": "v1"}

        spark.createDataFrame(
            [put(3, "r1", "c2", "v2", 2)], CHANGEFEED_SCHEMA
        ).coalesce(1).write.mode("append").parquet(str(cf_dir))
        fresh = wait_for(
            "rowkey='r1' AND NOT evicted AND doc_json LIKE '%c2%'"
        )
        # state restarted post-eviction: only c2, version counter reset
        assert json.loads(fresh[0]["doc_json"]) == {"c2": "v2"}
        assert fresh[0]["version"] == 1
    finally:
        q.stop()


def test_cross_epoch_family_tiebreak(spark, tmp_path):
    """Same-ts puts to one (rowkey, qualifier) from different families must
    resolve by family byte order even when they land in DIFFERENT epochs
    with seq order inverted — streamed state equals batch replay under any
    epoch split (the fixture's same-ts family collision on rowkey r3,
    split across epochs)."""
    cols = "seq long, op string, rowkey string, family string, qualifier string, value string, ts timestamp"
    row_z = (1, "put", "rx", "z", "c1", "vz", _ts(5))  # lower seq, family z
    row_a = (2, "put", "rx", "a", "c1", "va", _ts(5))  # higher seq, family a

    expected = state_as_dict(
        apply_changefeed(spark.createDataFrame([row_z, row_a], cols))
    )
    assert expected == {"rx": {"c1": "vz"}}  # family byte order wins

    for order in ([row_z, row_a], [row_a, row_z]):
        sink = EmulatedEsSink(spark, str(tmp_path / f"s{order[0][0]}"))
        for row in order:  # one epoch per mutation
            sink.apply(*split_epoch(spark.createDataFrame([row], cols)))
        assert state_as_dict(sink.read_state()) == expected


def test_replicator_reads_through_configured_sink(spark, tmp_path):
    """A replicator started with a sink_cls reads its state back through
    the sink object start() built, not a fresh default sink."""
    from hbase_observer_elasticsearch_spark.replicator import CdcReplicator

    class CountingSink(EmulatedEsSink):
        built: list = []

        def __init__(self, *args):
            super().__init__(*args)
            self.reads = 0
            self.built.append(self)

        def read_cells(self):
            self.reads += 1
            return super().read_cells()

    cf_dir = str(tmp_path / "cf")
    write_changefeed_stream_dir(fixture_changefeed(spark), cf_dir, n_files=2)
    rep = CdcReplicator(
        spark, cf_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    rep.start(
        sink_cls=CountingSink,
        trigger={"availableNow": True},
        max_files_per_trigger=1,
    )
    rep.await_drained()
    rep.stop()
    assert state_as_dict(rep.state()) == EXPECTED_STATE
    assert rep.cells().filter("qualifier IS NULL").count() > 0  # tombstones
    [sink] = CountingSink.built
    assert sink.reads == 2  # state() and cells() both read through it

def test_bulk_action_line_escapes_rowkey(spark):
    """A rowkey containing quotes/backslashes must produce valid NDJSON on
    the action line (previously raw-concatenated into the JSON literal)."""
    import json

    from hbase_observer_elasticsearch_spark.sinks.bulk_format import bulk_lines

    state = spark.createDataFrame(
        [('k"quote', {"a": "1"}), ("k\\back", {"b": "2"}), ("plain", None)],
        "rowkey string, doc map<string,string>",
    )
    rows = {r["rowkey"]: r for r in bulk_lines(state, "idx").collect()}
    for key, r in rows.items():
        action = json.loads(r["action_json"])  # must parse
        verb = "delete" if r["doc_json"] is None else "update"
        assert action[verb]["_id"] == key
        assert action[verb]["_index"] == "idx"
        if r["doc_json"] is not None:
            json.loads(r["doc_json"])


def test_streaming_enrich_with_dim(spark, tmp_path):
    """Stream-static broadcast join: every changefeed record carries its
    dim attributes; keys missing from the dim survive with NULLs."""
    from hbase_observer_elasticsearch_spark.streaming.pipeline import (
        streaming_enrich_with_dim,
    )

    cf_dir = str(tmp_path / "cf")
    write_changefeed_stream_dir(fixture_changefeed(spark), cf_dir, n_files=2)
    dim = spark.createDataFrame(
        [("r1", "tenant_a"), ("r2", "tenant_b")], "rowkey string, tenant string"
    )
    q = (
        streaming_enrich_with_dim(spark, cf_dir, dim)
        .writeStream.format("memory")
        .queryName("enriched_cf")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("enriched_cf")
    batch = fixture_changefeed(spark).join(F.broadcast(dim), "rowkey", "left")
    assert got.count() == batch.count()
    tenants = {r["rowkey"]: r["tenant"] for r in got.collect()}
    assert tenants["r1"] == "tenant_a" and tenants["r5"] is None


def test_streaming_put_delete_interval_join(spark, tmp_path):
    """Stream-stream interval join finds exactly the puts a delete killed
    within the window — identical to the batch range-join twin."""
    from hbase_observer_elasticsearch_spark.streaming.pipeline import (
        streaming_put_delete_join,
    )

    cf_dir = str(tmp_path / "cf")
    write_changefeed_stream_dir(fixture_changefeed(spark), cf_dir, n_files=2)
    q = (
        streaming_put_delete_join(spark, cf_dir, "inner", within="5 minutes")
        .writeStream.format("memory")
        .queryName("pd_join")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["rowkey"], r["put_seq"]) for r in spark.table("pd_join").collect()
    }
    cf = fixture_changefeed(spark)
    puts = cf.filter("op = 'put'").select(
        "rowkey", F.col("ts").alias("put_ts"), F.col("seq").alias("put_seq")
    )
    dels = cf.filter("op = 'delete'").select(
        F.col("rowkey").alias("d_rowkey"), F.col("ts").alias("del_ts")
    )
    want = {
        (r["rowkey"], r["put_seq"])
        for r in puts.join(
            dels,
            F.expr(
                "rowkey = d_rowkey AND del_ts >= put_ts "
                "AND del_ts <= put_ts + INTERVAL 5 minutes"
            ),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_session_window_merges_on_bridge_event(spark, tmp_path):
    """A late-but-in-watermark event that lands BETWEEN two existing
    sessions of the same key must MERGE them into one emitted session —
    the interval-state semantics that distinguish session windows from
    slot-shaped window state. File 1 creates two sessions of user 'a'
    (gap 40 min > the 30-min session gap); file 2 bridges them at +20 min
    and pushes the watermark far past their end with a distant key 'b'
    event, so exactly ONE merged session for 'a' is emitted in append
    mode."""
    import datetime as dt
    import os
    import uuid

    from pyspark.sql import functions as F

    from hbase_observer_elasticsearch_spark.sources.changefeed import (
        CHANGEFEED_SCHEMA,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def row(seq, key, minutes):
        return (
            seq,
            "put",
            key,
            "info",
            "q",
            "v",
            t0 + dt.timedelta(minutes=minutes),
        )

    f1 = [row(1, "a", 0), row(2, "a", 40)]
    f2 = [row(3, "a", 20), row(4, "b", 600)]
    cf_dir = str(tmp_path / "cf")
    os.makedirs(cf_dir)
    for i, rows in enumerate((f1, f2), start=1):
        df = spark.createDataFrame(rows, CHANGEFEED_SCHEMA).coalesce(1)
        part = str(tmp_path / f"part{i}")
        df.write.mode("overwrite").parquet(part)
        import glob
        import shutil
        import time

        src = sorted(glob.glob(os.path.join(part, "*.parquet")))[0]
        dst = os.path.join(cf_dir, f"{i:05d}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    stream = (
        spark.readStream.schema(CHANGEFEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(cf_dir)
        .withWatermark("ts", "1 hour")
    )
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes"), "rowkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "rowkey",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n",
        )
    )
    name = "merge_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    out = {r["rowkey"]: r for r in spark.table(name).collect()}
    # user 'a': one MERGED session 00:00 → 00:40+30min, all 3 events
    assert "a" in out and out["a"]["n"] == 3
    assert out["a"]["s"] == t0
    assert out["a"]["e"] == t0 + dt.timedelta(minutes=70)
    # user 'b''s session is still open at the final watermark → absent
    assert "b" not in out


def _write_files(spark, batches, schema, path):
    """One parquet file per list of rows, which a file stream reads in list
    order (mtimes one second apart)."""
    import glob
    import os
    import shutil
    import time

    os.makedirs(path)
    t = time.time()
    for i, rows in enumerate(batches):
        tmp = f"{path}.{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
        dst = os.path.join(path, f"{i:05d}.parquet")
        shutil.move(glob.glob(os.path.join(tmp, "*.parquet"))[0], dst)
        os.utime(dst, (t + i, t + i))
        shutil.rmtree(tmp)


@pytest.mark.parametrize(
    "handler,overlap",
    [("debounce", True), ("debounce", False), ("ivm", True), ("ivm", False)],
)
def test_stateful_handlers_reject_overlapping_files(
    spark, tmp_path, handler, overlap
):
    """The debounce and IVM handlers sort each micro-batch and seed it from
    the key's state, which is the key's whole-history order only if no row
    of a later file precedes a row of an earlier one. A feed whose second
    file reaches back before the first file's last row must make the drain
    raise instead of emitting a different answer; the same rows without
    the overlap drain."""
    from hbase_observer_elasticsearch_spark.sources.changefeed import (
        CHANGEFEED_SCHEMA,
    )
    from hbase_observer_elasticsearch_spark.streaming.pipeline import drain
    from hbase_observer_elasticsearch_spark.streaming.stateful import (
        _IVM_FEED_SCHEMA,
        stateful_debounce,
        stateful_ivm_deltas,
    )

    feed = str(tmp_path / "feed")
    second = 15 if overlap else 25  # the first file ends at minute / seq 20
    if handler == "debounce":

        def put(seq, minute):
            return (seq, "put", "k", "f", "q", "v", _ts(minute))

        files = [[put(1, 10), put(2, 20)], [put(3, second), put(4, 30)]]
        _write_files(spark, files, CHANGEFEED_SCHEMA, feed)

        def build(s):
            return stateful_debounce(s, feed, gap_us=1)
    else:

        def upd(seq):
            return (7, seq, False, 1.0, 0, 0)

        files = [[upd(10), upd(20)], [upd(second), upd(30)]]
        _write_files(spark, files, _IVM_FEED_SCHEMA, feed)

        def build(s):
            return stateful_ivm_deltas(s, feed)

    if overlap:
        with pytest.raises(Exception, match="is not after the last row"):
            drain(spark, build, "update")
    else:
        assert drain(spark, build, "update").count() == 4
