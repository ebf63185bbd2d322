"""The log-structured sink (sinks/state_sink.EmulatedEsSink): runs, folds
and the per-commit read view.

- split into random epochs that cross at least one fold, a feed's merged
  state equals apply_changefeed, including a same-ts put that outlives a
  delete arriving one epoch later, before and after a fold;
- a crash after a run or a base is written but before its manifest swap
  leaves the previous answer readable, and replaying the epoch converges;
- a second live writer raises ConcurrentWriterError; a dead writer's
  lease is stolen, and a commit against a stale generation raises;
- an apply that does not fold is one Spark job with no shuffle;
- the read view is built once per commit, and a commit from another
  sink object on the same root invalidates it; the queries and the bench
  row that use a scratch root evict its view when they remove it.
"""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hbase_observer_elasticsearch_spark.operators.cdc import apply_changefeed
from hbase_observer_elasticsearch_spark.registry import queries
from hbase_observer_elasticsearch_spark.sinks.manifest import (
    _WRITER_LOCK,
    ConcurrentWriterError,
)
from hbase_observer_elasticsearch_spark.sinks.state_sink import (
    FOLD_AT,
    EmulatedEsSink,
    _VIEWS,
)
from hbase_observer_elasticsearch_spark.sources.changefeed import (
    CHANGEFEED_SCHEMA,
    EXPECTED_STATE,
    FIXTURE_ROWS,
    _ts,
)
from hbase_observer_elasticsearch_spark.streaming.pipeline import split_epoch

from .test_cdc_property import mutations, spark_replay


def _docs(sink) -> dict:
    return {r["rowkey"]: dict(r["doc"]) for r in sink.read_state().collect()}


def _apply(spark, sink, rows, epoch_id=None) -> None:
    sink.apply(*split_epoch(spark.createDataFrame(rows, CHANGEFEED_SCHEMA)), epoch_id)


def _live(sink) -> list[dict]:
    return sink._read_manifest_json().get("versions", [])


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data(), rows=mutations())
def test_random_epochs_across_folds_match_replay(spark, tmp_path_factory, data, rows):
    n_epochs = data.draw(st.integers(FOLD_AT, FOLD_AT + 3), label="n_epochs")
    epoch_of = data.draw(
        st.lists(
            st.integers(0, n_epochs - 1), min_size=len(rows), max_size=len(rows)
        ),
        label="epoch_of",
    )
    sink = EmulatedEsSink(spark, str(tmp_path_factory.mktemp("log")))
    for e in range(n_epochs):
        _apply(spark, sink, [r for r, k in zip(rows, epoch_of) if k == e], e)
    assert len(_live(sink)) < FOLD_AT  # at least one fold happened
    assert _docs(sink) == spark_replay(spark, rows)


# Two same-ts puts where the family winner (fam_b) has the lower seq, and
# a delete between their seqs: it kills only the fam_b put.
SAME_TS_PUTS = [
    (5, "put", "rx", "fam_b", "c1", "vb", _ts(5)),
    (10, "put", "rx", "fam_a", "c1", "va", _ts(5)),
]
DELETE_BETWEEN = [(7, "delete", "rx", None, None, None, _ts(5))]


@pytest.mark.parametrize("fold_between", [False, True])
def test_same_ts_put_outlives_delete_one_epoch_later(spark, tmp_path, fold_between):
    feed = spark.createDataFrame(SAME_TS_PUTS + DELETE_BETWEEN, CHANGEFEED_SCHEMA)
    expected = {r["rowkey"]: dict(r["doc"]) for r in apply_changefeed(feed).collect()}
    assert expected == {"rx": {"c1": "va"}}

    sink = EmulatedEsSink(spark, str(tmp_path / "s"))
    _apply(spark, sink, SAME_TS_PUTS, 1)
    if fold_between:
        for e in range(2, FOLD_AT + 1):  # empty epochs up to the fold
            _apply(spark, sink, [], e)
        assert [e["epoch"] for e in _live(sink)] == [None]  # one base
    assert _docs(sink) == {"rx": {"c1": "vb"}}
    _apply(spark, sink, DELETE_BETWEEN, FOLD_AT + 1)
    assert _docs(sink) == expected


class CrashingSink(EmulatedEsSink):
    """Dies before the manifest swap of its ``crash_at``-th commit."""

    crash_at = None
    commits = 0

    def _commit_manifest(self, body, expected_gen):
        self.commits += 1
        if self.commits == self.crash_at:
            raise RuntimeError("injected crash before the manifest swap")
        super()._commit_manifest(body, expected_gen)


def _fixture_epochs(n: int) -> list[list[tuple]]:
    return [FIXTURE_ROWS[i::n] for i in range(n)]


def test_crash_before_run_swap_keeps_previous_answer(spark, tmp_path):
    epochs = _fixture_epochs(2)
    sink = CrashingSink(spark, str(tmp_path / "s"))
    _apply(spark, sink, epochs[0], 0)
    before = _docs(sink)
    sink.crash_at = sink.commits + 1
    with pytest.raises(RuntimeError, match="injected crash"):
        _apply(spark, sink, epochs[1], 1)  # run written, never swapped in
    assert _docs(sink) == before
    assert [e["epoch"] for e in _live(sink)] == [0]

    _apply(spark, sink, epochs[1], 1)  # checkpoint replay of the epoch
    assert _docs(sink) == EXPECTED_STATE
    assert [e["epoch"] for e in _live(sink)] == [0, 1]


def test_crash_before_base_swap_keeps_previous_answer(spark, tmp_path):
    epochs = _fixture_epochs(FOLD_AT)
    sink = CrashingSink(spark, str(tmp_path / "s"))
    for e in range(FOLD_AT - 1):
        _apply(spark, sink, epochs[e], e)
    # the last epoch's run commits; its fold writes a base and dies
    sink.crash_at = sink.commits + 2
    with pytest.raises(RuntimeError, match="injected crash"):
        _apply(spark, sink, epochs[-1], FOLD_AT - 1)
    assert len(_live(sink)) == FOLD_AT
    assert _docs(sink) == EXPECTED_STATE

    _apply(spark, sink, epochs[-1], FOLD_AT - 1)  # replay rewrites, folds
    assert [e["epoch"] for e in _live(sink)] == [None]
    assert _docs(sink) == EXPECTED_STATE


def test_second_live_writer_fails_loudly(spark, tmp_path):
    root = str(tmp_path / "s")
    a, b = EmulatedEsSink(spark, root), EmulatedEsSink(spark, root)
    a._acquire_lease()  # writer A mid-epoch
    with pytest.raises(ConcurrentWriterError):
        _apply(spark, b, FIXTURE_ROWS, 0)
    a._release_lease()
    _apply(spark, b, FIXTURE_ROWS, 0)  # sequential writers serialize
    assert _docs(b) == EXPECTED_STATE


def test_stale_lease_stolen_and_gen_cas(spark, tmp_path):
    """A lease left by a crashed (dead-pid) writer is stolen and the epoch
    commits; the manifest generation CAS rejects a stale expected_gen, the
    defense-in-depth for lock-steal races."""
    root = str(tmp_path / "s")
    sink = EmulatedEsSink(spark, root)
    lock = os.path.join(root, _WRITER_LOCK)
    # pid above the largest pid_max Linux allows — guaranteed dead
    with open(lock, "w") as f:
        json.dump({"pid": 2**22 + 12345, "token": "crashed-writer"}, f)
    _apply(spark, sink, FIXTURE_ROWS, 0)  # steals the lease, commits, releases
    assert _docs(sink) == EXPECTED_STATE
    assert not os.path.exists(lock)
    assert sink._gen() == 1  # one commit, no fold
    with pytest.raises(ConcurrentWriterError):
        sink._commit_manifest({"versions": []}, expected_gen=0)  # moved under us


def test_apply_without_fold_is_one_job_without_shuffle(spark, tmp_path):
    sink = EmulatedEsSink(spark, str(tmp_path / "s"))
    cells, dels = split_epoch(spark.createDataFrame(FIXTURE_ROWS, CHANGEFEED_SCHEMA))
    sc, group = spark.sparkContext, f"log-sink-apply-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        sink.apply(cells, dels, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1
    # a shuffle would split the job into a map and a reduce stage
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1


def test_read_view_once_per_commit_across_sink_objects(spark, tmp_path):
    root = str(tmp_path / "s")
    reader, writer = EmulatedEsSink(spark, root), EmulatedEsSink(spark, root)
    _apply(spark, writer, FIXTURE_ROWS[:6], 0)
    view = reader.read_cells()
    assert reader.read_cells() is view  # materialized once per commit
    late = [(99, "put", "r1", "info", "c9", "x", _ts(9))]
    _apply(spark, writer, late, 1)  # another object commits on the root
    assert reader.read_cells() is not view
    assert _docs(reader)["r1"]["c9"] == "x"
    app = spark.sparkContext.applicationId
    assert sum(1 for k in _VIEWS._entries if k[:2] == (app, root)) == 1


def test_scratch_roots_leave_no_view_behind(spark, sf_dir):
    import bench

    start = len(_VIEWS)
    for name in ("cdc_replicate_then_query", "sink_merge_idempotent_epochs"):
        queries()[name](spark, sf_dir).collect()
    bench._sink_view(spark, sf_dir).collect()
    assert len(_VIEWS) == start
