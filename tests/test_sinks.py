"""Epoch replay on the log-structured MERGE sink
(sinks/state_sink.EmulatedEsSink), read back as cell rows.

The exactly-once claim of the pipeline is that re-executing an epoch's
apply leaves the merged state unchanged, so at-least-once redelivery
(the reference's blind requeue,
observer6/ElasticSearchBulkOperator.java:56-66) is absorbed. The
registered query sink_merge_idempotent_epochs checks it against the
DuckDB oracle; these tests check row identity of the merged cells:

- an epoch replayed mid-sequence under its own epoch id rewrites its run:
  the manifest generation moves one commit further, the merged cells
  stay row-identical to a replay-free run;
- redelivering the last epoch to the same sink without an epoch id
  appends it again, and the merge absorbs it;
- one epoch or four (crossing a fold) give row-identical cells.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hbase_observer_elasticsearch_spark.catalog import load_table
from hbase_observer_elasticsearch_spark.sinks.state_sink import EmulatedEsSink
from hbase_observer_elasticsearch_spark.sources.changefeed import (
    events_as_changefeed,
)
from hbase_observer_elasticsearch_spark.streaming.pipeline import split_epoch


def _epoch_ranges(cf, n_epochs: int):
    lo, hi = cf.agg(F.min("seq"), F.max("seq")).first()
    span = (hi - lo + n_epochs) // n_epochs
    return [
        (lo + i * span, min(lo + (i + 1) * span - 1, hi))
        for i in range(n_epochs)
    ]


def _run_schedule(spark, cf, schedule, root: str, epoch_ids=None):
    sink = EmulatedEsSink(spark, root)
    for (e_lo, e_hi), epoch_id in zip(schedule, epoch_ids or range(len(schedule))):
        batch = cf.filter((F.col("seq") >= e_lo) & (F.col("seq") <= e_hi))
        sink.apply(*split_epoch(batch), epoch_id)
    return sink


def _state_rows(sink):
    # tombstone rows carry NULL qualifier/value/family — sort via a
    # None-safe key so mixed rows compare
    rows = [tuple(r) for r in sink.read_cells().collect()]
    return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))


def test_epoch_replay_state_row_identical(spark, sf_dir, tmp_path):
    cf = events_as_changefeed(load_table(spark, sf_dir, "events"))
    ranges = _epoch_ranges(cf, 3)
    plain = _run_schedule(spark, cf, ranges, str(tmp_path / "plain"))
    replayed = _run_schedule(
        spark,
        cf,
        [ranges[0], ranges[1], ranges[1], ranges[2]],
        str(tmp_path / "replay"),
        [0, 1, 1, 2],
    )
    assert _state_rows(plain) == _state_rows(replayed)
    # the replay is one manifest commit further along — the pointer
    # moved, the state did not
    assert replayed._gen() == plain._gen() + 1


def test_same_sink_reapply_is_noop(spark, sf_dir, tmp_path):
    cf = events_as_changefeed(load_table(spark, sf_dir, "events"))
    ranges = _epoch_ranges(cf, 2)
    sink = _run_schedule(spark, cf, ranges, str(tmp_path / "s"))
    before = _state_rows(sink)
    e_lo, e_hi = ranges[1]
    batch = cf.filter((F.col("seq") >= e_lo) & (F.col("seq") <= e_hi))
    sink.apply(*split_epoch(batch))  # redelivered last epoch
    assert _state_rows(sink) == before


def test_epoch_partitioning_invariance(spark, sf_dir, tmp_path):
    """Final state must not depend on HOW the feed is sliced into
    epochs: 1 epoch vs 4 epochs (the fourth folds the runs into a base)
    give row-identical merged cells."""
    cf = events_as_changefeed(load_table(spark, sf_dir, "events"))
    one = _run_schedule(spark, cf, _epoch_ranges(cf, 1), str(tmp_path / "e1"))
    four = _run_schedule(spark, cf, _epoch_ranges(cf, 4), str(tmp_path / "e4"))
    assert _state_rows(one) == _state_rows(four)
