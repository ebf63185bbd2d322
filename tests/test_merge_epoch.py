"""The sink's last-writer-wins read (`EmulatedEsSink.apply` then
`read_cells`) on raw epoch mutations: it equals the batch replay over a
whole feed, replaying an epoch leaves the cells row-identical, the read
view's build is a single rowkey shuffle, and the streaming pipeline that
feeds the sink raw mutations keeps a same-ts put that outlives the
epoch's delete."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F

from hbase_observer_elasticsearch_spark.operators.cdc import apply_changefeed
from hbase_observer_elasticsearch_spark.sinks.state_sink import EmulatedEsSink
from hbase_observer_elasticsearch_spark.sources.changefeed import (
    CHANGEFEED_SCHEMA,
    _ts,
    write_changefeed_stream_dir,
)
from hbase_observer_elasticsearch_spark.streaming.pipeline import (
    split_epoch,
    start_pipeline,
)

from .test_cdc_property import mutations, spark_replay


def _docs(state) -> dict[str, dict[str, str]]:
    docs: dict[str, dict[str, str]] = {}
    for r in state.filter(F.col("qualifier").isNotNull()).collect():
        docs.setdefault(r["rowkey"], {})[r["qualifier"]] = r["value"]
    return docs


def _rows(state) -> list[tuple]:
    return sorted(
        (tuple(r) for r in state.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=mutations())
def test_merge_of_whole_feed_matches_replay(spark, tmp_path_factory, rows):
    sink = EmulatedEsSink(spark, str(tmp_path_factory.mktemp("s")))
    sink.apply(*split_epoch(spark.createDataFrame(rows, CHANGEFEED_SCHEMA)), 0)
    assert _docs(sink.read_cells()) == spark_replay(spark, rows)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=mutations())
def test_merge_replayed_epoch_is_row_identical(spark, tmp_path_factory, rows):
    puts, dels = split_epoch(spark.createDataFrame(rows, CHANGEFEED_SCHEMA))
    sink = EmulatedEsSink(spark, str(tmp_path_factory.mktemp("s")))
    sink.apply(puts, dels)
    once = _rows(sink.read_cells())
    sink.apply(puts, dels)  # appended again, as a replay of a folded run is
    assert _rows(sink.read_cells()) == once


def test_merge_plan_is_one_shuffle(spark, tmp_path, monkeypatch):
    """Two epochs' runs read back through the sink: the view's build runs
    both windows on one hash exchange on rowkey."""
    feed = spark.createDataFrame(
        [
            (1, "put", "r1", "a", "c1", "v1", _ts(1)),
            (2, "put", "r2", "a", "c1", "v2", _ts(1)),
            (3, "delete", "r1", None, None, None, _ts(2)),
            (4, "put", "r1", "b", "c2", "v4", _ts(3)),
        ],
        CHANGEFEED_SCHEMA,
    )
    sink = EmulatedEsSink(spark, str(tmp_path / "s"))
    sink.apply(*split_epoch(feed.filter("seq <= 2")), 0)
    sink.apply(*split_epoch(feed.filter("seq > 2")), 1)

    built = []
    checkpoint = type(feed).localCheckpoint

    def spy(df, *args, **kwargs):
        built.append(df)
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(type(feed), "localCheckpoint", spy)
    merged = sink.read_cells()
    [view] = built  # the view is built once, on this read
    plan = view._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert re.findall(r"(?<![A-Za-z])Exchange (\w+)", final) == ["hashpartitioning"]
    assert _docs(merged) == {"r1": {"c2": "v4"}, "r2": {"c1": "v2"}}


def test_stream_keeps_same_ts_put_that_outlives_the_delete(spark, tmp_path):
    """One epoch, one (rowkey, qualifier), three mutations at the same ts:
    a family-b put (seq 5), a family-a put (seq 10) and a delete (seq 7).
    The delete kills only the seq-5 put, so the family-a put is the
    answer. Ranking by family before the delete filter would keep the
    family-b put, let the delete kill it, and lose the document."""
    feed = spark.createDataFrame(
        [
            (5, "put", "rx", "fam_b", "c1", "vb", _ts(5)),
            (7, "delete", "rx", None, None, None, _ts(5)),
            (10, "put", "rx", "fam_a", "c1", "va", _ts(5)),
        ],
        CHANGEFEED_SCHEMA,
    )
    expected = {r["rowkey"]: dict(r["doc"]) for r in apply_changefeed(feed).collect()}
    assert expected == {"rx": {"c1": "va"}}

    cf_dir, state_dir = str(tmp_path / "cf"), str(tmp_path / "state")
    write_changefeed_stream_dir(feed, cf_dir, n_files=1)
    q = start_pipeline(
        spark, cf_dir, str(tmp_path / "ckpt"), EmulatedEsSink(spark, state_dir),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    assert _docs(EmulatedEsSink(spark, state_dir).read_cells()) == expected
