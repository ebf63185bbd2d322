"""Dump per-micro-batch progress metrics for the IVM drain to find the
fixed per-batch cost (triggerExecution breakdown), and A/B the drain at
different shuffle-partition counts."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbase_observer_elasticsearch_spark.operators.skew_agg import (  # noqa: E402
    IVM_EPOCHS,
    _ivm_change_stream,
)
from hbase_observer_elasticsearch_spark.session import get_spark  # noqa: E402
from hbase_observer_elasticsearch_spark.sources.changefeed import (  # noqa: E402
    scratch_dir,
    write_changefeed_stream_dir,
)
from hbase_observer_elasticsearch_spark.streaming.pipeline import drain  # noqa: E402
from hbase_observer_elasticsearch_spark.streaming.stateful import (  # noqa: E402
    stateful_ivm_deltas,
)
from stream_audit import record_streams  # noqa: E402

STARTED = record_streams()


def timed_drain(spark, feed_dir, parts):
    STARTED.clear()
    t0 = time.perf_counter()
    drain(spark, lambda s: stateful_ivm_deltas(s, feed_dir), "update", parts=parts)
    wall = round(time.perf_counter() - t0, 3)
    return wall, [json.loads(p.json) for q in STARTED for p in q.recentProgress]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("triage_ivm2")
    base = scratch_dir("triage_ivm2_")
    feed_dir = os.path.join(base, "feed")
    write_changefeed_stream_dir(
        _ivm_change_stream(spark, sf_dir), feed_dir, n_files=IVM_EPOCHS
    )
    # warm
    timed_drain(spark, feed_dir, 4)
    wall4, prog = timed_drain(spark, feed_dir, 4)
    print("wall parts=4:", wall4)
    for p in prog:
        print(
            "batch",
            p["batchId"],
            "rows",
            p["numInputRows"],
            json.dumps(p["durationMs"]),
        )
    for parts in (1, 2, 8, 32):
        w, _ = timed_drain(spark, feed_dir, parts)
        print(f"wall parts={parts}:", w)
    wall4b, _ = timed_drain(spark, feed_dir, 4)
    print("wall parts=4 again:", wall4b)
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
