"""Phase decomposition of stream_live_rollup_ivm (and neighbors):
(a) feed write (ntile window + file surgery), (b) availableNow drain
through applyInPandasWithState, (c) batch-side fold+recompute+join.
Interleaved best-of-2 per phase."""

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
    _ivm_recompute,
    _ivm_trajectory_from_deltas,
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


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("triage_ivm")
    res = {"feed_write": [], "drain": [], "batch_side": [], "full": []}
    import pyspark.sql.functions as F

    for rep in range(3):
        base = scratch_dir("triage_ivm_")
        feed_dir = os.path.join(base, "feed")
        t0 = time.perf_counter()
        write_changefeed_stream_dir(
            _ivm_change_stream(spark, sf_dir), feed_dir, n_files=IVM_EPOCHS
        )
        res["feed_write"].append(round(time.perf_counter() - t0, 3))

        t0 = time.perf_counter()
        emitted = drain(spark, lambda s: stateful_ivm_deltas(s, feed_dir), "update")
        res["drain"].append(round(time.perf_counter() - t0, 3))

        t0 = time.perf_counter()
        zero = F.lit(0).cast("decimal(18,6)")
        deltas = emitted.select(
            "grp",
            "epoch",
            (
                F.when(F.col("live_now"), 1).otherwise(0)
                - F.when(F.col("prev_live"), 1).otherwise(0)
            ).alias("cnt_delta"),
            (
                F.when(
                    F.col("live_now"), F.col("val_now").cast("decimal(18,6)")
                ).otherwise(zero)
                - F.when(
                    F.col("prev_live"),
                    F.col("prev_value").cast("decimal(18,6)"),
                ).otherwise(zero)
            ).alias("val_delta"),
        )
        live = _ivm_trajectory_from_deltas(deltas)
        rec = _ivm_recompute(_ivm_change_stream(spark, sf_dir))
        out = live.join(rec, ["grp", "epoch"], "left")
        out.write.format("noop").mode("overwrite").save()
        res["batch_side"].append(round(time.perf_counter() - t0, 3))
        shutil.rmtree(base, ignore_errors=True)

    from hbase_observer_elasticsearch_spark.registry import queries

    qs = queries()
    for _ in range(2):
        t0 = time.perf_counter()
        qs["stream_live_rollup_ivm"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        res["full"].append(round(time.perf_counter() - t0, 3))
    spark.stop()
    print(json.dumps({k: {"draws": v, "best": min(v)} for k, v in res.items()}))


if __name__ == "__main__":
    main()
