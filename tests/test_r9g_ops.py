"""Dynamic partition pruning actually fires — the fact scan
must carry a `dynamicpruning` subquery on the partition column when the
join's filter lives only on the dim side."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F


def test_dpp_subquery_reaches_fact_scan(spark):
    base = tempfile.mkdtemp(prefix="dpp_test_")
    try:
        fact = spark.createDataFrame(
            [(f"2024-{m:02d}", i) for m in range(1, 13) for i in range(20)],
            "ship_month string, q long",
        )
        (
            fact.repartition("ship_month")
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(base + "/fact")
        )
        dim = spark.createDataFrame(
            [(f"2024-{m:02d}", f"Q{(m - 1) // 3 + 1}") for m in range(1, 13)],
            "ship_month string, quarter string",
        )
        back = spark.read.parquet(base + "/fact")
        out = (
            back.join(F.broadcast(dim.filter(F.col("quarter") == "Q1")),
                      "ship_month")
            .groupBy("ship_month")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        rows = {r.ship_month: r.n for r in out.collect()}
        assert rows == {"2024-01": 20, "2024-02": 20, "2024-03": 20}
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()
    finally:
        shutil.rmtree(base, ignore_errors=True)
