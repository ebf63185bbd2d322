"""Connector config surfaces: Kafka reader options + record projection,
ES connector option map (multi-host parity)."""

from __future__ import annotations

import datetime as dt
import json

from hbase_observer_elasticsearch_spark.sinks.state_sink import EsSinkConfig
from hbase_observer_elasticsearch_spark.sources.changefeed import CHANGEFEED_SCHEMA
from hbase_observer_elasticsearch_spark.sources.kafka_changefeed import (
    kafka_reader_options,
    parse_kafka_changefeed,
)


def test_kafka_reader_options_size_trigger_parity():
    opts = kafka_reader_options("k1:9092,k2:9092", "mutations")
    assert opts["maxOffsetsPerTrigger"] == "10000"  # MAX_BULK_COUNT
    assert opts["subscribe"] == "mutations"


def test_parse_kafka_changefeed_projection(spark):
    def rec(key: str, **payload) -> tuple:
        return (
            key.encode(),
            json.dumps(payload, default=str).encode(),
            dt.datetime(2024, 1, 1, 0, 0, 5),  # broker timestamp
        )

    records = spark.createDataFrame(
        [
            rec(
                "r1", seq=1, op="put", family="f", qualifier="c1",
                value="v1", ts="2024-01-01T00:00:01",
            ),
            rec("r2", seq=2, op="delete"),  # sparse payload, no event ts
        ],
        "key binary, value binary, timestamp timestamp",
    )
    out = parse_kafka_changefeed(records)
    assert [f.name for f in out.schema.fields] == [
        f.name for f in CHANGEFEED_SCHEMA.fields
    ]
    rows = {r["rowkey"]: r for r in out.collect()}
    assert rows["r1"]["qualifier"] == "c1"
    assert rows["r1"]["ts"] == dt.datetime(2024, 1, 1, 0, 0, 1)
    assert rows["r2"]["op"] == "delete"
    # no event-time in payload → broker timestamp keeps watermarks alive
    assert rows["r2"]["ts"] == dt.datetime(2024, 1, 1, 0, 0, 5)


def test_es_connector_options_multihost():
    cfg = EsSinkConfig(es_host="es1-es2-es3", es_port=9200, es_index="docs")
    opts = cfg.connector_options()
    # variant B's '-'-separated host list (polyinfo/EsClient.java:73) maps
    # to the connector's comma list; random-pick machinery dissolves
    assert opts["es.nodes"] == "es1,es2,es3"
    assert opts["es.resource"] == "docs/_doc"
    assert opts["es.write.operation"] == "upsert"
    assert opts["es.mapping.id"] == "rowkey"


def test_rate_changefeed_schema_and_generation(spark):
    """Rate-source synthetic changefeed: schema matches, mutations flow."""
    import time

    from hbase_observer_elasticsearch_spark.sources.rate_changefeed import (
        rate_changefeed,
    )

    cf = rate_changefeed(spark, rows_per_second=500, num_partitions=2)
    assert [f.name for f in cf.schema.fields] == [
        f.name for f in CHANGEFEED_SCHEMA.fields
    ]
    q = (
        cf.writeStream.format("memory")
        .queryName("rate_cf")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            q.processAllAvailable()
            n = spark.sql("SELECT COUNT(*) c FROM rate_cf").first()["c"]
            if n > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert n > 0
    ops = {r["op"] for r in spark.sql("SELECT DISTINCT op FROM rate_cf").collect()}
    assert "put" in ops  # delete mix appears once value%8==0 rows arrive


def test_config_info(spark):
    from hbase_observer_elasticsearch_spark.session import config_info

    info = config_info(spark)
    assert info["spark.sql.session.timeZone"] == "UTC"
    assert info["spark.sql.adaptive.enabled"] == "true"


def test_python_datasource_stream_restart_exactly_once(spark, sf_dir, tmp_path):
    """Kill the Python-datasource stream mid-drain and restart from the
    same checkpoint: the file sink must end with EXACTLY one copy of
    every mutation — the readBetweenOffsets replay contract (uncommitted
    ranges re-read, committed ranges never re-emitted)."""
    import os
    import time

    from hbase_observer_elasticsearch_spark.sources.python_datasource import (
        register_changefeed_datasource,
    )

    register_changefeed_datasource(spark)
    events_path = os.path.join(sf_dir, "events.parquet")
    expected = spark.read.parquet(events_path).count()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start():
        return (
            spark.readStream.format("changefeed_py")
            .option("path", events_path)
            .option("batchSize", str(max(1, expected // 10)))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )

    def committed_rows():
        # the FileStreamSink metadata log only exposes COMMITTED batches;
        # raw part-file counting would race in-flight task output (and the
        # partitioned reader writes numPartitions files per batch anyway)
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    q = start()
    # let at least one micro-batch commit, then kill mid-drain
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if 0 < committed_rows() < expected:
            break
        time.sleep(0.05)
    q.stop()
    q.awaitTermination(60)
    partial = spark.read.parquet(out).count()
    assert partial < expected, "stream finished before the kill — lower batchSize"

    q2 = start()
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        try:
            if spark.read.parquet(out).count() >= expected:
                break
        except Exception:
            pass
        time.sleep(0.2)
    q2.stop()
    q2.awaitTermination(60)

    final = spark.read.parquet(out)
    assert final.count() == expected  # nothing lost, nothing duplicated
    assert final.select("seq").distinct().count() == expected


def test_python_datasource_stream_partition_parallel(spark, sf_dir, tmp_path):
    """The streaming face of the connector must plan >1 input partition
    per micro-batch (executors — not the driver — read each offset
    range; the DataSourceStreamReader plans
    numPartitions mod-slices of every eid range)."""
    import os

    from pyspark.sql import functions as F

    from hbase_observer_elasticsearch_spark.sources.python_datasource import (
        register_changefeed_datasource,
    )

    register_changefeed_datasource(spark)
    events_path = os.path.join(sf_dir, "events.parquet")
    expected = spark.read.parquet(events_path).count()

    per_batch_partitions: list[int] = []
    per_batch_rows: list[int] = []

    def observe(batch_df, _batch_id):
        n = batch_df.select(
            F.spark_partition_id().alias("pid")
        ).distinct().count()
        if n:
            per_batch_partitions.append(n)
            per_batch_rows.append(batch_df.count())

    stream = (
        spark.readStream.format("changefeed_py")
        .option("path", events_path)
        .option("batchSize", str(max(1, expected // 3)))
        .option("numPartitions", "4")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(observe)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time

    deadline = time.monotonic() + 120
    while time.monotonic() < deadline and sum(per_batch_rows) < expected:
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)

    assert sum(per_batch_rows) == expected
    assert len(per_batch_partitions) >= 2  # genuine multi-batch progression
    # every full micro-batch was read by multiple executor tasks (a tiny
    # remainder batch can land < numPartitions rows → fewer non-empty slices)
    full = [
        n for n, r in zip(per_batch_partitions, per_batch_rows) if r >= 4
    ]
    assert full and all(n > 1 for n in full), (
        per_batch_partitions,
        per_batch_rows,
    )
