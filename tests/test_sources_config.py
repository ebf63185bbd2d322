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


def test_default_driver_memory(monkeypatch):
    """A third of physical memory, capped at 16g; SPARK_DRIVER_MEM wins."""
    import os

    from hbase_observer_elasticsearch_spark import session

    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    page = 4096

    def host(mb):
        pages = mb * (1 << 20) // page
        monkeypatch.setattr(
            os,
            "sysconf",
            lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name],
        )

    host(15 * 1024)
    assert session.default_driver_memory() == "5120m"
    host(256 * 1024)
    assert session.default_driver_memory() == "16384m"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"
