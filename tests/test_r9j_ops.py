"""Streaming COUNT DISTINCT equals the batch restatement, and
Dunning G² arithmetic on a planted bigram table."""

from __future__ import annotations

import math

import hbase_observer_elasticsearch_spark.operators.text as tx
from hbase_observer_elasticsearch_spark.operators.stream_queries import (
    stream_daily_active_entities,
)
from hbase_observer_elasticsearch_spark.operators.text import (
    corpus_collocations_llr,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_stream_dau_equals_batch(spark):
    from pyspark.sql import functions as F

    from hbase_observer_elasticsearch_spark.catalog import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r.win_start: r.n_entities
        for r in stream_daily_active_entities(spark, sf).collect()
    }
    ev = load_table(spark, sf, "events")
    mx = ev.agg(F.max("ts").alias("m")).collect()[0].m
    batch = (
        ev.select(
            F.date_trunc("day", "ts").alias("day"),
            F.col("user_id").cast("string").alias("rowkey"),
        )
        .groupBy("day")
        .agg(F.countDistinct("rowkey").alias("n"))
        .collect()
    )
    import datetime

    cutoff = mx - datetime.timedelta(hours=1)
    want = {
        r.day: r.n
        for r in batch
        if r.day + datetime.timedelta(days=1) <= cutoff
    }
    assert got == want
    assert len(got) > 0


def test_llr_planted_bigram(spark, monkeypatch):
    t = "a b a b a b a b a b"  # (a,b) x5, (b,a) x4, N=9
    docs = spark.createDataFrame([(1, t, "en", "web", len(t))], DOC_SCHEMA)
    monkeypatch.setattr(tx, "load_table", lambda s, sf, n: docs)
    out = corpus_collocations_llr(spark, "r9j").collect()
    assert len(out) == 1  # (b,a) support 4 is under the floor of 5
    r = out[0]
    assert (r.w1, r.w2, r.k11, r.c1, r.c2) == ("a", "b", 5, 5, 5)
    want = 2 * (5 * math.log(5 * 9 / 25) + 4 * math.log(4 * 9 / 16))
    assert abs(r.llr - want) < 1e-4
