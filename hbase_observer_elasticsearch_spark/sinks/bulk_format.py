"""ES bulk-API payload formatting: the literal NDJSON the reference ships.

The reference's flush serializes its buffer into the Elasticsearch bulk
wire format — an action line (`{"update": {"_id": ...}}` /
`{"delete": {"_id": ...}}`) followed, for upserts, by a document line
(`{"doc": {...}, "doc_as_upsert": true}`) — then POSTs it
(observer6/ElasticSearchBulkOperator.java:84, builders at
HbaseDataSyncEsObserver.java:109,129). These column expressions produce
the same two lines per mutation from a doc-state DataFrame, JVM-side
(`to_json` over a sorted-key map), so a `foreachBatch` writer can dump
micro-batches straight into bulk POST bodies (or files for replay).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _meta(rowkey: Column, index: str) -> Column:
    """`{"_index": ..., "_type": "_doc", "_id": ...}`, through `to_json` so
    a rowkey containing `"` or `\\` is JSON-escaped instead of corrupting
    the wire line."""
    return F.to_json(
        F.struct(
            F.lit(index).alias("_index"),
            F.lit("_doc").alias("_type"),
            rowkey.alias("_id"),
        )
    )


def action_line(rowkey: Column, is_delete: Column, index: str) -> Column:
    """`{"update"|"delete": {"_index": ..., "_type": ..., "_id": ...}}`"""
    return F.concat(
        F.when(is_delete, F.lit('{"delete":')).otherwise(F.lit('{"update":')),
        _meta(rowkey, index),
        F.lit("}"),
    )


def doc_line(doc: Column) -> Column:
    """`{"doc": {...}, "doc_as_upsert": true}` — the setDocAsUpsert(true)
    partial-update body (HbaseDataSyncEsObserver.java:109). `doc` is a
    MAP<STRING,STRING>; to_json emits it in map order, so build the map
    sorted by qualifier for deterministic output."""
    return F.concat(
        F.lit('{"doc":'), F.to_json(doc), F.lit(',"doc_as_upsert":true}')
    )


def index_action_line(rowkey: Column, index: str) -> Column:
    """`{"index": {"_index": ..., "_type": ..., "_id": ...}}` — the
    full-document-replace action. Used where a flush fuses "delete then
    re-insert surviving cells" for one _id into a single commutative
    action (sinks/bulk_replay.py one-action-per-id rule)."""
    return F.concat(F.lit('{"index":'), _meta(rowkey, index), F.lit("}"))


def index_doc_line(doc: Column) -> Column:
    """The raw full-document body following an `index` action line."""
    return F.to_json(doc)


def bulk_lines(state: DataFrame, index: str) -> DataFrame:
    """(rowkey, action_json, doc_json) for a (rowkey, doc) state frame —
    doc NULL or empty ⇒ a delete action with no doc line."""
    is_del = F.col("doc").isNull() | (F.size("doc") == 0)
    return state.select(
        "rowkey",
        action_line(F.col("rowkey"), is_del, index).alias("action_json"),
        F.when(~is_del, doc_line(F.col("doc"))).alias("doc_json"),
    )
