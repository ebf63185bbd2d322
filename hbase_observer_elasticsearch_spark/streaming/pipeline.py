"""Structured Streaming restatement of the reference pipeline (SURVEY §3.4).

One streaming query replaces all three of the reference's control paths:

- hooks (postPut/postDelete)            → `readStream` over the changefeed
- 30 s scheduler beeper + 10 k size cap → `trigger(processingTime="30 seconds")`
  (observer6/ElasticSearchBulkOperator.java:61,26) + `maxFilesPerTrigger`
- buffer + bulk execute + reconnect     → `foreachBatch` MERGE into the
  idempotent sink + checkpoint replay (beats #22's at-least-once)

Per micro-batch, the epoch's raw puts and deletes go straight into the
sink (sinks/state_sink.EmulatedEsSink), which appends them as one run:
one Spark job and no shuffle per epoch, with no separate compaction pass.
Every fourth live version the same apply folds the runs into a base (one
rowkey shuffle), and the last-writer-wins reduction runs once per commit,
on the first read.

Delivery semantics: file-source + checkpoint gives exactly-once batch
replay; the sink MERGE is idempotent per epoch → effectively exactly-once
final state. The reference loses up to 30 s / 10 k buffered mutations on
crash (SURVEY §6); this loses nothing.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_session_conf
from ..sinks.state_sink import _epoch_rows, _lww
from ..sources.changefeed import CHANGEFEED_SCHEMA, scratch_dir

# Reference parity constants (observer6/ElasticSearchBulkOperator.java:26,61)
MAX_BULK_COUNT = 10_000
FLUSH_PERIOD_SECONDS = 30
DRAIN_TIMEOUT_S = 300


def read_feed(
    spark: SparkSession, path: str, schema=CHANGEFEED_SCHEMA, max_files: int = 1
) -> DataFrame:
    """A file stream over the parquet feed at ``path``: ``max_files``
    files per micro-batch, so a feed written as n files drains in n
    epochs."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def scoped_session(spark: SparkSession, parts: int) -> SparkSession:
    """A child session of ``spark`` at ``parts`` shuffle partitions.

    It shares the SparkContext and the table cache but not the SQL conf,
    so the count reaches only what runs on it, never a concurrent job on
    ``spark``. A stream fixes its state-store partitioning from this conf
    when it starts (one state store per partition per stateful operator
    per micro-batch), so small drains want a small count."""
    s = ensure_session_conf(spark.newSession())
    s.conf.set("spark.sql.shuffle.partitions", str(parts))
    return s


def drain(
    spark: SparkSession,
    build: Callable[[SparkSession], DataFrame],
    mode: str,
    *,
    parts: int | None = 4,
    expect_rows: int | None = None,
) -> DataFrame:
    """Run the stream ``build(s)`` to the end into a memory sink and
    return its rows, pinned JVM-side with an eager localCheckpoint.

    ``s`` is :func:`scoped_session` at ``parts`` partitions, or ``spark``
    itself when ``parts`` is None; ``build`` must construct every input
    on ``s``. The returned plan references neither the sink table nor the
    checkpoint dir, which is removed on return.

    By default the trigger is availableNow. A source that exposes one
    range per trigger (the Python DataSource stream reader has no
    admission-control API) instead runs processingTime-0 micro-batches
    until the progress reports ``expect_rows`` input rows, and the drain
    then checks that exactly that many rows were emitted.
    """
    s = spark if parts is None else scoped_session(spark, parts)
    name = "drain_" + uuid.uuid4().hex[:8]
    base = scratch_dir("drain_")
    try:
        writer = (
            build(s)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .outputMode(mode)
        )
        if expect_rows is None:
            q = writer.trigger(availableNow=True).start()
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                q.stop()
                raise RuntimeError(f"drain {name}: availableNow run timed out")
        else:
            q = writer.trigger(processingTime="0 seconds").start()
            deadline = time.monotonic() + DRAIN_TIMEOUT_S
            # summing numInputRows over recentProgress is a local
            # read; polling the memory table would be a Spark job per poll
            while q.isActive and time.monotonic() < deadline:
                if sum(p["numInputRows"] for p in q.recentProgress) >= expect_rows:
                    break
                time.sleep(0.05)
            q.stop()
            q.awaitTermination(60)
        pinned = s.table(name).localCheckpoint(eager=True)
        s.catalog.dropTempView(name)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    if expect_rows is not None:
        n = pinned.count()
        if n != expect_rows:
            raise RuntimeError(f"drain {name}: emitted {n} of {expect_rows} rows")
    return pinned


def compact_epoch(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """An epoch reduced by the sink's own last-writer-wins merge (`_lww`),
    as (cells, dels) for the sink MERGE.

    cells: the winning put per (rowkey, qualifier) by (ts, family, seq)
    among the puts after the epoch's latest delete — family byte-order
    breaks same-ts collisions like the reference's NavigableMap iteration
    (HbaseDataSyncEsObserver.java:93-102).
    dels: (rowkey, ts, seq) of the latest delete per deleted key.

    The sink write path does not need it: it hands the sink the raw
    split_epoch halves, which the sink's read merge reduces the same way.
    """
    rows = _lww(_epoch_rows(*split_epoch(batch)), False)
    tomb = F.col("qualifier").isNull()
    return rows.filter(~tomb), rows.filter(tomb).select("rowkey", "ts", "seq")


def split_epoch(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """An epoch's raw mutations as the sink MERGE's (cells, dels): its
    `op='put'` rows and the (rowkey, ts, seq) of its deletes, unreduced —
    the sink's read merge does the whole last-writer-wins reduction."""
    puts = batch.filter(F.col("op") == "put")
    dels = batch.filter(F.col("op") == "delete").select("rowkey", "ts", "seq")
    return puts, dels


def start_pipeline(
    spark: SparkSession,
    changefeed_dir: str,
    checkpoint_dir: str,
    sink,
    trigger: dict | None = None,
    max_files_per_trigger: int = 1,
):
    """Start the CDC replication stream: changefeed dir → ``sink``.

    ``sink`` is any state sink with ``apply(cells, dels, epoch_id)``
    (EmulatedEsSink appends a run per epoch and folds runs into a base;
    sinks/bulk_replay.EsBulkSink posts the epoch as one `_bulk` body);
    CdcReplicator builds it and reads state back through the same object.
    `trigger` defaults to the reference's 30 s flush period; pass
    ``{"availableNow": True}`` to drain the backlog and stop.
    `max_files_per_trigger` is the size-cap analog of MAX_BULK_COUNT.
    """

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        sink.apply(*split_epoch(batch), epoch_id)

    trigger = trigger or {"processingTime": f"{FLUSH_PERIOD_SECONDS} seconds"}
    return (
        read_feed(spark, changefeed_dir, max_files=max_files_per_trigger)
        .writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(**trigger)
        .start()
    )


def streaming_enrich_with_dim(
    spark: SparkSession, changefeed_dir: str, dim: DataFrame, on: str = "rowkey"
) -> DataFrame:
    """Stream-static join: enrich the live changefeed with a slowly-changing
    dimension (broadcast per micro-batch — the dim is re-resolved each
    epoch, so a refreshed dim table is picked up without restarting).

    At 100 TB this is the standard pattern for key→tenant /
    key→schema routing; the static side must stay broadcast-sized or be
    pre-bucketed on the join key.
    """
    return read_feed(spark, changefeed_dir).join(F.broadcast(dim), on, "left")


def streaming_put_delete_join(
    spark: SparkSession,
    changefeed_dir: str,
    how: str,
    horizon: str = "10 minutes",
    within: str = "5 minutes",
) -> DataFrame:
    """Stream-stream interval join of each put to the delete(s) of its
    rowkey within `within` after it; ``how`` is ``inner``, ``leftOuter``
    or ``fullOuter``. Returns (rowkey, qualifier, put_ts, put_seq, del_ts,
    del_seq), rowkey coalesced over both sides.

    - inner: the writes a delete discarded almost at once (churn/thrash
      detection on the changefeed).
    - leftOuter: every put, matched or emitted once with a NULL del_ts
      when the watermark proves no delete can still match it ("surviving
      writes").
    - fullOuter: additionally every delete that provably hit no put (the
      dropped-mutation reconciliation view).

    Both sides carry watermarks and the predicate bounds del_ts to
    [put_ts, put_ts + within], so Spark expires buffered state once the
    watermark passes the bound: state stays proportional to the event
    rate inside the horizon, not the stream length.

    A null-padded row may only be emitted when its row leaves join state,
    which the GLOBAL watermark decides: the MIN over both sources' max
    event time, minus `horizon` (puts and deletes are separate file
    streams over the same dir, so the lagging side governs). A put emits
    null-padded once put_ts + within < watermark; a delete once del_ts <
    watermark (every put it could match has put_ts <= del_ts). Both rules
    were traced exactly at sf0.001 (38/751/165 matched/put-only/
    delete-only rows); unmatched rows younger than the cutoff stay in
    state, unemitted, when a drain ends.
    """
    puts = (
        read_feed(spark, changefeed_dir)
        .filter(F.col("op") == "put")
        .withWatermark("ts", horizon)
        .select(
            "rowkey",
            "qualifier",
            F.col("ts").alias("put_ts"),
            F.col("seq").alias("put_seq"),
        )
    )
    dels = (
        read_feed(spark, changefeed_dir)
        .filter(F.col("op") == "delete")
        .withWatermark("ts", horizon)
        .select(
            F.col("rowkey").alias("d_rowkey"),
            F.col("ts").alias("del_ts"),
            F.col("seq").alias("del_seq"),
        )
    )
    return puts.join(
        dels,
        F.expr(
            "rowkey = d_rowkey AND del_ts >= put_ts "
            f"AND del_ts <= put_ts + INTERVAL {within}"
        ),
        how,
    ).select(
        F.coalesce(F.col("rowkey"), F.col("d_rowkey")).alias("rowkey"),
        "qualifier",
        "put_ts",
        "put_seq",
        "del_ts",
        "del_seq",
    )
