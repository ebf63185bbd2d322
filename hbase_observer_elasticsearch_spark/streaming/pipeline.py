"""Structured Streaming restatement of the reference pipeline (SURVEY §3.4).

One streaming query replaces all three of the reference's control paths:

- hooks (postPut/postDelete)            → `readStream` over the changefeed
- 30 s scheduler beeper + 10 k size cap → `trigger(processingTime="30 seconds")`
  (observer6/ElasticSearchBulkOperator.java:61,26) + `maxFilesPerTrigger`
- buffer + bulk execute + reconnect     → `foreachBatch` MERGE into the
  idempotent sink + checkpoint replay (beats #22's at-least-once)

Per micro-batch, the epoch's raw puts and deletes go straight into the
sink MERGE (sinks/state_sink.merge_epoch), which does the whole
last-writer-wins reduction in the same rowkey shuffle that merges them
into state: one shuffle and two Spark jobs per epoch, with no separate
compaction pass.

Delivery semantics: file-source + checkpoint gives exactly-once batch
replay; the sink MERGE is idempotent per epoch → effectively exactly-once
final state. The reference loses up to 30 s / 10 k buffered mutations on
crash (SURVEY §6); this loses nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sinks.state_sink import EmulatedEsSink, EsSinkConfig
from ..sources.changefeed import CHANGEFEED_SCHEMA

# Reference parity constants (observer6/ElasticSearchBulkOperator.java:26,61)
MAX_BULK_COUNT = 10_000
FLUSH_PERIOD_SECONDS = 30


def compact_epoch(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Reduce an epoch's mutations to (cells, dels) for the LWW sink MERGE.

    cells: the latest put per touched (rowkey, qualifier), ordered by
    (ts, family, seq) — family byte-order breaks same-ts collisions exactly
    like the reference's NavigableMap iteration
    (HbaseDataSyncEsObserver.java:93-102). Family is CARRIED into the sink
    state so the same tiebreak applies when the colliding puts land in
    DIFFERENT micro-batches (merge_epoch orders by the same triple).
    dels: the latest delete per touched key.

    It ranks BEFORE the delete filter, so a same-ts put that loses the
    family tiebreak but has a higher seq than the epoch's delete is dropped
    although apply_changefeed keeps it. The sink write path therefore does
    not use it: it feeds merge_epoch the raw split_epoch halves, and
    merge_epoch filters first and ranks in the same shuffle.
    """
    w_q = Window.partitionBy("rowkey", "qualifier").orderBy(
        F.col("ts").desc(), F.col("family").desc(), F.col("seq").desc()
    )
    cells = (
        batch.filter(F.col("op") == "put")
        .withColumn("__rn", F.row_number().over(w_q))
        .filter(F.col("__rn") == 1)
        .select("rowkey", "qualifier", "value", "family", "ts", "seq")
    )
    dels = (
        batch.filter(F.col("op") == "delete")
        .groupBy("rowkey")
        .agg(F.max(F.struct("ts", "seq")).alias("d"))
        .select("rowkey", F.col("d.ts").alias("ts"), F.col("d.seq").alias("seq"))
    )
    return cells, dels


def split_epoch(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """An epoch's raw mutations as the sink MERGE's (cells, dels): its
    `op='put'` rows and the (rowkey, ts, seq) of its deletes, unreduced —
    merge_epoch does the whole last-writer-wins reduction itself."""
    puts = batch.filter(F.col("op") == "put")
    dels = batch.filter(F.col("op") == "delete").select("rowkey", "ts", "seq")
    return puts, dels


def start_pipeline(
    spark: SparkSession,
    changefeed_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    config: EsSinkConfig | None = None,
    trigger: dict | None = None,
    max_files_per_trigger: int = 1,
    sink_cls: type = EmulatedEsSink,
    sink=None,
):
    """Start the CDC replication stream: changefeed dir → doc state table.

    `trigger` defaults to the reference's 30 s flush period; pass
    ``{"availableNow": True}`` in tests to drain the backlog and stop.
    `max_files_per_trigger` is the size-cap analog of MAX_BULK_COUNT.
    `sink_cls` selects the state layout: EmulatedEsSink (versioned full
    rewrite, atomic) or sinks.bucketed_state_sink.BucketedStateSink
    (incremental per-bucket IO — the 100 TB layout); pass an already-built
    `sink` instance instead to share it with a reader (CdcReplicator).
    """
    sink = sink or sink_cls(spark, state_dir, config)

    cf = (
        spark.readStream.schema(CHANGEFEED_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(changefeed_dir)
    )

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        sink.apply(*split_epoch(batch), epoch_id)

    writer = (
        cf.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    trigger = trigger or {"processingTime": f"{FLUSH_PERIOD_SECONDS} seconds"}
    writer = writer.trigger(**trigger)
    return writer.start()


def streaming_latest_state(spark: SparkSession, changefeed_dir: str) -> DataFrame:
    """Pure-streaming last-write-wins doc per key via dropDuplicates on a
    watermark — the declarative alternative to the foreachBatch MERGE when
    downstream only needs the latest full put per key within the watermark
    horizon (append-mode friendly)."""
    cf = (
        spark.readStream.schema(CHANGEFEED_SCHEMA)
        .parquet(changefeed_dir)
        .withWatermark("ts", "1 hour")
    )
    # latest mutation per (rowkey, qualifier) in arrival order within the
    # watermark: streaming dedup keeps the FIRST seen, so routing through
    # max-ts requires update-mode agg:
    return (
        cf.filter(F.col("op") == "put")
        .groupBy("rowkey", "qualifier")
        .agg(F.max_by("value", F.struct("ts", "seq")).alias("value"))
    )


def streaming_dedup_within_watermark(
    spark: SparkSession, changefeed_dir: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Duplicate-delivery suppression: drop redundant (rowkey, seq) redeliveries
    arriving within the watermark horizon.

    An at-least-once upstream (Kafka with producer retries, or the
    reference's variant-C retry loop — SURVEY §2.1 #22) re-delivers
    mutations; `dropDuplicatesWithinWatermark` suppresses them with state
    bounded by the watermark (unlike plain `dropDuplicates`, whose state
    grows forever on an unbounded stream).
    """
    cf = (
        spark.readStream.schema(CHANGEFEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(changefeed_dir)
        .withWatermark("ts", watermark)
    )
    return cf.dropDuplicatesWithinWatermark(["rowkey", "seq"])


def streaming_windowed_mutation_counts(
    spark: SparkSession,
    changefeed_dir: str,
    window_duration: str = "1 minute",
    watermark: str = "1 minute",
) -> DataFrame:
    """Watermarked tumbling-window mutation rates per op type.

    The streaming analog of operators/time_windows.window_tumbling: late
    events beyond the watermark are dropped (the reference has no notion
    of event time at all — its only clock is the 30 s flush beeper,
    observer6/ElasticSearchBulkOperator.java:61). Append output mode:
    a window emits exactly once, when the watermark passes its end —
    at scale this is the shape that keeps state bounded (state size =
    open windows × op types, independent of throughput).
    """
    cf = (
        spark.readStream.schema(CHANGEFEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(changefeed_dir)
        .withWatermark("ts", watermark)
    )
    return (
        cf.groupBy(F.window("ts", window_duration), "op")
        .agg(
            F.count(F.lit(1)).alias("n_mutations"),
            F.approx_count_distinct("rowkey").alias("n_keys_approx"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "op",
            "n_mutations",
            "n_keys_approx",
        )
    )


def streaming_mutation_sessions(
    spark: SparkSession,
    changefeed_dir: str,
    gap: str = "2 minutes",
    watermark: str = "1 minute",
) -> DataFrame:
    """Session windows per rowkey: mutation bursts separated by ≥ `gap`.

    Sessions are the merging-window stateful shape (a new event can extend
    or fuse open sessions); the watermark closes a session once no event
    can extend it, so state stays bounded by the number of open sessions.
    Batch twin: operators/time_windows.window_session.
    """
    cf = (
        spark.readStream.schema(CHANGEFEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(changefeed_dir)
        .withWatermark("ts", watermark)
    )
    return (
        cf.groupBy(F.session_window("ts", gap), "rowkey")
        .agg(F.count(F.lit(1)).alias("n_mutations"))
        .select(
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "rowkey",
            "n_mutations",
        )
    )


def streaming_enrich_with_dim(
    spark: SparkSession, changefeed_dir: str, dim: DataFrame, on: str = "rowkey"
) -> DataFrame:
    """Stream-static join: enrich the live changefeed with a slowly-changing
    dimension (broadcast per micro-batch — the dim is re-resolved each
    epoch, so a refreshed dim table is picked up without restarting).

    At 100 TB of stream this is the standard pattern for key→tenant /
    key→schema routing; the static side must stay broadcast-sized or be
    pre-bucketed on the join key.
    """
    cf = (
        spark.readStream.schema(CHANGEFEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(changefeed_dir)
    )
    return cf.join(F.broadcast(dim), on, "left")


def streaming_put_delete_interval_join(
    spark: SparkSession,
    changefeed_dir: str,
    horizon: str = "10 minutes",
    within: str = "5 minutes",
) -> DataFrame:
    """Stream-stream INTERVAL join: each put matched to the delete(s) that
    killed it within `within` — the audit stream answering "which writes
    were immediately discarded" (churn/thrash detection on the changefeed).

    Both sides carry watermarks and the join predicate bounds del_ts to
    [put_ts, put_ts + within], so Spark can expire buffered state once the
    watermark passes the bound — state stays proportional to the event
    rate inside the horizon, not the stream length (the requirement for an
    unbounded 100 TB feed).
    """
    puts = (
        spark.readStream.schema(CHANGEFEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(changefeed_dir)
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
        spark.readStream.schema(CHANGEFEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(changefeed_dir)
        .filter(F.col("op") == "delete")
        .withWatermark("ts", horizon)
        .select(F.col("rowkey").alias("d_rowkey"), F.col("ts").alias("del_ts"))
    )
    return puts.join(
        dels,
        F.expr(
            "rowkey = d_rowkey AND del_ts >= put_ts "
            f"AND del_ts <= put_ts + INTERVAL {within}"
        ),
    ).select("rowkey", "qualifier", "put_ts", "put_seq", "del_ts")


def streaming_put_delete_left_outer_join(
    spark: SparkSession,
    changefeed_dir: str,
    horizon: str = "10 minutes",
    within: str = "5 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every put, matched to the
    delete(s) that killed it within `within` — or emitted once with a
    NULL del_ts when the watermark PROVES no such delete can arrive
    ("surviving writes" audit, the complement of the inner join's churn
    report).

    The outer semantics are what make this the hard streaming operator:
    a null-padded row may only be emitted when the engine can prove the
    absence of a future match, i.e. when the put is evicted from join
    state. Eviction uses the GLOBAL watermark, which is the MIN over
    all sources' watermarks — here puts and deletes are separate
    file-stream sources over the same dir, so the delete side's slower
    max event time governs (traced empirically: the emitted/retained
    boundary sits exactly at min(max put_ts, max del_ts) - horizon -
    within, 751/751 rows at sf0.001). Unmatched puts younger than that
    cutoff stay in state, correctly UNEMITTED, when the drain ends.
    """
    puts = (
        spark.readStream.schema(CHANGEFEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(changefeed_dir)
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
        spark.readStream.schema(CHANGEFEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(changefeed_dir)
        .filter(F.col("op") == "delete")
        .withWatermark("ts", horizon)
        .select(F.col("rowkey").alias("d_rowkey"), F.col("ts").alias("del_ts"))
    )
    return puts.join(
        dels,
        F.expr(
            "rowkey = d_rowkey AND del_ts >= put_ts "
            f"AND del_ts <= put_ts + INTERVAL {within}"
        ),
        "leftOuter",
    ).select("rowkey", "qualifier", "put_ts", "put_seq", "del_ts")


def streaming_put_delete_full_outer_join(
    spark: SparkSession,
    changefeed_dir: str,
    horizon: str = "10 minutes",
    within: str = "5 minutes",
) -> DataFrame:
    """Stream-stream FULL OUTER interval join: matched put/delete pairs,
    plus null-padded puts that provably outlived every delete, plus
    null-padded deletes that provably hit no put — the complete
    reconciliation view (writes that survived + deletes of nonexistent
    keys, i.e. the reference pipeline's dropped-mutation audit).

    Eviction rules (both traced exactly at sf0.001): a put emits
    null-padded when put_ts + within < global watermark; a delete emits
    null-padded when del_ts < global watermark (every put it could match
    has put_ts <= del_ts, so watermark passage of del_ts itself closes
    the candidate set). Global watermark = MIN over the two sources'
    max event time − horizon.
    """
    puts = (
        spark.readStream.schema(CHANGEFEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(changefeed_dir)
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
        spark.readStream.schema(CHANGEFEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(changefeed_dir)
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
        "fullOuter",
    ).select(
        F.coalesce(F.col("rowkey"), F.col("d_rowkey")).alias("rowkey"),
        "qualifier",
        "put_ts",
        "put_seq",
        "del_ts",
        "del_seq",
    )
