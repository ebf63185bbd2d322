"""Oracle-checked END-TO-END queries over the streaming operators.

Each query here RUNS a Structured Streaming pipeline and returns the rows
it emitted, which the oracle check compares against a plain batch DuckDB
restatement. Two helpers from streaming/pipeline.py carry them:

- `read_feed` opens a parquet feed as a file stream, one file per
  micro-batch, so a 2-file feed is a 2-epoch proof (the two Python
  DataSource tails read through their connector instead);
- `drain` runs the stream to the end into a memory sink and returns the
  emitted rows pinned by an eager localCheckpoint. The stream runs on a
  child session at its own shuffle-partition count (4 unless the query
  says otherwise), so no query writes the session it was handed.

The checks cover the stream-static broadcast enrichment, the
stream-stream interval joins, windowed, session and chained stateful
aggregations, within-watermark dedup and the custom keyed-state handlers
(the reference has no joins at all; these are north-star surface,
SURVEY §2.3 streaming row).

Watermark soundness of the comparison: the changefeed dir is written
range-partitioned on seq (sources/changefeed.write_changefeed_stream_dir)
and the events fixture assigns event_id in ts order, so each micro-batch
file is a contiguous time range. A delete in file k+1 can then only match
puts with put_ts >= del_ts - within >= max_ts(file k) - within, and put
state is retained until watermark > put_ts + within, i.e. at least until
max_ts(file k) - horizon > put_ts + within — which cannot happen for
those puts. Hence NO candidate match is ever dropped by state expiry and
the streamed result equals the batch join for ANY horizon >= 0.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ranking import ranked_topk_per
from ..registry import register
from ..sources.changefeed import scratch_dir as _scratch
from ..sources.changefeed import write_changefeed_stream_dir
from ..streaming.pipeline import (
    drain,
    read_feed,
    streaming_enrich_with_dim,
    streaming_put_delete_join,
)

_SQL_CF = """
  SELECT event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         CAST(user_id AS VARCHAR) AS rowkey,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS qualifier,
         ts
  FROM events
"""


def _changefeed_dir(spark: SparkSession, sf_dir: str) -> str:
    """Shared per-process changefeed fixture dir (2 files → 2 micro-batches
    at maxFilesPerTrigger=1 — still a multi-batch proof; the watermark
    argument in the module docstring holds for any file count ≥ 2). The
    write is memoized across the three streaming queries, so the bench no
    longer pays 3× the fixture-write cost."""
    from ..sources.changefeed import shared_changefeed_stream_dir

    return shared_changefeed_stream_dir(spark, sf_dir, n_files=2)


def _put_delete_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The changefeed's puts joined to their deletes within 2 hours
    (streaming/pipeline.streaming_put_delete_join), drained."""
    cf_dir = _changefeed_dir(spark, sf_dir)
    return drain(
        spark,
        lambda s: streaming_put_delete_join(
            s, cf_dir, how, horizon="10 minutes", within="2 hours"
        ),
        "append",
    )


@register(
    "stream_static_enrich",
    oracle=f"""
WITH cf AS ({_SQL_CF}),
dim AS (
  SELECT CAST(c_custkey AS VARCHAR) AS rowkey, c_mktsegment AS segment
  FROM customer
)
SELECT c.seq, c.rowkey, c.op, c.qualifier, d.segment
FROM cf c LEFT JOIN dim d USING (rowkey)
""",
    # changefeed passthrough + stream-static broadcast join: no state
    stream="stateless",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join, end-to-end: the live changefeed is
    enriched per micro-batch against a static customer dimension
    (streaming/pipeline.streaming_enrich_with_dim), drained with
    availableNow, and must equal the batch left join row-for-row.

    At 100 TB this is the key→tenant routing pattern: the dim re-resolves
    every epoch (picks up refreshes without restart) and must stay
    broadcast-sized or be pre-bucketed on the join key.
    """
    cf_dir = _changefeed_dir(spark, sf_dir)

    def build(s: SparkSession) -> DataFrame:
        dim = load_table(s, sf_dir, "customer").select(
            F.col("c_custkey").cast("string").alias("rowkey"),
            F.col("c_mktsegment").alias("segment"),
        )
        return streaming_enrich_with_dim(s, cf_dir, dim)

    emitted = drain(spark, build, "append")
    return emitted.select("seq", "rowkey", "op", "qualifier", "segment")


@register(
    "stream_put_delete_join",
    oracle=f"""
WITH cf AS ({_SQL_CF})
SELECT p.rowkey, p.qualifier,
       p.ts AS put_ts, p.seq AS put_seq, d.ts AS del_ts
FROM cf p JOIN cf d
  ON p.rowkey = d.rowkey
 AND p.op = 'put' AND d.op = 'delete'
 AND d.ts >= p.ts AND d.ts <= p.ts + INTERVAL 2 HOUR
""",
    # watermark-evicted join state
    stream="flat",
)
def stream_put_delete_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL join, end-to-end: each put matched to the
    delete(s) that killed it within 2 hours
    (streaming/pipeline.streaming_put_delete_join), drained with
    availableNow; must equal the batch range join exactly — including
    multiplicity when several deletes hit one put.

    The watermark + bounded join predicate let Spark expire buffered state
    once no future delete can match (see module docstring for why that
    expiry provably never races the drain), so state stays proportional to
    the event rate inside the horizon — the requirement for an unbounded
    100 TB feed.
    """
    return _put_delete_join(spark, sf_dir, "inner").select(
        "rowkey", "qualifier", "put_ts", "put_seq", "del_ts"
    )


@register(
    "stream_left_outer_join",
    oracle=f"""
WITH cf AS ({_SQL_CF}),
p AS (SELECT rowkey, qualifier, ts AS put_ts, seq AS put_seq
      FROM cf WHERE op = 'put'),
d AS (SELECT rowkey, ts AS del_ts FROM cf WHERE op = 'delete'),
wm AS (SELECT LEAST((SELECT MAX(put_ts) FROM p),
                    (SELECT MAX(del_ts) FROM d))
              - INTERVAL 10 MINUTE AS w),
j AS (
  SELECT p.rowkey, p.qualifier, p.put_ts, p.put_seq, d.del_ts
  FROM p LEFT JOIN d
    ON p.rowkey = d.rowkey
   AND d.del_ts >= p.put_ts
   AND d.del_ts <= p.put_ts + INTERVAL 2 HOUR
)
SELECT rowkey, qualifier, put_ts, put_seq, del_ts
FROM j WHERE del_ts IS NOT NULL
UNION ALL
SELECT rowkey, qualifier, put_ts, put_seq, del_ts
FROM j
WHERE del_ts IS NULL
  AND put_ts + INTERVAL 2 HOUR < (SELECT w FROM wm)
""",
    # watermark-evicted join state
    stream="flat",
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join, end-to-end: every put
    matched to its killing delete within 2 hours, or null-padded once
    the watermark proves no delete can arrive
    (streaming/pipeline.streaming_put_delete_join) — the
    outer-emission member of the streaming proof set: unlike the inner
    join (stream_put_delete_join), correctness here hinges on WHEN the
    engine may declare a non-match, which is a watermark-eviction fact,
    not a data fact.

    The oracle restates that eviction rule exactly: the final global
    watermark of an availableNow drain is min over SOURCES of max event
    time (puts and deletes are separate sources, so the delete side's
    lagging clock governs) minus the 10-minute horizon, and a null row
    appears iff put_ts + 2h < that watermark (empirically pinned:
    751/751 at sf0.001 — see the pipeline docstring). Younger unmatched
    puts are retained in state and correctly absent from BOTH sides.
    At 100 TB the same bound is why outer-join state stays
    O(rate x (horizon + within)) instead of growing with history.
    """
    return _put_delete_join(spark, sf_dir, "leftOuter").select(
        "rowkey", "qualifier", "put_ts", "put_seq", "del_ts"
    )


@register(
    "stream_full_outer_join",
    oracle=f"""
WITH cf AS ({_SQL_CF}),
p AS (SELECT rowkey, qualifier, ts AS put_ts, seq AS put_seq
      FROM cf WHERE op = 'put'),
d AS (SELECT rowkey AS d_rowkey, ts AS del_ts, seq AS del_seq
      FROM cf WHERE op = 'delete'),
wm AS (SELECT LEAST((SELECT MAX(put_ts) FROM p),
                    (SELECT MAX(del_ts) FROM d))
              - INTERVAL 10 MINUTE AS w),
matched AS (
  SELECT p.rowkey, p.qualifier, p.put_ts, p.put_seq, d.del_ts, d.del_seq
  FROM p JOIN d
    ON p.rowkey = d.d_rowkey
   AND d.del_ts >= p.put_ts
   AND d.del_ts <= p.put_ts + INTERVAL 2 HOUR
)
SELECT rowkey, qualifier, put_ts, put_seq, del_ts, del_seq FROM matched
UNION ALL
SELECT p.rowkey, p.qualifier, p.put_ts, p.put_seq,
       NULL AS del_ts, CAST(NULL AS BIGINT) AS del_seq
FROM p
WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.put_seq = p.put_seq)
  AND p.put_ts + INTERVAL 2 HOUR < (SELECT w FROM wm)
UNION ALL
SELECT d.d_rowkey AS rowkey, NULL AS qualifier,
       NULL AS put_ts, CAST(NULL AS BIGINT) AS put_seq,
       d.del_ts, d.del_seq
FROM d
WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.del_seq = d.del_seq)
  AND d.del_ts < (SELECT w FROM wm)
""",
    # watermark-evicted join state
    stream="flat",
)
def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join, end-to-end — the complete
    reconciliation view that finishes the streaming join family (inner:
    stream_put_delete_join; left outer: stream_left_outer_join): matched
    pairs, surviving puts (null delete), and no-op deletes (null put).

    Each outer side has its own provable-non-match cutoff, and BOTH are
    restated in the oracle: put-null rows need put_ts + 2h below the
    final watermark, delete-null rows need only del_ts below it (a
    delete's match candidates all precede it). Final watermark = min
    over the two sources' max event time - 10 min. All three row
    classes were traced to exact agreement (38/751/165 at sf0.001)
    before this oracle was written.
    """
    return _put_delete_join(spark, sf_dir, "fullOuter")


@register(
    "stream_tumbling_agg",
    oracle=f"""
WITH cf AS ({_SQL_CF})
SELECT date_trunc('day', ts) AS win_start,
       op,
       CAST(COUNT(*) AS BIGINT) AS n_mutations
FROM cf
GROUP BY 1, 2
""",
    # watermark-evicted window state
    stream="flat",
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation, end-to-end: the changefeed
    drained through a 1-day event-time window count per op in UPDATE mode;
    a window's LAST emission is its converged total, which must equal the
    batch groupBy exactly — the windowed-agg member of the streaming proof
    set (joins: stream_static_enrich / stream_put_delete_join; keyed
    state: cdc_stateful_stream).

    Update mode rather than append makes the check watermark-independent
    (append's emission set depends on where the final watermark lands
    between micro-batches — an engine-internal detail; every window's
    running total is emitted each batch it changes, and max() per window
    is the converged count either way). The watermark still bounds state:
    closed windows are evicted after watermark passage, so open-window
    state stays O(windows in the horizon × op types) on an unbounded feed.
    """
    cf_dir = _changefeed_dir(spark, sf_dir)

    def build(s: SparkSession) -> DataFrame:
        return (
            read_feed(s, cf_dir)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day"), "op")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_running"))
            .select(F.col("window.start").alias("win_start"), "op", "n_running")
        )

    return (
        drain(spark, build, "update")
        .groupBy("win_start", "op")
        .agg(F.max("n_running").alias("n_mutations"))
    )


@register(
    "stream_session_agg",
    oracle=f"""
WITH cf AS ({_SQL_CF}),
flagged AS (
  SELECT rowkey, ts, seq,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY rowkey ORDER BY ts, seq)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY rowkey ORDER BY ts, seq) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM cf
),
sessions AS (
  SELECT rowkey, ts, seq,
         SUM(is_new) OVER (PARTITION BY rowkey ORDER BY ts, seq
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM flagged
),
closed AS (
  SELECT rowkey,
         MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_mutations
  FROM sessions
  GROUP BY rowkey, sid
)
SELECT * FROM closed
WHERE session_end <= (SELECT MAX(ts) FROM cf) - INTERVAL 1 HOUR
""",
    # watermark-evicted session state
    stream="flat",
)
def stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SESSION-window aggregation, end-to-end in APPEND mode:
    per-rowkey sessions (30-minute inactivity gap) over the changefeed,
    emitted only when the watermark proves the session can no longer
    grow — the stateful merge-and-expire operator that tumbling windows
    don't exercise (sessions MERGE when a late event bridges two of
    them, so per-key state is interval-shaped, not slot-shaped).

    Append-mode emission is deterministic here: availableNow ends with a
    no-data micro-batch that advances the watermark to (global max ts −
    1 h), so the emission set is exactly the sessions whose end falls at
    or below that final watermark — which is what the batch oracle
    computes with gaps-and-islands + the same cutoff. Sessions still
    open at the cutoff remain in state and are correctly ABSENT from
    both sides. State cost on an unbounded feed: O(open sessions) per
    key-range, bounded by the gap + horizon.
    """
    cf_dir = _changefeed_dir(spark, sf_dir)

    def build(s: SparkSession) -> DataFrame:
        return (
            read_feed(s, cf_dir)
            .withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes"), "rowkey")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_mutations"))
            .select(
                "rowkey",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_mutations",
            )
        )

    return drain(spark, build, "append")


def _delivered_twice(s: SparkSession, cf_dir: str) -> DataFrame:
    """The changefeed unioned with itself: every mutation arrives twice,
    as a reconnecting at-least-once source redelivers it."""
    twice = read_feed(s, cf_dir).unionByName(read_feed(s, cf_dir))
    return twice.withWatermark("ts", "1 hour")


@register(
    "stream_dedup_within_watermark",
    oracle=f"""
WITH cf AS ({_SQL_CF})
SELECT seq, op, rowkey, ts FROM cf
""",
    # watermark-evicted dedup state
    stream="flat",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once from at-least-once, end-to-end: the changefeed is
    UNIONED WITH ITSELF (every mutation delivered twice — the redelivery
    a reconnecting source produces, reference requeue-on-failure
    ElasticSearchBulkOperator.java:56-66) and deduplicated with
    `dropDuplicatesWithinWatermark` on seq; the drained output must
    equal the SINGLE-delivery batch relation exactly.

    Within-watermark dedup is the scale-correct form: state holds only
    seqs younger than the watermark (older redeliveries are provably
    impossible once the source's lag bound has passed), so dedup state
    is O(arrival rate × delay horizon), not O(stream history) — the
    difference between a bounded and an unbounded state store on a feed
    that never ends. Both deliveries of a seq arrive in the same
    micro-batch file here, well inside any horizon.
    """
    cf_dir = _changefeed_dir(spark, sf_dir)
    return drain(
        spark,
        lambda s: _delivered_twice(s, cf_dir)
        .dropDuplicatesWithinWatermark(["seq"])
        .select("seq", "op", "rowkey", "ts"),
        "append",
    )


@register(
    "stream_chained_stateful",
    oracle=f"""
WITH cf AS ({_SQL_CF}),
wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM cf),
agg AS (
  SELECT date_trunc('day', ts) AS win_start,
         date_trunc('day', ts) + INTERVAL 1 DAY AS win_end,
         op,
         CAST(COUNT(*) AS BIGINT) AS n_mutations
  FROM cf
  GROUP BY 1, 2, 3
)
SELECT win_start, op, n_mutations
FROM agg WHERE win_end <= (SELECT w FROM wm)
""",
    # watermark-evicted window state in both stages
    stream="flat",
)
def stream_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming operators in one query — at-least-once
    dedup feeding a windowed aggregation: the changefeed delivered TWICE
    (union with itself, the reconnect-redelivery scenario) is first
    deduplicated with dropDuplicatesWithinWatermark, and the surviving
    stream flows DIRECTLY into a 1-day tumbling count per op, all in
    append mode. Multi-stateful-operator pipelines are a Spark 3.4+/4.x
    capability with real restrictions (append mode only; watermark
    propagated through the dedup into the window), so this is a distinct
    engine-surface proof beyond the single-operator twins
    (stream_dedup_within_watermark, stream_tumbling_agg).

    Append-mode emission is deterministic: the availableNow drain's
    final watermark is max(ts) - 1 h, and a window emits iff its END is
    at or below that watermark (traced exactly: 58/58 windows with
    identical counts at sf0.001). The oracle therefore aggregates the
    SINGLE-delivery feed — proving the dedup removed every redelivery —
    and applies the same win_end cutoff.

    State cost: dedup state is O(arrival rate x horizon), window state
    is O(open windows x ops) — both bounded on an unbounded feed; the
    chain shares one watermark, so neither operator blocks the other's
    eviction.
    """
    cf_dir = _changefeed_dir(spark, sf_dir)
    return drain(
        spark,
        lambda s: _delivered_twice(s, cf_dir)
        .dropDuplicatesWithinWatermark(["seq"])
        .groupBy(F.window("ts", "1 day"), "op")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_mutations"))
        .select(F.col("window.start").alias("win_start"), "op", "n_mutations"),
        "append",
    )


DEBOUNCE_GAP_US = 5_000_000  # 5 s, matches events_debounce


@register(
    "stream_debounce",
    oracle=f"""
WITH cf AS ({_SQL_CF}),
g AS (
  SELECT seq, rowkey, qualifier, ts,
         LAG(ts) OVER (PARTITION BY rowkey, COALESCE(qualifier, '')
                       ORDER BY ts, seq) AS prev_ts
  FROM cf
)
SELECT seq, rowkey, qualifier, ts
FROM g
WHERE prev_ts IS NULL
   OR epoch_us(ts) - epoch_us(prev_ts) > {DEBOUNCE_GAP_US}
""",
    # watermark-evicted debounce state
    stream="flat",
)
def stream_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming debounce: the changefeed drained through the
    applyInPandasWithState gap-suppressor (streaming/stateful.py:
    stateful_debounce) in 2 availableNow micro-batches must emit exactly
    the batch LAG-window answer — the proof that a 5 s double-fire guard
    (the storm the reference's verbatim put-forwarding causes,
    HbaseDataSyncEsObserver.java:83-97) survives arbitrary micro-batch
    boundaries, because the single long of keyed state (the previous raw
    timestamp) carries the gap decision across them.

    Unlike dropDuplicatesWithinWatermark (stream_dedup_within_watermark,
    exact-key dedup), the debounce predicate depends on the PREVIOUS
    event's time, which no built-in dedup expresses — the minimal
    genuine custom-state operator. State is one long per active key.
    """
    from ..streaming.stateful import stateful_debounce

    cf_dir = _changefeed_dir(spark, sf_dir)
    # The pandas state function wants the cores, so this drain keeps the
    # caller's shuffle partitions (measured at sf0.1: 2.9 s at 32
    # partitions vs 4.8 s at 4).
    emitted = drain(
        spark,
        lambda s: stateful_debounce(s, cf_dir, DEBOUNCE_GAP_US),
        "update",
        parts=None,
    )
    return emitted.select("seq", "rowkey", "qualifier", "ts")


def _tail_python_datasource(
    spark: SparkSession, sf_dir: str, expect_rows: int | None = None, **options
) -> DataFrame:
    """Tail the events feed through the changefeed Python DataSource
    until ``expect_rows`` rows (default: every event) came through;
    summarize them per op.

    The source exposes one offset range per trigger, so this drain runs
    processingTime-0 micro-batches on the caller's session. Batches are
    sized to ~3 micro-batches of the FULL eid space at any scale factor
    (offsets advance over every eid even when region pruning drops
    rows): the proof needs offset progression, not 40 scheduler round
    trips at sf0.1.
    """
    from ..sources.python_datasource import register_changefeed_datasource

    path = os.path.join(sf_dir, "events.parquet")
    total = spark.read.parquet(path).count()
    options.update(path=path, batchSize=str(max(2500, (total + 2) // 3)))

    def build(s: SparkSession) -> DataFrame:
        register_changefeed_datasource(s)
        return s.readStream.format("changefeed_py").options(**options).load()

    if expect_rows is None:
        expect_rows = total
    emitted = drain(spark, build, "append", parts=None, expect_rows=expect_rows)
    return emitted.groupBy("op").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mutations"),
        F.countDistinct("rowkey").cast("bigint").alias("n_keys"),
        F.min("seq").cast("bigint").alias("min_seq"),
        F.max("seq").cast("bigint").alias("max_seq"),
    )


@register(
    "cdc_python_datasource_stream",
    oracle="""
WITH cf AS (
  SELECT event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         CAST(user_id AS VARCHAR) AS rowkey,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END
           AS qualifier,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
  FROM events
)
SELECT op,
       CAST(COUNT(*) AS BIGINT) AS n_mutations,
       CAST(COUNT(DISTINCT rowkey) AS BIGINT) AS n_keys,
       CAST(MIN(seq) AS BIGINT) AS min_seq,
       CAST(MAX(seq) AS BIGINT) AS max_seq
FROM cf
GROUP BY op
""",
    # groupBy(op) complete agg: 2 groups, constant forever
    stream="flat",
)
def cdc_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource consumed as a STREAM through the
    partition-parallel `DataSourceStreamReader` (sources/
    python_datasource.ChangefeedStreamReader): `spark.readStream.format(
    "changefeed_py")` drains the changefeed in offset-tracked
    micro-batches (event-id watermarks standing in for replication-log
    LSNs), each planned as one executor-side task per rowkey region —
    the Spark driver reads only the parquet footer, never the feed. The
    drained aggregate must equal the batch relational restatement —
    proving the initialOffset / latestOffset / partitions / read replay
    contract end-to-end, the final piece of connector parity with the
    reference's client factory (polyinfo/EsClient.java:29-60):
    same connector class serves batch reads (cdc_python_datasource) AND
    resumable partition-parallel streams.
    """
    return _tail_python_datasource(spark, sf_dir)


@register(
    "stream_pushdown_region_tail",
    oracle="""
WITH cf AS (
  SELECT event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         CAST(user_id AS VARCHAR) AS rowkey,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END
           AS qualifier,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
  FROM events
  WHERE CAST(user_id AS VARCHAR) LIKE '4%'
     OR CAST(user_id AS VARCHAR) LIKE '7%'
)
SELECT op,
       CAST(COUNT(*) AS BIGINT) AS n_mutations,
       CAST(COUNT(DISTINCT rowkey) AS BIGINT) AS n_keys,
       CAST(MIN(seq) AS BIGINT) AS min_seq,
       CAST(MAX(seq) AS BIGINT) AS max_seq
FROM cf
GROUP BY op
""",
    # passthrough append; the groupBy(op) runs batch-side after the drain
    stream="stateless",
)
def stream_pushdown_region_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-SIDE REGION PRUNING: the changefeed Python DataSource tailed with
    ``.option("rowkeyPrefix", "4,7")`` — the replication-log analog of
    an HBase scan bounded to a key range
    (observer6/HbaseDataSyncEsObserver.java:36-43, the region-scoped
    replication hook). Every micro-batch plans tasks ONLY for the
    rowkey regions the prefixes touch (regions '4' and '7' here; the
    other eight never get a task — pinned by
    tests/test_changefeed_datasource.py::TestStreamRegionPruning), and
    each task's parquet read carries both the eid offset range AND the
    exact prefix→numeric user_id ranges as row-group filters, so
    per-batch IO tracks selected data, not feed size. The drained
    aggregate must equal the batch relational restatement over the
    prefix-filtered feed — the stream face of `cdc_pushdown_region_scan`'s contract.
    """
    # the source emits only the rows that survive region pruning
    expected = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .filter(
            F.col("user_id").cast("string").startswith("4")
            | F.col("user_id").cast("string").startswith("7")
        )
        .count()
    )
    return _tail_python_datasource(spark, sf_dir, expected, rowkeyPrefix="4,7")


@register(
    "stream_exact_dedup_keyed_state",
    oracle="""
SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
         AS canon_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM documents
GROUP BY 1
""",
    # seen-set keyed by canonical doc hash: O(distinct docs)
    stream=(
        "keyed",
        "SELECT COUNT(DISTINCT array_to_string(list_sort("
        "string_split(text, ' ')), ' ')) FROM '{dir}/documents.parquet'",
    ),
)
def stream_exact_dedup_keyed_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact dedup ON INGEST: the documents corpus replayed as a stream
    and deduplicated with UNBOUNDED Spark-managed keyed state
    (applyInPandasWithState, NoTimeout) — emit a document the first time
    its canonical sorted-bag-of-words hash is seen, silently drop every
    later copy. The complement of stream_dedup_within_watermark: that
    operator bounds state by the watermark horizon (duplicates beyond it
    pass), this one keeps the full seen-set because training-data
    ingestion must never re-admit a document no matter how much later
    the copy arrives.

    Determinism of the keeper: the feed is written as contiguous
    doc_id-ordered files, so the first micro-batch containing a hash
    also contains its globally smallest doc_id, and within that batch
    the handler takes the min — hence keeper == MIN(doc_id) per hash,
    which is exactly what the batch oracle restates. Duplicate emission
    is impossible by construction (state.exists short-circuits), so the
    update-mode memory sink holds one row per distinct hash.

    Scale shape (100 TB ingest): state is one long per distinct
    canonical hash, hash-partitioned across executors by the groupBy —
    the classic sharded seen-set. With the RocksDB state-store provider
    the set spills to local SSD and is checkpointed incrementally;
    admission cost per batch is one state lookup per grouped key. The
    canonical hash itself is computed map-side (built-in md5 over
    array_sort — no Python in the per-row path; Python touches only
    grouped first-sight batches).
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("canon_hash", T.StringType(), False),
            T.StructField("keeper_doc_id", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("keeper", T.LongType(), False)]
    )

    def _first_sight(key, pdfs, state):
        (canon,) = key
        mn = None
        for pdf in pdfs:
            m = int(pdf["seq"].min())
            mn = m if mn is None else min(mn, m)
        if state.exists:
            return  # later copies: drop, emit nothing
        state.update((mn,))
        yield pd.DataFrame(
            {"canon_hash": [canon], "keeper_doc_id": [mn]}
        )

    def build(s: SparkSession) -> DataFrame:
        canon = F.md5(F.concat_ws(" ", F.array_sort(F.split("text", " "))))
        return (
            read_feed(s, feed_dir, "seq long, text string")
            .select("seq", canon.alias("canon_hash"))
            .groupBy("canon_hash")
            .applyInPandasWithState(
                _first_sight,
                outputStructType=out_schema,
                stateStructType=state_schema,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    base = _scratch("stream_dedup_ingest_")
    try:
        feed_dir = os.path.join(base, "docs")
        docs = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("seq"), "text"
        )
        write_changefeed_stream_dir(docs, feed_dir, n_files=2)
        emitted = drain(spark, build, "update")
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return emitted.select(
        "canon_hash", F.col("keeper_doc_id").cast("bigint").alias("keeper_doc_id")
    )


from .similarity import _SQL_SEM_INCR as _SQL_SEM_ADMISSION  # noqa: E402


@register(
    "stream_semantic_admission",
    # same batch restatement as dedup_semantic_incremental: the streaming
    # drain must emit exactly the batch admission table
    oracle=_SQL_SEM_ADMISSION,
    # update-mode admission agg keyed by incoming vec_id
    stream=("keyed", "SELECT COUNT(*) FROM '{dir}/embeddings.parquet'"),
)
def stream_semantic_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental SemDeDup admission ON INGEST — the streaming twin of
    dedup_semantic_incremental: the new-batch embeddings (top quarter of
    the id space) replayed as a 2-file stream, each micro-batch assigned
    to the standing coarse codebook MAP-SIDE (array-argmin against the
    broadcast one-row nested codebook — no window, stream-safe, same
    best-cosine/cid tiebreak as the batch `_semdedup_asgn`; k is
    corpus-derived now, so no literal expression trees), left-outer
    stream-static
    joined against the standing corpus on (same cluster AND cosine >=
    threshold), and aggregated per new vector in update mode. Emits the
    identical admission table the batch query computes — proven by
    sharing its DuckDB oracle verbatim.

    Update-mode soundness: the feed is range-partitioned on vec_id, so
    each new vector's rows arrive in exactly one micro-batch and its
    aggregate settles there — the memory sink holds one final row per
    vector, no cross-batch revision.

    Scale shape (100 TB ingest): the standing side is cluster-keyed
    (the ANN index's own partitioning) and pinned once, not recomputed
    per batch (localCheckpoint here; a persisted table in production);
    per micro-batch cost is batch-rows x probed-cell size, the same
    bound as the batch query, paid incrementally at ingest frequency.
    """
    from ..functions.vectors import cosine, dot, norm
    from ..operators.similarity import (
        SEM_INCR_DEN,
        SEM_INCR_NUM,
        SEMDEDUP_T,
        _coarse_cents,
        _semdedup_asgn,
    )

    e = load_table(spark, sf_dir, "embeddings")
    split = e.agg(
        F.expr(f"(MAX(vec_id) + 1) * {SEM_INCR_NUM} DIV {SEM_INCR_DEN}")
    ).collect()[0][0]
    scored = F.array_min(
        F.transform(
            "cents",
            lambda c: F.struct(
                (-cosine(F.col("embedding"), c["cv"])).alias("negcs"),
                c["cid"].alias("cid"),
            ),
        )
    )
    cs = dot(F.col("embedding"), F.col("oe")) / (F.col("nnrm") * F.col("onrm"))

    def build(s: SparkSession) -> DataFrame:
        # standing side: batch assignment, pinned so micro-batches re-join
        # a materialized table instead of re-running the assignment
        old = (
            _semdedup_asgn(s, sf_dir)
            .filter(F.col("vec_id") < split)
            .select(
                "cluster_id",
                F.col("vec_id").alias("old_vec"),
                F.col("embedding").alias("oe"),
                F.col("nrm").alias("onrm"),
            )
            .localCheckpoint(eager=True)
        )
        # Codebook as a one-row nested static table joined on a constant
        # key: a broadcast stream-static equi-join, NOT a k×dim literal
        # expression tree (k scales with the corpus; thousands of literal
        # centroids would blow codegen, while the nested-array argmin
        # stays O(n) and map-side).
        cents_static = (
            s.createDataFrame(_coarse_cents(s, sf_dir), "cid int, cv array<float>")
            .groupBy()
            .agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
            .withColumn("jk", F.lit(1))
        )
        stream = (
            read_feed(s, feed_dir, "seq long, embedding array<float>")
            .withColumn("jk", F.lit(1))
            .join(F.broadcast(cents_static), "jk")
            .select(
                F.col("seq").alias("vec_id"),
                "embedding",
                scored.getField("cid").alias("cluster_id"),
                norm(F.col("embedding")).alias("nnrm"),
            )
        )
        joined = stream.join(
            old,
            (stream["cluster_id"] == old["cluster_id"]) & (cs >= SEMDEDUP_T),
            "left_outer",
        ).select(
            "vec_id",
            stream["cluster_id"].alias("cluster_id"),
            "old_vec",
            cs.alias("cs"),
        )
        return joined.groupBy("vec_id", "cluster_id").agg(
            F.count("old_vec").cast("bigint").alias("n_near_dups"),
            F.coalesce(F.max("cs"), F.lit(-2.0))
            .cast("double")
            .alias("best_cos"),
            (F.count("old_vec") == 0).alias("admit"),
        )

    base = _scratch("stream_sem_admission_")
    try:
        feed_dir = os.path.join(base, "newvecs")
        write_changefeed_stream_dir(
            e.filter(F.col("vec_id") >= split).select(
                F.col("vec_id").alias("seq"), "embedding"
            ),
            feed_dir,
            n_files=2,
        )
        emitted = drain(spark, build, "update")
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return emitted.select(
        "vec_id", "cluster_id", "n_near_dups", "best_cos", "admit"
    )


from .skew_agg import _SQL_LIVE_ROLLUP as _SQL_LIVE_ROLLUP_IVM  # noqa: E402


@register(
    "stream_live_rollup_ivm",
    # same oracle as the batch query: the drained state-store deltas,
    # folded, must reproduce the identical maintained trajectory
    oracle=_SQL_LIVE_ROLLUP_IVM,
    # keyed by rollup group (event_type x day): grows with days
    stream=(
        "keyed",
        "SELECT COUNT(*) FROM (SELECT DISTINCT event_type,"
        " CAST(ts AS DATE) FROM '{dir}/events.parquet')",
    ),
)
def stream_live_rollup_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's raison d'etre END TO END: a keyed change stream
    drained through applyInPandasWithState (one (live, value) pair of
    state per rowkey), each mutation emitting its (now, prev) pair; the
    drained deltas fold — with the same exact-decimal arithmetic as the
    batch query — into the live per-group rollup trajectory, and the
    output proves per (group, epoch) that the stream-maintained
    aggregate equals the full LWW-state recompute. Identical rows to
    cdc_live_rollup_ivm (shared oracle): the near-real-time mirror
    (README_zh.md:413) as a *checked* streaming pipeline, not a
    fire-and-forget bulk buffer
    (observer6/ElasticSearchBulkOperator.java:84-96).

    The feed is written as IVM_EPOCHS seq-contiguous files and drained
    one file per micro-batch, so epoch boundaries ARE micro-batch
    boundaries — every delta crosses the state store, none is an
    intra-batch shortcut. Scale shape: state is O(active keys), each
    micro-batch shuffles only its own mutations by rowkey, and the
    standing rollup is O(groups) — ingest cost never touches history.
    """
    from ..operators.skew_agg import (
        _ivm_change_stream,
        _ivm_recompute,
        _ivm_trajectory_from_deltas,
        IVM_EPOCHS,
    )
    from ..streaming.stateful import stateful_ivm_deltas

    base = _scratch("stream_live_rollup_")
    try:
        feed_dir = os.path.join(base, "feed")
        # The ground-truth recompute reads only the batch-side change
        # stream, so it materializes on a second thread WHILE the feed
        # write and the drain run: the scheduler back-fills its tasks into
        # the drain's idle gaps (measured: hides ~1.3 s of the 1.4 s batch
        # side at sf0.1).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as pool:
            rec_fut = pool.submit(
                lambda: _ivm_recompute(
                    _ivm_change_stream(spark, sf_dir)
                ).localCheckpoint(eager=True)
            )
            write_changefeed_stream_dir(
                _ivm_change_stream(spark, sf_dir), feed_dir, n_files=IVM_EPOCHS
            )
            # 512 active keys through a pandas state handler want 8
            # partitions more than they fear 4 more state stores
            # (measured 3.6 s vs 4.4 s at 4, sf0.1)
            emitted = drain(
                spark, lambda s: stateful_ivm_deltas(s, feed_dir), "update", parts=8
            )
            rec = rec_fut.result()
    finally:
        shutil.rmtree(base, ignore_errors=True)
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
                F.col("prev_live"), F.col("prev_value").cast("decimal(18,6)")
            ).otherwise(zero)
        ).alias("val_delta"),
    )
    live = _ivm_trajectory_from_deltas(deltas)
    return live.join(rec, ["grp", "epoch"], "left").select(
        "grp",
        "epoch",
        "live_keys",
        "live_sum",
        F.coalesce(F.col("rec_keys"), F.lit(0)).cast("bigint").alias(
            "rec_keys"
        ),
        F.coalesce(F.col("rec_sum"), F.lit(0.0)).alias("rec_sum"),
        (
            (F.col("live_keys") == F.coalesce(F.col("rec_keys"), F.lit(0)))
            & (
                F.col("live_sum")
                == F.coalesce(F.col("rec_sum"), F.lit(0.0))
            )
        ).alias("maintained_ok"),
    )


@register(
    "stream_daily_active_entities",
    oracle=f"""
WITH cf AS ({_SQL_CF}),
wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM cf),
agg AS (
  SELECT date_trunc('day', ts) AS win_start,
         date_trunc('day', ts) + INTERVAL 1 DAY AS win_end,
         CAST(COUNT(DISTINCT rowkey) AS BIGINT) AS n_entities
  FROM cf GROUP BY 1, 2
)
SELECT win_start, n_entities
FROM agg WHERE win_end <= (SELECT w FROM wm)
""",
    # keyed by (day, user), closed days evicted by the watermark
    stream=(
        "keyed",
        "SELECT COUNT(*) FROM (SELECT DISTINCT CAST(ts AS DATE), user_id"
        " FROM '{dir}/events.parquet')",
    ),
)
def stream_daily_active_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming COUNT(DISTINCT) — the streaming-DAU pattern, end to
    end: daily distinct entities over the live changefeed, computed as
    dedup-on-(rowkey, day) feeding a 1-day tumbling count, drained in
    append mode and proven equal to the batch COUNT(DISTINCT rowkey)
    per day. Streaming engines have no distinct aggregate (it isn't
    algebraic over micro-batches); the canonical rewrite is exactly
    this chain — a stateful dedup whose key INCLUDES everything the
    downstream count uses, which also makes the emission deterministic
    (whichever duplicate survives carries the same (rowkey, day)).
    This is the distinct-cardinality face the batch twin
    events_new_vs_returning reports as `actives`.

    State cost, stated honestly: the dedup holds one row per distinct
    (entity, day) pair currently inside the watermark-unexpired
    horizon; because `day` is the dedup key's time component and the
    shared watermark advances past each day, the window agg closes and
    emits while dedup state for long-dead days stays until the run
    ends — at 100 TB you would re-key the dedup on a within-watermark
    variant per retention policy (the dedup-state audit twin,
    stream_dedup_within_watermark, carries that contract). Window
    emission: a day emits iff its end ≤ final watermark
    (max(ts) − 1 h), mirrored exactly in the oracle's cutoff.
    """
    cf_dir = _changefeed_dir(spark, sf_dir)

    def build(s: SparkSession) -> DataFrame:
        return (
            read_feed(s, cf_dir)
            .withWatermark("ts", "1 hour")
            .withColumn("day", F.date_trunc("day", "ts"))
            .dropDuplicates(["rowkey", "day"])
            .groupBy(F.window("ts", "1 day"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_entities"))
            .select(F.col("window.start").alias("win_start"), "n_entities")
        )

    return drain(spark, build, "append")


# --- streaming theta (KMV) distinct-count sketch ----------------------------

from .sketches import THETA_K as _THETA_K  # noqa: E402
from .sketches import _TWO32  # noqa: E402


@register(
    "stream_theta_distinct",
    oracle=f"""
WITH cf AS ({_SQL_CF}),
codes AS (
  SELECT DISTINCT op,
         CAST(CONCAT('0x', substr(md5(rowkey), 1, 8)) AS BIGINT) AS code
  FROM cf
),
ranked AS (
  SELECT op, code,
         ROW_NUMBER() OVER (PARTITION BY op ORDER BY code) AS rk,
         COUNT(*) OVER (PARTITION BY op) AS n_codes
  FROM codes
),
sk AS (SELECT op, code, n_codes FROM ranked WHERE rk <= {_THETA_K})
SELECT op,
       CAST(COUNT(*) AS BIGINT) AS n_retained,
       CASE WHEN MAX(n_codes) >= {_THETA_K}
            THEN CAST(MAX(code) AS DOUBLE) / {_TWO32!r}
            ELSE 1.0 END AS theta,
       CASE WHEN MAX(n_codes) >= {_THETA_K}
            THEN CAST({_THETA_K - 1} AS DOUBLE)
                 / (CAST(MAX(code) AS DOUBLE) / {_TWO32!r})
            ELSE CAST(COUNT(*) AS DOUBLE) END AS est_distinct
FROM sk GROUP BY op
""",
    # theta sketch keyed by op: O(k) codes for each of 2 keys
    stream="flat",
)
def stream_theta_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming THETA (KMV) distinct-count sketch over the live
    changefeed, keyed by op: Spark-managed keyed state holds ONLY the
    k smallest md5 codes seen so far (k = {_THETA_K}; a few KB per key,
    bounded forever), each micro-batch merges its codes in and
    re-emits the current (theta, estimate) in update mode. The punch
    line the oracle checks: because min-k is commutative, associative
    and idempotent, the FINAL drained state is bit-identical to the
    batch sketch over the same data — arrival order, batching, and
    restarts cannot change the answer. That is the whole case for theta
    sketches as streaming state at 100 TB: exact streaming
    COUNT(DISTINCT) state grows with cardinality (the DAU twin's
    documented cost), while this state is O(k) per key with a
    quantified error and supports set algebra downstream
    (sketch_theta_set_ops).

    Scale shape: codes are computed map-side in the JVM (built-in md5 +
    conv — no Python in the per-row path); Python touches only the
    grouped per-batch code arrays; state per key is one short string.
    Final-row selection takes each key's last emission (max batch
    counter), which the update-mode memory sink makes deterministic.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("op", T.StringType(), False),
            T.StructField("n_batches", T.LongType(), False),
            T.StructField("n_retained", T.LongType(), False),
            T.StructField("theta", T.DoubleType(), False),
            T.StructField("est_distinct", T.DoubleType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("blob", T.StringType(), False),
            T.StructField("nb", T.LongType(), False),
        ]
    )

    def _theta_merge(key, pdfs, state):
        (op,) = key
        arrs = [pdf["code"].to_numpy(dtype=np.int64) for pdf in pdfs]
        new = (
            np.unique(np.concatenate(arrs))
            if arrs
            else np.array([], dtype=np.int64)
        )
        if state.exists:
            blob, nb = state.get
            old = (
                np.array([int(x) for x in blob.split(",")], dtype=np.int64)
                if blob
                else np.array([], dtype=np.int64)
            )
            merged = np.unique(np.concatenate([old, new]))
            nb = int(nb) + 1
        else:
            merged, nb = new, 1
        merged = np.sort(merged)[:_THETA_K]
        state.update(
            (",".join(str(int(c)) for c in merged), nb)
        )
        n = int(len(merged))
        if n >= _THETA_K:
            theta = float(merged[_THETA_K - 1]) / _TWO32
            est = float(_THETA_K - 1) / theta
        else:
            theta, est = 1.0, float(n)
        yield pd.DataFrame(
            {
                "op": [op],
                "n_batches": [nb],
                "n_retained": [n],
                "theta": [theta],
                "est_distinct": [est],
            }
        )

    cf_dir = _changefeed_dir(spark, sf_dir)
    code = F.conv(F.substring(F.md5("rowkey"), 1, 8), 16, 10).cast("bigint")

    def build(s: SparkSession) -> DataFrame:
        return (
            read_feed(s, cf_dir)
            .select("op", code.alias("code"))
            .groupBy("op")
            .applyInPandasWithState(
                _theta_merge,
                outputStructType=out_schema,
                stateStructType=state_schema,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    emitted = drain(spark, build, "update")
    return ranked_topk_per(
        emitted, ["op"], [F.col("n_batches").desc()], 1, rk_col=None
    ).select("op", "n_retained", "theta", "est_distinct")
