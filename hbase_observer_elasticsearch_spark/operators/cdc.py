"""CDC state materialization — the reference's core computation, Spark-first.

The reference mirrors each HBase mutation into ES as a keyed document
upsert/delete (SURVEY §2.1; reference:
src/main/java/org/eminem/hbase/observer6/HbaseDataSyncEsObserver.java:83-135).
Its batch restatement is *last-write-wins state materialization over a
changefeed*:

- key extraction (rowkey → doc id, HbaseDataSyncEsObserver.java:87)
- cell flatten {qualifier: value} discarding family (":93-102"), with
  last-family-wins collisions
- partial-doc upsert merge (setDocAsUpsert(true), ":109")
- whole-document delete widening (":127-129")
- the "info" envelope (":104") kept as an option

Batch entry point: :func:`apply_changefeed`.  Streaming twin lives in
``streaming/pipeline.py``.

Scale notes (100 TB): everything here is one hash shuffle on the key
(`rowkey`/`user_id`) followed by map-side work.  The window/row_number
last-write-wins plan shuffles once; `max_by`-style aggregation would too.
Skewed hot keys are handled by AQE skew-join/partition-split; no collect(),
no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.deterministic import (
    davg,
    dsum,
    dsum_expr,
    sql_davg,
    sql_dsum,
)
from ..functions.ranking import ranked_topk_per
from ..registry import register
from ..sources.changefeed import scratch_dir as _scratch
from ..session import ensure_session_conf


def _latest_event(events: DataFrame) -> DataFrame:
    """Each user's latest event by (ts, event_id): the reference's
    idempotent doc upsert (#7) for whole-record mutations."""
    return ranked_topk_per(
        events, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()],
        1, rk_col=None,
    )


def _events_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` read as a cell changefeed (seq, op, rowkey, qualifier,
    value, ts): an ``error`` event stands for a delete."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", "delete")
        .otherwise("put")
        .alias("op"),
        F.col("user_id").alias("rowkey"),
        F.col("event_type").alias("qualifier"),
        "value",
        "ts",
    )


# --------------------------------------------------------------------------
# Flagship (t1 smoke): per-event-type summary of each user's latest state.
# Treats `events` as a changefeed keyed by user_id (FIXTURES.md §1 events).
# --------------------------------------------------------------------------


@register(
    "cdc_last_state",
    oracle="""
WITH latest AS (
  SELECT user_id, event_type, value
  FROM (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) t
  WHERE rn = 1
)
SELECT event_type,
       COUNT(*) AS n_users,
       {sum_value} AS sum_value,
       {avg_value} AS avg_value
FROM latest
GROUP BY event_type
""".format(sum_value=sql_dsum("value"), avg_value=sql_davg("value")),
)
def cdc_last_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest state per user (LWW over the events changefeed), summarized.

    Mirrors reference upsert semantics (HbaseDataSyncEsObserver.java:109):
    the state visible in ES for a key is its latest mutation.
    """
    ensure_session_conf(spark)
    events = load_table(spark, sf_dir, "events")
    latest = _latest_event(events)
    return latest.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        dsum("value").alias("sum_value"),
        davg("value").alias("avg_value"),
    )


@register(
    "cdc_delete_widening",
    oracle="""
WITH latest AS (
  SELECT user_id, event_type, value
  FROM (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) t
  WHERE rn = 1
)
SELECT COUNT(*) AS n_surviving,
       {sum_value} AS sum_value
FROM latest
WHERE event_type <> 'error'
""".format(sum_value=sql_dsum("value")),
)
def cdc_delete_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete widening (#8): a key whose latest mutation is a tombstone
    (`error` stands in for Delete) is dropped wholesale, regardless of which
    columns the delete named — mirroring prepareDelete(index,type,id)
    (HbaseDataSyncEsObserver.java:129).
    """
    ensure_session_conf(spark)
    events = load_table(spark, sf_dir, "events")
    latest = _latest_event(events)
    surviving = latest.filter(F.col("event_type") != "error")
    return surviving.agg(
        F.count(F.lit(1)).alias("n_surviving"),
        dsum("value").alias("sum_value"),
    )


@register(
    "cdc_doc_pivot",
    oracle="""
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click')    AS n_click,
       COUNT(*) FILTER (WHERE event_type = 'view')     AS n_view,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       {rev} AS purchase_value
FROM events
GROUP BY user_id
""".format(
        rev="CAST(SUM(CASE WHEN event_type = 'purchase' "
        "THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)"
    ),
)
def cdc_doc_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell flatten/pivot analog (#4): assemble a fixed-schema document per
    key from its mutation cells — the static-schema variant of the
    reference's {qualifier: value} map (HbaseDataSyncEsObserver.java:93-102),
    expressed as conditional aggregation so Catalyst keeps it one shuffle.
    """
    ensure_session_conf(spark)
    events = load_table(spark, sf_dir, "events")
    is_t = lambda t: (F.col("event_type") == t).cast("long")  # noqa: E731
    return events.groupBy("user_id").agg(
        F.sum(is_t("click")).alias("n_click"),
        F.sum(is_t("view")).alias("n_view"),
        F.sum(is_t("purchase")).alias("n_purchase"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value").cast("decimal(18,6)"))
        )
        .cast("double")
        .alias("purchase_value"),
    )


# --------------------------------------------------------------------------
# Full changefeed → state operator (FIXTURES.md §2 schema). Used by unit
# tests and the streaming pipeline; not oracle-checkable (map output).
# --------------------------------------------------------------------------


def apply_changefeed(cf: DataFrame, info_envelope: bool = False) -> DataFrame:
    """Replay a changefeed to its final state table.

    Input schema (FIXTURES.md §2): seq, op('put'|'delete'), rowkey, family,
    qualifier, value, ts.  Output: rowkey, doc MAP<STRING,STRING> for keys
    whose latest full-row action is not a delete.

    Semantics matched to the reference:
    - partial upsert merge (#7): a put touches only its qualifiers; doc
      state is the union of latest values per qualifier since the last
      delete.
    - delete widening (#8): a delete removes the whole document.
    - qualifier collision (#4): same (ts, qualifier) in two families →
      last family in byte order wins.
    - ordering: by (ts, seq) — strictly better than the reference's
      buffer-FIFO (SURVEY §2.2.5).

    Plan shape: two window passes over the same hash partitioning on
    rowkey + one groupBy(rowkey) — Spark reuses the exchange, so it is one
    shuffle end-to-end at any scale.
    """
    # Time of each key's latest delete (null if never deleted).
    w_all = Window.partitionBy("rowkey")
    with_del = cf.withColumn(
        "last_del_ts",
        F.max(F.when(F.col("op") == "delete", F.struct("ts", "seq"))).over(w_all),
    )

    # Puts that survive: strictly after the last delete (or no delete).
    live_puts = with_del.filter(
        (F.col("op") == "put")
        & (
            F.col("last_del_ts").isNull()
            | (F.struct("ts", "seq") > F.col("last_del_ts"))
        )
    )

    # Latest value per (rowkey, qualifier); family desc == "last family in
    # byte order wins" for same-ts collisions (#4).  Same ordering as the
    # sink's read merge (sinks/state_sink._lww) so batch replay and
    # streamed state agree exactly.
    w_q = Window.partitionBy("rowkey", "qualifier").orderBy(
        F.col("ts").desc(), F.col("family").desc(), F.col("seq").desc()
    )
    latest_cells = (
        live_puts.withColumn("__rn", F.row_number().over(w_q))
        .filter(F.col("__rn") == 1)
        .select("rowkey", "qualifier", "value")
    )

    doc = latest_cells.groupBy("rowkey").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("qualifier", "value")))
        ).alias("doc")
    )
    if info_envelope:
        # The constant "info" envelope (HbaseDataSyncEsObserver.java:104).
        doc = doc.select("rowkey", F.create_map(F.lit("info"), F.col("doc")).alias("doc"))
    return doc


@register(
    "cdc_nullsafe_tombstones",
    oracle="""
WITH cf AS (
  SELECT CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         CASE WHEN event_type = 'error' THEN NULL ELSE 'info' END AS family
  FROM events
)
SELECT op,
       family IS NOT DISTINCT FROM 'info' AS fam_is_info,
       COUNT(*) AS n
FROM cf
GROUP BY 1, 2
""",
)
def cdc_nullsafe_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (`<=>`) over the changefeed's nullable columns.

    Tombstones carry NULL family/qualifier (sources/changefeed.py); plain
    `=` would put them in a three-valued-logic limbo — `eqNullSafe` is the
    predicate that routes them deterministically (SURVEY §2.3 filters row).
    """
    ensure_session_conf(spark)
    from ..sources.changefeed import events_as_changefeed

    cf = events_as_changefeed(load_table(spark, sf_dir, "events"))
    return (
        cf.select("op", F.col("family").eqNullSafe("info").alias("fam_is_info"))
        .groupBy("op", "fam_is_info")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "cdc_stateful_stream",
    oracle="""
WITH cf AS (
  SELECT event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         CAST(user_id AS VARCHAR) AS rowkey,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS qualifier,
         ts
  FROM events
),
lastdel AS (
  SELECT rowkey, ts, seq FROM (
    SELECT rowkey, ts, seq,
           ROW_NUMBER() OVER (PARTITION BY rowkey
                              ORDER BY ts DESC, seq DESC) AS rn
    FROM cf WHERE op = 'delete'
  ) t
  WHERE rn = 1
),
live AS (
  SELECT c.rowkey, c.qualifier
  FROM cf c LEFT JOIN lastdel d USING (rowkey)
  WHERE c.op = 'put'
    AND (d.ts IS NULL OR (c.ts, c.seq) > (d.ts, d.seq))
),
quals AS (
  SELECT rowkey,
         array_to_string(list_sort(list(DISTINCT qualifier)), '|') AS qualifiers
  FROM live GROUP BY rowkey
),
nmut AS (
  SELECT rowkey, CAST(COUNT(*) AS BIGINT) AS n_mutations FROM cf GROUP BY rowkey
)
SELECT n.rowkey,
       COALESCE(q.qualifiers, '') AS qualifiers,
       n.n_mutations
FROM nmut n LEFT JOIN quals q USING (rowkey)
""",
    # keyed by rowkey = user_id, a population constant under longer history
    stream="flat",
)
def cdc_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END check of the applyInPandasWithState operator
    (streaming/stateful.py): drain the events-derived changefeed through
    the streaming LWW doc-state operator in 2 micro-batches
    (availableNow), keep each key's LAST emission, and compare the final
    doc against the batch changefeed replay in DuckDB.

    The checked contract per key: the set of live qualifiers (puts newer
    than the last tombstone — delete widening #8, partial upsert #7) and
    the total mutations merged (the operator's per-key version stamp).
    This is the driver-visible proof that Spark-managed keyed state
    converges to exactly the batch answer regardless of micro-batch
    boundaries.
    """
    ensure_session_conf(spark)
    from ..sources.changefeed import shared_changefeed_stream_dir
    from ..streaming.pipeline import drain
    from ..streaming.stateful import stateful_doc_state

    # the 2-file changefeed fixture the stream_queries twins share
    cf_dir = shared_changefeed_stream_dir(spark, sf_dir, n_files=2)
    # The pandas state function wants the cores, so this drain keeps the
    # caller's shuffle partitions (measured at sf0.1: 5.7 s at 32
    # partitions vs 7.3 s at 8).
    emitted = drain(
        spark, lambda s: stateful_doc_state(s, cf_dir), "update", parts=None
    )
    final = ranked_topk_per(
        emitted, ["rowkey"], [F.col("version").desc()], 1, rk_col=None
    )
    # qualifiers is stringified (not array<string>): the driver's pandas
    # canonicalizer cannot sort/hash list-valued columns.
    return final.select(
        "rowkey",
        F.concat_ws(
            "|",
            F.array_sort(F.map_keys(F.from_json("doc_json", "map<string,string>"))),
        ).alias("qualifiers"),
        F.col("version").cast("bigint").alias("n_mutations"),
    )


# Replicate the events changefeed, then query the index it filled: the
# batch LWW replay both replicate queries are checked against.
_SQL_REPLICATE_THEN_QUERY = """
WITH cf AS (
  SELECT event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         CAST(user_id AS VARCHAR) AS rowkey,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END
           AS qualifier,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value,
         ts
  FROM events
),
lastdel AS (
  SELECT rowkey, ts, seq FROM (
    SELECT rowkey, ts, seq,
           ROW_NUMBER() OVER (PARTITION BY rowkey
                              ORDER BY ts DESC, seq DESC) AS rn
    FROM cf WHERE op = 'delete'
  ) t
  WHERE rn = 1
),
livecell AS (
  SELECT rowkey, qualifier, value FROM (
    SELECT c.rowkey, c.qualifier, c.value,
           ROW_NUMBER() OVER (PARTITION BY c.rowkey, c.qualifier
                              ORDER BY c.ts DESC, c.seq DESC) AS rn
    FROM cf c LEFT JOIN lastdel d USING (rowkey)
    WHERE c.op = 'put'
      AND (d.ts IS NULL OR (c.ts, c.seq) > (d.ts, d.seq))
  ) t
  WHERE rn = 1
),
docs AS (
  SELECT rowkey,
         CAST(COUNT(*) AS BIGINT) AS n_fields,
         MAX(CASE WHEN qualifier = 'purchase' THEN value END) AS purchase
  FROM livecell GROUP BY rowkey
)
SELECT n_fields,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       {sum_purchase} AS sum_purchase
FROM docs WHERE purchase IS NOT NULL
GROUP BY n_fields
""".format(sum_purchase=sql_dsum("purchase"))


@register(
    "cdc_replicate_then_query",
    oracle=_SQL_REPLICATE_THEN_QUERY,
    # foreachBatch MERGE: durable state lives in the sink's parquet
    stream="stateless",
)
def cdc_replicate_then_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL user story in one checked row: bind the
    coprocessor (CdcReplicator.start — lifecycle #16), let it replicate
    the mutation feed into the search index (streaming pipeline →
    EmulatedEsSink, exactly-once epochs), stop it (#17), then run an
    ES-shaped query against the index it filled (.state() — the read
    side a reference user points Kibana at). The query is a bool
    `exists: purchase` filter with a terms-agg over document width:
    per n_fields bucket, matched-doc count and the exact sum of the
    `purchase` field.

    The oracle replays the same changefeed in batch SQL: live cell =
    latest put per (rowkey, qualifier) strictly after the row's last
    whole-row tombstone — delete widening (#8,
    HbaseDataSyncEsObserver.java:129) + LWW upsert (#7, :109) — then
    the same exists-filtered rollup. Values survive the sink's string
    round-trip exactly (Spark's shortest-repr double→string→double is
    lossless), so sums are hash-compared through the decimal path.

    Scale shape: replication is the checkpointed micro-batch pipeline
    (a run appended per epoch, folded into a base every fourth version,
    merged once on read); the query is one groupBy over the merged
    cells' document view, pinned before the state dir is removed.
    """
    ensure_session_conf(spark)
    import os
    import shutil

    from ..replicator import CdcReplicator
    from ..sinks.state_sink import drop_root
    from ..sources.changefeed import shared_changefeed_stream_dir

    cf_dir = shared_changefeed_stream_dir(spark, sf_dir, n_files=2)
    base = _scratch("replicate_")
    state_dir = os.path.join(base, "state")
    try:
        rep = CdcReplicator(spark, cf_dir, state_dir, os.path.join(base, "ckpt"))
        rep.start(trigger={"availableNow": True})
        rep.await_drained(timeout_s=300)
        rep.stop()
        return (
            rep.state()
            .select(
                F.size("doc").cast("bigint").alias("n_fields"),
                F.element_at(F.col("doc"), F.lit("purchase"))
                .cast("double")
                .alias("purchase"),
            )
            .filter(F.col("purchase").isNotNull())
            .groupBy("n_fields")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                dsum("purchase").alias("sum_purchase"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        drop_root(spark, state_dir)
        shutil.rmtree(base, ignore_errors=True)


@register(
    "cdc_es_bulk_lines",
    oracle="""
WITH counts AS (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events WHERE event_type <> 'error' GROUP BY 1, 2
),
doc AS (
  SELECT user_id,
         string_agg('"' || event_type || '":"' || n || '"', ','
                    ORDER BY event_type) AS body
  FROM counts GROUP BY 1
),
users AS (SELECT DISTINCT user_id FROM events)
SELECT CAST(u.user_id AS VARCHAR) AS rowkey,
       CASE WHEN d.body IS NULL
            THEN '{"delete":{"_index":"events_idx","_type":"_doc","_id":"'
                 || u.user_id || '"}}'
            ELSE '{"update":{"_index":"events_idx","_type":"_doc","_id":"'
                 || u.user_id || '"}}' END AS action_json,
       CASE WHEN d.body IS NULL THEN NULL
            ELSE '{"doc":{' || d.body || '},"doc_as_upsert":true}'
            END AS doc_json
FROM users u LEFT JOIN doc d USING (user_id)
""",
)
def cdc_es_bulk_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual wire format: ES bulk-API NDJSON pairs
    (action line + doc_as_upsert line) for every key's doc state
    (sinks/bulk_format.py; ElasticSearchBulkOperator.java:84).

    Users with only tombstone events get a delete action and no doc line
    — the delete-widening path (#8) expressed in the bulk payload.
    """
    ensure_session_conf(spark)
    from ..sinks.bulk_format import bulk_lines

    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.filter(F.col("event_type") != "error")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("string").alias("n"))
    )
    doc = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("doc")
    )
    state = (
        ev.select("user_id")
        .distinct()
        .join(doc, "user_id", "left")
        .select(F.col("user_id").cast("string").alias("rowkey"), "doc")
    )
    return bulk_lines(state, "events_idx")


# --------------------------------------------------------------------------
# SCD2 / time-travel: the lakehouse CDC materializations. The reference's
# sink keeps ONLY last-write-wins doc state (observer6/
# HbaseDataSyncEsObserver.java:109 setDocAsUpsert) — history is destroyed
# on every upsert. These operators materialize the full version history
# (slowly-changing-dimension type 2) and point-in-time state from the same
# changefeed, which is what a 100 TB lakehouse keeps alongside the serving
# copy.
# --------------------------------------------------------------------------

TIME_TRAVEL_AS_OF = "2024-01-15 00:00:00"


@register(
    "cdc_scd2_history",
    oracle="""
SELECT event_id,
       user_id,
       event_type,
       value,
       epoch_ms(ts) AS valid_from_ms,
       lead(epoch_ms(ts)) OVER w AS valid_to_ms,
       (lead(epoch_ms(ts)) OVER w IS NULL) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id, event_type
             ORDER BY epoch_ms(ts), event_id)
""",
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) materialization of the
    changefeed: every mutation of a (user, event_type) cell becomes a
    versioned row with a [valid_from, valid_to) interval; the open
    interval is the current version.

    One window pass per key — the valid_to of version k is just the
    valid_from of version k+1 (`lead`), so history needs no self-join and
    no state beyond the window sort. Scale shape: one shuffle on the key,
    then a per-partition ordered scan; appending a new epoch touches only
    each key's open row (close it, add one) — exactly the incremental
    merge the bucketed sink does for LWW state, extended with history.
    """
    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    t_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id", "event_type").orderBy(
        t_ms, F.col("event_id")
    )
    valid_to = F.lead(t_ms).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        t_ms.alias("valid_from_ms"),
        valid_to.alias("valid_to_ms"),
        valid_to.isNull().alias("is_current"),
    )


@register(
    "cdc_time_travel",
    oracle=f"""
SELECT user_id, event_type, value, epoch_ms(ts) AS version_ms
FROM (
  SELECT user_id, event_type, value, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WHERE ts <= TIMESTAMP '{TIME_TRAVEL_AS_OF}'
) t
WHERE rn = 1
""",
)
def cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) state: each (user, event_type) cell's
    value AS OF a past timestamp, answered from the SCD2 interval table
    (valid_from ≤ T < valid_to) rather than by replaying mutations.

    Deliberately a DIFFERENT formulation from the oracle (which re-ranks
    the raw feed at T): interval containment on materialized history vs
    row_number over a filtered replay must agree exactly — the stronger
    cross-check. Scale shape: with history partitioned on valid_from
    date, the as-of predicate prunes partitions; the reference can only
    answer "now" (its sink holds one doc per key).
    """
    ensure_session_conf(spark)
    as_of = F.unix_millis(
        F.lit(TIME_TRAVEL_AS_OF).cast("timestamp")
    )
    hist = cdc_scd2_history(spark, sf_dir)
    return hist.filter(
        (F.col("valid_from_ms") <= as_of)
        & (F.col("valid_to_ms").isNull() | (F.col("valid_to_ms") > as_of))
    ).select(
        "user_id",
        "event_type",
        "value",
        F.col("valid_from_ms").alias("version_ms"),
    )


@register(
    "cdc_retention_purge",
    oracle="""
WITH cf AS (
  SELECT event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         user_id AS rowkey,
         event_type AS qualifier,
         value, ts
  FROM events
),
latest AS (
  SELECT rowkey, qualifier, op, value, ts
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY rowkey, qualifier
                                 ORDER BY ts DESC, seq DESC) AS rn
    FROM cf
  ) t WHERE rn = 1
),
horizon AS (SELECT MAX(ts) - INTERVAL 7 DAY AS cutoff FROM cf)
SELECT l.rowkey, l.qualifier,
       CASE WHEN l.op = 'delete' THEN NULL ELSE l.value END AS value,
       l.ts AS state_ts,
       CAST(l.op = 'delete' AS BOOLEAN) AS is_tombstone
FROM latest l CROSS JOIN horizon h
WHERE NOT (l.op = 'delete' AND l.ts < h.cutoff)
""",
)
def cdc_retention_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone retention compaction: last-write-wins state per
    (rowkey, qualifier), with tombstones older than the 7-day retention
    horizon PURGED (dropped entirely) and younger tombstones retained as
    explicit NULL markers — the HBase-major-compaction / Kafka-compacted-
    topic lifecycle step that keeps a CDC-mirrored state table from
    accumulating unbounded delete markers. (The reference deletes
    eagerly in ES and keeps no marker at all —
    HbaseDataSyncEsObserver.java:115-121; retention is what replaces
    that when downstream consumers need late-redelivery protection.)

    Scale shape: one LWW window per key (the cdc_last_state shuffle),
    one broadcast scalar for the horizon; the purge predicate is
    map-side. State size after purge is live keys + recent tombstones —
    the bound that matters on an unbounded feed.
    """
    ensure_session_conf(spark)
    cf = _events_changefeed(spark, sf_dir)
    latest = ranked_topk_per(
        cf, ["rowkey", "qualifier"], [F.col("ts").desc(), F.col("seq").desc()],
        1, rk_col=None,
    )
    cutoff = cf.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("cutoff")
    )
    joined = latest.crossJoin(F.broadcast(cutoff))
    keep = ~((F.col("op") == "delete") & (F.col("ts") < F.col("cutoff")))
    return joined.filter(keep).select(
        "rowkey",
        "qualifier",
        F.when(F.col("op") == "delete", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
        F.col("ts").alias("state_ts"),
        (F.col("op") == "delete").alias("is_tombstone"),
    )


@register(
    "cdc_snapshot_diff",
    oracle="""
WITH cf AS (
  SELECT event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         user_id AS rowkey,
         event_type AS qualifier,
         value, ts
  FROM events
),
cuts AS (
  SELECT MAX(ts) - INTERVAL 14 DAY AS t1,
         MAX(ts) - INTERVAL 7 DAY AS t2
  FROM cf
),
s1 AS (
  SELECT rowkey, qualifier, value FROM (
    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY rowkey, qualifier
                                   ORDER BY ts DESC, seq DESC) AS rn
    FROM cf c, cuts WHERE c.ts <= cuts.t1
  ) t WHERE rn = 1 AND op = 'put'
),
s2 AS (
  SELECT rowkey, qualifier, value FROM (
    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY rowkey, qualifier
                                   ORDER BY ts DESC, seq DESC) AS rn
    FROM cf c, cuts WHERE c.ts <= cuts.t2
  ) t WHERE rn = 1 AND op = 'put'
)
SELECT COALESCE(s1.rowkey, s2.rowkey) AS rowkey,
       COALESCE(s1.qualifier, s2.qualifier) AS qualifier,
       s1.value AS value_before,
       s2.value AS value_after,
       CASE WHEN s1.rowkey IS NULL THEN 'added'
            WHEN s2.rowkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type
FROM s1 FULL OUTER JOIN s2
  ON s1.rowkey = s2.rowkey AND s1.qualifier = s2.qualifier
WHERE s1.rowkey IS NULL OR s2.rowkey IS NULL OR s1.value <> s2.value
""",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two time-travel points (T−14d vs T−7d of
    the changefeed): which (rowkey, qualifier) cells were added, removed,
    or changed — the incremental-read / CDC-between-snapshots query a
    lakehouse table format answers from its snapshot log, restated over
    the raw changefeed (complements cdc_time_travel's point lookup and
    cdc_scd2_history's full interval materialization).

    Scale shape: each snapshot is one LWW window over mutations ≤ its
    cutoff — both windows share the (rowkey, qualifier) partitioning, so
    the second costs a filter, not a new shuffle class — and the diff is
    a co-partitioned full outer join on the same key. Output is only the
    changed cells. On a real log you'd first prune files to the
    (t1, t2] range by partition metadata — exactly what the range
    filters here push to the scan.
    """
    ensure_session_conf(spark)
    cf = _events_changefeed(spark, sf_dir)
    cuts = cf.agg(
        (F.max("ts") - F.expr("INTERVAL 14 DAY")).alias("t1"),
        (F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("t2"),
    )
    def state_at(cut_col: str) -> DataFrame:
        return (
            ranked_topk_per(
                cf.crossJoin(F.broadcast(cuts)).filter(
                    F.col("ts") <= F.col(cut_col)
                ),
                ["rowkey", "qualifier"],
                [F.col("ts").desc(), F.col("seq").desc()], 1, rk_col=None,
            )
            .filter(F.col("op") == "put")
            .select("rowkey", "qualifier", "value")
        )

    s1 = state_at("t1").withColumnsRenamed(
        {"value": "value_before", "rowkey": "r1", "qualifier": "q1"}
    )
    s2 = state_at("t2").withColumnsRenamed(
        {"value": "value_after", "rowkey": "r2", "qualifier": "q2"}
    )
    j = s1.join(
        s2,
        (F.col("r1") == F.col("r2")) & (F.col("q1") == F.col("q2")),
        "full_outer",
    )
    change = (
        F.when(F.col("r1").isNull(), "added")
        .when(F.col("r2").isNull(), "removed")
        .otherwise("changed")
    )
    return j.filter(
        F.col("r1").isNull()
        | F.col("r2").isNull()
        | (F.col("value_before") != F.col("value_after"))
    ).select(
        F.coalesce(F.col("r1"), F.col("r2")).alias("rowkey"),
        F.coalesce(F.col("q1"), F.col("q2")).alias("qualifier"),
        "value_before",
        "value_after",
        change.alias("change_type"),
    )


@register(
    "cdc_python_datasource",
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
)
def cdc_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The changefeed consumed through a CUSTOM PYTHON DATASOURCE
    (Spark 4 `pyspark.sql.datasource` API, sources/python_datasource.py)
    instead of the built-in parquet reader — the connector slot where a
    real HBase-snapshot/replication-log reader plugs in (reference
    client factory, polyinfo/EsClient.java:29-60).

    The connector declares 4 rowkey-hash partitions (the stand-in for
    HBase region splits), Spark schedules one task per partition, and
    this query proves the full surface end-to-end: schema declaration,
    partition planning, executor-side reads, and a downstream aggregate
    that must equal the relational restatement of the same feed.
    """
    ensure_session_conf(spark)
    import os

    from ..sources.python_datasource import register_changefeed_datasource

    register_changefeed_datasource(spark)
    cf = (
        spark.read.format("changefeed_py")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .option("numPartitions", "4")
        .load()
    )
    return cf.groupBy("op").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mutations"),
        F.countDistinct("rowkey").cast("bigint").alias("n_keys"),
        F.min("seq").cast("bigint").alias("min_seq"),
        F.max("seq").cast("bigint").alias("max_seq"),
    )


@register(
    "cdc_pushdown_region_scan",
    oracle="""
WITH cf AS (
  SELECT event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         CAST(user_id AS VARCHAR) AS rowkey,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
  FROM events
)
SELECT rowkey,
       CAST(COUNT(*) AS BIGINT) AS n_mutations,
       CAST(SUM(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_deletes,
       {sum_put} AS sum_put_value,
       CAST(MIN(seq) AS BIGINT) AS min_seq,
       CAST(MAX(seq) AS BIGINT) AS max_seq
FROM cf
WHERE rowkey LIKE '4%'
GROUP BY rowkey
""".format(
        sum_put=sql_dsum("CASE WHEN op = 'put' THEN value END")
    ),
)
def cdc_pushdown_region_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-SIDE FILTER PUSHDOWN through the custom Python DataSource:
    a rowkey-prefix scan — the HBase
    region-scan analog (the reference coprocessor routes by rowkey,
    observer6/HbaseDataSyncEsObserver.java:36-43) — planned so the
    predicate is applied BY THE CONNECTOR, not by Spark post-scan.

    The reader (sources/python_datasource.RegionChangefeedReader) lays
    the feed out as pre-split leading-digit rowkey regions; Spark 4.1's
    `pushFilters` hands it `StringStartsWith(rowkey, '4')`, which
    (a) prunes partition planning to the single matching region — the
    other nine regions never get a task — and (b) becomes exact numeric
    user_id row-group filters inside the region's parquet read. The
    pruning itself is pinned by tests/test_r12_ops.py (planned-partition
    counts asserted at the reader level and through the full Spark
    plan); this query pins the RESULT equivalence: per-rowkey mutation
    counts, delete counts, put-value sums, and seq bounds must match
    the relational restatement DuckDB computes from the raw table.

    Scale shape: at 100 TB the feed is region-partitioned exactly like
    this, and a prefix/range scan touches O(matching regions) tasks and
    O(matching row groups) IO — the scan cost tracks the SELECTED data,
    not the corpus. No shuffle until the final small groupBy.
    """
    ensure_session_conf(spark)
    import os

    from ..sources.python_datasource import register_changefeed_datasource

    register_changefeed_datasource(spark)
    cf = (
        spark.read.format("changefeed_py")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .option("partitionBy", "rowkey")
        .load()
        .filter(F.col("rowkey").startswith("4"))
    )
    return cf.groupBy("rowkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mutations"),
        F.sum(F.when(F.col("op") == "delete", 1).otherwise(0))
        .cast("bigint")
        .alias("n_deletes"),
        dsum_expr(F.when(F.col("op") == "put", F.col("value"))).alias(
            "sum_put_value"
        ),
        F.min("seq").cast("bigint").alias("min_seq"),
        F.max("seq").cast("bigint").alias("max_seq"),
    )


@register(
    "cdc_projection_prune_scan",
    oracle="""
SELECT CAST(user_id AS VARCHAR) AS rowkey,
       CAST(COUNT(*) AS BIGINT) AS n_mutations,
       CAST(MIN(event_id) AS BIGINT) AS min_seq,
       CAST(MAX(event_id) AS BIGINT) AS max_seq
FROM events
WHERE CAST(user_id AS VARCHAR) LIKE '7%'
GROUP BY 1
""",
)
def cdc_projection_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN PRUNING + FILTER PUSHDOWN combined in the custom Python
    DataSource: the query needs only
    (seq, rowkey), so the connector is opened with
    ``.option("columns", "seq,rowkey")`` — its declared schema narrows
    to two columns and every region task's parquet read shrinks to
    (event_id, user_id); event_type and value are never read (the
    rowkey-region DNF filter runs on user_id before projection, so even
    the filter column costs only row-group-statistics IO). Spark 4.1's
    Python DataSource has no pruneColumns hook, so the projection
    arrives as an option — the same contract a narrow HBase scan
    declares with addColumn (reference puts carry per-qualifier cells,
    observer6/HbaseDataSyncEsObserver.java:60-66; a scan for one
    qualifier reads one column family slice, not the whole row).

    The executor-side column-set shrinkage is pinned by
    tests/test_r13_ops.py::TestColumnPruning; this query pins result
    equivalence of the narrow scan + region pushdown against the
    relational restatement.

    Scale shape: at 100 TB a 2-of-5-column projection over a pruned
    region reads O(matching row groups × selected columns) — both
    dimensions of the scan cost track the query, not the corpus.
    """
    ensure_session_conf(spark)
    import os

    from ..sources.python_datasource import register_changefeed_datasource

    register_changefeed_datasource(spark)
    cf = (
        spark.read.format("changefeed_py")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .option("partitionBy", "rowkey")
        .option("columns", "seq,rowkey")
        .load()
        .filter(F.col("rowkey").startswith("7"))
    )
    return cf.groupBy("rowkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mutations"),
        F.min("seq").cast("bigint").alias("min_seq"),
        F.max("seq").cast("bigint").alias("max_seq"),
    )


@register(
    "sink_merge_idempotent_epochs",
    oracle="""
WITH cf AS (
  SELECT event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         CAST(user_id AS VARCHAR) AS rowkey,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END
           AS qualifier,
         ts
  FROM events
),
d AS (
  SELECT rowkey, ts, seq FROM (
    SELECT rowkey, ts, seq,
           ROW_NUMBER() OVER (PARTITION BY rowkey
                              ORDER BY ts DESC, seq DESC) AS rn
    FROM cf WHERE op = 'delete') t
  WHERE rn = 1
),
live AS (
  SELECT p.rowkey, p.qualifier, p.ts, p.seq
  FROM cf p LEFT JOIN d ON p.rowkey = d.rowkey
  WHERE p.op = 'put'
    AND (d.rowkey IS NULL OR (p.ts, p.seq) > (d.ts, d.seq))
)
SELECT rowkey, qualifier, CAST(seq AS BIGINT) AS last_seq FROM (
  SELECT rowkey, qualifier, seq,
         ROW_NUMBER() OVER (PARTITION BY rowkey, qualifier
                            ORDER BY ts DESC, seq DESC) AS rn
  FROM live) t
WHERE rn = 1
""",
)
def sink_merge_idempotent_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-equivalent sink with PROVEN per-epoch replay idempotence —
    the exactly-once story's last edge: the
    events changefeed is split into 3 contiguous seq-range epochs and
    applied through the log-structured LWW sink
    (sinks/state_sink.EmulatedEsSink.apply), with epoch 2 applied TWICE
    — the foreachBatch redelivery a crashed driver produces under
    at-least-once delivery. The reference's requeue replays bulks
    blindly and duplicates side effects
    (observer6/ElasticSearchBulkOperator.java:56-66); here the sink's
    last-writer-wins read is a pure max-merge, so the duplicated epoch
    is algebraically absorbed and the oracle can restate the final state
    as the plain LWW over the WHOLE feed — epoch boundaries, the replay
    and the fold the fourth apply triggers all provably invisible.
    tests/test_sinks.py additionally checks the replayed run's merged
    cells are row-identical to a replay-free run.

    Output is (rowkey, qualifier, last_seq): the winning mutation's seq
    uniquely identifies it — a stronger check than the value string
    (distinct mutations can collide on value) with no float-format
    hazard.

    Scale shape: each epoch slice is a seq-range predicate PUSHED to the
    parquet scan (row-group pruning); each apply appends the epoch as a
    run (one job, no shuffle) and the fourth folds the runs into a base;
    the read is one hash shuffle on rowkey over the live versions (the
    tombstone-max and row_number windows on that one exchange); the
    manifest swap is the same atomic-rename commit a lakehouse MERGE
    uses.
    """
    ensure_session_conf(spark)
    from ..sinks.state_sink import EmulatedEsSink, drop_root
    from ..sources.changefeed import events_as_changefeed
    from ..streaming.pipeline import scoped_session, split_epoch

    # Per-epoch state is small (one row per live (rowkey, qualifier)), so
    # the merge loop runs on a child session at 4 shuffle partitions:
    # near-empty tasks per window stage otherwise dominate the wall clock.
    s = scoped_session(spark, 4)
    cf = events_as_changefeed(load_table(s, sf_dir, "events"))
    lo, hi = cf.agg(F.min("seq"), F.max("seq")).first()
    n_epochs = 3
    span = (hi - lo + n_epochs) // n_epochs
    ranges = [
        (lo + i * span, min(lo + (i + 1) * span - 1, hi))
        for i in range(n_epochs)
    ]
    # epoch 2 applied twice = redelivered micro-batch
    schedule = [ranges[0], ranges[1], ranges[1], ranges[2]]

    root = _scratch("idempotent_epochs_")
    try:
        sink = EmulatedEsSink(s, root)
        for e_lo, e_hi in schedule:
            batch = cf.filter(
                (F.col("seq") >= e_lo) & (F.col("seq") <= e_hi)
            )
            sink.apply(*split_epoch(batch))
        out = (
            sink.read_cells()
            .filter(F.col("qualifier").isNotNull())
            .select(
                "rowkey",
                "qualifier",
                F.col("seq").cast("bigint").alias("last_seq"),
            )
            .localCheckpoint()  # pin before the state dir is removed
        )
    finally:
        drop_root(s, root)
    return out


# HBase cell-retention policy: VERSIONS=3, TTL=10d — the compaction rule
# the reference's source table lives under (HBase column families carry
# VERSIONS and TTL; major compaction applies exactly this filter).
GC_MAX_VERSIONS = 3
GC_TTL_DAYS = 10


@register(
    "cdc_version_gc_policy",
    oracle=f"""
WITH mx AS (SELECT MAX(ts) AS max_ts FROM events),
c AS (
  SELECT user_id, event_type, ts, event_id,
         (ts < mx.max_ts - INTERVAL {GC_TTL_DAYS} DAY) AS expired
  FROM events, mx
),
r AS (
  SELECT user_id, event_type, ts, expired,
         COUNT(*) FILTER (WHERE NOT expired) OVER (
           PARTITION BY user_id, event_type
           ORDER BY ts DESC, event_id DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rn_live
  FROM c
),
s AS (
  SELECT user_id, ts,
         CASE WHEN expired THEN 'ttl'
              WHEN rn_live <= {GC_MAX_VERSIONS} THEN 'kept'
              ELSE 'version' END AS status
  FROM r
)
SELECT user_id AS rowkey,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN status = 'ttl' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purged_ttl,
       CAST(SUM(CASE WHEN status = 'version' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purged_version,
       MIN(CASE WHEN status = 'kept' THEN epoch_ms(ts) END)
         AS kept_min_ms,
       MAX(CASE WHEN status = 'kept' THEN epoch_ms(ts) END)
         AS kept_max_ms
FROM s GROUP BY user_id
""",
)
def cdc_version_gc_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase cell-retention compaction plan: the source table behind the
    reference's observer keeps at most VERSIONS={GC_MAX_VERSIONS} cells
    per (rowkey, qualifier) and drops cells older than
    TTL={GC_TTL_DAYS}d — major compaction applies TTL FIRST, then the
    version cap over the surviving cells (a cell beyond both is a TTL
    purge). This query materializes that policy over the changefeed —
    per rowkey: how many cells survive, how many each rule reclaims,
    and the surviving version horizon — the capacity-planning face of
    cdc_retention_purge (which models time-travel retention, not cell
    versioning).

    The live-rank is a CONDITIONAL running count (count of non-expired
    cells from newest to current), so one window pass classifies every
    cell; no self-join, no second scan. Counts are exact integers;
    version timestamps are unix millis (cross-engine proven).

    Scale shape: one shuffle on (rowkey, qualifier) — the same
    partitioning every CDC operator here uses, so in a pipeline it
    reuses the exchange — then map-side classification and a rowkey
    roll-up. At 100 TB this is exactly the region-server compaction
    scan, expressed as a query. Cites: SURVEY §2.1 source-table
    semantics; observer6/HbaseDataSyncEsObserver.java (the observer
    sees exactly the cells this policy retains).
    """
    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("max_ts"))
    c = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        (
            F.col("ts")
            < F.col("max_ts") - F.expr(f"INTERVAL {GC_TTL_DAYS} DAYS")
        ).alias("expired"),
    )
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = c.select(
        "user_id",
        "ts",
        "expired",
        F.count(F.when(~F.col("expired"), F.lit(1))).over(w).alias("rn_live"),
    )
    status = (
        F.when(F.col("expired"), "ttl")
        .when(F.col("rn_live") <= GC_MAX_VERSIONS, "kept")
        .otherwise("version")
    )
    s = r.select("user_id", "ts", status.alias("status"))
    kept_ms = F.when(
        F.col("status") == "kept", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    return s.groupBy(F.col("user_id").alias("rowkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum(F.when(F.col("status") == "kept", 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("status") == "ttl", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purged_ttl"),
        F.sum(F.when(F.col("status") == "version", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purged_version"),
        F.min(kept_ms).alias("kept_min_ms"),
        F.max(kept_ms).alias("kept_max_ms"),
    )


@register(
    "sink_bulk_failure_replay",
    oracle="""
WITH cf AS (
  SELECT event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         CAST(user_id AS VARCHAR) AS rowkey,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END
           AS qualifier
  FROM events
),
d AS (
  SELECT rowkey, CAST(MAX(seq) AS BIGINT) AS del_seq
  FROM cf WHERE op = 'delete' GROUP BY rowkey
),
live AS (
  SELECT p.rowkey, p.qualifier, p.seq
  FROM cf p LEFT JOIN d ON p.rowkey = d.rowkey
  WHERE p.op = 'put' AND (d.del_seq IS NULL OR p.seq > d.del_seq)
)
SELECT rowkey, qualifier, CAST(MAX(seq) AS BIGINT) AS last_seq
FROM live
GROUP BY rowkey, qualifier
""",
)
def sink_bulk_failure_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ES sink's FAILURE modes, end-to-end, converging to the clean
    final state. The events changefeed is
    flushed as 3 seq-range epoch bulks through a fault-injecting `_bulk`
    endpoint that delivers the reference's three distinguishing failure
    behaviors: per-item 429 rejections on first delivery (retried, the
    variant-C semantics — README_zh.md:305-312; variants A/B drop them,
    observer6/ElasticSearchBulkOperator.java:85-90, which is exactly the
    data loss this design rejects), one connection-refused transport
    fault (whole-bulk requeue, :91-98), and one LOST RESPONSE — the bulk
    applies server-side but the client must blind-replay it. The retry
    client (sinks/bulk_replay.post_bulk_with_retry) converges because
    every epoch body follows the one-action-per-_id rule: "delete then
    surviving puts" for a key is FUSED into one full-document `index`
    action, so items commute and replays are absorbed.

    The oracle restates the converged endpoint state as plain SQL over
    the whole feed: per rowkey, puts strictly after the last delete,
    latest per qualifier — epoch boundaries, rejections, requeues and
    the double-applied bulk all provably invisible. Doc values carry
    the winning mutation's seq (not the value string) so the compare is
    float-format-free and uniquely identifies the winner, the
    sink_merge_idempotent_epochs convention.

    Scale shape: each epoch compaction is one seq-range-pruned scan +
    one hash shuffle on rowkey; the driver-side collect ships only the
    compacted NDJSON lines (O(live keys), not O(mutations)) because
    this sandbox's endpoint lives in driver memory — a cluster
    deployment POSTs per partition inside foreachPartition with the
    same retry loop, state never centralizing.
    """
    ensure_session_conf(spark)
    from ..sinks.bulk_replay import (
        FaultInjectingBulkEndpoint,
        epoch_bulk_lines,
        post_bulk_with_retry,
    )
    from ..sources.changefeed import events_as_changefeed

    # doc values carry the winning put's seq; application order for this
    # feed is seq order (arrival order): with one constant ts and no
    # family, the (ts, family, seq) merge order reduces to seq
    cf = events_as_changefeed(load_table(spark, sf_dir, "events")).select(
        "seq",
        "op",
        "rowkey",
        "qualifier",
        F.col("seq").cast("string").alias("value"),
        F.timestamp_seconds(F.lit(0)).alias("ts"),
    )
    lo, hi = cf.agg(F.min("seq"), F.max("seq")).first()
    n_epochs = 3
    span = (hi - lo + n_epochs) // n_epochs
    ranges = [
        (lo + i * span, min(lo + (i + 1) * span - 1, hi))
        for i in range(n_epochs)
    ]

    # fault schedule (deterministic): the FIRST post is connection-
    # refused before applying; epoch 1's first successful-apply post
    # loses its response (blind whole-bulk replay); ~1/4 of the _ids
    # reject with 429 on their first delivery.
    endpoint = FaultInjectingBulkEndpoint(
        item_fail_mod=4, drop_request_before=frozenset({0})
    )
    n_keys = 0
    for i, (e_lo, e_hi) in enumerate(ranges):
        ep = cf.filter((F.col("seq") >= e_lo) & (F.col("seq") <= e_hi))
        lines = epoch_bulk_lines(ep)
        if i == 1:
            endpoint.arm_drop_response_next()
        post_bulk_with_retry(endpoint, lines)
        n_keys = max(n_keys, len(lines))
    # loud failure if the injection machinery silently did nothing
    if endpoint.n_transport_faults != 2:
        raise RuntimeError(
            f"expected 2 injected transport faults, saw {endpoint.n_transport_faults}"
        )
    if n_keys >= 40 and endpoint.n_item_rejections == 0:
        raise RuntimeError(f"no item rejections injected over {n_keys} bulk lines")

    out_rows = [
        (rowkey, qual, int(seq_str))
        for rowkey, doc in endpoint.docs.items()
        for qual, seq_str in doc.items()
    ]
    return spark.createDataFrame(
        out_rows, "rowkey string, qualifier string, last_seq bigint"
    )
