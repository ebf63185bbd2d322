"""User-facing CDC replicator: the reference's one-sentence contract —
"bind a table, get near-real-time search-index sync" — as one class.

Reference lifecycle mapping (SURVEY §2.1 #16/#17):

    alter 'table', 'coprocessor' => jar|class|…|es_cluster=…,es_host=…   →  CdcReplicator(spark, …, EsSinkConfig(…))
    coprocessor start(env) / readConfiguration                           →  .start()
    coprocessor stop(env) (close client, shutdown scheduler)             →  .stop()
    the ES index the coprocessor fills                                   →  .state() / .cells()

A user of the reference switches by pointing `changefeed_dir` at their
mutation feed (file drop, or swap in sources/kafka_changefeed for a topic)
and reading `.state()` instead of querying ES — same document shape
(`{qualifier: value}` per rowkey, optional "info" envelope at the query
layer), strictly better delivery semantics (checkpointed exactly-once end
state vs the reference's at-most-once buffer).

`start(sink_cls=...)` picks what each epoch is written to; both sinks take
`apply(cells, dels, epoch_id)` from the same foreachBatch stream:

    rep.start()  # EmulatedEsSink: parquet runs + manifest
    rep.start(sink_cls=functools.partial(EsBulkSink, endpoint=endpoint))
                 # sinks/bulk_replay.EsBulkSink: one `_bulk` POST per epoch
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .sinks.state_sink import EmulatedEsSink, EsSinkConfig
from .streaming.pipeline import start_pipeline


class CdcReplicator:
    def __init__(
        self,
        spark: SparkSession,
        changefeed_dir: str,
        state_dir: str,
        checkpoint_dir: str,
        config: EsSinkConfig | None = None,
    ):
        self.spark = spark
        self.changefeed_dir = changefeed_dir
        self.state_dir = state_dir
        self.checkpoint_dir = checkpoint_dir
        self.config = config or EsSinkConfig()
        self._query = None
        self._sink = None

    # -- lifecycle (reference #16/#17) --------------------------------------
    def start(self, sink_cls: type = EmulatedEsSink, **kwargs) -> "CdcReplicator":
        """Begin replication. kwargs pass through to start_pipeline
        (`trigger={"availableNow": True}` drains-and-stops for tests;
        default is the reference-parity 30 s processing-time trigger).
        `sink_cls` builds the sink (EmulatedEsSink, or a callable with its
        constructor such as a `functools.partial` of EsBulkSink); the
        constructed sink is kept so `state()` / `cells()` read through the
        object this replicator actually writes."""
        if self._query is not None:
            raise RuntimeError("replicator already started")
        self._sink = sink_cls(self.spark, self.state_dir, self.config)
        self._query = start_pipeline(
            self.spark, self.changefeed_dir, self.checkpoint_dir, self._sink, **kwargs
        )
        return self

    def stop(self, timeout_s: int | None = None) -> None:
        """Graceful teardown (the reference leaks its scheduler thread if
        this is skipped — README_zh.md:415; here stop is always safe and
        restart resumes from the checkpoint)."""
        if self._query is None:
            return
        if timeout_s is not None:
            self._query.awaitTermination(timeout_s)
        self._query.stop()
        self._query = None

    def await_drained(self, timeout_s: int = 120) -> None:
        """Block until an availableNow run finishes (test convenience).

        Raises TimeoutError if the query is still running after
        `timeout_s` — callers query `state()` right after this, and a
        silently-partial drain would surface only as an inexplicable
        result mismatch downstream, so fail loudly here instead."""
        if self._query is None:
            return
        finished = self._query.awaitTermination(timeout_s)
        if not finished and self._query.isActive:
            raise TimeoutError(
                f"replication did not drain within {timeout_s}s "
                f"(query {self._query.id} still active)"
            )

    @property
    def is_active(self) -> bool:
        return self._query is not None and self._query.isActive

    # -- read side (what ES queries would see) ------------------------------
    def _reader(self):
        """The sink this replicator writes through (kept from start());
        before any start(), default to the EmulatedEsSink layout."""
        return self._sink or EmulatedEsSink(
            self.spark, self.state_dir, self.config
        )

    def state(self) -> DataFrame:
        """(rowkey, doc): the live document view."""
        return self._reader().read_state()

    def cells(self) -> DataFrame:
        """Cell-level state incl. tombstones (debugging / audits)."""
        return self._reader().read_cells()
