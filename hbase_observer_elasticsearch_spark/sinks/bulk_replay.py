"""ES `_bulk` FAILURE semantics: per-item errors + transport faults, and
the retry/requeue client that converges anyway.

The reference's sink has three distinguishing failure behaviors this
module reproduces and *proves convergent*:

- per-item bulk failures: variants A/B log-and-drop the failed item
  (observer6/ElasticSearchBulkOperator.java:85-90); variant C retries
  failed items (README_zh.md:305-312). We implement the C semantics —
  the only one compatible with an exactly-once final state — as
  ``post_bulk_with_retry``: items that come back with a retryable
  status are re-batched and re-POSTed alone.
- transport failure → requeue: on a connection error the whole bulk is
  re-queued and re-sent (observer6/ElasticSearchBulkOperator.java:91-98).
  The nasty sub-case is the LOST RESPONSE: the server applied the body
  but the client never heard back, so the replay double-applies the
  batch. Because every action is either a partial-doc upsert keyed by
  (_id, qualifier) with a fixed value or a whole-doc delete, replaying
  a bulk is ALGEBRAICALLY ABSORBED — the same property that makes the
  foreachBatch epoch replay idempotent in sinks/state_sink.py.

``EsBulkSink`` is the `_bulk` implementer of the sink write contract
``apply(cells, dels, epoch_id)``: the replicator's stream
(streaming.pipeline.start_pipeline, one foreachBatch call per epoch)
hands it each epoch's raw puts and deletes, and it posts them as one
body through the retry client. A checkpoint replay of an epoch posts it
again, which the body's upserts and deletes absorb.

``FaultInjectingBulkEndpoint`` is the same in-memory document store the
wire-format test drives over real HTTP (tests/test_es_bulk_endpoint.py),
plus deterministic fault hooks. Determinism matters: the registered
query ``sink_bulk_failure_replay`` (operators/cdc.py) drains the
replicator into it under the DuckDB oracle gate, so the injected faults
must be a pure function of the data, never of wall-clock or randomness.

ONE-ACTION-PER-ID RULE. Per-item retry is only order-safe if no two
actions in a body touch the same _id (a retried delete landing after a
same-body update would wipe it). The epoch builder (``epoch_bulk_lines``)
reduces the epoch with the sink's own last-writer-wins merge
(state_sink._lww) and then FUSES "delete then surviving partial puts"
into a single ES ``index`` action (full-document replace) — the
post-delete merge of partial docs IS a full document. Result: every
body's items commute, per-item retries and whole-body replays are both
absorbed, and the bulk needs fewer actions than the reference's
delete+update pairs — strictly better at scale.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bulk_format import action_line, doc_line, index_action_line, index_doc_line
from .state_sink import EsSinkConfig, _epoch_rows, _lww


def _stable_bucket(key: str, mod: int) -> int:
    """Deterministic, platform-independent bucket for an _id string."""
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % mod


class BulkTransportError(ConnectionError):
    """Stand-in for the IOException path the reference requeues on
    (observer6/ElasticSearchBulkOperator.java:91-98)."""


class FaultInjectingBulkEndpoint:
    """In-memory ES with bulk-action semantics + deterministic faults.

    Fault model (all opt-in via constructor args):
    - ``item_fail_mod``: an update/delete item whose _id hashes into
      bucket 0 (mod this value) gets a 429 TOO_MANY_REQUESTS — and is
      NOT applied — the FIRST time that _id is seen; later deliveries
      succeed (a transient per-shard rejection, ES's documented bulk
      partial-failure mode).
    - ``drop_request_before``: request ordinals that raise a transport
      error BEFORE applying anything (connection refused).
    - ``drop_response_after``: request ordinals that apply the WHOLE
      body and then raise (response lost in flight) — the replay-forcing
      case that distinguishes at-least-once from exactly-once.
    """

    def __init__(
        self,
        item_fail_mod: int = 0,
        drop_request_before: frozenset[int] = frozenset(),
        drop_response_after: frozenset[int] = frozenset(),
    ):
        self.docs: dict[str, dict[str, str]] = {}
        self.n_posts = 0
        self.n_item_rejections = 0
        self.n_transport_faults = 0
        self._item_fail_mod = item_fail_mod
        self._drop_before = set(drop_request_before)
        self._drop_after = set(drop_response_after)
        self._seen_ids: set[str] = set()

    def arm_drop_response_next(self) -> None:
        """Make the NEXT post apply fully and then lose its response —
        lets a caller schedule the fault at an epoch boundary without
        pre-computing retry-dependent post ordinals."""
        self._drop_after.add(self.n_posts)

    def _item_should_fail(self, _id: str) -> bool:
        if self._item_fail_mod and _id not in self._seen_ids:
            self._seen_ids.add(_id)
            return _stable_bucket(_id, self._item_fail_mod) == 0
        self._seen_ids.add(_id)
        return False

    def post(self, body: str) -> dict:
        """Apply one NDJSON bulk body; returns the ES bulk response dict.

        Raises BulkTransportError per the fault schedule — before any
        mutation for ``drop_request_before`` ordinals, after the full
        apply for ``drop_response_after`` ordinals.
        """
        ordinal = self.n_posts
        self.n_posts += 1
        if ordinal in self._drop_before:
            self.n_transport_faults += 1
            raise BulkTransportError(f"connection refused (post #{ordinal})")

        lines = [ln for ln in body.split("\n") if ln.strip()]
        items, i, any_err = [], 0, False
        while i < len(lines):
            act = json.loads(lines[i])
            (kind, meta), = act.items()
            if kind not in ("index", "update", "delete"):
                raise ValueError(f"unknown bulk action: {act}")
            payload = None if kind == "delete" else json.loads(lines[i + 1])
            i += 1 if payload is None else 2
            if kind == "update" and payload.get("doc_as_upsert") is not True:
                raise ValueError(f"update without doc_as_upsert: {payload}")
            _id, status = meta["_id"], 200
            if self._item_should_fail(_id):
                self.n_item_rejections += 1
                any_err = True
                status = 429
            elif kind == "index":
                self.docs[_id] = dict(payload)  # full replace
            elif kind == "update":
                self.docs.setdefault(_id, {}).update(payload["doc"])
            elif self.docs.pop(_id, None) is None:
                status = 404
            items.append({kind: {"_id": _id, "status": status}})

        if ordinal in self._drop_after:
            self.n_transport_faults += 1
            raise BulkTransportError(f"response lost (post #{ordinal})")
        return {"took": 1, "errors": any_err, "items": items}


def split_line_pairs(lines: list[str]) -> list[list[str]]:
    """Group NDJSON lines into per-item units (delete = 1 line,
    update/index = action + doc = 2 lines)."""
    units, i = [], 0
    while i < len(lines):
        act = json.loads(lines[i])
        if "update" in act or "index" in act:
            units.append(lines[i : i + 2])
            i += 2
        else:
            units.append([lines[i]])
            i += 1
    return units


def post_bulk_with_retry(
    endpoint, lines: list[str], max_attempts: int = 8
) -> dict:
    """The reference's requeue + per-item-retry loop, made convergent.

    Transport error → resend the ENTIRE current body (requeue,
    observer6/ElasticSearchBulkOperator.java:91-98 — correct even for a
    lost response, because replayed upserts/deletes are absorbed).
    Response with ``errors: true`` → keep only the retryable items
    (status ≥ 400, except 404 on delete, which is terminal success for
    convergence purposes) and resend those (variant C,
    README_zh.md:305-312). Returns stats for assertion.

    PRECONDITION: the body follows the one-action-per-_id rule (module
    docstring) — per-item retry re-applies items out of original order,
    which is only sound when items commute.
    """
    units = split_line_pairs(lines)
    attempts = 0
    stats = {"posts": 0, "transport_retries": 0, "item_retries": 0}
    while units and attempts < max_attempts:
        attempts += 1
        body = "\n".join(ln for u in units for ln in u) + "\n"
        try:
            resp = endpoint.post(body)
            stats["posts"] += 1
        except BulkTransportError:
            stats["transport_retries"] += 1
            continue  # requeue: same units, next attempt
        if not resp["errors"]:
            return stats
        retry_units = []
        for unit, item in zip(units, resp["items"]):
            (kind, res), = item.items()
            status = res["status"]
            if status >= 400 and not (kind == "delete" and status == 404):
                retry_units.append(unit)
        stats["item_retries"] += len(retry_units)
        units = retry_units
    if units:  # pragma: no cover — convergence failure is a bug
        raise RuntimeError(f"bulk did not converge after {attempts} attempts")
    return stats


def epoch_bulk_lines(
    cells: DataFrame, dels: DataFrame, index: str = "docs"
) -> list[str]:
    """Compact one epoch of changefeed mutations into NDJSON bulk lines
    obeying the one-action-per-_id rule.

    The input is the sink MERGE's: ``cells`` the epoch's puts and
    ``dels`` the (rowkey, ts, seq) of its deletes, as
    streaming.pipeline.split_epoch returns them. They are reduced by the
    sink's last-writer-wins merge (state_sink._lww): per rowkey, the
    latest delete and the winning put per qualifier among the puts after
    it. Then per rowkey: a delete and no surviving cells emits one
    `delete`; a delete and cells FUSE into one full-doc `index`; cells
    alone emit one partial-doc `update` (doc_as_upsert). The returned
    list is rowkey-ordered for deterministic bodies.

    ``EsBulkSink.apply`` calls it once per epoch, inside the stream's
    foreachBatch. The driver-side collect is bounded by live keys
    (post-compaction), not mutations; a cluster deployment runs the
    identical plan and POSTs per partition instead of collecting.
    """
    is_cell = F.col("qualifier").isNotNull()
    keys = (
        _lww(_epoch_rows(cells, dels), False)
        .groupBy("rowkey")
        .agg(
            F.bool_or(~is_cell).alias("has_del"),
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(F.when(is_cell, F.struct("qualifier", "value")))
                )
            ).alias("doc"),
        )
    )
    has_del = F.col("has_del")
    has_doc = F.size("doc") > 0
    rows = (
        keys.select(
            "rowkey",
            F.when(
                has_del & ~has_doc,
                action_line(F.col("rowkey"), F.lit(True), index),
            )
            .when(has_del, index_action_line(F.col("rowkey"), index))
            .otherwise(action_line(F.col("rowkey"), F.lit(False), index))
            .alias("a"),
            F.when(has_del & has_doc, index_doc_line(F.col("doc")))
            .when(~has_del, doc_line(F.col("doc")))
            .alias("d"),
        )
        .orderBy("rowkey")
        .collect()
    )
    lines: list[str] = []
    for r in rows:
        lines.append(r["a"])
        if r["d"] is not None:
            lines.append(r["d"])
    return lines


class EsBulkSink:
    """The `_bulk` sink: each epoch posted to ``endpoint`` as one
    one-action-per-_id body (``epoch_bulk_lines``) through
    ``post_bulk_with_retry``.

    It has EmulatedEsSink's constructor and ``apply`` contract, so
    ``CdcReplicator.start(sink_cls=functools.partial(EsBulkSink,
    endpoint=...))`` drains a changefeed into it. ``root`` is unused:
    the documents live in the endpoint. ``stats`` sums the retry
    client's counters over every apply. There is no ``read_cells``: an
    ES index keeps no tombstones.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        config: EsSinkConfig | None = None,
        *,
        endpoint,
    ):
        self.spark = spark
        self.config = config or EsSinkConfig()
        self.endpoint = endpoint
        self.stats = {"posts": 0, "transport_retries": 0, "item_retries": 0}

    def apply(
        self, cells: DataFrame, dels: DataFrame, epoch_id: int | None = None
    ) -> None:
        """Post one epoch. A replayed ``epoch_id`` is posted again: the
        body's upserts and deletes absorb a second delivery."""
        lines = epoch_bulk_lines(cells, dels, self.config.es_index)
        for k, n in post_bulk_with_retry(self.endpoint, lines).items():
            self.stats[k] += n

    def read_state(self) -> DataFrame:
        """(rowkey, doc MAP<STRING,STRING>): the endpoint's documents."""
        return self.spark.createDataFrame(
            sorted(self.endpoint.docs.items()),
            "rowkey string, doc map<string,string>",
        )
