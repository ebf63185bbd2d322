"""Custom stateful streaming operator: per-key LWW doc assembly via
``applyInPandasWithState`` (SURVEY §2.3 "stateful last-write-wins").

The declarative pipeline (streaming/pipeline.py) rebuilds doc state with a
foreachBatch MERGE against a state *table*; this operator instead keeps the
doc in **Spark-managed keyed state**, the shape to use when consumers need
the updated document pushed per micro-batch (e.g. straight into an ES bulk
upsert) without re-reading a state table.

Semantics are identical to the sink MERGE (tests assert parity with
EXPECTED_STATE):
- winner per (rowkey, qualifier) = max (ts, family, seq) — family byte-order
  breaks same-ts collisions exactly like the reference's NavigableMap
  iteration (observer6/HbaseDataSyncEsObserver.java:93-102);
- a delete is a whole-doc tombstone at (ts, seq) (delete widening,
  observer6/HbaseDataSyncEsObserver.java:127-129): cells at or before it are
  dead, later cells survive (delete-then-reinsert works);
- merge order across/within micro-batches is irrelevant (pure max-merge),
  so the operator is replay/duplicate tolerant — exactly-once end state on
  top of at-least-once delivery.

Scale design (100 TB changefeed):
- state is partitioned by rowkey across executors (one shuffle per batch,
  same key partitioning reused every epoch by the state store);
- per-key state is the current doc (bounded by row width), with dead cells
  pruned on every tombstone application;
- at real scale add a state TTL via ``GroupStateTimeout`` (keys idle past
  the retention horizon are evicted and re-hydrated from the lakehouse
  state table on next touch).

Every stateful operator here uses ``applyInPandasWithState``. The
typed-state ``transformWithStateInPandas`` API is not used: its
JVM<->Python state protocol needs the protobuf wheel, and this module's
operators run without it.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .pipeline import read_feed

# state: one JSON blob per key:
#   {"cells": {qualifier: [value, ts_ns, family, seq]}, "tomb": [ts_ns, seq],
#    "n": <total mutations merged so far>}
# "n" is the emitted version stamp: per-key monotone across micro-batches
# (the file source does NOT guarantee batch order = event order, and
# max-merge doesn't need it — but consumers need to know which emission
# is newest).
_STATE_SCHEMA = "state_json string"
_OUTPUT_SCHEMA = "rowkey string, doc_json string, version long, evicted boolean"


def _cell_key(ts_ns: int, family: str, seq: int) -> tuple:
    return (ts_ns, family or "", seq)


def _apply_mutations(state_doc: dict, pdf: pd.DataFrame) -> None:
    """Max-merge one pandas chunk of mutations into the state dict."""
    cells: dict = state_doc.setdefault("cells", {})
    tomb = state_doc.get("tomb")
    state_doc["n"] = state_doc.get("n", 0) + len(pdf)
    ts_ns = pdf["ts"].astype("int64")  # pandas datetime64[ns] → ns since epoch
    for op, qual, val, fam, seq, t in zip(
        pdf["op"], pdf["qualifier"], pdf["value"], pdf["family"],
        pdf["seq"], ts_ns,
    ):
        seq = int(seq)
        t = int(t)
        if op == "delete":
            if tomb is None or (t, seq) > tuple(tomb):
                tomb = [t, seq]
        else:
            old = cells.get(qual)
            if old is None or _cell_key(t, fam, seq) > _cell_key(
                old[1], old[2], old[3]
            ):
                cells[qual] = [val, t, fam, seq]
    if tomb is not None:
        state_doc["tomb"] = tomb
        # prune cells killed by the tombstone (bounds state size)
        dead = [q for q, c in cells.items() if (c[1], c[3]) <= (tomb[0], tomb[1])]
        for q in dead:
            del cells[q]


def _emit(rowkey: str, state_doc: dict, evicted: bool) -> pd.DataFrame:
    doc = {q: c[0] for q, c in state_doc.get("cells", {}).items()}
    return pd.DataFrame(
        {
            "rowkey": [rowkey],
            "doc_json": [json.dumps(doc, sort_keys=True)],
            "version": [state_doc.get("n", 0)],
            "evicted": [evicted],
        }
    )


def _make_handler(ttl_ms: int | None):
    def _lww_doc_state(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (rowkey,) = key
        if ttl_ms is not None and state.hasTimedOut:
            # retention horizon passed with no touch: emit the final doc
            # flagged evicted, drop the keyed state. A later mutation
            # re-hydrates from the lakehouse state table (sink side) —
            # this bounds state by the ACTIVE key set, not the key space.
            state_doc = json.loads(state.get[0]) if state.exists else {}
            state.remove()
            yield _emit(rowkey, state_doc, evicted=True)
            return
        state_doc = json.loads(state.get[0]) if state.exists else {}
        for pdf in pdfs:
            _apply_mutations(state_doc, pdf)
        state.update((json.dumps(state_doc),))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield _emit(rowkey, state_doc, evicted=False)

    return _lww_doc_state


def stateful_doc_state(
    spark: SparkSession, changefeed_dir: str, ttl_ms: int | None = None
) -> DataFrame:
    """Streaming LWW document state with Spark-managed per-key state.

    Emits (rowkey, doc_json, version, evicted) for every key touched in
    each micro-batch — doc_json "{}" marks a fully-deleted doc (the
    upsert/delete discriminator a downstream ES writer needs).

    ``ttl_ms`` arms a processing-time state TTL (SURVEY §7 "what's hard"
    #1): keys idle past the horizon emit one final ``evicted=true`` row
    and their state is dropped — the 100 TB requirement that keyed state
    track the active working set instead of growing with key cardinality.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    cf = read_feed(spark, changefeed_dir)
    return cf.groupBy("rowkey").applyInPandasWithState(
        _make_handler(ttl_ms),
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


# --- streaming debounce (gap-based duplicate suppression) -------------------

_DEBOUNCE_STATE = "last_json string"
_DEBOUNCE_OUTPUT = "seq long, rowkey string, qualifier string, ts timestamp"


def _sorted_batch(frames: list[pd.DataFrame], by) -> pd.DataFrame:
    """One key's micro-batch chunks as one frame sorted by ``by``."""
    pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
    return pdf.sort_values(by)


def _out_of_order(what: str, row, last) -> ValueError:
    return ValueError(
        f"{what}: row {row} is not after the last row {last} this key's "
        "state has seen; the feed's files must be contiguous, ordered ranges"
    )


def _make_debounce_handler(gap_us: int):
    def _debounce(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # Keyed by rowkey only; per qualifier the state keeps the last RAW
        # event's [ts_us, seq] (state group count = active keys, not
        # keys x qualifiers). The gap decision is "previous raw event of
        # the same qualifier, kept or not": a per-qualifier shift(1) over
        # the (ts, seq)-sorted batch, seeded from state for each
        # qualifier's first row. That equals the LAG over the key's whole
        # history only if no batch row precedes the state, so such a row
        # raises.
        last: dict[str, list[int]] = (
            json.loads(state.get[0]) if state.exists else {}
        )
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            return
        pdf = _sorted_batch(frames, ["ts", "seq"])
        q = pdf["qualifier"].fillna("")
        t_us = pdf["ts"].astype("int64") // 1000
        prev = t_us.groupby(q).shift(1).to_numpy()
        qs, t_us, seq = q.to_numpy(), t_us.to_numpy(), pdf["seq"].to_numpy()
        for i in np.flatnonzero(np.isnan(prev)):  # each qualifier's first row
            seen = last.get(qs[i])
            if seen is not None:
                if (t_us[i], seq[i]) <= tuple(seen):
                    raise _out_of_order(
                        f"stateful_debounce rowkey {key[0]!r} qualifier {qs[i]!r}",
                        (int(t_us[i]), int(seq[i])),
                        tuple(seen),
                    )
                prev[i] = seen[0]
        keep = np.isnan(prev) | ((t_us - prev) > gap_us)
        kept = pdf.loc[keep, ["seq", "rowkey", "qualifier", "ts"]]
        for i in np.flatnonzero(~q.duplicated(keep="last").to_numpy()):
            last[qs[i]] = [int(t_us[i]), int(seq[i])]  # last raw row
        state.update((json.dumps(last),))
        if len(kept):
            yield kept

    return _debounce


def stateful_debounce(
    spark: SparkSession, changefeed_dir: str, gap_us: int
) -> DataFrame:
    """Streaming gap-based debounce: suppress changefeed mutations of the
    same (rowkey, qualifier) arriving within ``gap_us`` of the previous
    raw mutation — the streaming twin of the events_debounce batch
    operator (operators/time_windows.py), with the previous raw event's
    (ts, seq) per qualifier as the ONLY keyed state (vs the LWW doc state
    above, which carries the whole document). Raises if a micro-batch
    holds a row at or before that state's (ts, seq).
    """
    cf = read_feed(spark, changefeed_dir)
    return cf.groupBy("rowkey").applyInPandasWithState(
        _make_debounce_handler(gap_us),
        outputStructType=_DEBOUNCE_OUTPUT,
        stateStructType=_DEBOUNCE_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming IVM deltas (live-rollup maintenance at ingest) ---------------

_IVM_FEED_SCHEMA = (
    "rowkey long, seq long, is_del boolean, value double, "
    "epoch long, grp long"
)
_IVM_STATE = "live boolean, value double, seq long"
_IVM_OUTPUT = (
    "grp long, epoch long, live_now boolean, val_now double, "
    "prev_live boolean, prev_value double"
)


def _ivm_delta_handler(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-rowkey LWW delta emitter: keyed state is (live, last raw
    value, last seq); each update emits the (now, prev) pair the
    downstream decimal fold turns into exact (cnt, value) deltas — the
    streaming half of operators/skew_agg.cdc_live_rollup_ivm. State
    stores the previous row's RAW value even for tombstones (prev_live
    masks it), bit-matching the batch LAG chain.

    prev is the seq-sorted batch shifted by one, seeded from state. That
    is the LAG over the key's whole seq order only if every batch row
    comes after the state's last seq, so an earlier row raises."""
    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        return
    live, val, last_seq = state.get if state.exists else (False, 0.0, None)
    pdf = _sorted_batch(frames, "seq")
    seqs = pdf["seq"].to_numpy(dtype="int64")
    if last_seq is not None and seqs[0] <= last_seq:
        raise _out_of_order(
            f"stateful_ivm_deltas rowkey {key[0]!r}", int(seqs[0]), int(last_seq)
        )
    now_live = ~pdf["is_del"].to_numpy(dtype=bool)
    vals = pdf["value"].to_numpy(dtype="float64")
    out = pd.DataFrame(
        {
            "grp": pdf["grp"].to_numpy(dtype="int64"),
            "epoch": pdf["epoch"].to_numpy(dtype="int64"),
            "live_now": now_live,
            "val_now": vals,
            "prev_live": np.concatenate(([bool(live)], now_live[:-1])),
            "prev_value": np.concatenate(([float(val)], vals[:-1])),
        }
    )
    state.update((bool(now_live[-1]), float(vals[-1]), int(seqs[-1])))
    yield out


def stateful_ivm_deltas(spark: SparkSession, feed_dir: str) -> DataFrame:
    """Streaming per-update delta stream for live-rollup IVM: one
    (live, value, seq) triple of keyed state per rowkey, emission = one
    row per mutation carrying (now, prev) — O(active keys) state however
    long the feed runs, the same bound as the LWW doc state above."""
    cf = read_feed(spark, feed_dir, _IVM_FEED_SCHEMA)
    return cf.groupBy("rowkey").applyInPandasWithState(
        _ivm_delta_handler,
        outputStructType=_IVM_OUTPUT,
        stateStructType=_IVM_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
