"""Wire-protocol round-trip against a fake ES `_bulk` HTTP endpoint.

The sandbox has no Elasticsearch, so the sink is an emulation
(sinks/state_sink.EmulatedEsSink) plus the literal NDJSON wire format
(sinks/bulk_format). This test closes the last gap short of a live ES:
a localhost HTTP server parses real bulk POST bodies with
Elasticsearch's action semantics — `update` +
`{"doc": ..., "doc_as_upsert": true}` is a partial-document merge
(create-if-absent), `index` replaces the whole document, `delete`
removes it (observer6/ElasticSearchBulkOperator.java:84-90 builds and
POSTs update/delete line pairs; HbaseDataSyncEsObserver.java:109,129
builds the actions) — and the endpoint's final document state must
equal the emulated sink's after replaying the same epochs.

Epoch construction mirrors the reference's flush: each epoch POSTs one
bulk body built by `sinks.bulk_replay.epoch_bulk_lines` — one action
per rowkey: a delete, a full-document `index` for a delete followed by
surviving puts, or the surviving puts as a PARTIAL doc (only the
touched qualifiers, which is what setDocAsUpsert(true) ships). The epoch split
at seq 2 makes the r1 `c1: v1 -> v1b` update arrive in a LATER bulk
than `c2: v2`, so the endpoint must genuinely merge partials across
requests for the final states to agree.
"""

from __future__ import annotations

import json
import threading
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import functions as F

from hbase_observer_elasticsearch_spark.sinks.bulk_replay import epoch_bulk_lines
from hbase_observer_elasticsearch_spark.sinks.state_sink import EmulatedEsSink
from hbase_observer_elasticsearch_spark.sources.changefeed import (
    EXPECTED_STATE,
    fixture_changefeed,
)
from hbase_observer_elasticsearch_spark.streaming.pipeline import split_epoch


class _FakeEsBulk:
    """In-memory document store with ES bulk-action semantics."""

    def __init__(self):
        self.docs: dict[str, dict[str, str]] = {}
        self.n_requests = 0
        self.n_items = 0

    def apply_ndjson(self, body: str) -> list[dict]:
        lines = [ln for ln in body.split("\n") if ln.strip()]
        items, i = [], 0
        while i < len(lines):
            act = json.loads(lines[i])
            if "index" in act:
                meta, payload = act["index"], json.loads(lines[i + 1])
                self.docs[meta["_id"]] = dict(payload)  # full replace
                items.append({"index": {"_id": meta["_id"], "status": 200}})
                i += 2
            elif "update" in act:
                meta, payload = act["update"], json.loads(lines[i + 1])
                assert payload.get("doc_as_upsert") is True
                doc = self.docs.setdefault(meta["_id"], {})
                doc.update(payload["doc"])  # ES partial-document merge
                items.append({"update": {"_id": meta["_id"], "status": 200}})
                i += 2
            elif "delete" in act:
                meta = act["delete"]
                existed = self.docs.pop(meta["_id"], None) is not None
                items.append(
                    {
                        "delete": {
                            "_id": meta["_id"],
                            "status": 200 if existed else 404,
                        }
                    }
                )
                i += 1
            else:  # pragma: no cover — malformed body fails the test
                raise AssertionError(f"unknown bulk action: {act}")
        self.n_requests += 1
        self.n_items += len(items)
        return items


def _serve(store: _FakeEsBulk) -> ThreadingHTTPServer:
    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            assert self.path.endswith("/_bulk")
            body = self.rfile.read(
                int(self.headers["Content-Length"])
            ).decode()
            items = store.apply_ndjson(body)
            resp = json.dumps(
                {"took": 1, "errors": False, "items": items}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(resp)))
            self.end_headers()
            self.wfile.write(resp)

        def log_message(self, *_):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def _epoch_bulk_body(epoch_df, index: str) -> str:
    """One bulk POST body for an epoch: one action per touched rowkey."""
    return "\n".join(epoch_bulk_lines(*split_epoch(epoch_df), index)) + "\n"


def test_bulk_wire_roundtrip_matches_emulated_sink(spark, tmp_path):
    cf = fixture_changefeed(spark)
    epochs = [cf.filter(F.col("seq") <= 2), cf.filter(F.col("seq") > 2)]

    store = _FakeEsBulk()
    srv = _serve(store)
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/es/_bulk"
        sink = EmulatedEsSink(spark, str(tmp_path / "state"))
        for i, epoch in enumerate(epochs):
            sink.apply(*split_epoch(epoch), epoch_id=i)
            body = _epoch_bulk_body(epoch, index="docs")
            req = urllib.request.Request(
                url,
                data=body.encode(),
                headers={"Content-Type": "application/x-ndjson"},
            )
            with urllib.request.urlopen(req, timeout=10) as resp:
                reply = json.loads(resp.read())
            assert reply["errors"] is False
    finally:
        srv.shutdown()

    sink_state = {
        r["rowkey"]: dict(r["doc"]) for r in sink.read_state().collect()
    }
    assert store.docs == sink_state == EXPECTED_STATE
    assert store.n_requests == 2  # one bulk POST per flush epoch
    # r1's c1 update rode epoch 2 while c2 stayed from epoch 1 — the
    # endpoint really merged partial docs across requests
    assert store.docs["r1"] == {"c1": "v1b", "c2": "v2"}
