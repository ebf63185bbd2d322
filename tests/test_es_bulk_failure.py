"""ES `_bulk` FAILURE semantics over real HTTP: per-item 429 rejections,
a connection refused before apply, and a LOST RESPONSE after a full
apply — the reference's actual failure modes
(observer6/ElasticSearchBulkOperator.java:85-98 logs/drops per-item
failures and requeues on transport error; variant C retries items,
README_zh.md:305-312). The retry client must converge to EXACTLY the
clean run's final document state (the exactly-once claim under the
reference's failure modes).

Wire realism: the faulty server genuinely closes the TCP connection
without a response (http.client.RemoteDisconnected on the client), not
a simulated exception; per-item failures come back as a real
`"errors": true` bulk response body.

The streaming tests drain the fixture changefeed through
`CdcReplicator.start(sink_cls=...)` into `EsBulkSink`, the `_bulk`
implementer of the sink `apply` contract, so each epoch is posted from
inside the replicator's own foreachBatch stream.
"""

from __future__ import annotations

import functools
import http.client
import json
import threading
import urllib.error
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from hbase_observer_elasticsearch_spark.replicator import CdcReplicator
from hbase_observer_elasticsearch_spark.sinks.bulk_replay import (
    BulkTransportError,
    EsBulkSink,
    FaultInjectingBulkEndpoint,
    _stable_bucket,
    epoch_bulk_lines,
    post_bulk_with_retry,
)
from hbase_observer_elasticsearch_spark.sources.changefeed import (
    EXPECTED_STATE,
    fixture_changefeed,
    write_changefeed_stream_dir,
)
from hbase_observer_elasticsearch_spark.streaming.pipeline import split_epoch


def _serve(endpoint: FaultInjectingBulkEndpoint) -> ThreadingHTTPServer:
    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            assert self.path.endswith("/_bulk")
            body = self.rfile.read(
                int(self.headers["Content-Length"])
            ).decode()
            try:
                resp_obj = endpoint.post(body)
            except BulkTransportError:
                # abort the TCP connection with no response — the client
                # sees a genuine RemoteDisconnected / connection reset
                self.connection.close()
                return
            resp = json.dumps(resp_obj).encode()
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


class HttpBulkEndpoint:
    """Adapter: the same .post(body) contract post_bulk_with_retry
    expects, over a real HTTP transport."""

    def __init__(self, url: str):
        self.url = url

    def post(self, body: str) -> dict:
        req = urllib.request.Request(
            self.url,
            data=body.encode(),
            headers={"Content-Type": "application/x-ndjson"},
        )
        try:
            with urllib.request.urlopen(req, timeout=10) as resp:
                return json.loads(resp.read())
        except (
            urllib.error.URLError,
            ConnectionError,
            http.client.HTTPException,
        ) as e:  # RemoteDisconnected subclasses both of the last two
            raise BulkTransportError(str(e)) from e


def test_bulk_failure_replay_converges_to_clean_state(spark):
    cf = fixture_changefeed(spark)
    epochs = [cf.filter(F.col("seq") <= 2), cf.filter(F.col("seq") > 2)]
    bodies = [epoch_bulk_lines(*split_epoch(ep)) for ep in epochs]

    # clean run: no faults
    clean = FaultInjectingBulkEndpoint()
    for lines in bodies:
        post_bulk_with_retry(clean, lines)
    assert clean.docs == EXPECTED_STATE

    # faulty run over real HTTP: post #0 refused before apply; epoch 2's
    # first successful-apply post loses its response (full blind replay);
    # half the _ids 429 on first delivery
    faulty = FaultInjectingBulkEndpoint(
        item_fail_mod=2, drop_request_before=frozenset({0})
    )
    srv = _serve(faulty)
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/es/_bulk"
        client = HttpBulkEndpoint(url)
        stats = []
        for i, lines in enumerate(bodies):
            if i == 1:
                faulty.arm_drop_response_next()
            stats.append(post_bulk_with_retry(client, lines))
    finally:
        srv.shutdown()

    # convergence: identical to the clean final state (and the golden one)
    assert faulty.docs == clean.docs == EXPECTED_STATE

    # the faults actually happened
    assert faulty.n_transport_faults == 2
    all_ids = {r["rowkey"] for r in cf.select("rowkey").distinct().collect()}
    expected_rejected = {k for k in all_ids if _stable_bucket(k, 2) == 0}
    assert faulty.n_item_rejections == len(expected_rejected)
    assert expected_rejected, "fixture must exercise the 429 path"
    # and the client really retried through them. Note the interplay:
    # r2's 429 happens DURING the lost-response apply, so the client
    # never sees that errors:true body — the whole-bulk requeue absorbs
    # it (r2 succeeds on the blind replay, being second-seen). Only r1's
    # rejection surfaces as a client-visible item retry.
    assert sum(s["transport_retries"] for s in stats) == 2
    assert sum(s["item_retries"] for s in stats) == 1


def test_per_item_retry_is_order_safe_for_fused_bodies(spark):
    """The one-action-per-_id rule in action: r2's delete-then-reinsert
    lands in ONE epoch as a single `index` action, so a 429 + retry of
    that action cannot resurrect pre-delete state or wipe the reinsert
    (a delete+update pair would, if only the delete 429'd)."""
    cf = fixture_changefeed(spark)
    lines = epoch_bulk_lines(*split_epoch(cf))  # whole feed as one bulk
    acts = [json.loads(ln) for ln in lines]
    ids_seen = []
    for a in acts:
        for kind in ("index", "update", "delete"):
            if kind in a:
                ids_seen.append(a[kind]["_id"])
    doc_lines = len(lines) - len(ids_seen)
    assert len(ids_seen) == len(set(ids_seen)), "one action per _id"
    assert doc_lines == sum(
        1 for a in acts if "index" in a or "update" in a
    )
    # r2 (delete then reinsert) must be the fused full-doc index action
    r2 = [a for a in acts if a.get("index", {}).get("_id") == "r2"]
    assert len(r2) == 1

    # every _id 429s on first delivery; convergence must still hold
    ep = FaultInjectingBulkEndpoint(item_fail_mod=1)
    stats = post_bulk_with_retry(ep, lines)
    assert ep.docs == EXPECTED_STATE
    assert stats["item_retries"] == len(ids_seen)


def _fixture_feed(spark, tmp_path) -> None:
    """The fixture changefeed as a 3-file stream dir at tmp_path/cf:
    epochs 0, 1 and 2 hold seq 1-5, 6-10 and 11-14, so epoch 1 carries
    r2's delete and reinsert (one fused `index` action)."""
    write_changefeed_stream_dir(
        fixture_changefeed(spark), str(tmp_path / "cf"), n_files=3
    )


def _replicate(spark, tmp_path, sink_cls, endpoint) -> None:
    """Drain the fixture feed at tmp_path/cf into ``sink_cls`` through
    the replicator, on the checkpoint at tmp_path/ckpt."""
    rep = CdcReplicator(
        spark,
        str(tmp_path / "cf"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    rep.start(
        sink_cls=functools.partial(sink_cls, endpoint=endpoint),
        trigger={"availableNow": True},
    )
    try:
        rep.await_drained()
    finally:
        rep.stop()


def test_streaming_foreachbatch_drain_through_faulty_endpoint(
    spark, tmp_path
):
    """End-to-end STREAMING fidelity: the replicator's Structured
    Streaming query drains the fixture changefeed in micro-batches, each
    epoch posted to the fault-injecting `_bulk` endpoint by EsBulkSink
    from inside foreachBatch — the reference's actual shape
    (postPut/postDelete buffer → bulk flush) with its actual failure
    modes live in the loop: the first POST is connection-refused, one
    mid-stream POST applies fully but loses its response (blind
    whole-bulk replay inside the SAME foreachBatch call), and half the
    _ids 429 on first delivery. The endpoint's final state must equal
    the golden LWW state — streaming, faults, retries and all."""
    _fixture_feed(spark, tmp_path)
    endpoint = FaultInjectingBulkEndpoint(
        item_fail_mod=2, drop_request_before=frozenset({0})
    )

    class MidStreamLostResponse(EsBulkSink):
        armed = False

        def apply(self, cells, dels, epoch_id=None):
            if not self.armed and self.endpoint.n_posts >= 1:
                self.endpoint.arm_drop_response_next()
                self.armed = True
            super().apply(cells, dels, epoch_id)

    _replicate(spark, tmp_path, MidStreamLostResponse, endpoint)

    assert endpoint.docs == EXPECTED_STATE
    assert endpoint.n_transport_faults == 2
    assert endpoint.n_item_rejections >= 1


def test_crash_after_post_replays_the_epoch_on_restart(spark, tmp_path):
    """A crash after epoch 1's bulk is applied but before Spark commits
    that batch: the restarted replicator, on the same checkpoint, runs
    epoch 1 again with the same id and the sink posts it again. The
    one-action-per-_id body absorbs the redelivery, so the endpoint
    ends in the golden state."""
    _fixture_feed(spark, tmp_path)
    endpoint = FaultInjectingBulkEndpoint()
    posted = []

    class CrashOnceAfterEpoch1(EsBulkSink):
        def apply(self, cells, dels, epoch_id=None):
            super().apply(cells, dels, epoch_id)
            posted.append((epoch_id, self.stats["posts"]))
            if epoch_id == 1 and len(posted) == 2:
                raise RuntimeError("crash after posting epoch 1")

    with pytest.raises(StreamingQueryException, match="crash after posting"):
        _replicate(spark, tmp_path, CrashOnceAfterEpoch1, endpoint)
    assert posted == [(0, 1), (1, 2)] and endpoint.n_posts == 2

    _replicate(spark, tmp_path, CrashOnceAfterEpoch1, endpoint)
    # the restarted sink posted epoch 1 again, then epoch 2
    assert posted[2:] == [(1, 1), (2, 2)]
    assert endpoint.n_posts == 4
    assert endpoint.docs == EXPECTED_STATE


def test_endpoint_rejects_update_without_doc_as_upsert():
    """A partial-doc update must be create-if-absent; the endpoint
    raises on any other update body instead of guessing."""
    ep = FaultInjectingBulkEndpoint()
    body = '{"update":{"_id":"k"}}\n{"doc":{"c1":"v"}}\n'
    with pytest.raises(ValueError, match="doc_as_upsert"):
        ep.post(body)


def test_failure_replay_raises_when_a_fault_is_not_injected(
    spark, sf_dir, monkeypatch
):
    """sink_bulk_failure_replay checks its fault schedule ran: with the
    lost-response fault disarmed it sees one transport fault, not two,
    and raises."""
    from hbase_observer_elasticsearch_spark.operators.cdc import (
        sink_bulk_failure_replay,
    )

    monkeypatch.setattr(
        FaultInjectingBulkEndpoint, "arm_drop_response_next", lambda self: None
    )
    with pytest.raises(RuntimeError, match="transport faults"):
        sink_bulk_failure_replay(spark, sf_dir)


def test_failure_replay_raises_when_no_item_is_rejected(
    spark, sf_dir, monkeypatch
):
    """sink_bulk_failure_replay checks its per-item faults ran: with
    every 429 disarmed it raises."""
    from hbase_observer_elasticsearch_spark.operators.cdc import (
        sink_bulk_failure_replay,
    )

    monkeypatch.setattr(
        FaultInjectingBulkEndpoint, "_item_should_fail", lambda self, _id: False
    )
    with pytest.raises(RuntimeError, match="no item rejections"):
        sink_bulk_failure_replay(spark, sf_dir)
