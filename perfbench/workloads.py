"""The four workloads. Each one drives public entry points of the package
and returns what it measured; `run.py` turns that into metrics.

A workload has five steps:

- `prepare(ctx, rep)`: write the inputs; `run.py` repeats it and takes
  the median for `setup_s`, and a traced run calls it once more before
  its traced `measure`;
- `warm_up(ctx)`: the rest of set-up, untimed by `measure` but counted
  in `setup_s` (pre-replication, and for the replication workloads one
  untimed drain so JIT and code generation are paid before timing);
- `measure(ctx, seconds)`: the timed loop, returning a `Measured`; a
  traced run calls it twice in one session;
- `check(ctx, measured)`: the correctness gate, returning the number of
  operations whose output was wrong;
- `layers(ctx, measured)`: per-layer probes of a traced run, into
  `ctx.layers`.

Sizes live in `SIZES`; `--smoke` picks the tiny column.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from hbase_observer_elasticsearch_spark import memos, registry
from hbase_observer_elasticsearch_spark.operators.cdc import apply_changefeed
from hbase_observer_elasticsearch_spark.plans.es_compiler import compile_search
from hbase_observer_elasticsearch_spark.replicator import CdcReplicator
from hbase_observer_elasticsearch_spark.sinks.state_sink import EmulatedEsSink
from hbase_observer_elasticsearch_spark.sources.changefeed import (
    CHANGEFEED_SCHEMA,
    write_changefeed_stream_dir,
)
from hbase_observer_elasticsearch_spark.streaming.pipeline import (
    MAX_BULK_COUNT,
    compact_epoch,
)

import feeds
from tracing import dir_bytes, file_batches, median

# (full, smoke) sizes
SIZES = {
    "backfill_files": (7, 3),
    "backfill_rows": (16000, 200),
    "tail_period_s": (0.25, 0.5),
    "tail_rows": (250, 50),
    "tail_keys": (300, 30),
    "tail_warmup_files": (4, 2),
    "search_docs": (3000, 200),
    "search_files": (2, 2),
    # 0.4 of the sf0.1 row counts (5,000 documents, 2,000 embeddings,
    # 600,000 lineitem rows): the largest that fits the run budget with a
    # margin for host load (perfbench/README.md)
    "docs": (2000, 60),
    "vecs": (800, 60),
    "lines": (240000, 600),
}

# The memo families with carried performance targets and their hot
# consumers, then the registered queries built by plans.es_compiler.
ANALYTICS_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_clusters",
    "similarity_topk_rhp",
    "similarity_topk_ivfpq",
    "similarity_mutual_knn",
    "search_bm25_topk",
    "layout_sort_key_advisor",
    "es_compile_filter_search",
    "es_compile_aggs_request",
    "es_compile_histogram_request",
)

# An open-loop run is invalid once its generator runs this late.
TAIL_LATE_BOUND_S = 0.25


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    tracer: object
    progress: object
    smoke: bool
    cores: int
    corrupt: bool = False
    layers: dict = field(default_factory=dict)

    def size(self, name: str):
        return SIZES[name][1 if self.smoke else 0]

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Measured:
    """`samples` are per-operation latencies in ms; `work` operations or
    mutations completed in `wall_s` of measured time."""

    samples: list
    work: float
    wall_s: float
    attempted: int
    outputs: list = field(default_factory=list)
    notes: dict = field(default_factory=dict)


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def write_feed(ctx: Ctx, table, feed_dir: str, n_files: int) -> int:
    """Lay a generated changefeed out as `n_files` stream files with the
    program's `write_changefeed_stream_dir`, timed as the `sources` layer.
    Returns the bytes written."""
    df = ctx.spark.createDataFrame(table.to_pandas(), CHANGEFEED_SCHEMA)
    t0 = time.perf_counter()
    with ctx.tracer.span("sources.write_changefeed_stream_dir"):
        write_changefeed_stream_dir(df, feed_dir, n_files)
    secs = time.perf_counter() - t0
    nbytes = dir_bytes(feed_dir)
    L = ctx.layers
    L["sources.feed_write_s"] = L.get("sources.feed_write_s", 0) + secs
    L["sources.feed_bytes"] = L.get("sources.feed_bytes", 0) + nbytes
    return nbytes


def timed_sink(ctx: Ctx, applied: list) -> type:
    """The default sink, with each `apply` timed from outside: records
    (epoch, end wall time, bytes of the version it wrote)."""
    tracer = ctx.tracer

    class TimedSink(EmulatedEsSink):
        def apply(self, cells, dels, epoch_id=None):
            with tracer.span("sinks.apply"):
                super().apply(cells, dels, epoch_id)
            end = time.time()
            written = live_version_bytes(self.root) if tracer.enabled else 0
            applied.append((epoch_id, end, written))

    return TimedSink


def live_version_bytes(state_dir: str) -> int:
    """Bytes of the newest `v=<n>` version in a sink's state dir (the one
    just written; the sink keeps the previous one for rollback)."""
    vs = [d for d in os.listdir(state_dir) if d.startswith("v=")]
    return dir_bytes(os.path.join(state_dir, max(vs, key=lambda d: int(d[2:]))))


def state_mismatches(spark, state_df, feed_dir: str) -> int:
    """Documents whose replicated state differs from the batch replay
    (`operators.cdc.apply_changefeed`) of the same feed."""
    feed = spark.read.schema(CHANGEFEED_SCHEMA).parquet(feed_dir)

    def canon(df, name):
        return df.select(
            "rowkey",
            F.to_json(F.array_sort(F.map_entries("doc"))).alias(name),
        )

    got = canon(state_df, "got")
    want = canon(apply_changefeed(feed), "want")
    return (
        got.join(want, "rowkey", "full_outer")
        .filter(~F.col("got").eqNullSafe(F.col("want")))
        .count()
    )


def corrupt_state(ctx: Ctx, rep: CdcReplicator) -> None:
    """Write one cell that is in no feed file, through the sink's own
    apply, so the correctness gate must catch it (smoke test only)."""
    sink = EmulatedEsSink(ctx.spark, rep.state_dir, rep.config)
    cells = rep.cells().filter(F.col("qualifier").isNotNull()).limit(1)
    cells = cells.withColumn("value", F.lit("corrupted")).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 DAY")
    )
    dels = ctx.spark.createDataFrame([], "rowkey string, ts timestamp, seq bigint")
    sink.apply(cells.localCheckpoint(), dels)


def pipeline_layers(ctx: Ctx, batches: list[dict]) -> None:
    """Per-epoch protocol phases from the listener's progress reports."""
    def phase(name):
        return [b["durations"].get(name, 0) for b in batches]

    trig, add = phase("triggerExecution"), phase("addBatch")
    L = ctx.layers
    L["pipeline.epochs"] = len(batches)
    if not batches:
        return
    L["pipeline.latest_offset_ms"] = median(phase("latestOffset"))
    L["pipeline.wal_commit_ms"] = median(phase("walCommit"))
    L["pipeline.commit_ms"] = median(phase("commitOffsets"))
    L["pipeline.trigger_ms"] = median(trig)
    L["pipeline.trigger_ms_sum"] = sum(trig)
    L["pipeline.add_batch_ms"] = median(add)
    L["pipeline.add_batch_ms_sum"] = sum(add)
    L["pipeline.protocol_share"] = 1 - sum(add) / max(sum(trig), 1)


def compaction_layers(ctx: Ctx, feed_dir: str) -> None:
    """`compact_epoch` on each feed file alone: rows in vs cells+deletes
    out, i.e. how much an epoch collapses before the sink MERGE."""
    rows_in = rows_out = 0
    for name in sorted(os.listdir(feed_dir)):
        if name.startswith(("_", ".")):
            continue
        batch = ctx.spark.read.schema(CHANGEFEED_SCHEMA).parquet(
            os.path.join(feed_dir, name)
        )
        with ctx.tracer.span("pipeline.compact_epoch"):
            cells, dels = compact_epoch(batch)
            rows_in += batch.count()
            rows_out += cells.count() + dels.count()
    ctx.layers["pipeline.compact_rows_in"] = rows_in
    ctx.layers["pipeline.compact_rows_out"] = rows_out
    ctx.layers["pipeline.collapse_ratio"] = rows_in / max(rows_out, 1)


def sink_layers(ctx: Ctx, rep: CdcReplicator, applied: list, feed_bytes: int) -> None:
    written = sum(a[2] for a in applied)
    ctx.layers["sinks.bytes_written"] = written
    ctx.layers["sinks.write_amplification"] = written / max(feed_bytes, 1)
    state_layers(ctx, rep)


def state_layers(ctx: Ctx, rep: CdcReplicator) -> None:
    """Size of the replicated state: bytes, live cells, tombstones."""
    cells = rep.cells()
    ctx.layers["sinks.state_bytes"] = live_version_bytes(rep.state_dir)
    ctx.layers["sinks.state_cells"] = cells.filter(F.col("qualifier").isNotNull()).count()
    ctx.layers["sinks.tombstones"] = cells.filter(F.col("qualifier").isNull()).count()


def state_scan_layer(ctx: Ctx, rep: CdcReplicator) -> None:
    """One noop materialization of `state()`: the sink's read side."""
    t0 = time.perf_counter()
    with ctx.tracer.span("sinks.state_scan"):
        _materialize(rep.state())
    ctx.layers["sinks.state_scan_ms"] = (time.perf_counter() - t0) * 1000


# -- cdc_backfill ---------------------------------------------------------------


class CdcBackfill:
    """Closed loop: rounds of catch-up replication, each a fresh
    `CdcReplicator` draining a whole seeded backlog with `availableNow`
    and `maxFilesPerTrigger=1`, until the run's time is used."""

    name = "cdc_backfill"

    def prepare(self, ctx: Ctx, rep) -> None:
        self.dir = self._write_round(ctx, 0, f"prep{rep}")

    def warm_up(self, ctx: Ctx) -> None:
        warm_up_cdc(ctx, self.dir)

    def _write_round(self, ctx: Ctx, round_no: int, tag: str,
                     n_files: int | None = None) -> str:
        d = ctx.path(f"bf-{tag}")
        shutil.rmtree(d, ignore_errors=True)
        n_files = n_files or ctx.size("backfill_files")
        table = feeds.backlog_table(ctx.seed, round_no, n_files, ctx.size("backfill_rows"))
        write_feed(ctx, table, os.path.join(d, "feed"), n_files)
        with open(os.path.join(d, "rows"), "w") as f:
            f.write(str(table.num_rows))
        return d

    def drain(self, ctx: Ctx, d: str, applied: list,
              tag: str = "") -> tuple[CdcReplicator, float, list]:
        """One round: start → await_drained wall, and its epochs' progress.
        State and checkpoint go to `state<tag>` and `ckpt<tag>` in `d`."""
        rep = CdcReplicator(
            ctx.spark, os.path.join(d, "feed"), os.path.join(d, f"state{tag}"),
            os.path.join(d, f"ckpt{tag}"),
        )
        n_files = len(os.listdir(os.path.join(d, "feed")))
        t0 = time.perf_counter()
        with ctx.tracer.span("replicator.start"):
            rep.start(sink_cls=timed_sink(ctx, applied), trigger={"availableNow": True})
        t1 = time.perf_counter()
        with ctx.tracer.span("replicator.await_drained"):
            rep.await_drained(timeout_s=150)
        wall = time.perf_counter() - t0
        t2 = time.perf_counter()
        with ctx.tracer.span("replicator.stop"):
            rep.stop()
        t3 = time.perf_counter()
        ctx.layers.setdefault("_start_ms", []).append((t1 - t0) * 1000)
        ctx.layers.setdefault("_stop_ms", []).append((t3 - t2) * 1000)
        batches = ctx.progress.batches(ctx.progress.last_query(), n_files)
        return rep, wall, batches

    def measure(self, ctx: Ctx, seconds: float) -> Measured:
        samples, batches_all, outputs = [], [], []
        mutations, wall = 0, 0.0
        deadline = time.perf_counter() + seconds
        round_no = 0
        while round_no == 0 or time.perf_counter() < deadline:
            d = self.dir if round_no == 0 else self._write_round(
                ctx, round_no, f"r{round_no}")
            applied: list = []
            with ctx.tracer.span("workload.round"):
                rep, w, batches = self.drain(ctx, d, applied)
            with open(os.path.join(d, "rows")) as f:
                mutations += int(f.read())
            wall += w
            samples += [b["durations"]["triggerExecution"] for b in batches]
            batches_all += batches
            outputs.append((rep, d, applied))
            round_no += 1
        ctx.layers["_batches"] = batches_all
        return Measured(samples, mutations, wall, len(samples), outputs,
                        {"rounds": round_no})

    def check(self, ctx: Ctx, m: Measured) -> int:
        failed = 0
        for i, (rep, d, _) in enumerate(m.outputs):
            if ctx.corrupt and i == len(m.outputs) - 1:
                corrupt_state(ctx, rep)
            if state_mismatches(ctx.spark, rep.state(), os.path.join(d, "feed")):
                failed += len(os.listdir(os.path.join(d, "feed")))
        return failed

    def layers(self, ctx: Ctx, m: Measured) -> None:
        pipeline_layers(ctx, ctx.layers.pop("_batches"))
        rep, d, applied = m.outputs[-1]
        feed_dir = os.path.join(d, "feed")
        sink_layers(ctx, rep, applied, dir_bytes(feed_dir))
        compaction_layers(ctx, feed_dir)
        state_scan_layer(ctx, rep)

    def scaling_round(self, ctx: Ctx, cores: int) -> float:
        """Mutations per second of round 0 on the current session, after an
        untimed one-file drain that pays the new session's cold start."""
        self.drain(ctx, self._write_round(ctx, 1000, f"scale{cores}-warm", n_files=1), [])
        d = self._write_round(ctx, 0, f"scale{cores}", n_files=2)
        _, wall, _ = self.drain(ctx, d, [])
        with open(os.path.join(d, "rows")) as f:
            return int(f.read()) / wall


def warm_up_cdc(ctx: Ctx, d: str | None = None) -> None:
    """An untimed drain of one whole backfill round (the feed in `d`, into
    a state and checkpoint of its own, or else a freshly written round), so
    class loading, code generation and JIT of the replication path are paid
    before the timed loop. After a 3-file drain the first timed round ran
    16% slower than the rounds after it; after all 7 files it ran level."""
    bf = CdcBackfill()
    bf.drain(ctx, d or bf._write_round(ctx, 1000, "warm"), [], tag="-warm")
    ctx.layers.pop("_start_ms"), ctx.layers.pop("_stop_ms")


# -- cdc_live_tail --------------------------------------------------------------


class CdcLiveTail:
    """Open loop: a separate generator process drops one small hot-key
    changefeed file every `tail_period_s`, while one replicator with the
    shortest processing-time trigger applies them."""

    name = "cdc_live_tail"

    def warm_up(self, ctx: Ctx) -> None:
        warm_up_cdc(ctx)

    def prepare(self, ctx: Ctx, rep) -> None:
        """An empty feed dir: the generator writes the input while the
        replicator runs."""
        self.dir = ctx.path(f"tail-prep{rep}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "feed"))

    def measure(self, ctx: Ctx, seconds: float) -> Measured:
        d = self.dir
        feed_dir = os.path.join(d, "feed")
        period = ctx.size("tail_period_s")
        warm = ctx.size("tail_warmup_files")
        n_files = warm + max(1, int(seconds / period))
        applied: list = []
        # an epoch takes what has arrived, up to the reference's bulk cap
        max_files = max(1, MAX_BULK_COUNT // ctx.size("tail_rows"))
        rep = CdcReplicator(ctx.spark, feed_dir, os.path.join(d, "state"),
                            os.path.join(d, "ckpt"))
        t0 = time.perf_counter()
        with ctx.tracer.span("replicator.start"):
            rep.start(sink_cls=timed_sink(ctx, applied),
                      trigger={"processingTime": "0 seconds"},
                      max_files_per_trigger=max_files)
        ctx.layers.setdefault("_start_ms", []).append((time.perf_counter() - t0) * 1000)
        qid = ctx.progress.last_query()
        log_path = os.path.join(d, "gen.jsonl")
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "feeds.py"),
             "tail", str(ctx.seed), feed_dir, log_path, str(n_files), str(period),
             str(ctx.size("tail_rows")), str(ctx.size("tail_keys")),
             repr(time.time() + 0.5)],
        )
        with ctx.tracer.span("workload.tail"):
            try:
                gen.wait(timeout=seconds + warm * period + 60)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            # catch-up: wait until every file has been applied
            deadline = time.time() + 60
            while time.time() < deadline:
                fb = file_batches(os.path.join(d, "ckpt"))
                done = {a[0] for a in applied}
                if len(fb) == n_files and set(fb.values()) <= done:
                    break
                time.sleep(0.05)
        t2 = time.perf_counter()
        with ctx.tracer.span("replicator.stop"):
            rep.stop()
        ctx.layers.setdefault("_stop_ms", []).append((time.perf_counter() - t2) * 1000)
        if gen.returncode != 0:
            raise RuntimeError(f"tail generator exited with {gen.returncode}")
        with open(log_path) as f:
            log = [json.loads(line) for line in f]
        fb = file_batches(os.path.join(d, "ckpt"))
        end_of = {a[0]: a[1] for a in applied}
        fresh, late = [], []
        for rec in log[warm:]:
            b = fb.get(rec["file"])
            if b is None or b not in end_of:
                raise RuntimeError(f"feed file {rec['file']} was never applied")
            fresh.append((end_of[b] - rec["stamp"]) * 1000)
            late.append(rec["written"] - rec["due"])
        # backlog = files written but not yet applied, at each write
        backlog = max(
            sum(1 for r in log if r["written"] <= rec["written"])
            - sum(1 for a in applied if a[1] <= rec["written"])
            for rec in log
        )
        muts = sum(r["rows"] for r in log[warm:])
        span = log[-1]["written"] - log[warm]["due"] + period
        ctx.layers["sources.generator_late_s"] = max(late)
        ctx.layers["sources.backlog_files_max"] = backlog
        ctx.layers["sources.feed_bytes"] = sum(r["bytes"] for r in log)
        ctx.layers["_batches"] = ctx.progress.batches(qid, len(applied))
        return Measured(fresh, muts, span, len(fresh), [(rep, d, applied)],
                        {"late_max_s": max(late), "backlog_max": backlog,
                         "valid": max(late) <= TAIL_LATE_BOUND_S})

    def check(self, ctx: Ctx, m: Measured) -> int:
        rep, d, _ = m.outputs[0]
        if ctx.corrupt:
            corrupt_state(ctx, rep)
        bad = state_mismatches(ctx.spark, rep.state(), os.path.join(d, "feed"))
        return m.attempted if bad else 0

    def layers(self, ctx: Ctx, m: Measured) -> None:
        pipeline_layers(ctx, ctx.layers.pop("_batches"))
        rep, d, applied = m.outputs[0]
        feed_dir = os.path.join(d, "feed")
        sink_layers(ctx, rep, applied, dir_bytes(feed_dir))
        compaction_layers(ctx, feed_dir)


# -- index_search ---------------------------------------------------------------


def search_mix(seed: int) -> list[dict]:
    """The fixed request mix: term, range and bool filters with hit pages,
    terms and histogram aggs."""
    rng = feeds.rng_for(seed, 5)
    langs, words = ["en", "de", "fr", "zh", "es"], ["spark", "index", "merge", "hbase"]
    out = []
    for _ in range(3):
        lo = int(rng.integers(0, 800))
        src = f"src{int(rng.integers(0, 8))}"
        out += [
            {"query": {"term": {"lang": str(rng.choice(langs))}}, "size": 10},
            {"query": {"range": {"price": {"gte": lo, "lt": lo + 150}}}, "size": 20},
            {"query": {"bool": {
                "filter": [{"term": {"source": src}}],
                "must_not": [{"term": {"text": str(rng.choice(words))}}],
                "should": [{"range": {"qty": {"gte": 25}}},
                           {"term": {"text": str(rng.choice(words))}}],
            }}, "size": 10},
            {"query": {"range": {"qty": {"gte": int(rng.integers(1, 20))}}},
             "aggs": {"by_lang": {"terms": {"field": "lang", "size": 5}, "aggs": {
                 "avg_price": {"avg": {"field": "price"}},
                 "n_qty": {"value_count": {"field": "qty"}}}}}},
            {"query": {"term": {"source": src}},
             "aggs": {"h": {"histogram": {"field": "price", "interval": 100},
                            "aggs": {"max_qty": {"max": {"field": "qty"}}}}}},
        ]
    return out


def flat_docs(state_df):
    """`rowkey AS doc_id`, one column per qualifier."""
    d = F.col("doc")
    return state_df.select(
        F.col("rowkey").cast("bigint").alias("doc_id"),
        d["lang"].alias("lang"),
        d["source"].alias("source"),
        d["price"].cast("bigint").alias("price"),
        d["qty"].cast("bigint").alias("qty"),
        d["text"].alias("text"),
    )


def canon_rows(rows) -> list[tuple]:
    return sorted(tuple(str(v) for v in r) for r in rows)


class IndexSearch:
    """Closed loop, one client: the request mix, in order and repeated,
    over the flat projection of a replicated state."""

    name = "index_search"

    replicated = None

    def prepare(self, ctx: Ctx, rep) -> None:
        d = ctx.path(f"search-prep{rep}")
        shutil.rmtree(d, ignore_errors=True)
        table = feeds.search_batch(feeds.rng_for(ctx.seed, 3), ctx.size("search_docs"), 0)
        write_feed(ctx, table, os.path.join(d, "feed"), ctx.size("search_files"))
        self.dir = d

    def replicate(self, ctx: Ctx) -> None:
        """Replicate the index from the feed `prepare` wrote last."""
        d = self.dir
        self.feed_dir = os.path.join(d, "feed")
        self.rep = CdcReplicator(ctx.spark, self.feed_dir, os.path.join(d, "state"),
                                 os.path.join(d, "ckpt"))
        t0 = time.perf_counter()
        with ctx.tracer.span("replicator.start"):
            self.rep.start(trigger={"availableNow": True})
        ctx.layers.setdefault("_start_ms", []).append((time.perf_counter() - t0) * 1000)
        with ctx.tracer.span("replicator.await_drained"):
            self.rep.await_drained(timeout_s=150)
        t0 = time.perf_counter()
        with ctx.tracer.span("replicator.stop"):
            self.rep.stop()
        ctx.layers.setdefault("_stop_ms", []).append((time.perf_counter() - t0) * 1000)
        self.replicated = d

    def warm_up(self, ctx: Ctx) -> None:
        """Replicate the index once, then run one request of each kind."""
        self.replicate(ctx)
        for req in search_mix(ctx.seed)[:5]:
            compile_search(flat_docs(self.rep.state()), req).collect()

    def measure(self, ctx: Ctx, seconds: float) -> Measured:
        # a traced run prepares a fresh feed before its second measure
        if self.replicated != self.dir:
            self.replicate(ctx)
        mix = search_mix(ctx.seed)
        samples, outputs, compile_ms, exec_ms = [], [], [], []
        t_start = time.perf_counter()
        deadline = t_start + seconds
        i = 0
        # whole passes over the mix only, so every run weighs each request
        # kind the same and the sample count moves only with speed
        while i % len(mix) or time.perf_counter() < deadline:
            req = mix[i % len(mix)]
            t0 = time.perf_counter()
            with ctx.tracer.span("es_compiler.compile_search"):
                df = compile_search(flat_docs(self.rep.state()), req)
            t1 = time.perf_counter()
            with ctx.tracer.span("es_compiler.collect"):
                rows = df.collect()
            t2 = time.perf_counter()
            samples.append((t2 - t0) * 1000)
            compile_ms.append((t1 - t0) * 1000)
            exec_ms.append((t2 - t1) * 1000)
            outputs.append((i % len(mix), canon_rows(rows)))
            i += 1
        wall = time.perf_counter() - t_start
        ctx.layers["_compile_ms"], ctx.layers["_exec_ms"] = compile_ms, exec_ms
        return Measured(samples, i, wall, i, outputs)

    def check(self, ctx: Ctx, m: Measured) -> int:
        mix = search_mix(ctx.seed)
        feed = ctx.spark.read.schema(CHANGEFEED_SCHEMA).parquet(self.feed_dir)
        replay = flat_docs(apply_changefeed(feed)).localCheckpoint()
        want = [canon_rows(compile_search(replay, r).collect()) for r in mix]
        return sum(1 for k, rows in m.outputs if rows != want[k])

    def layers(self, ctx: Ctx, m: Measured) -> None:
        state_scan_layer(ctx, self.rep)
        ctx.layers["es_compiler.compile_ms"] = median(ctx.layers.pop("_compile_ms"))
        ctx.layers["es_compiler.execute_ms"] = median(ctx.layers.pop("_exec_ms"))
        state_layers(ctx, self.rep)


# -- analytics_memos ------------------------------------------------------------


class AnalyticsMemos:
    """Closed loop: after `memos.clear_memos`, the fixed query list, each
    query collected to the driver; repeated until time is used."""

    name = "analytics_memos"

    def prepare(self, ctx: Ctx, rep) -> None:
        self.sf_dir = ctx.path(f"sf-prep{rep}")
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        with ctx.tracer.span("sources.write_tables"):
            ctx.layers["sources.feed_bytes"] = feeds.write_analytics_tables(
                ctx.seed, self.sf_dir, ctx.size("docs"), ctx.size("vecs"),
                ctx.size("lines"))

    def warm_up(self, ctx: Ctx) -> None:
        """None: a warm-up pass would cost as much as the timed pass, which
        the run budget does not hold at these table sizes. So the first
        timed pass also pays the JVM's JIT and code generation."""

    def _pass(self, ctx: Ctx, per_query: dict, outputs: list) -> float:
        """One pass from cold memos. Each query's rows are collected (all
        outputs are small) and kept for the check; appends each query's
        time to `per_query` and returns their sum."""
        qs = registry.queries()
        memos.clear_memos(ctx.spark)
        for q in ANALYTICS_QUERIES:
            t0 = time.perf_counter()
            with ctx.tracer.span(f"operators.{q}"):
                outputs.append((q, qs[q](ctx.spark, self.sf_dir).toPandas()))
            per_query[q].append(time.perf_counter() - t0)
        return sum(ts[-1] for ts in per_query.values())

    def measure(self, ctx: Ctx, seconds: float) -> Measured:
        """Whole passes until `seconds` of query time have passed. The
        samples are pass times (`analytics_s`). The median of the ten
        queries' times moved with host load more than their sum (over ten
        seeds its spread was 0.29 where the sum's was 0.17); per-query
        times are per-layer metrics."""
        per_query = {q: [] for q in ANALYTICS_QUERIES}
        outputs: list = []
        samples: list = []
        while not samples or sum(samples) < seconds * 1000:
            samples.append(self._pass(ctx, per_query, outputs) * 1000)
        ctx.layers["_per_query"] = per_query
        n = len(outputs)
        return Measured(samples, n, sum(samples) / 1000, n, outputs)

    def check(self, ctx: Ctx, m: Measured) -> int:
        """Each collected output against its registered DuckDB oracle over
        the same tables, compared with `tools.check.canon`."""
        import duckdb
        from tools.check import canon

        oracles = registry.oracle_sql()
        with duckdb.connect() as con:
            for t in ("documents", "embeddings", "lineitem"):
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            want = {q: con.sql(oracles[q]).df() for q in ANALYTICS_QUERIES}
        return sum(
            1 for q, got in m.outputs
            if sorted(got.columns) != sorted(want[q].columns)
            or canon(got) != canon(want[q])
        )

    def layers(self, ctx: Ctx, m: Measured) -> None:
        ctx.layers["memos.entries"] = sum(memos.clear_memos(ctx.spark).values())
        for q, ts in ctx.layers.pop("_per_query").items():
            ctx.layers[f"operators.{q}_s"] = median(ts)


WORKLOADS = {w.name: w for w in (CdcBackfill, CdcLiveTail, IndexSearch, AnalyticsMemos)}
