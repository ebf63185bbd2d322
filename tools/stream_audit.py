"""Streaming state audit: drain every query that declares a ``stream=``
contract on ``@register`` (``registry.stream_contracts()``) and record,
per query, the per-micro-batch state footprint from
StreamingQueryProgress events, then check its contract:

- ``stateless``  : no stateful operator — max state rows must be 0.
- ``flat``       : watermark- or constant-key-bounded — max state rows
  under a 10x-HISTORY feed (same event rate, 10x duration; the shape
  `tools/scale_rehearsal.py` established for the 3 interval joins) must
  stay ~flat while input rows grow 10x.
- ``keyed``      : state is O(distinct keys) BY DESIGN (seen-set dedup,
  per-entity aggregates) — state may grow, but no faster than the key
  count: state_10x/state_1x <= KEYED_SLACK * keys_10x/keys_1x.

Every contract also requires that the 1x and the 10x drain each started
at least one stream; a row with ``n_streams == 0`` fails, because a
state bound measured on no stream tests nothing.

The 10x fixture dir is composed as: events = sf0.1's events replicated
10x with full-span time shifts (constant rate, 10x history; file knob
SPARK_GRAFT_CF_FILES=20 keeps each micro-batch a constant slice of event
time — without it peak state measures the feed layout, not the
operator); documents/embeddings = the .scale10 corpus (10x docs/vectors,
the axis the document/embedding-feed queries scale on); remaining tables
copied from sf0.1.

Progress capture: :func:`record_streams` wraps ``DataStreamWriter.start``
so every query started in the process is kept, on whatever session it
runs (a listener on ``spark.streams`` hears only its own session, and
``drain`` runs most streams on a child session); after each run the
audit reads each kept query's ``recentProgress``.

Writes STREAM_AUDIT.json with one row per streaming query:
{n_streams, n_batches, input_rows, max_state_rows (max over batches of
the SUM across state operators), max_state_bytes, wall_s} at 1x and 10x,
the contract, the bound check, and ok: true/false. Exit 1 if any check
fails.

Usage: python tools/stream_audit.py"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF1 = "/root/testdata/sf0.1"
SCALE10 = os.path.join(REPO, ".scale10")
AUDIT_DIR = os.path.join(REPO, ".stream_audit_fixture")
HIST_MULT = 10
FLAT_SLACK = 1.6  # flat contract: 10x-history state <= 1.6x + 64 rows
KEYED_SLACK = 1.3  # keyed contract: state ratio <= 1.3x key ratio

def record_streams() -> list:
    """Keep every StreamingQuery that ``DataStreamWriter.start`` or
    ``.toTable`` returns from now on, in the returned list."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    started: list = []
    for method in ("start", "toTable"):
        real = getattr(DataStreamWriter, method)

        def recorded(self, *a, _real=real, **kw):
            q = _real(self, *a, **kw)
            started.append(q)
            return q

        setattr(DataStreamWriter, method, recorded)
    return started


def build_audit_fixture() -> str:
    """Compose the 10x fixture dir (events: 10x history; docs/vectors:
    .scale10; rest: sf0.1). Deterministic, cheap (DuckDB)."""
    import duckdb

    if not os.path.isdir(SCALE10):
        raise SystemExit(".scale10 missing — run tools/gen_scale10.py")
    if os.path.isdir(AUDIT_DIR):
        shutil.rmtree(AUDIT_DIR)
    os.makedirs(AUDIT_DIR)
    for f in os.listdir(SF1):
        if f.endswith(".parquet") and f not in (
            "events.parquet",
            "documents.parquet",
            "embeddings.parquet",
        ):
            shutil.copy(os.path.join(SF1, f), os.path.join(AUDIT_DIR, f))
    for f in ("documents.parquet", "embeddings.parquet"):
        shutil.copy(os.path.join(SCALE10, f), os.path.join(AUDIT_DIR, f))
    con = duckdb.connect()
    span_s, max_id = con.execute(
        f"SELECT CAST(date_diff('second', MIN(ts), MAX(ts)) + 3600 AS BIGINT),"
        f" MAX(event_id) FROM '{SF1}/events.parquet'"
    ).fetchone()
    con.execute(
        f"""
        COPY (
          SELECT event_id + k.k * ({max_id} + 1) AS event_id,
                 ts + to_seconds(k.k * {span_s}) AS ts,
                 user_id, event_type, value, props
          FROM '{SF1}/events.parquet'
          CROSS JOIN (SELECT unnest(range({HIST_MULT})) AS k) k
          ORDER BY event_id
        ) TO '{AUDIT_DIR}/events.parquet' (FORMAT PARQUET)
        """
    )
    return AUDIT_DIR


def summarize(events: list[dict]) -> dict:
    by_stream: dict[str, list[dict]] = {}
    for e in events:
        by_stream.setdefault(e.get("id", "?"), []).append(e)
    n_batches = sum(len(v) for v in by_stream.values())
    input_rows = sum(int(p.get("numInputRows", 0)) for p in events)
    max_state = 0
    max_bytes = 0
    for p in events:
        sos = p.get("stateOperators") or []
        tot = sum(int(s.get("numRowsTotal", 0)) for s in sos)
        byt = sum(int(s.get("memoryUsedBytes", 0)) for s in sos)
        max_state = max(max_state, tot)
        max_bytes = max(max_bytes, byt)
    return {
        "n_streams": len(by_stream),
        "n_batches": n_batches,
        "input_rows": input_rows,
        "max_state_rows": max_state,
        "max_state_bytes": max_bytes,
    }


def main() -> None:
    import duckdb

    from hbase_observer_elasticsearch_spark.memos import clear_memos
    from hbase_observer_elasticsearch_spark.registry import (
        queries,
        stream_contracts,
    )
    from hbase_observer_elasticsearch_spark.session import get_spark

    audit_dir = build_audit_fixture()
    spark = get_spark("stream_audit", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    started = record_streams()
    qs = queries()

    out: dict = {"queries": {}, "hist_mult": HIST_MULT}
    failures = []
    for name, declared in sorted(stream_contracts().items()):
        contract, key_sql = (
            (declared, None) if isinstance(declared, str) else declared
        )
        rec: dict = {"contract": contract}
        for label, d, cf_files in (
            ("1x", SF1, None),
            ("10x", audit_dir, 2 * HIST_MULT),
        ):
            if cf_files is not None:
                os.environ["SPARK_GRAFT_CF_FILES"] = str(cf_files)
            else:
                os.environ.pop("SPARK_GRAFT_CF_FILES", None)
            started.clear()
            t0 = time.perf_counter()
            n_out = qs[name](spark, d).count()
            wall = time.perf_counter() - t0
            s = summarize(
                [json.loads(p.json) for q in started for p in q.recentProgress]
            )
            s["output_rows"] = int(n_out)
            s["wall_s"] = round(wall, 3)
            rec[label] = s
            print(f"{name:<34} {label:>3}: {s}", flush=True)
        os.environ.pop("SPARK_GRAFT_CF_FILES", None)
        s1, s10 = rec["1x"]["max_state_rows"], rec["10x"]["max_state_rows"]
        if contract == "stateless":
            rec["ok"] = s1 == 0 and s10 == 0
        elif contract == "flat":
            rec["bound_10x"] = round(FLAT_SLACK * s1 + 64, 1)
            rec["ok"] = s10 <= rec["bound_10x"]
        else:  # keyed
            k1 = duckdb.sql(key_sql.format(dir=SF1)).fetchone()[0]
            k10 = duckdb.sql(key_sql.format(dir=audit_dir)).fetchone()[0]
            rec["keys_1x"], rec["keys_10x"] = int(k1), int(k10)
            rec["bound_10x"] = round(
                KEYED_SLACK * max(s1, 1) * (k10 / max(k1, 1)), 1
            )
            rec["ok"] = s10 <= rec["bound_10x"]
        # a bound measured on a drain that started no stream tests nothing
        streamed = rec["1x"]["n_streams"] > 0 and rec["10x"]["n_streams"] > 0
        rec["ok"] = rec["ok"] and streamed
        if not rec["ok"]:
            failures.append(name)
        out["queries"][name] = rec
        # the 10x run leaves 10x-fixture memos (codebooks etc.) behind;
        # drop them so the next query's 1x run re-derives 1x artifacts.
        clear_memos(spark)

    out["failures"] = failures
    out["n_ok"] = sum(1 for r in out["queries"].values() if r["ok"])
    path = os.path.join(REPO, "STREAM_AUDIT.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(
        f"\n{out['n_ok']}/{len(out['queries'])} contracts hold"
        + (f"; FAILURES: {failures}" if failures else "")
    )
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
