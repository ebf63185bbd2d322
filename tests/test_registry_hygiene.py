"""Registry/tooling hygiene: the hand-grown lists in tools/plan_audit.py
and bench.py's memo-build rows must stay consistent with the live
registry — no silent third state.

Three invariants:
1. plan_audit's EXECUTING skip-list and BATCH_EXCEPTIONS refer only to
   queries that exist, and together they partition the registry cleanly
   (every query is deterministically either audited or skipped; a
   BATCH_EXCEPTION must actually be shadowed by an EXECUTING prefix,
   otherwise it is dead configuration).
2. The latest PLAN_AUDIT artifact's names are a subset of the current
   registry (catches renames leaving stale audit rows), and every
   CURRENT stream_/sink query is accounted for there — audited, skipped,
   errored, or newer-than-the-artifact-and-slated-for-the-next-audit is
   NOT acceptable silently: new executing queries must be added to
   EXECUTING in the same round they land (this test pins that).
3. Every memo_build_* row in bench.memo_builds() charges a live
   registered memo (memos._REGISTRY), and every live memo family has at
   least one charged build row — a memo without a build row hides its
   cold cost from the headline.
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hbase_observer_elasticsearch_spark import memos  # noqa: E402
from hbase_observer_elasticsearch_spark.registry import queries  # noqa: E402


def _plan_audit_lists():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import plan_audit

    return plan_audit.EXECUTING, plan_audit.BATCH_EXCEPTIONS


def test_executing_skiplist_matches_registry():
    executing, batch_exceptions = _plan_audit_lists()
    names = set(queries())
    for entry in executing:
        assert any(
            n.startswith(entry) or n == entry for n in names
        ), f"stale EXECUTING entry: {entry!r} matches no registered query"
    for b in batch_exceptions:
        assert b in names, f"stale BATCH_EXCEPTIONS entry: {b!r}"
        assert any(
            b.startswith(p) for p in executing
        ), f"BATCH_EXCEPTIONS entry {b!r} shadowed by no EXECUTING prefix"


def test_every_query_audited_or_skipped_no_silent_third_state():
    executing, batch_exceptions = _plan_audit_lists()
    names = set(queries())

    def is_skipped(n: str) -> bool:
        return n not in batch_exceptions and any(
            n.startswith(p) or n == p for p in executing
        )

    skipped_now = {n for n in names if is_skipped(n)}
    audited_now = names - skipped_now
    assert skipped_now | audited_now == names
    assert not (skipped_now & audited_now)

    artifacts = sorted(glob.glob(os.path.join(REPO, "PLAN_AUDIT_r*.json")))
    assert artifacts, "no PLAN_AUDIT artifact found"
    art = json.load(open(artifacts[-1]))
    recorded = (
        set(art["queries"])
        | set(art["skipped_streaming"])
        | set(art.get("errors", {}))
    )
    gone = recorded - names
    assert not gone, f"PLAN_AUDIT rows for unregistered queries: {gone}"
    # every stream_/sink/cdc-drain query must already be classified the
    # same way the artifact will classify it — i.e. no new executing
    # query may sit in the "will be audited" bucket unintentionally:
    # anything that drains a stream or writes a sink on BUILD belongs in
    # EXECUTING the round it lands.
    drainish = {
        n
        for n in names
        if (n.startswith("stream_") or n.startswith("sink_"))
        and n not in batch_exceptions
    }
    unskipped_drains = {n for n in drainish if not is_skipped(n)}
    # the only batch-shaped sink queries allowed to be audited are the
    # ones that build a plain DataFrame after their side work completes
    allowed_audited_sinks = {
        "sink_bulk_failure_replay",  # faults drained at build; plan = result
        "sink_partitioned_prune",  # write-then-read-back; plan = the scan
    }
    assert unskipped_drains <= allowed_audited_sinks, (
        f"executing-on-build queries missing from EXECUTING: "
        f"{unskipped_drains - allowed_audited_sinks}"
    )


def test_memo_build_rows_match_live_memos():
    import bench

    builds = bench.memo_builds()
    assert builds, "bench.py charges no memo builds?"
    rows = [row for row, _, _ in builds]
    assert len(rows) == len(set(rows)), f"duplicate memo build rows: {rows}"
    assert all(row.startswith("memo_build_") for row in rows)

    live = {m.name for m in memos._REGISTRY}
    charged = {memo_name for _, memo_name, _ in builds}
    dead = charged - live
    assert not dead, (
        f"bench rows charge memos that are not live registered memos: "
        f"{dead} (live: {sorted(live)})"
    )
    uncharged = live - charged
    assert not uncharged, f"live memos with no bench build row: {uncharged}"

    # and the last bench artifact, if present, only charged declared rows
    out = os.path.join(REPO, "bench_out.json")
    if os.path.exists(out):
        emitted = {
            q
            for q in json.load(open(out))["queries"]
            if q.startswith("memo_build_")
        }
        assert emitted <= set(rows), emitted - set(rows)


def test_stream_audit_contracts_cover_every_executing_query():
    """tools/stream_audit.py's CONTRACTS must cover exactly the queries
    plan_audit skips as EXECUTING — a streaming query with no declared
    state contract is the silent third state the r9 hygiene rule bans."""
    executing, batch_exceptions = _plan_audit_lists()
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import stream_audit

    names = set(queries())
    exec_names = {
        n
        for n in names
        if n not in batch_exceptions
        and any(n.startswith(p) or n == p for p in executing)
    }
    contracts = set(stream_audit.CONTRACTS)
    assert contracts <= names, f"stale contracts: {sorted(contracts - names)}"
    uncovered = exec_names - contracts
    assert not uncovered, f"executing queries with no state contract: {sorted(uncovered)}"


def test_no_duplicate_module_constants():
    """A module-level ALL_CAPS constant defined twice in one operator
    module silently rebinds for every function that reads it at CALL
    time while module-level oracle f-strings keep the FIRST value —
    splitting a query from its oracle (r12: a second FS_TERM broke
    search_function_score_decay). Pin: one definition per name."""
    import re as _re

    op_dir = os.path.join(
        REPO, "hbase_observer_elasticsearch_spark", "operators"
    )
    pat = _re.compile(r"^([A-Z][A-Z0-9_]*) = ", _re.M)
    for fname in sorted(os.listdir(op_dir)):
        if not fname.endswith(".py"):
            continue
        src = open(os.path.join(op_dir, fname)).read()
        names = pat.findall(src)
        dupes = {n for n in names if names.count(n) > 1}
        assert not dupes, f"{fname}: duplicate module constants {dupes}"
