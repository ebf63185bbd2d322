"""Registry/tooling hygiene: the registry's declarations, the committed
plan-audit artifact and bench.py's memo-build rows agree with each other.

Invariants:
1. The attestation window is exactly the first 50 names of ``queries()``,
   and a window naming an unknown or repeated query fails at load.
2. ``stream=`` accepts only the three contract shapes, and every keyed
   contract's key-count SQL returns one integer in DuckDB.
3. PLAN_AUDIT.json skipped exactly the queries that declare a stream
   contract, audited every other query, and recorded no errors.
4. Every memo_build_* row in bench.memo_builds() charges a live
   registered memo (memos._REGISTRY), and every live memo family has at
   least one charged build row — a memo without a build row hides its
   cold cost from the headline. Every row of the committed bench_out.json
   is a registered query or one of those build rows.

Whether a declared contract matches what the query does (it starts a
stream when it runs, and no undeclared query does) is checked per query
in tests/test_queries_smoke.py.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hbase_observer_elasticsearch_spark import memos, registry  # noqa: E402
from hbase_observer_elasticsearch_spark.registry import (  # noqa: E402
    queries,
    stream_contracts,
)


def test_attestation_window_is_the_registry_prefix():
    names = list(queries())
    assert tuple(names[:50]) == registry.ATTESTATION_WINDOW


@pytest.mark.parametrize(
    "window",
    [
        registry.ATTESTATION_WINDOW + ("no_such_query",),
        registry.ATTESTATION_WINDOW + registry.ATTESTATION_WINDOW[:1],
    ],
    ids=["unknown", "duplicate"],
)
def test_bad_attestation_window_fails_at_load(monkeypatch, window):
    monkeypatch.setattr(registry, "ATTESTATION_WINDOW", window)
    with pytest.raises(ValueError, match="ATTESTATION_WINDOW"):
        queries()


@pytest.mark.parametrize(
    "stream",
    ["keyed", ("keyed",), ("flat", "SELECT 1"), "stateful"],
    ids=["bare-keyed", "keyed-no-sql", "flat-with-sql", "unknown-name"],
)
def test_register_rejects_unknown_stream_contract(stream):
    with pytest.raises(ValueError, match="stream="):
        registry.register("never_registered", stream=stream)


def test_keyed_contract_key_sql_returns_one_integer(sf_dir):
    keyed = {
        n: c[1] for n, c in stream_contracts().items() if not isinstance(c, str)
    }
    assert keyed, "no keyed stream contract declared?"
    for name, key_sql in keyed.items():
        rows = duckdb.sql(key_sql.format(dir=sf_dir)).fetchall()
        assert len(rows) == 1 and len(rows[0]) == 1, (name, rows)
        assert isinstance(rows[0][0], int), (name, rows)


def test_plan_audit_artifact_matches_registry():
    with open(os.path.join(REPO, "PLAN_AUDIT.json")) as f:
        art = json.load(f)
    skipped = set(art["skipped_streaming"])
    assert skipped == set(stream_contracts())
    assert set(art["queries"]) | skipped == set(queries())
    assert not art["errors"], art["errors"]


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

    # and every row of the last bench artifact, if present, is a
    # registered query or a declared memo build row
    out = os.path.join(REPO, "bench_out.json")
    if os.path.exists(out):
        emitted = set(json.load(open(out))["queries"])
        stale = emitted - set(rows) - set(queries())
        assert not stale, f"bench_out.json rows for no query or memo: {stale}"


def test_no_duplicate_module_constants():
    """A module-level ALL_CAPS constant defined twice in one operator
    module silently rebinds for every function that reads it at CALL
    time while module-level oracle f-strings keep the FIRST value —
    splitting a query from its oracle (a second FS_TERM once did this to
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
