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
5. No package code outside ``functions/ranking.py`` filters a
   ``row_number()`` rank to ``<= K`` or ``== 1`` (``apply_changefeed``
   excepted: the independent LWW reference) or range-partitions.
6. No module under ``operators/`` calls or imports
   ``ensure_session_conf``: ``register`` pins the session conf for every
   query, so the policy lives in the registry alone.

Whether a declared contract matches what the query does (it starts a
stream when it runs, and no undeclared query does) is checked per query
in tests/test_queries_smoke.py.
"""

from __future__ import annotations

import ast
import io
import json
import os
import re
import sys
import tokenize

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


PKG = os.path.join(REPO, "hbase_observer_elasticsearch_spark")
# a filter/where whose condition keeps rank <= K or rank == 1
_RANK_FILTER = re.compile(r"\.(?:filter|where)\((?:.|\n)*?(?:<=|==\s*1(?![\d.]))")


def _calls_outside_ranking(names: set[str]):
    """(file, line, name, source lines) of each ``.name(`` call in package
    code (not comments or strings) outside ``functions/ranking.py`` and
    ``operators/cdc.apply_changefeed``."""
    for root, _dirs, files in os.walk(PKG):
        for fname in sorted(f for f in files if f.endswith(".py")):
            rel = os.path.relpath(os.path.join(root, fname), PKG)
            src = open(os.path.join(root, fname)).read()
            if rel == os.path.join("functions", "ranking.py"):
                continue
            exempt = [
                range(n.lineno, n.end_lineno + 1)
                for n in ast.walk(ast.parse(src))
                if isinstance(n, ast.FunctionDef) and n.name == "apply_changefeed"
            ]
            skip = (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE)
            toks = tokenize.generate_tokens(io.StringIO(src).readline)
            toks = [t for t in toks if t.type not in skip]
            for prev, t, nxt in zip(toks, toks[1:], toks[2:]):
                line = t.start[0]
                if (prev.string, nxt.string) == (".", "(") and t.string in names:
                    if not any(line in span for span in exempt):
                        yield rel, line, t.string, src.splitlines()


def test_topk_filters_go_through_ranking_module():
    """A ``row_number()`` whose rank a filter within the next five lines
    keeps to ``<= K`` or ``== 1`` is a hand-written top-k: it belongs in
    ``ranked_topk`` / ``ranked_topk_per``, where the plan choice lives."""
    found = [
        f"{rel}:{line}"
        for rel, line, _, lines in _calls_outside_ranking({"row_number"})
        if _RANK_FILTER.search("\n".join(lines[line - 1 : line + 5]))
    ]
    assert not found, f"hand-written top-k outside functions/ranking.py: {found}"


def test_range_partitioning_goes_through_ranking_module():
    """A pinned partition id only means something when every branch reads
    one checkpointed partitioning: only ``range_partitioned`` may
    range-partition or read ``spark_partition_id``."""
    calls = _calls_outside_ranking({"spark_partition_id", "repartitionByRange"})
    found = [f"{rel}:{line} {name}" for rel, line, name, _ in calls]
    assert not found, f"range partitioning outside functions/ranking.py: {found}"


_PINNED_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.python.filterPushdown.enabled": "true",
}


def test_operators_never_pin_the_session_conf():
    found = []
    for fname in sorted(os.listdir(os.path.join(PKG, "operators"))):
        if not fname.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(PKG, "operators", fname)).read())
        for n in ast.walk(tree):
            names = (
                [a.name for a in n.names]
                if isinstance(n, (ast.Import, ast.ImportFrom))
                else [getattr(n, "id", None), getattr(n, "attr", None)]
            )
            if "ensure_session_conf" in names:
                found.append(f"operators/{fname}:{n.lineno}")
    assert not found, f"operators pin the session conf themselves: {found}"


def test_registered_query_pins_a_handed_session(spark, sf_dir):
    """A session handed over with other values for the pinned confs is
    pinned by the call, through ``queries()`` and through the module
    attribute alike."""
    from hbase_observer_elasticsearch_spark.operators import cdc

    fn = queries()["cdc_last_state"]
    assert fn is cdc.cdc_last_state
    assert (fn.__module__, fn.__name__) == (cdc.__name__, "cdc_last_state")
    for call in (fn, cdc.cdc_last_state):
        s = spark.newSession()
        s.conf.set("spark.sql.session.timeZone", "America/New_York")
        s.conf.set("spark.sql.adaptive.enabled", "false")
        s.conf.set("spark.sql.python.filterPushdown.enabled", "false")
        call(s, sf_dir)
        assert {k: s.conf.get(k) for k in _PINNED_CONF} == _PINNED_CONF
