"""Repo-wide physical-plan audit: one row per registered query with the
plan-quality facts the 100 TB design cares about, written to
PLAN_AUDIT.json.

Per query (plans are inspected AFTER any eager build stages run: many
queries execute real jobs while the DataFrame is constructed — the
memoized dedup/similarity families localCheckpoint their memos, the IO
round-trips write+read back, profile_observed_metrics runs an observed
aggregate — so "audit" means the final plan of the returned DataFrame,
not a zero-execution build; only the end-to-end streaming/sink drains
are excluded entirely):
- n_exchanges: shuffle count in the final plan (lower = fewer all-to-all
  data movements; 0 = scan-local or broadcast-only);
- n_joins / join kinds, and whether any is a CartesianProduct or
  BroadcastNestedLoopJoin WITHOUT a tiny broadcast side (the anti-pattern
  sweep — deliberate tiny-side crossJoins like k=8 centroids are fine and
  show up as bnl_or_cartesian with broadcast=true);
- pushed: whether the parquet scan carries PushedFilters (only meaningful
  for queries that filter base tables);
- codegen: WholeStageCodegen span count (JVM-side execution evidence).

Queries that declare a ``stream=`` contract on ``@register`` run a stream
when built, so they are listed under "skipped_streaming" rather than
paying a full drain per audit; tools/stream_audit.py drains them, and
tests/test_streaming.py and tests/test_plans.py cover their plans.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hbase_observer_elasticsearch_spark import plans  # noqa: E402
from hbase_observer_elasticsearch_spark.registry import (  # noqa: E402
    queries,
    stream_contracts,
)
from hbase_observer_elasticsearch_spark.session import get_spark  # noqa: E402


def audit_one(df) -> dict:
    plan = plans.explain_str(df)
    joins = re.findall(r"\(\d+\) (\w*Join\w*|CartesianProduct)", plan)
    return {
        "n_exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "n_joins": len(joins),
        "join_kinds": sorted(set(joins)),
        "bnl_or_cartesian": bool(
            re.search(r"BroadcastNestedLoopJoin|CartesianProduct", plan)
        ),
        "has_broadcast": "BroadcastExchange" in plan
        or "BroadcastQueryStage" in plan,
        "pushed_filters": bool(
            re.search(r"PushedFilters: \[(?!\])", plan)
        ),
        "n_scans": len(re.findall(r"\(\d+\) Scan parquet", plan)),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan_audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    streams = stream_contracts()
    out: dict = {}
    skipped: list[str] = []
    errors: dict[str, str] = {}
    for name, fn in sorted(qs.items()):
        if name in streams:
            skipped.append(name)
            continue
        try:
            out[name] = audit_one(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — record, keep auditing
            errors[name] = f"{type(e).__name__}: {e}"[:200]
    flagged = {
        n: a
        for n, a in out.items()
        if a["bnl_or_cartesian"] and not a["has_broadcast"]
    }
    summary = {
        "n_audited": len(out),
        "n_skipped_streaming": len(skipped),
        "n_errors": len(errors),
        "exchange_histogram": {},
        "n_with_joins": sum(1 for a in out.values() if a["n_joins"]),
        "n_bnl_or_cartesian": sum(
            1 for a in out.values() if a["bnl_or_cartesian"]
        ),
        "n_unbroadcast_bnl_or_cartesian": len(flagged),
        "unbroadcast_bnl_or_cartesian": sorted(flagged),
    }
    for a in out.values():
        k = str(a["n_exchanges"])
        summary["exchange_histogram"][k] = (
            summary["exchange_histogram"].get(k, 0) + 1
        )
    result = {
        "sf_dir": sf_dir,
        "summary": summary,
        "skipped_streaming": skipped,
        "errors": errors,
        "queries": out,
    }
    with open(os.path.join(REPO, "PLAN_AUDIT.json"), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps(summary, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
