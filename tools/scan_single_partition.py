"""Sweep every registered query's physical plan for the one-reducer
anti-pattern: a Window or global Sort fed by Exchange SinglePartition.
Prints one line per query with the matching plan fragments so candidates
can be inspected by hand. Queries that declare a ``stream=`` contract are
skipped: building them drains a stream.

Usage: python tools/scan_single_partition.py [sf_dir] > /tmp/sp_scan.txt
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hbase_observer_elasticsearch_spark.registry import (  # noqa: E402
    queries,
    stream_contracts,
)
from hbase_observer_elasticsearch_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("sp_scan")
    qs = queries()
    streams = stream_contracts()
    hits = 0
    for name in sorted(qs):
        if name in streams:
            continue
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        except Exception as e:  # noqa: BLE001
            print(f"{name}\tERROR\t{str(e)[:120]}")
            continue
        lines = plan.splitlines()
        frags = []
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            # what consumes this exchange? walk up to the nearest parent
            # operator lines (2 above) for context
            ctx = lines[max(0, i - 3) : i + 1]
            consumer = ""
            for up in reversed(lines[max(0, i - 4) : i]):
                m = re.search(
                    r"(Window|Sort|TakeOrdered|HashAggregate|"
                    r"WindowGroupLimit|Limit|CollectLimit|AggregateInPandas|"
                    r"FlatMapGroupsInPandas|MapInPandas|Generate|Project)",
                    up,
                )
                if m:
                    consumer = m.group(1)
                    break
            frags.append(consumer or "?")
        if frags:
            bad = [f for f in frags if f in ("Window", "Sort", "WindowGroupLimit",
                                             "FlatMapGroupsInPandas")]
            tag = "SUSPECT" if bad else "ok"
            print(f"{name}\t{tag}\t{frags}")
            if bad:
                hits += 1
    print(f"# suspects: {hits}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
