"""Refresh BENCH_PREV.json from the newest bench_out.json — KEEPING
host_probe_s (the cross-boot delta methodology reads net-of-probe
ratios, so the committed prev map must carry the probe it was measured
under; without it the net ratio can only be reconstructed from commit
prose).

Usage: python tools/refresh_bench_prev.py  (after a bench.py run)
"""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEEP = ("metric", "value", "unit", "queries", "sf", "host_probe_s")


def main() -> None:
    with open(os.path.join(REPO, "bench_out.json")) as f:
        full = json.load(f)
    missing = [k for k in KEEP if k not in full]
    if missing:
        raise SystemExit(f"bench_out.json lacks {missing}; rerun bench.py")
    prev = {k: full[k] for k in KEEP}
    with open(os.path.join(REPO, "BENCH_PREV.json"), "w") as f:
        json.dump(prev, f, indent=1, sort_keys=True)
    print(
        f"BENCH_PREV.json <- bench_out.json: {prev['value']}s, "
        f"{len(prev['queries'])} queries, probe median "
        f"{prev['host_probe_s']['median']}"
    )


if __name__ == "__main__":
    main()
