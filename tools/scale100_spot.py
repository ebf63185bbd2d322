"""100x spot rehearsal for the scale-anchor families (and the
postings/retrieval families): dedup verify, winnowing fingerprints, IVF-PQ, pair-mass audit,
the text_postings memo build, postings delta-stats, dis_max, fuzzy.

The 10x rehearsal fits one decade of scaling; this measures a SECOND
decade (sf0.1 -> .scale10 -> .scale100 = 5k/50k/500k docs, 2k/20k/200k
vectors) and judges each family's decade-2 (10x->100x) wall ratio
against its DESIGN exponent — decade-1 fits are
recorded but never extrapolated, because an overhead-flat first decade
makes a log-linear fit meaningless. Pair mass is also recorded so a
super-linear wall can be attributed to real duplicate mass rather than
plan failure.

Protocol: solo process, memos cleared between scales, System.gc settle
before each measurement, best-of-2 for the cheap linear queries and a
single cold run for the memo builds (the cold build IS the number).

Writes SCALE100_SPOT.json; tools/scale_rehearsal.py embeds it as the
"hundred_x" section of SCALE_r10.json when present.

Usage: python tools/gen_scale100.py && python tools/scale100_spot.py
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hbase_observer_elasticsearch_spark.memos import clear_memos  # noqa: E402
from hbase_observer_elasticsearch_spark.registry import queries  # noqa: E402
from hbase_observer_elasticsearch_spark.session import get_spark  # noqa: E402

SCALES = {
    "1x": "/root/testdata/sf0.1",
    "10x": os.path.join(REPO, ".scale10"),
    "100x": os.path.join(REPO, ".scale100"),
}
# family -> (registered query, n timed draws). Memo-backed families get
# one cold draw (the build is the measurement); linear queries best-of-2.
# "postings_memo" is special-cased below: it times the text_postings
# memo build cold, and the retrieval families after it ride warm —
# the bench execution context.
FAMILIES = {
    "dedup_pair_mass_audit": ("dedup_pair_mass_audit", 2),
    "dedup_verify": ("dedup_ngram_jaccard", 1),
    "winnowing": ("text_winnowing_fingerprints", 2),
    "ivfpq": ("similarity_topk_ivfpq", 1),
    "postings_memo": (None, 1),
    "postings_delta": ("search_postings_delta_stats", 2),
    "dis_max": ("search_dis_max", 2),
    "fuzzy": ("search_fuzzy_term", 2),
    # positional-join retrieval: the one
    # retrieval shape whose pair mass can exceed postings grain
    # (positions^2-per-doc in the worst case) — measured here so the
    # decade-2 ratio either lands within the postings-family cap or
    # yields an attribution.
    "span_near": ("search_span_near", 2),
    "intervals": ("search_intervals_ordered", 2),
    "match_phrase_prefix": ("search_match_phrase_prefix", 2),
    "nested_block_join": ("search_nested_block_join", 2),
    # reverse search at scale: registered
    # queries matched against the incoming corpus — per-doc work is a
    # bounded query-set probe, so the pass is linear in corpus tokens.
    "percolate": ("search_percolate_queries", 2),
}

# Per-family DESIGN scaling law (exponent of wall vs corpus size), the
# yardstick decade-2 growth is judged against (never extrapolate a log-linear fit from an overhead-flat decade
# — the fit explodes on any real growth; measure against what the
# operator is DESIGNED to do instead). The anchors are O(n^1.5)
# (pair-join / codebook families); the postings/retrieval families are
# O(n) token-grain passes.
DESIGN_EXPONENT = {
    "dedup_pair_mass_audit": 1.5,
    "dedup_verify": 1.5,
    "winnowing": 1.5,
    "ivfpq": 1.5,
    "postings_memo": 1.0,
    "postings_delta": 1.0,
    "dis_max": 1.0,
    "fuzzy": 1.0,
    # positional families: per-doc positional joins over the queried
    # terms' postings — linear corpus passes with a bounded per-doc
    # positional factor (phrase windows are capped by slop/gaps).
    "span_near": 1.0,
    "intervals": 1.0,
    "match_phrase_prefix": 1.0,
    "nested_block_join": 1.0,
    "percolate": 1.0,
}
# Multiplicative slack on the per-decade design ratio: absorbs fixed
# scheduling overhead and JVM noise without hiding a real exponent
# break (a design-1.0 family passes at <=16x/decade, fails at its
# first genuinely quadratic decade of ~100x).
DESIGN_SLACK = 1.6


def main() -> None:
    for name, d in SCALES.items():
        if not os.path.isdir(d):
            raise SystemExit(f"missing {name} fixture dir {d}")
    spark = get_spark("scale100_spot", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    out: dict = {"scales": {k: {} for k in SCALES}}

    from hbase_observer_elasticsearch_spark.operators import text as _txt

    for scale, sf_dir in SCALES.items():
        clear_memos(spark)
        for fam, (qname, draws) in FAMILIES.items():
            spark.sparkContext._jvm.System.gc()
            walls = []
            for _ in range(draws):
                t0 = time.perf_counter()
                if fam == "postings_memo":
                    rows = [_txt._postings_memo(spark, sf_dir).count()]
                else:
                    rows = qs[qname](spark, sf_dir).collect()
                walls.append(round(time.perf_counter() - t0, 3))
            rec: dict = {"wall_s": min(walls), "draws": walls, "rows": len(rows)}
            if fam == "postings_memo":
                rec["rows"] = rows[0]  # postings count = the linear mass
            if fam == "dedup_pair_mass_audit":
                rec["pair_mass"] = sum(r["pair_mass"] for r in rows)
                rec["capped_pair_mass"] = sum(
                    r["capped_pair_mass"] for r in rows
                )
            out["scales"][scale][fam] = rec
            print(f"{scale:>5} {fam:<22} {rec}", flush=True)

    # Headline methodology: judge each family
    # by its MEASURED DECADE-2 EXPONENT against its DESIGN exponent.
    # Decade 1 (1x->10x) is routinely fixed-overhead-flat at these
    # absolute walls, so a log-linear fit on it has no predictive
    # content (an 0.012-exponent "fit" predicted 9.8 s where any real
    # growth lands 10x higher); decade 2 (10x->100x) is past the
    # overhead floor and is the decade that actually measures growth.
    fams = {}
    for fam in FAMILIES:
        w1 = out["scales"]["1x"][fam]["wall_s"]
        w10 = out["scales"]["10x"][fam]["wall_s"]
        w100 = out["scales"]["100x"][fam]["wall_s"]
        d2_ratio = w100 / max(w10, 1e-3)
        design = DESIGN_EXPONENT[fam]
        fams[fam] = {
            "wall_1x": w1,
            "wall_10x": w10,
            "wall_100x": w100,
            "decade1_exponent": round(
                math.log10(max(w10, 1e-3) / max(w1, 1e-3)), 3
            ),
            "decade2_exponent": round(math.log10(max(d2_ratio, 1e-3)), 3),
            "decade2_ratio": round(d2_ratio, 2),
            "design_exponent": design,
            "design_ratio_cap": round(10**design * DESIGN_SLACK, 1),
            "within_design": d2_ratio <= 10**design * DESIGN_SLACK,
        }
    out["extrapolation"] = fams
    out["methodology"] = (
        "decade-2 (10x->100x) wall ratio judged against the family's "
        f"design exponent with {DESIGN_SLACK}x slack; decade-1 fits are "
        "recorded but never extrapolated (overhead-flat decades make "
        "them meaningless)"
    )
    with open(os.path.join(REPO, "SCALE100_SPOT.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(fams, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
