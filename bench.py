"""Benchmark runner: every registered query at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Each query is materialized with the noop sink (full execution, no
output-format cost). The headline metric is total wall-seconds across the
registered query set PLUS the named memo_build_* rows, which charge each
memoized family's cold build (dedup pair tables, CC labels, ANN top-k
tables, the drained-changefeed fixture dir) explicitly instead of hiding
it in whichever query touches the memo first — per-query numbers are
then honest warm incremental costs.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hbase_observer_elasticsearch_spark.registry import queries  # noqa: E402
from hbase_observer_elasticsearch_spark.session import get_spark  # noqa: E402


def materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def load_prior(
    repo: str, sf: str, current_names: set[str] | None = None
) -> tuple[str, dict] | None:
    """Newest committed per-query map at the same sf, for the delta line
    and the in-loop regression escalation. BENCH_PREV.json is the
    committed snapshot of the previous round's official full map, then
    the last bench_out.json; the driver's BENCH_r{N}.json wrappers only
    parse the slowest-10 tail line, so they are the final fallback
    (sorted by parsed round number — lexicographic order would put r9
    after r10 from round 10 on). A candidate that shares no query names
    with the current registry (e.g. after a rename sweep) is skipped so
    the delta falls through to an older comparable prior instead of
    silently becoming null and disabling looks_regressed escalation."""
    import re

    def _round_no(fname: str) -> int:
        m = re.search(r"BENCH_r(\d+)", fname)
        return int(m.group(1)) if m else -1

    prior_files = ["BENCH_PREV.json", "bench_out.json"] + sorted(
        (
            f for f in os.listdir(repo)
            if f.startswith("BENCH_r") and f.endswith(".json")
        ),
        key=_round_no,
        reverse=True,
    )
    for fname in prior_files:
        try:
            with open(os.path.join(repo, fname)) as f:
                prior = json.load(f)
            parsed = prior.get("parsed") or prior  # driver wrapper or raw
            if float(parsed.get("sf", -1)) != float(sf):
                continue
            prev_q = parsed.get("queries") or {}
            if current_names is not None and not (
                set(prev_q) & current_names
            ):
                continue
            if prev_q:
                return fname, prev_q, parsed
        except Exception:  # noqa: BLE001 — malformed artifact never kills bench
            continue
    return None


def run_probe(spark) -> float:
    """ONE draw of the fixed pure-JVM host-throughput probe: xxhash64
    over 8e9 ids, 32 partitions — no IO, no Python, no shuffle. Sized to
    ~2-3 s of work, so task-launch jitter amortizes and the draw
    measures sustained JVM throughput. Callers take >=5 draws spread
    across the bench run and quote the median + spread, never a single
    draw."""
    import pyspark.sql.functions as _F

    t0 = time.perf_counter()
    spark.range(0, 8_000_000_000, 1, 32).select(
        _F.sum(_F.xxhash64("id") % 1000)
    ).collect()
    return round(time.perf_counter() - t0, 3)


def memo_builds() -> list[tuple[str, str, object]]:
    """(bench row, memo family it charges, build call) for every memo
    family in `memos._REGISTRY`. Ordered so each row times one build
    stage: a memo's parents are built by an earlier row (the shingles
    before the pair tables, the verified pairs before the CC labels,
    the RHP scored candidates before the RHP top-k, the postings before
    the dl/stats)."""
    from hbase_observer_elasticsearch_spark.operators import dedup as _dd
    from hbase_observer_elasticsearch_spark.operators import (
        relational as _rel,
    )
    from hbase_observer_elasticsearch_spark.operators import (
        similarity as _sim,
    )
    from hbase_observer_elasticsearch_spark.operators import text as _txt
    from hbase_observer_elasticsearch_spark.sources.changefeed import (
        shared_changefeed_stream_dir,
    )

    topk = "similarity_topk"
    return [
        ("memo_build_dedup_shingles", "dedup_shingles", _dd._shingles_memo),
        (
            "memo_build_dedup_verified_pairs",
            "dedup_verified_pairs",
            _dd._verified_pairs_memo,
        ),
        (
            "memo_build_dedup_lsh_candidates",
            "dedup_lsh_candidates",
            _dd._lsh_cand_memo,
        ),
        (
            "memo_build_dedup_cc_labels",
            "dedup_cc_labels",
            _dd._jaccard_cc_labels,
        ),
        ("memo_build_similarity_topk_bf", topk, _sim.similarity_topk_bruteforce),
        ("memo_build_similarity_rhp_scored", topk, _sim._rhp_scored),
        ("memo_build_similarity_topk_rhp", topk, _sim.similarity_topk_rhp),
        ("memo_build_similarity_topk_pq", topk, _sim.similarity_topk_pq),
        # the 'ivfpq' memo holds the ADC pool (rk <= IVFPQ_POOL), which
        # feeds both the IVF-PQ top-k and its exact re-rank
        ("memo_build_similarity_ivfpq_pool", topk, _sim.similarity_topk_ivfpq),
        ("memo_build_text_postings", "text_postings", _txt._postings_memo),
        ("memo_build_text_dl_stats", "text_dl_stats", _txt._dl_stats_memo),
        (
            "memo_build_changefeed_dir",
            "shared_changefeed_dirs",
            lambda s, d: shared_changefeed_stream_dir(s, d, n_files=2),
        ),
        ("memo_build_bucketed_facts", "bucketed_facts", _rel._bucketed_facts),
        ("memo_build_sink_views", "sink_views", _sink_view),
    ]


def _sink_view(spark, sf_dir: str):
    """The merged read view (the `sink_views` memo) of a scratch
    EmulatedEsSink holding the shared changefeed as one run. Each CDC
    query builds the view of its own sink; this row charges one build."""
    from hbase_observer_elasticsearch_spark.sinks.state_sink import (
        EmulatedEsSink,
        drop_root,
    )
    from hbase_observer_elasticsearch_spark.sources.changefeed import (
        CHANGEFEED_SCHEMA,
        scratch_dir,
        shared_changefeed_stream_dir,
    )
    from hbase_observer_elasticsearch_spark.streaming.pipeline import split_epoch

    feed = spark.read.schema(CHANGEFEED_SCHEMA).parquet(
        shared_changefeed_stream_dir(spark, sf_dir, n_files=2)
    )
    root = scratch_dir("sink_view_")
    try:
        sink = EmulatedEsSink(spark, root)
        sink.apply(*split_epoch(feed), 0)
        return sink.read_cells()
    finally:
        drop_root(spark, root)


def memo_build_rows(spark, sf_dir: str, per_query: dict) -> None:
    """Charge each memo family's cold build to a named memo_build_* row.
    The per-(app, sf_dir) memos (dedup pair tables, CC labels, ANN top-k
    tables, BM25 postings, the shared changefeed dir, the bucketed fact
    tables, a sink's merged view) amortize shared subtrees across the query loop — the
    materialized-view idiom — but without these rows the warm per-query
    numbers would hide the build cost entirely (e.g. similarity_topk_pq
    reads in 0.026 s warm vs ~14 s cold). Build rows are timed cold and
    included in the headline total, so every registered query then
    measures its honest warm incremental cost."""
    for name, _, fn in memo_builds():
        t0 = time.perf_counter()
        fn(spark, sf_dir)  # localCheckpoint inside the memo is eager
        per_query[name] = round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    qs = queries()
    # Warmup (not timed): flagship query for JIT/JVM, one scan per table for
    # file-index/footer caches, and a trivial mapInPandas to fork the Python
    # worker pool — so per-query numbers measure execution, not cold-start.
    materialize(qs["cdc_last_state"](spark, sf_dir))
    from hbase_observer_elasticsearch_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
    region = load_table(spark, sf_dir, "region")
    region.mapInPandas(lambda it: it, schema=region.schema).write.format(
        "noop"
    ).mode("overwrite").save()

    # Host-throughput probe: the fixed pure-JVM job drawn >= 5 times
    # (start, three in-loop quartile points, end). The probe swings > 2x
    # within one boot and absolute walls drift 1.3-2.6x across boots, so
    # the delta block reports the raw cross-round ratio and the
    # net-of-probe ratio together. The first draw pays JIT/codegen
    # (2.9 s vs 1.8 s steady), so an untimed draw warms it up.
    run_probe(spark)
    probe_draws: dict[str, float] = {"start": run_probe(spark)}

    # best-of-2 per query, escalating to best-of-3 when the samples
    # disagree: at this SF most queries are stage-overhead-dominated and
    # carry ±1 s run-to-run JVM noise (a 13.9 s GC outlier was seen
    # once). Host load and boot shift whole runs uniformly, so compare
    # the common-subset TOTAL first and read per-query deltas net of it.
    # A System.gc() settle before each query drains cross-query
    # allocation debt so query N doesn't pay query N-1's collection.
    repo = os.path.dirname(os.path.abspath(__file__))
    prior = load_prior(repo, sf, current_names=set(qs))
    prev_q: dict = prior[1] if prior else {}

    per_query: dict[str, float] = {}
    noisy: list[str] = []
    jvm_system = spark._jvm.System  # noqa: SLF001 — JVM GC hook
    memo_build_rows(spark, sf_dir, per_query)
    names_sorted = sorted(qs)
    # at n < 4 the quartile indices collide: keep the first label per
    # distinct index, so a filtered run reports the draws it supports
    quartiles: dict[int, str] = {}
    for idx, label in (
        (len(names_sorted) // 4, "q1"),
        (len(names_sorted) // 2, "mid"),
        ((3 * len(names_sorted)) // 4, "q3"),
    ):
        quartiles.setdefault(idx, label)
    for qi, name in enumerate(names_sorted):
        if qi in quartiles:
            probe_draws[quartiles[qi]] = run_probe(spark)
        jvm_system.gc()
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            materialize(qs[name](spark, sf_dir))
            times.append(time.perf_counter() - t0)
        # Escalate best-of-2 -> best-of-3 when the two samples disagree
        # by >30%, or when the best-of-2 would be recorded as a
        # regression vs the prior snapshot: a would-be regression is
        # worth one more draw before it lands in the committed artifact.
        looks_regressed = name in prev_q and min(times) > prev_q[name] + max(
            0.3, 0.3 * prev_q[name]
        )
        if (
            min(times) > 0.15
            and abs(times[0] - times[1]) > 0.3 * min(times)
        ) or looks_regressed:
            noisy.append(name)
            t0 = time.perf_counter()
            materialize(qs[name](spark, sf_dir))
            times.append(time.perf_counter() - t0)
        per_query[name] = round(min(times), 3)

    total = round(sum(per_query.values()), 3)
    probe_draws["end"] = run_probe(spark)
    probes = sorted(probe_draws.values())
    host_probe_s = {
        **probe_draws,
        "min": round(probes[0], 3),
        "median": round(probes[len(probes) // 2], 3),
        "max": round(probes[-1], 3),
        # spread = max/min across the >=5 draws: >~1.3 marks a run that
        # straddled a load window — discard and rerun before comparing.
        "spread": round(probes[-1] / max(probes[0], 1e-9), 2),
    }

    # Bound memo lifetime: the per-(app, sf_dir) memos (checkpointed
    # tables, /dev/shm changefeed dirs, bucketed tables) served their
    # purpose during the loop; release them so a long-lived process (or a
    # multi-sf bench) doesn't pin storage indefinitely.
    from hbase_observer_elasticsearch_spark.memos import clear_memos

    clear_memos(spark)

    # Common-subset delta vs the newest committed prior map at the same
    # sf, so regressions are visible in the bench artifact itself.
    delta = None
    if prior is not None:
        fname, prev_q, prev_parsed = prior
        common = [k for k in prev_q if k in per_query]
        if common:
            # When the prior snapshot predates the memo_build_* rows, its
            # memo-consuming entries were cold while ours are warm: the
            # common-subset delta then overstates improvement and the
            # regressed tripwire can't fire for those families (warm never
            # regresses vs cold). Flag that one-round comparability gap.
            warm_vs_cold_prior = any(
                k.startswith("memo_build_") for k in per_query
            ) and not any(k.startswith("memo_build_") for k in prev_q)
            delta = {
                "vs": fname,
                "n_common": len(common),
                "prev_sec": round(sum(prev_q[k] for k in common), 2),
                "now_sec": round(sum(per_query[k] for k in common), 2),
                "regressed": {
                    k: [round(prev_q[k], 2), round(per_query[k], 2)]
                    for k in common
                    if per_query[k] > prev_q[k] + max(0.3, 0.3 * prev_q[k])
                },
            }
            if warm_vs_cold_prior:
                delta["warm_vs_cold_prior"] = True
            # Raw AND net-of-probe cross-round ratios, always together:
            # the net ratio means nothing without the raw one beside it.
            prev_total = sum(prev_q[k] for k in common)
            if prev_total > 0:
                delta["raw_ratio"] = round(
                    sum(per_query[k] for k in common) / prev_total, 3
                )
                pp = prev_parsed.get("host_probe_s")
                prev_probe = (
                    pp.get("median") if isinstance(pp, dict) else pp
                )
                if prev_probe:
                    delta["probe_prev"] = prev_probe
                    delta["probe_now_median"] = host_probe_s["median"]
                    delta["net_of_probe_ratio"] = round(
                        delta["raw_ratio"]
                        / (host_probe_s["median"] / prev_probe),
                        3,
                    )
                    # a prior map timed with the old ~0.15 s probe makes
                    # the net ratio meaningless; flag the transition
                    if prev_probe < 1.0 <= host_probe_s["median"]:
                        delta["probe_methodology_changed"] = True

    full = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": float(sf),
        "host_probe_s": host_probe_s,
        "delta": delta,
        "noisy_reruns": noisy,
    }
    # Full detail to a file: a single long stdout line can be
    # tail-truncated by whatever captures it.
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "bench_out.json")
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1)
    # Stop the session before printing: a StateStore maintenance-thread
    # WARN can otherwise land on stdout after the summary JSON line.
    spark.stop()
    sys.stdout.flush()
    sys.stderr.flush()
    # stdout: the full object first (for line-scanning parsers), then a
    # SHORT final line that survives tail-capture intact — headline total
    # plus the slowest queries at 2-decimal precision.
    print(json.dumps(full, separators=(",", ":")))
    slowest = dict(
        sorted(per_query.items(), key=lambda kv: -kv[1])[:10]
    )
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "sf": float(sf),
                "n_queries": len(per_query),
                "queries": {k: round(v, 2) for k, v in slowest.items()},
                # the probe rides the short line too, so a capture of
                # only this line still yields the net-of-probe ratio
                "host_probe_s": host_probe_s,
                "delta": delta,
                "queries_full": "bench_out.json",
            },
            separators=(",", ":"),
        )
    )
    sys.stdout.flush()


if __name__ == "__main__":
    main()
