"""Scale spot bench: time the scale-sensitive memo builds and queries at
1x (sf0.1) and 10x (.scale10: 50k docs / 20k vectors / 6M lineitem rows)
at both 32 and 8 cores, and record per row:

- decade ratio (10x wall / 1x wall) at 32 cores — judged against each
  family's design law (linear token/row-grain passes and the n^1.5
  pair/codebook anchors);
- core ratio (8-core wall / 32-core wall) at 10x and at 1x — a
  compute-bound row moves toward 4x as data grows; an overhead-bound
  row sits at ~1.

Each (sf_dir, cpus) pair runs in its own child process (local[N] is fixed
per JVM): this script re-invokes itself with the fixture dir as its one
argument and SPARK_GRAFT_CPUS set. A child times the memo builds cold
(the build is the measurement), using the `bench.memo_builds()` rows named
in MEMO_ROWS, then the registered queries in QUERIES warm best-of-2 with a
System.gc settle and the noop sink, and prints one JSON line.

Fixtures: documents/embeddings/events from tools/gen_scale10.py
(deterministic, seed 42); lineitem and orders are replicated 10x from
sf0.1 with per-copy key shifts (keeps the (shipdate, orderkey,
linenumber) sort unique and value distributions intact — a timing
fixture, not an oracle fixture).

Writes SCALE_SPOT.json. Usage: python tools/scale_spot.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.stream_audit import SCALE10, SF1 as SF01  # noqa: E402  (fixture dirs)

# bench.memo_builds() rows, in build order (parents first)
MEMO_ROWS = (
    "memo_build_dedup_shingles",
    "memo_build_dedup_verified_pairs",
    "memo_build_text_postings",
    "memo_build_text_dl_stats",
    "memo_build_similarity_rhp_scored",
)
QUERIES = (
    # lineitem-grain
    "layout_clustering_factor",
    "layout_sort_key_advisor",
    # documents-grain
    "corpus_bigram_lm_perplexity",
    "dedup_minhash_bbit",
    "dedup_prefix_filter_join",
    "search_bm25_topk",
    "search_dis_max",
    "sample_poisson_bootstrap_ci",
    "sample_permutation_test",
    # embeddings-grain
    "similarity_topk_rhp",
    "similarity_mutual_knn",
)


def ensure_scale10() -> None:
    docs = os.path.join(SCALE10, "documents.parquet")
    if not os.path.exists(docs):
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "gen_scale10.py")],
            check=True,
        )
    # lineitem feeds the layout queries, orders feeds
    # sample_poisson_bootstrap_ci.
    for table, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        dst = os.path.join(SCALE10, f"{table}.parquet")
        if os.path.exists(dst):
            continue
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        src = pq.read_table(os.path.join(SF01, f"{table}.parquet"))
        shift = (
            int(src[key].combine_chunks().to_numpy().max()) + 1
            if len(src[key])
            else 1
        )
        copies = []
        for i in range(10):
            t = src
            if i:
                t = t.set_column(
                    t.schema.get_field_index(key),
                    key,
                    pc.add(t[key], i * shift),
                )
            copies.append(t)
        out = pa.concat_tables(copies)
        pq.write_table(out, dst, row_group_size=200_000)
        print(f"wrote {dst}: {out.num_rows} rows")


def child(sf_dir: str) -> None:
    """Time one (sf_dir, $SPARK_GRAFT_CPUS) pair; print one JSON line."""
    import bench
    from hbase_observer_elasticsearch_spark.catalog import load_table
    from hbase_observer_elasticsearch_spark.registry import queries
    from hbase_observer_elasticsearch_spark.session import get_spark

    spark = get_spark("scale_spot")
    jvm_system = spark._jvm.System  # noqa: SLF001
    qs = queries()
    builds = {row: fn for row, _, fn in bench.memo_builds()}

    # warm the file index + JIT with one scan per touched table
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        bench.materialize(load_table(spark, sf_dir, t))

    rows: dict[str, float] = {}
    for name in MEMO_ROWS:
        jvm_system.gc()
        t0 = time.perf_counter()
        builds[name](spark, sf_dir)
        rows[name] = round(time.perf_counter() - t0, 3)
    for name in QUERIES:
        times = []
        for _ in range(2):
            jvm_system.gc()
            t0 = time.perf_counter()
            bench.materialize(qs[name](spark, sf_dir))
            times.append(time.perf_counter() - t0)
        rows[name] = round(min(times), 3)

    spark.stop()
    sys.stdout.flush()
    print(json.dumps({"sf_dir": sf_dir, "rows": rows}))


def run_child(sf_dir: str, cpus: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf_dir],
        env=dict(os.environ, SPARK_GRAFT_CPUS=str(cpus)),
        capture_output=True,
        text=True,
        check=True,
        timeout=3600,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["rows"]


def _ratio(num: float | None, den: float | None) -> float | None:
    return round(num / den, 2) if num and den else None


def main() -> None:
    ensure_scale10()
    runs = {}
    for label, sf_dir, cpus in (
        ("1x_c32", SF01, 32),
        ("10x_c32", SCALE10, 32),
        ("10x_c8", SCALE10, 8),
        ("1x_c8", SF01, 8),
    ):
        print(f"running {label} ...", flush=True)
        runs[label] = run_child(sf_dir, cpus)
        print(json.dumps(runs[label]), flush=True)

    summary = {}
    for n in sorted(runs["1x_c32"]):
        r = {k: runs[k].get(n) for k in runs}
        summary[n] = {
            **r,
            "decade_ratio_c32": _ratio(r["10x_c32"], r["1x_c32"]),
            "core_ratio_10x": _ratio(r["10x_c8"], r["10x_c32"]),
            "core_ratio_1x": _ratio(r["1x_c8"], r["1x_c32"]),
        }
    out = {
        "methodology": (
            "solo child process per (scale, cpus); memo builds timed cold "
            "as their own rows; queries warm best-of-2 with gc settle, "
            "noop sink; 10x fixture = gen_scale10 docs/embeddings/events "
            "+ lineitem and orders replicated 10x with key shifts"
        ),
        "summary": summary,
    }
    with open(os.path.join(REPO, "SCALE_SPOT.json"), "w") as f:
        json.dump(out, f, indent=1)
    print("wrote SCALE_SPOT.json")


if __name__ == "__main__":
    if len(sys.argv) > 1:
        child(sys.argv[1])
    else:
        main()
