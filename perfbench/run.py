"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
        [--smoke] [--corrupt-state]

Run from the root of a checkout. The metric names, units and workloads
are those of BENCHMARK.json; perfbench/README.md says what each means.

`--trace 0` measures once, untraced, and prints the end-to-end metrics.
`--trace 1` starts the session with Spark's event log on, measures the
same loop untraced, then again with spans on, adds the per-layer probes
(and for cdc_backfill a local[1] round), and prints the per-layer
metrics, including the tracing overhead (traced minus untraced). The last
stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. Nothing is printed on it when the run cannot complete.

Scratch files go under `.perfbench_work/` in the checkout and are removed
at exit, except the span file of a traced run,
`.perfbench_work/traces/<workload>-<seed>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def import_program():
    """Import the package and the repo tools the benchmark uses; raises
    ImportError outside a full checkout."""
    sys.path.insert(1, ROOT)
    saved = list(sys.path)
    import bench  # noqa: F401  (host probe)
    import tools.check  # noqa: F401  (oracle canonicalizer)

    sys.path[:] = saved  # tools/check.py prepends a path of its own
    import workloads

    return workloads


def metric_specs() -> tuple[dict, dict]:
    """{name: unit} of the end-to-end and per-layer metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def start_session(work: str, cores: int, event_log: str | None = None,
                  shuffle_partitions: int | None = None):
    """`session.get_spark` at local[cores] (shuffle partitions default to
    `cores`), with every scratch path kept inside the work dir. Returns
    (spark, seconds to start)."""
    from hbase_observer_elasticsearch_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            # plain JSON lines: the default codec needs a zstd reader
            "spark.eventLog.compress": "false",
        }
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", shuffle_partitions, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def e2e_values(m, setup_s: float) -> tuple[dict, dict]:
    from tracing import median, tail

    value, pct, n = tail(m.samples)
    return {
        "setup_s": setup_s,
        "throughput_per_s": m.work / m.wall_s,
        "latency_p50_ms": median(m.samples),
        "latency_tail_ms": value,
    }, {"tail_percentile": pct, "n": n}


# What the generic end-to-end metrics are called on each workload.
REPORT_NAMES = {
    "cdc_backfill": ("backfill_mutations_per_s", "mut/s", "backfill_epoch_p50_ms",
                     "backfill_epoch_tail_ms", 1.0),
    "cdc_live_tail": ("tail_mutations_per_s", "mut/s", "tail_freshness_p50_s",
                      "tail_freshness_tail_s", 1e-3),
    "index_search": ("search_requests_per_s", "req/s", "search_p50_ms",
                     "search_tail_ms", 1.0),
    "analytics_memos": ("analytics_queries_per_s", "query/s", "analytics_s",
                        "analytics_tail_s", 1e-3),
}


def report(workload: str, v: dict, info: dict, m, failed: int) -> str:
    """One human-readable line with the workload's own metric names."""
    thr, thr_unit, p50, tl, scale = REPORT_NAMES[workload]
    unit = "ms" if scale == 1.0 else "s"
    parts = [
        f"setup_s={v['setup_s']:.3f} s",
        f"{thr}={v['throughput_per_s']:.3f} {thr_unit}",
        f"{p50}={v['latency_p50_ms'] * scale:.4f} {unit}",
        f"{tl}={v['latency_tail_ms'] * scale:.4f} {unit} "
        f"(p{info['tail_percentile']}, n={info['n']})",
    ]
    parts.append(f"failed_frac={failed / m.attempted:.4f} ratio")
    return "  ".join(parts)


def run(args, workloads, e2e_units: dict, layer_units: dict) -> dict:
    from tracing import ProgressLog, Tracer, median

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tempfile.tempdir = os.path.join(work, "tmp")
    wl = workloads.WORKLOADS[args.workload]()
    # A traced run keeps one session, with Spark's event log on from the
    # start, and measures twice in it: spans off, then spans on.
    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    ctx = workloads.Ctx(None, args.seed, work, tracer, ProgressLog(), args.smoke,
                        cores, corrupt=args.corrupt_state)
    try:
        with tracer.span("session.get_spark"):
            ctx.spark, session_s = start_session(work, cores, event_log=log_dir)
        tracer.enabled = False
        ctx.spark.streams.addListener(ctx.progress)
        prep = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.prepare(ctx, rep)
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up(ctx)
        setup_s = session_s + median(prep) + time.perf_counter() - t0
        m = wl.measure(ctx, args.seconds)
        failed = wl.check(ctx, m)
        values, info = e2e_values(m, setup_s)
        print(f"host: nproc={cores}", flush=True)
        print(report(args.workload, values, info, m, failed), flush=True)
        valid = m.notes.get("valid", True)
        if not valid:
            print(f"invalid open-loop run: generator late by "
                  f"{m.notes['late_max_s']:.3f} s", flush=True)
        out = {
            "correct": failed == 0 and valid,
            "attempted": m.attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in e2e_units.items()},
        }
        if args.trace:
            tracer.enabled = True
            layers = traced_layers(args, wl, ctx, log_dir, session_s, values)
            for k in sorted(layers):
                print(f"  {k} = {layers[k]:.6g} {layer_units.get(k, '')}")
            out["metrics"] = {
                k: {"value": layers.get(k, 0), "unit": u} for k, u in layer_units.items()
            }
        return out
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def traced_layers(args, wl, ctx, log_dir, session_s, untraced) -> dict:
    """The traced pass and the per-layer probes; returns {metric: value}.
    Metrics of layers the workload does not reach are left out (reported
    as 0)."""
    import bench
    from tracing import fold_event_log, median

    tracer = ctx.tracer
    ctx.layers.clear()
    with tracer.span("workload.prepare"):
        wl.prepare(ctx, "traced")
    with tracer.span("workload.measure"):
        m = wl.measure(ctx, args.seconds)
    traced, _ = e2e_values(m, untraced["setup_s"])
    with tracer.span("workload.layers"):
        wl.layers(ctx, m)
    with tracer.span("host.probe"):
        probe = bench.run_probe(ctx.spark)
    ctx.spark.stop()
    ctx.spark = None
    folded = fold_event_log(log_dir, tracer.spans, ctx.cores)

    L = {k: v for k, v in ctx.layers.items() if not k.startswith("_")}
    L["replicator.start_ms"] = median(ctx.layers.get("_start_ms", [0]))
    L["replicator.stop_ms"] = median(ctx.layers.get("_stop_ms", [0]))
    L["session.start_s"] = session_s
    for key, val in folded["workload.measure"].items():
        if key not in ("run_s", "wall_s"):
            L[f"spark.{key}"] = val
    for name, secs in tracer.self_times().items():
        layer = f"self.{name.split('.')[0]}_s"
        L[layer] = L.get(layer, 0.0) + secs
    for k, v in untraced.items():
        if k != "setup_s":
            L[f"trace.overhead.{k}"] = traced[k] - v
    L["host.nproc"] = ctx.cores
    L["host.probe_s"] = probe
    if wl.name == "cdc_backfill":
        L["session.core_scaling"] = core_scaling(wl, ctx)
    traces = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(traces, exist_ok=True)
    tracer.write(os.path.join(traces, f"{args.workload}-{args.seed}.json"),
                 {"event_log": folded, "layers": L})
    return L


def core_scaling(wl, ctx) -> float:
    """Round-0 throughput at local[cores] ÷ at local[1]: fresh sessions in
    the same warm JVM, untraced, both with `cores` shuffle partitions, and
    each warmed by a one-file drain before its timed round, so only the
    task slots differ."""
    from tracing import ProgressLog, Tracer

    ctx.tracer = Tracer(False, "scaling")
    rates = {}
    for n in (1, ctx.cores):
        ctx.spark, _ = start_session(ctx.work, n, shuffle_partitions=ctx.cores)
        ctx.progress = ProgressLog()
        ctx.spark.streams.addListener(ctx.progress)
        rates[n] = wl.scaling_round(ctx, n)
        ctx.spark.stop()
        ctx.spark = None
    return rates[ctx.cores] / rates[1]


def shutdown_jvm() -> None:
    """Stop the JVM that PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    ap.add_argument("--corrupt-state", action="store_true",
                    help="alter one replicated cell before the correctness "
                         "check (cdc_backfill, cdc_live_tail)")
    args = ap.parse_args()
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    try:
        workloads = import_program()
    except ImportError as exc:
        print(f"perfbench: cannot import the program ({exc}); run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    e2e_units, layer_units = metric_specs()
    try:
        out = run(args, workloads, e2e_units, layer_units)
    finally:
        shutdown_jvm()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
