"""Repo benchmark: one closed-loop client per workload on local[nproc].

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 3 --trace 0
    python3 perfbench/run.py --list-metrics

Run from the root of a checkout. Everything a run writes lives under
`.perfbench_work/` in the checkout and is removed on exit, except the
cached DuckDB results over the fixed base warehouse (`oracle_cache/`).
The last stdout line is one JSON object {correct, attempted, failed, metrics}: the
end-to-end metrics with --trace 0, the per-layer metrics and the tracing
overhead with --trace 1. The line before it records the drift markers
(bench._calibration_sec before and after), the set-up times and the sample
count. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("curation_batch", "etl_ingest")
E2E = ("setup_s", "throughput_rps", "latency_p50_s", "latency_p90_s",
       "ingest_rows_per_s", "retained_mb")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def list_metrics() -> None:
    spec = _spec()
    for kind in ("end_to_end", "per_layer"):
        for m in spec[kind]:
            print(f"{kind:10s} {m['name']:40s} {m['unit']}")


def _env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python inside
    the run's work directory, before pyspark is imported."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                            .split(os.pathsep) if p]
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "PYTHONPATH": os.pathsep.join(paths),  # Python workers import the package
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.local.dir={os.path.join(work, 'local')} "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "pyspark-shell"),
    })
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]


def setup_once(spark, base_dir: str):
    """Session start plus bench.stage_tables. Returns (session, staged dir,
    seconds in total, seconds in get_spark)."""
    import bench
    from etl_online_retail_spark.session import get_spark

    t0 = time.perf_counter()
    if spark is not None:
        spark.stop()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    staged, _ = bench.stage_tables(spark, base_dir)
    return spark, staged, time.perf_counter() - t0, t1 - t0


def run(args, work: str) -> dict:
    import numpy as np

    t_start = time.perf_counter()
    marks: dict[str, float] = {}

    def mark(name: str) -> None:
        marks[name] = round(time.perf_counter() - t_start, 2)

    import datagen
    import workloads as W

    base_dir = datagen.WAREHOUSE_DIR
    frames = datagen.read_warehouse(base_dir)
    stage_rows = sum(len(df) for df in frames.values())

    import __spark_entry__  # noqa: F401  (registers every workload module)
    import bench
    import layers
    import metrics as M

    tracer = layers.Tracer()
    if args.trace:
        layers.install(tracer)
    # The first set-up also launches the JVM and JIT-compiles staging, a
    # different cost: it is reported apart (session.cold_setup_s). setup_s
    # is the second one, a session restart in the running JVM.
    spark, staged, cold_setup, cold_gs = setup_once(None, base_dir)
    spark, staged, setup_s, warm_gs = setup_once(spark, base_dir)
    stage_s = setup_s - warm_gs
    if args.trace:
        tracer.enabled = True
        with tracer.span("setup"):
            idx = len(tracer.spans) - 1
            spark, staged, traced_setup, gs = setup_once(spark, base_dir)
        tracer.enabled = False
        setup_layers = M.setup_layers(tracer, idx, gs,
                                      layers.SparkProbe(spark).cached_mb())
    mark("setup")
    calib_first = bench._calibration_sec(spark)

    ctx = W.Context(spark, staged, base_dir, frames, work,
                    np.random.default_rng(args.seed))
    wl = W.make_workload(args.workload, ctx)
    baseline = layers.cache_entries(spark)
    W.warm_up(wl, threads=max(1, int(os.environ["SPARK_GRAFT_CPUS"]) - 1))
    mark("warmup")
    ctx.reset_outputs()
    # the high-water marks cover the untraced timed phase only
    layers.reset_peak_rss(spark)
    rss = {"at_reset": layers.status_mb(spark, "VmRSS")}

    samples, wall = W.closed_loop(wl, args.seconds)
    e2e = M.end_to_end(samples, wall, setup_s, ctx.write_rows, ctx.write_s,
                       stage_rows, stage_s, args.workload)
    rss["peak"] = layers.status_mb(spark, "VmHWM")
    e2e["retained_mb"] = layers.retained_mb(spark)
    attempted = list(samples)
    if args.trace:
        ctx.write_rows, ctx.write_s = 0, 0.0
        first_load, first_span = len(ctx.loads), len(tracer.spans)
        hook = layers.RequestProbe(tracer, spark, ctx, args.workload, baseline)
        tracer.enabled = True
        samples, wall = W.closed_loop(wl, args.seconds, on_request=hook)
        tracer.enabled = False
        attempted += samples
        traced = M.end_to_end(samples, wall, traced_setup, ctx.write_rows,
                              ctx.write_s, stage_rows, traced_setup - gs,
                              args.workload)
        traced["retained_mb"] = layers.retained_mb(spark)
    mark("timed")
    calib_last = bench._calibration_sec(spark)

    # untimed output checks
    failures = [f"{s.req.kind}:{s.req.name} raised" for s in attempted if not s.ok]
    failures += W.check_outputs(ctx)
    mark("check_outputs")
    if args.workload == "etl_ingest":
        failures += W.check_loads(ctx)
        mark("check_loads")
        failures += W.settle_and_check_final(ctx)
    for f in failures:
        print(f"perfbench: FAILED {f}", flush=True)
    failed = min(len(failures), len(attempted))
    mark("checks")

    print(json.dumps({"calibration_sec": {"first": calib_first, "last": calib_last},
                      "setup_s": {"cold": cold_setup, "cold_get_spark": cold_gs,
                                  "warm": setup_s, "warm_get_spark": warm_gs},
                      "rss_mb": rss, "timed_wall_s": wall,
                      "samples": len(samples), "phase_end_s": marks,
                      "latency_s": [[s.req.name, round(s.latency, 4)]
                                    for s in samples]}),
          flush=True)
    if not args.trace:
        values = e2e
        units = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    else:
        loads = ctx.loads[first_load:]
        for ld in loads:
            ld["raw_bytes"] = int(ld["raw"].memory_usage(deep=True).sum())
            ld["out_bytes"] = W.dir_bytes(ld["dir"])
            ld["fact_rows"] = spark.read.parquet(
                os.path.join(ld["dir"], "fct_invoices")).count()
        storage = (W.dir_bytes(os.path.join(staged, "_matviews"))
                   / max(W.dir_bytes(os.path.join(staged, "lineitem.parquet")), 1))
        values = {**setup_layers,
                  **M.per_layer(tracer, samples, ctx.iterative, loads, storage,
                                int(os.environ["SPARK_GRAFT_CPUS"])),
                  "session.cold_setup_s": cold_setup,
                  "peak_rss_mb": sum(rss["peak"]),
                  "fail_ratio": failed / len(attempted),
                  "calibration.first_s": calib_first,
                  "calibration.last_s": calib_last}
        for k in E2E:
            values[f"trace_overhead.{k}"] = traced[k] - e2e[k]
        if args.spans_out:
            with open(args.spans_out, "w") as f:
                json.dump(tracer.dump()[first_span:], f)
        units = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    return {"correct": failed == 0, "attempted": len(attempted), "failed": failed,
            "metrics": {k: {"value": float(values[k]), "unit": u}
                        for k, u in units.items()}}


def shutdown() -> None:
    """Stop the session, then the JVM (it exits on EOF of its stdin), and
    wait for it. Python workers are stopped with the SparkContext."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3.0,
                    help="minimum timed request seconds, rounded up to whole passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="write the traced phase's spans as JSON")
    ap.add_argument("--list-metrics", action="store_true",
                    help="print every metric with its unit and exit")
    args = ap.parse_args()
    if args.list_metrics:
        list_metrics()
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    missing = [p for p in ("etl_online_retail_spark", "bench.py", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {missing})",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _env(work)
    try:
        result = run(args, work)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
