"""Isolate named bench queries: same staging + timing discipline as
bench.py, but only for the queries given on the command line — the
guide-§1 measurement loop for optimizing one operator at a time without
paying a full-registry sweep per iteration.

Usage: python scripts/bench_isolate.py q1 q2 ...

Prints one JSON line per query:
  {"query": ..., "best": s, "runs": [...], "jobs": N,
   "compiles": {"first": N, "steady": N}, "compile_s": {"first": s, "steady": s}}
where `jobs` is the number of Spark jobs ONE full execution schedules
(build + action for ITERATIVE queries, the re-run action alone for
steady-state ones) — the driver-round-trip metric the r14 iterative-loop
work targets. `compiles`/`compile_s` count the Janino compiles of
generated code (classes missing from the codegen cache) and their
compile time summed over threads: `first` for the first timed run,
`steady` as the mean per run over the runs after it. Honors
$SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py. Wall-clock: run
alone.
"""

from __future__ import annotations

import json
import os
import sys
import time
import warnings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _n_jobs(spark) -> int:
    """Total jobs submitted so far. Reads the DAGScheduler's job-id
    counter (monotonic, unbounded) rather than the UI AppStatusStore,
    which retains at most spark.ui.retainedJobs entries and silently
    undercounts job-heavy iterative queries (r14 ADVICE). Falls back to
    the status store, with a warning, if the private accessor moves."""
    sc = spark.sparkContext._jsc.sc()
    try:
        n = sc.dagScheduler().nextJobId()
        # py4j hands an AtomicInteger back as a plain int on some builds
        return n if isinstance(n, int) else n.get()
    except Exception:
        # the default warnings filter prints this once per run
        warnings.warn("DAGScheduler job counter unavailable; job counts "
                      "come from the status store, capped at "
                      "spark.ui.retainedJobs", RuntimeWarning)
        return sc.statusStore().jobsList(None).size()


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from etl_online_retail_spark.session import codegen_compiles, get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("bench-isolate")
    qs = entrymod.queries()
    sf_dir, staging_sec = bench.stage_tables(spark, sf_dir)
    print(json.dumps({"staging_sec": round(staging_sec, 2)}),
          file=sys.stderr)

    for name in names:
        build = qs.get(name)
        if build is None:
            print(json.dumps({"query": name, "error": "not registered"}))
            continue
        iterative = name in bench.ITERATIVE
        spark.sparkContext.setJobDescription(f"isolate: {name}")
        if iterative:
            def run(_b=build) -> None:
                (_b(spark, sf_dir)
                 .write.format("noop").mode("overwrite").save())
        else:
            df = build(spark, sf_dir)

            def run(_df=df) -> None:
                _df.write.format("noop").mode("overwrite").save()

            run()  # warm-up
        j0 = _n_jobs(spark)
        c0, s0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        run()
        first = time.perf_counter() - t0
        jobs = _n_jobs(spark) - j0
        c1, s1 = codegen_compiles(spark)
        best = first
        runs = [round(first, 4)]
        stable = 0
        cap = (bench.MAX_RUNS_ITER if iterative else bench.MAX_RUNS) - 1
        for _ in range(cap):
            t0 = time.perf_counter()
            run()
            t = time.perf_counter() - t0
            runs.append(round(t, 4))
            if t < best * (1 - bench.TOL):
                stable = 0
            else:
                stable += 1
            best = min(best, t)
            if stable >= bench.PLATEAU:
                break
        c2, s2 = codegen_compiles(spark)
        steady = max(len(runs) - 1, 1)
        spark.sparkContext.setJobDescription(None)
        print(json.dumps({
            "query": name, "best": round(best, 4), "runs": runs,
            "jobs": jobs,
            "compiles": {"first": c1 - c0,
                         "steady": round((c2 - c1) / steady, 2)},
            "compile_s": {"first": round(s1 - s0, 3),
                          "steady": round((s2 - s1) / steady, 3)}}))
        sys.stdout.flush()


if __name__ == "__main__":
    main()
