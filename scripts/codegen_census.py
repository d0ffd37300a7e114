"""Count Janino compiles of generated code: per benchmark request, and for
one pass over the benched registry (the codegen cache's working set).

    python scripts/codegen_census.py ops etl_ingest [passes] [seed] > etl.json
    python scripts/codegen_census.py registry SF_DIR > registry.json
    python scripts/codegen_census.py table BEFORE_DIR AFTER_DIR

`ops` runs a perfbench workload (perfbench/workloads.py) with the
benchmark's own set-up and warm-up, then `passes` closed-loop passes
(default 3), recording each request's compiles and compile time. Passes
after the first are the steady state. `registry` stages SF_DIR (an sf
test-data directory) like bench.py and runs each benched query once,
recording the compiles of staging and of the pass plus the sampled
generated-source sizes. `table` prints the markdown table of
PERFORMANCE.md "Generated-code cache" from the `ops` JSON files
(`<workload>.json`) of two checkouts. Counts, not timings: compile time
is summed over threads and is only as steady as the machine.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]


def _op(req) -> str:
    """Request class: writes by kind, reads by side, queries by name."""
    import workloads as W

    if req.kind == "read":
        return "read (served)" if req.name in W.SERVED else "read (ad hoc)"
    return req.kind if req.kind in ("load", "cdc") else req.name


class _CompileProbe:
    """closed_loop hook: each request's compile count and seconds."""

    def __init__(self, spark) -> None:
        from layers import Tracer

        self.spark = spark
        self.tracer = Tracer()

    def before(self, req):
        from etl_online_retail_spark.session import codegen_compiles

        return req, codegen_compiles(self.spark)

    def after(self, state) -> dict:
        from etl_online_retail_spark.session import codegen_compiles

        req, (n0, s0) = state
        n1, s1 = codegen_compiles(self.spark)
        return {"op": _op(req), "compiles": n1 - n0, "compile_s": s1 - s0}


def _diff(a: tuple[int, float], b: tuple[int, float]) -> dict:
    return {"compiles": b[0] - a[0], "compile_s": round(b[1] - a[1], 3)}


def ops(workload: str, passes: int, seed: int) -> dict:
    import numpy as np

    import datagen
    import run as perfbench
    import workloads as W

    work = os.path.join(ROOT, ".perfbench_work", f"census-{os.getpid()}")
    perfbench._env(work)
    try:
        import __spark_entry__  # noqa: F401  (registers every workload module)
        from etl_online_retail_spark.session import codegen_compiles

        base = datagen.WAREHOUSE_DIR
        # the benchmark's cold set-up, then its warm restart in the same JVM
        spark, *_ = perfbench.setup_once(None, base)
        spark, staged, *_ = perfbench.setup_once(spark, base)
        c0 = codegen_compiles(spark)  # the counters start with the JVM
        out = {"workload": workload, "seed": seed,
               "cache_entries": spark.conf.get(
                   "spark.sql.codegen.cache.maxEntries"),
               "setup": _diff((0, 0.0), c0)}
        ctx = W.Context(spark, staged, base, datagen.read_warehouse(base),
                        work, np.random.default_rng(seed))
        wl = W.make_workload(workload, ctx)
        W.warm_up(wl, max(1, int(os.environ["SPARK_GRAFT_CPUS"]) - 1))
        out["warmup"] = _diff(c0, codegen_compiles(spark))
        probe = _CompileProbe(spark)
        out["passes"] = []
        for _ in range(passes):
            samples, _ = W.closed_loop(wl, 1e-9, on_request=probe)  # one pass
            per_op: dict[str, dict] = {}
            for s in samples:
                agg = per_op.setdefault(s.trace["op"], {
                    "n": 0, "compiles": 0, "compile_s": 0.0, "failed": 0})
                agg["n"] += 1
                agg["compiles"] += s.trace["compiles"]
                agg["compile_s"] = round(agg["compile_s"] + s.trace["compile_s"], 3)
                agg["failed"] += not s.ok
            out["passes"].append(per_op)
        return out
    finally:
        perfbench.shutdown()
        shutil.rmtree(work, ignore_errors=True)


def registry(sf_dir: str) -> dict:
    import bench
    import __spark_entry__ as entrymod
    from etl_online_retail_spark.session import codegen_compiles, get_spark

    spark = get_spark("codegen-census")
    qs = entrymod.queries()
    c0 = codegen_compiles(spark)
    staged, _ = bench.stage_tables(spark, sf_dir)
    c1 = codegen_compiles(spark)
    names = [n for n in bench.HEADLINE + bench.ITERATIVE if n in qs]
    failed = []
    for name in names:
        try:
            qs[name](spark, staged).write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failing query must not hide the rest
            failed.append(f"{name}: {type(e).__name__}")
    c2 = codegen_compiles(spark)
    size = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_SOURCE_CODE_SIZE().getSnapshot())
    entries = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    spark.stop()
    return {"sf_dir": sf_dir, "cache_entries": entries,
            "staging": _diff(c0, c1), "registry": _diff(c1, c2),
            "queries": len(names), "failed": failed,
            "source_kb": {"sampled": size.size(),
                          "mean": round(size.getMean() / 1024, 1),
                          "p95": round(size.get95thPercentile() / 1024, 1)}}


def table(before_dir: str, after_dir: str) -> str:
    """Per-op steady-state means (passes after the first) of both sides."""
    rows = ["| workload | op | requests/pass | compiles/op before | after "
            "| compile s/op before | after |",
            "|---|---|---:|---:|---:|---:|---:|"]
    for name in sorted(os.listdir(after_dir)):
        sides = []
        for d in (before_dir, after_dir):
            with open(os.path.join(d, name)) as f:
                sides.append(json.load(f))
        for op in sorted(sides[1]["passes"][0]):
            means = []
            for side in sides:
                steady = [p[op] for p in side["passes"][1:]]
                n = sum(p["n"] for p in steady)
                means.append((sum(p["compiles"] for p in steady) / n,
                              sum(p["compile_s"] for p in steady) / n))
            per_pass = sides[1]["passes"][0][op]["n"]
            rows.append(f"| {sides[1]['workload']} | {op} | {per_pass} "
                        f"| {means[0][0]:.1f} | {means[1][0]:.1f} "
                        f"| {means[0][1]:.3f} | {means[1][1]:.3f} |")
    return "\n".join(rows)


def main() -> None:
    mode, args = sys.argv[1], sys.argv[2:]
    if mode == "ops":
        passes = int(args[1]) if len(args) > 1 else 3
        seed = int(args[2]) if len(args) > 2 else 1
        print(json.dumps(ops(args[0], passes, seed)))
    elif mode == "registry":
        print(json.dumps(registry(args[0])))
    elif mode == "table":
        print(table(*args))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
