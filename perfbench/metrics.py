"""Metric definitions: end-to-end metrics from the untraced timed phase,
per-layer metrics from the traced one (see README.md for the map from
each layer metric to the end-to-end metric it should move)."""

from __future__ import annotations

import statistics

from layers import covered

MB = 2.0 ** 20


def pct(values: list[float], q: int) -> float:
    """q-th percentile (q in 1..99), statistics.quantiles' inclusive method."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(samples, wall: float, setup_s: float, write_rows: int,
               write_s: float, stage_rows: int, stage_s: float,
               workload: str) -> dict[str, float]:
    """Every end-to-end metric but retained_mb, which is read from the
    processes. Latency percentiles cover the reads on etl_ingest and every
    request elsewhere. ingest_rows_per_s is the write ops' input rows per
    second of write-op time on etl_ingest; on a workload without writes it
    is the staged warehouse's rows per second of bench.stage_tables."""
    lat = [s.latency for s in samples
           if workload != "etl_ingest" or s.req.kind == "read"]
    ingest = (write_rows / write_s if workload == "etl_ingest"
              else stage_rows / stage_s)
    return {
        "setup_s": setup_s,
        "throughput_rps": len(samples) / wall,
        "latency_p50_s": pct(lat, 50),
        "latency_p90_s": pct(lat, 90),
        "ingest_rows_per_s": ingest,
    }


def span_totals(tracer, idx: int) -> dict[str, list[float]]:
    """name -> [calls, seconds] over the descendants of span `idx`; also
    counts navigator hits as 'matview.navigate.hits'."""
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(tracer.spans):
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(i)
    out: dict[str, list[float]] = {}
    stack = list(kids.get(idx, []))
    while stack:
        i = stack.pop()
        s = tracer.spans[i]
        acc = out.setdefault(s.name, [0, 0.0])
        acc[0] += 1
        acc[1] += s.end - s.start
        if s.name == "matview.navigate" and s.attrs.get("hit"):
            out.setdefault("matview.navigate.hits", [0, 0.0])[0] += 1
        stack.extend(kids.get(i, []))
    return out


def setup_layers(tracer, idx: int, get_spark_s: float,
                 cached_mb: float) -> dict[str, float]:
    """Phases of the traced set-up (span `idx`): bench.stage_tables' three
    run_concurrently passes are told apart by the function they fan out."""
    phase = {"restage": 0.0, "bucket": 0.0, "warm": 0.0}
    materialize = 0.0
    for s in tracer.spans[idx + 1:]:
        if s.name == "session.run_concurrently" and s.parent == idx \
                and s.attrs.get("fn") in phase:
            phase[s.attrs["fn"]] += s.end - s.start
        elif s.name == "matview.materialize":
            materialize += s.end - s.start
    return {
        "session.get_spark_s": get_spark_s,
        "catalog.restage_s": phase["restage"],
        "sources.bucket_s": phase["bucket"],
        "catalog.cache_s": phase["warm"],
        "catalog.cached_mb": cached_mb,
        "matview.materialize_s": materialize,
    }


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(tracer, samples, iterative: set[str], loads: list[dict],
              storage_ratio: float, cores: int) -> dict[str, float]:
    """Per-request means over the traced timed phase (per-op means for the
    write ops), plus ratios, from each sample's trace record."""
    n = max(len(samples), 1)
    tot: dict[str, list[float]] = {}
    spark = dict.fromkeys(("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                           "in_b", "out_b", "shr_b", "shw_b", "spill_b"), 0.0)
    py = dict.fromkeys(("run_s", "boot_s", "init_s", "sent_b", "recv_b"), 0.0)
    plans = dict.fromkeys(("analysis", "optimization", "planning"), 0.0)
    gap = wall = it_jobs = it_gap = 0.0
    it_n = leaked = 0
    for s in samples:
        t = s.trace
        for k, (c, sec) in span_totals(tracer, t["idx"]).items():
            acc = tot.setdefault(k, [0, 0.0])
            acc[0] += c
            acc[1] += sec
        for k in spark:
            spark[k] += t["jobs"][k]
        for k in py:
            py[k] += t["python"][k]
        for k, v in t["plans"].items():
            plans[k] += v
        root = tracer.spans[t["idx"]]
        dur = root.end - root.start
        g = dur - covered(t["jobs"]["intervals"], root.start, root.end)
        gap += g
        wall += dur
        if s.req.name in iterative:
            it_n += 1
            it_jobs += t["jobs"]["jobs"]
            it_gap += g
        leaked = t["leaked"]

    def calls(name: str) -> float:
        return tot.get(name, [0, 0.0])[0]

    def secs(name: str) -> float:
        return tot.get(name, [0, 0.0])[1]

    n_loads = sum(1 for s in samples if s.req.kind == "load")
    n_cdc = sum(1 for s in samples if s.req.kind == "cdc")
    pipe_s = secs("pipeline.run_pipeline")
    return {
        "session.cut_lineage.calls": calls("session.cut_lineage") / n,
        "session.cut_lineage_s": secs("session.cut_lineage") / n,
        "session.run_concurrently_s": secs("session.run_concurrently") / n,
        "spark.leaked_cache_entries": leaked,
        "workload.build_s": secs("workload.build") / n,
        "plans.analysis_s": plans["analysis"] / n,
        "plans.optimization_s": plans["optimization"] / n,
        "plans.planning_s": plans["planning"] / n,
        "matview.navigate.calls": calls("matview.navigate") / n,
        "matview.navigate.hit_ratio": _ratio(calls("matview.navigate.hits"),
                                             calls("matview.navigate")),
        "matview.apply_cdc_batch_s": _ratio(secs("matview.apply_cdc_batch"), n_cdc),
        "matview.publish_s": _ratio(secs("matview.publish"), n_cdc),
        "matview.compactions": calls("matview.compaction"),
        "matview.storage_mb_per_input_mb": storage_ratio,
        "pipeline.run_pipeline_s": _ratio(pipe_s, n_loads),
        "pipeline.fact_rows_per_s": _ratio(sum(ld["fact_rows"] for ld in loads), pipe_s),
        "pipeline.output_bytes_per_input_byte": _ratio(
            sum(ld["out_bytes"] for ld in loads), sum(ld["raw_bytes"] for ld in loads)),
        "iterative.jobs_per_request": _ratio(it_jobs, it_n),
        "iterative.driver_gap_s": _ratio(it_gap, it_n),
        "python.run_s": py["run_s"] / n,
        "python.boot_s": py["boot_s"] / n,
        "python.init_s": py["init_s"] / n,
        "python.sent_mb": py["sent_b"] / MB / n,
        "python.received_mb": py["recv_b"] / MB / n,
        "python.share_of_executor_time": _ratio(py["run_s"], spark["run_s"]),
        "spark.jobs": spark["jobs"] / n,
        "spark.stages": spark["stages"] / n,
        "spark.tasks": spark["tasks"] / n,
        "spark.executor_run_s": spark["run_s"] / n,
        "spark.executor_cpu_s": spark["cpu_s"] / n,
        "spark.gc_s": spark["gc_s"] / n,
        "spark.input_mb": spark["in_b"] / MB / n,
        "spark.output_mb": spark["out_b"] / MB / n,
        "spark.shuffle_read_mb": spark["shr_b"] / MB / n,
        "spark.shuffle_write_mb": spark["shw_b"] / MB / n,
        "spark.spill_mb": spark["spill_b"] / MB / n,
        "spark.driver_gap_s": gap / n,
        "spark.core_busy_ratio": _ratio(spark["run_s"], wall * cores),
    }
