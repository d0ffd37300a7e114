"""Layer attribution from outside the package.

Nothing in etl_online_retail_spark changes. A traced run

- wraps the package's public layer calls (session.cut_lineage,
  session.run_concurrently, matview.navigate/serve/materialize/
  apply_cdc_batch/publish, the ingest autocompactor)
  by rebinding the module attributes that hold them, and records one span
  per call;
- reads Spark's own status stores after each request: the jobs the request
  submitted (DAGScheduler job-id counter), their stages (AppStatusStore)
  and the SQL executions' Python-worker metrics (SQLAppStatusStore);
- reads the Catalyst phase tracker of the request's final QueryExecution.

Spans stay in memory until the end of the run. Self time is a span's
duration minus the part its children cover.
"""

from __future__ import annotations

import functools
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PKG = "etl_online_retail_spark"


@dataclass
class Span:
    name: str
    start: float  # epoch seconds (aligned with Spark's job timestamps)
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Span recorder. `enabled` is flipped per phase, so one set of
    wrappers serves both the untraced and the traced timed phase; a
    disabled wrapper costs one attribute test per call."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._local = threading.local()
        self.root: int | None = None  # parent for spans opened on pool threads

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        sp = Span(name, time.time(), parent=parent, attrs=attrs)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()

    def wrap(self, fn, name: str, on_result=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, out)
                return out
        wrapper.__wrapped_layer__ = fn
        return wrapper

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int, extra: list[tuple[float, float]] = ()) -> float:
        """Duration minus the union of the children's (and `extra`)
        intervals clipped to the span."""
        sp = self.spans[idx]
        ivs = [(c.start, c.end) for c in self.children(idx)] + list(extra)
        return (sp.end - sp.start) - covered(ivs, sp.start, sp.end)

    def dump(self) -> list[dict]:
        out = []
        for i, s in enumerate(self.spans):
            out.append({"id": i, "name": s.name, "parent": s.parent,
                        "start": s.start, "dur_s": s.end - s.start,
                        "self_s": self.self_time(i), **s.attrs})
        return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _rebind(original, wrapper) -> None:
    """Point every loaded package module attribute bound to `original` at
    `wrapper` (operators import cut_lineage by name, matview aliases
    run_concurrently). Modules imported later bind the wrapper from the
    already rebound defining module."""
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Wrap the layer calls named in the module docstring."""
    from etl_online_retail_spark import session
    from etl_online_retail_spark.operators import matview
    from etl_online_retail_spark.streaming import ingest

    def nav_result(sp, args, out):
        sp.attrs["hit"] = out is not None

    def pool_name(sp, args, out):
        fn = args[0] if args else None
        sp.attrs["fn"] = getattr(fn, "__name__", "?")

    targets = [
        (session.cut_lineage, "session.cut_lineage", None),
        (session.run_concurrently, "session.run_concurrently", pool_name),
        (matview.navigate, "matview.navigate", nav_result),
        (matview.serve, "matview.serve", None),
        (matview.materialize, "matview.materialize", None),
        (matview.apply_cdc_batch, "matview.apply_cdc_batch", None),
        (matview.publish, "matview.publish", None),
        (ingest.autocompact_incremental_agg, "matview.compaction", None),
    ]
    for fn, name, hook in targets:
        if getattr(fn, "__wrapped_layer__", None) is not None:
            continue
        _rebind(fn, tracer.wrap(fn, name, hook))


# ---------------------------------------------------------------------------
# Spark status stores


def next_job_id(spark) -> int:
    v = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return v if isinstance(v, int) else v.get()


def drain_listener(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


_PY_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "recv_b",
}
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_VALUE = re.compile(r"([-0-9.]+)\s*([A-Za-z]+)")


def parse_metric(text: str) -> float:
    """Total of a rendered SQL metric: 'total (min, med, max ...)\\n4.7 s
    (...)' or a bare '8 ms'. Times come back in seconds, sizes in bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)


class SparkProbe:
    """Per-request reads of the status stores (traced runs only)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        drain_listener(spark)
        execs = self.sql.executionsList()
        self.next_exec = (execs.apply(execs.size() - 1).executionId() + 1
                          if execs.size() else 0)

    def jobs(self, j0: int, j1: int) -> dict:
        """Stage metrics and job intervals for job ids [j0, j1)."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0,
               "cpu_s": 0.0, "gc_s": 0.0, "in_b": 0, "out_b": 0,
               "shr_b": 0, "shw_b": 0, "spill_b": 0, "intervals": []}
        seen: set[int] = set()
        for jid in range(j0, j1):
            try:
                jd = self.store.job(jid)
            except Py4JJavaError:  # evicted from the store
                continue
            out["jobs"] += 1
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                out["intervals"].append((sub.get().getTime() / 1000.0,
                                         comp.get().getTime() / 1000.0))
            ids = jd.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["run_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["in_b"] += sd.inputBytes()
                out["out_b"] += sd.outputBytes()
                out["shr_b"] += sd.shuffleReadBytes()
                out["shw_b"] += sd.shuffleWriteBytes()
                out["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def python(self) -> dict:
        """Python-worker SQL metrics of the executions since the last call."""
        out = {k: 0.0 for k in _PY_METRICS.values()}
        eid = self.next_exec
        while True:
            opt = self.sql.execution(eid)
            if not opt.isDefined():
                break
            ex = opt.get()
            ms = ex.metrics()
            ids = {}
            for k in range(ms.size()):
                pm = ms.apply(k)
                key = _PY_METRICS.get(pm.name())
                if key:
                    ids[pm.accumulatorId()] = key
            if ids:
                vals = self.sql.executionMetrics(eid)
                for acc, key in ids.items():
                    v = vals.get(acc)
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
            eid += 1
        self.next_exec = eid
        return out

    def cached_mb(self) -> float:
        infos = self.sc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2 ** 20


def plan_phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) of the DataFrame's QueryExecution."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = opt.get().durationMs() / 1e3
    return out


def cache_entries(spark) -> int:
    """CacheManager entries plus persistent RDDs (cached relations,
    local checkpoints, persisted RDDs)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    fld = cm.getClass().getDeclaredField("cachedData")  # private, no accessor
    fld.setAccessible(True)
    return spark.sparkContext._jsc.getPersistentRDDs().size() + fld.get(cm).size()


def _driver_pids(spark) -> list[str]:
    """This Python driver and the JVM it launched."""
    pids = ["self"]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(str(proc.pid))
    return pids


def reset_peak_rss(spark) -> None:
    """Reset VmHWM of both processes to their current RSS."""
    for pid in _driver_pids(spark):
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def status_mb(spark, field: str) -> list[float]:
    """A /proc/<pid>/status memory field (VmRSS, VmHWM) of this driver
    process and of the JVM, in MB."""
    out = []
    for pid in _driver_pids(spark):
        with open(f"/proc/{pid}/status") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith(field + ":"))
        out.append(kb / 1024.0)
    return out


def retained_mb(spark) -> float:
    """JVM heap still in use after full collections, plus this driver
    process's resident set: what the staged warehouse, its caches, the
    serving relations and the client's results hold, without the
    collector's slack (the JVM's own RSS follows G1's heap sizing).
    Collects until the heap stops shrinking: blocks of RDDs that became
    unreachable are dropped by Spark's ContextCleaner only after the
    collection that found them."""
    bean = spark.sparkContext._jvm.java.lang.management \
        .ManagementFactory.getMemoryMXBean()
    heap = float("inf")
    for _ in range(6):
        bean.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2 ** 20
        if used > heap - 1.0:
            break
        heap = used
        time.sleep(0.5)
    return min(heap, used) + status_mb(spark, "VmRSS")[0]


class RequestProbe:
    """Traced-phase hook around each request: a root `request` span, then
    the request's jobs and stages, Python-worker metrics, the plan phases
    of its final DataFrame and the cache entries above the post-set-up
    baseline."""

    def __init__(self, tracer: Tracer, spark, ctx, workload: str,
                 baseline: int) -> None:
        self.tracer = tracer
        self.spark = spark
        self.ctx = ctx
        self.workload = workload
        self.baseline = baseline
        self.probe = SparkProbe(spark)
        self.n = 0

    def before(self, req):
        cm = self.tracer.span("request", id=self.n, workload=self.workload,
                              query=req.name, op=req.kind)
        cm.__enter__()
        self.tracer.root = len(self.tracer.spans) - 1
        self.n += 1
        return cm, self.tracer.root, next_job_id(self.spark)

    def after(self, state) -> dict:
        cm, idx, j0 = state
        cm.__exit__(None, None, None)
        self.tracer.root = None
        j1 = next_job_id(self.spark)
        drain_listener(self.spark)
        jobs = self.probe.jobs(j0, j1)
        for a, b in jobs["intervals"]:
            self.tracer.spans.append(Span("spark.job", a, b, parent=idx))
        df, self.ctx.last_df = self.ctx.last_df, None
        return {"idx": idx, "jobs": jobs, "python": self.probe.python(),
                "plans": plan_phases(df) if df is not None else {},
                "leaked": cache_entries(self.spark) - self.baseline}
