"""The workloads: request lists, the closed-loop client and the output
checks.

Every workload is one closed-loop client: a single thread sends its next
request only when the last one returned, with no think time. A timed
phase runs whole passes over the workload's fixed request multiset (the
order of each pass is drawn from --seed) until --seconds have elapsed, so
every run measures the same mix of work whatever the seed.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from layers import Tracer

# The reference's dashboard surface, read by etl_ingest: the twelve
# navigator-served dashboard queries that scripts/cdc_stream_sf01.py
# hash-checks after CDC maintenance, and ad-hoc BI/TPC-H shapes over the
# cached base tables (all from workload.py, workload_bi.py and
# workload_tpch.py; none in bench.EXCLUDED).
SERVED = [
    "total_revenue", "revenue_by_ymd", "revenue_rollup",
    "star_revenue_by_nation_month", "top_products_by_revenue",
    "pricing_summary", "revenue_cube", "revenue_grouping_sets",
    "revenue_pivot_by_flag", "revenue_rollup_gid",
    "revenue_share_by_nation", "chart_monthly_revenue",
]
AD_HOC = [
    "customers_by_nation", "smart_key_range", "top3_orders_per_priority",
    "forecast_revenue_change",
]
# LLM-data curation: bench.ITERATIVE builds rebuilt from scratch per
# request (connected components, PQ ANN, BPE training), plus codec and text
# queries whose plans hold Python exec nodes.
CURATION_BATCH = [
    "duplicate_clusters", "knn_pq", "bpe_vocab_merges",
    "jpeg_image_stats", "flac_audio_stats", "wav_spectral_stats",
    "gopher_quality_flags",
]

# One sample of a curation request varies by 15-30% from run to run. Two
# of each per pass, and four queries of overlapping cost (0.5-0.8 s), put
# several queries around the median instead of one.
CURATION_REPEATS = 2
ETL_READ_REPEATS = 2  # reads of each dashboard query after each write
ETL_LOAD_ROWS = 2000   # raw-invoice rows per pipeline load
ETL_CDC_ROWS = 1500    # lineitem rows inserted (and later retracted) per CDC batch
CDC_BATCH_BASE = 1000  # first CDC batch id (write_full owns id -1)


@dataclass
class Request:
    kind: str          # query | iterative | read | load | cdc
    name: str
    state: str = "base"  # warehouse state a read observes (for its check)
    payload: object = None


@dataclass
class Sample:
    req: Request
    latency: float
    ok: bool
    trace: dict = field(default_factory=dict)


class Context:
    """Session-scoped objects shared by the requests of one run."""

    def __init__(self, spark, staged: str, base_dir: str, frames, work: str,
                 rng: np.random.Generator) -> None:
        import bench
        from etl_online_retail_spark import workload
        from etl_online_retail_spark.operators.matview import MATVIEW_META

        self.spark = spark
        self.staged = staged
        self.base_dir = base_dir
        self.frames = frames
        self.work = work
        self.rng = rng
        self.queries = workload.queries()
        self.oracles = workload.oracles()
        self.iterative = set(bench.ITERATIVE)
        self.outputs: dict[tuple[str, str], pd.DataFrame] = {}
        self.row_counts: dict[str, set[int]] = {}
        self.loads: list[dict] = []
        self.load_seq = 0  # numbers the load directories; never reset
        self.cdc_slices: dict[str, pd.DataFrame] = {}
        self.write_rows = 0
        self.write_s = 0.0
        self.next_batch = CDC_BATCH_BASE
        self.outstanding = None  # the last inserted CDC slice, not yet retracted
        self.last_df = None  # the last query's DataFrame, for its plan phases
        self.lineitem_views = [n for n, m in MATVIEW_META.items()
                               if m["source"] == "lineitem"]
        self.oracle_cache = os.path.join(os.path.dirname(work), "oracle_cache")
        self.oracle_key = _oracle_key(base_dir)

    def reset_outputs(self) -> None:
        """Forget the warm-up pass: checks and write rates cover timed
        requests only."""
        self.outputs.clear()
        self.row_counts.clear()
        self.loads.clear()
        self.write_rows, self.write_s = 0, 0.0


# ---------------------------------------------------------------------------
# request execution


def run_query(ctx: Context, req: Request, tracer) -> None:
    """Build the query from the registry, then fetch its result to the
    client, as a dashboard user does. Keeps the first result per (query,
    warehouse state) for the untimed checks."""
    with tracer.span("workload.build"):
        df = ctx.queries[req.name](ctx.spark, ctx.staged)
    with tracer.span("action"):
        pdf = df.toPandas()
    ctx.last_df = df
    key = (req.name, req.state)
    if key not in ctx.outputs:
        ctx.outputs[key] = pdf
    ctx.row_counts.setdefault(req.name, set()).add(len(pdf))


def run_load(ctx: Context, req: Request, tracer) -> None:
    from etl_online_retail_spark.pipeline.retail import run_pipeline

    raw_pdf, raw_df = req.payload
    out = os.path.join(ctx.work, "retail", f"load_{ctx.load_seq:04d}")
    ctx.load_seq += 1
    t0 = time.perf_counter()
    with tracer.span("pipeline.run_pipeline"):
        wh = run_pipeline(raw_df, out)
    ctx.write_s += time.perf_counter() - t0
    ctx.write_rows += len(raw_pdf)
    ctx.loads.append({"dir": out, "raw": raw_pdf, "metrics": wh.load_metrics})
    ctx.last_df = None


def run_cdc(ctx: Context, req: Request, tracer) -> None:
    """One CDC batch through matview.apply_cdc_batch, then publish the
    lineitem-fed serving relations. payload = (inserts, deletes), each a
    (pandas, Spark) pair or None."""
    from etl_online_retail_spark.operators import matview

    ins, dels = req.payload
    storage = os.path.join(ctx.staged, "_matviews")
    t0 = time.perf_counter()
    matview.apply_cdc_batch(ctx.spark, ctx.staged, ctx.next_batch,
                            inserts=ins[1] if ins else None,
                            deletes=dels[1] if dels else None,
                            storage_dir=storage)
    matview.publish(ctx.spark, ctx.staged, names=ctx.lineitem_views,
                    storage_dir=storage)
    ctx.write_s += time.perf_counter() - t0
    ctx.write_rows += sum(len(side[0]) for side in (ins, dels) if side)
    ctx.next_batch += 1
    ctx.last_df = None


def execute(ctx: Context, req: Request, tracer) -> None:
    if req.kind == "load":
        run_load(ctx, req, tracer)
    elif req.kind == "cdc":
        run_cdc(ctx, req, tracer)
    else:
        run_query(ctx, req, tracer)


# ---------------------------------------------------------------------------
# passes


class Workload:
    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx

    def next_pass(self) -> list[Request]:
        """Every request of the workload once, in seeded order."""
        raise NotImplementedError


class QueryList(Workload):
    """A pass runs each query `repeats` times in seeded order."""

    def __init__(self, ctx: Context, names: list[str], repeats: int) -> None:
        super().__init__(ctx)
        self.names = names * repeats

    def next_pass(self) -> list[Request]:
        order = self.ctx.rng.permutation(len(self.names))
        return [Request("iterative" if self.names[i] in self.ctx.iterative
                        else "query", self.names[i]) for i in order]


class EtlIngest(Workload):
    """One pass = one raw-invoice load followed by the ad-hoc BI queries as
    reads, then one CDC batch followed by the navigator-served dashboard
    queries as reads (each read twice, in seeded order). Each CDC batch inserts a new seeded lineitem slice as
    extra copies and retracts the previous batch's slice, so the warehouse
    always differs from the original by exactly one slice; the final-state
    check retracts the last one."""

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        from etl_online_retail_spark.catalog import SCHEMAS
        from etl_online_retail_spark.sources.excel import RAW_SCHEMA

        self.raw_schema = RAW_SCHEMA
        self.li_schema = SCHEMAS["lineitem"]

    def _reads(self, names: list[str], state: str) -> list[Request]:
        names = names * ETL_READ_REPEATS
        order = self.ctx.rng.permutation(len(names))
        return [Request("read", names[i], state) for i in order]

    def next_pass(self) -> list[Request]:
        """Generates the pass's write inputs (untimed) and its requests."""
        from datagen import cdc_slice, raw_invoice_batch

        ctx = self.ctx
        raw = raw_invoice_batch(ctx.frames, ctx.rng, ETL_LOAD_ROWS)
        load = (raw, ctx.spark.createDataFrame(raw, schema=self.raw_schema))
        sl = cdc_slice(ctx.frames["lineitem"], ctx.rng, ETL_CDC_ROWS)
        ins = (sl, ctx.spark.createDataFrame(sl, schema=self.li_schema))
        cdc = Request("cdc", "lineitem_cdc", payload=(ins, ctx.outstanding))
        ctx.outstanding = ins
        state = f"cdc{ctx.next_batch}"
        ctx.cdc_slices[state] = sl
        return ([Request("load", "retail_load", payload=load)]
                + self._reads(AD_HOC, "base") + [cdc]
                + self._reads(SERVED, state))


def make_workload(name: str, ctx: Context) -> Workload:
    if name == "curation_batch":
        return QueryList(ctx, CURATION_BATCH, CURATION_REPEATS)
    if name == "etl_ingest":
        return EtlIngest(ctx)
    raise ValueError(f"unknown workload {name!r}")


def _attempt(ctx: Context, req: Request, tracer) -> bool:
    try:
        execute(ctx, req, tracer)
        return True
    except Exception as e:  # a failing request must not hide the rest
        print(f"perfbench: request {req.kind}:{req.name} failed: "
              f"{type(e).__name__}: {str(e)[:300]}", flush=True)
        return False


def warm_up(wl: Workload, threads: int) -> None:
    """One untimed pass with every distinct request once. Runs of
    consecutive read-only requests go through a thread pool (writes run
    alone, in order): the pass only has to compile plans, JIT the JVM and
    boot Python workers, and overlapping the requests' driver-side gaps
    shortens it."""
    from concurrent.futures import ThreadPoolExecutor

    reqs, seen = [], set()
    for req in wl.next_pass():
        if req.kind in ("load", "cdc") or req.name not in seen:
            reqs.append(req)
            seen.add(req.name)
    tracer = Tracer()
    with ThreadPoolExecutor(max_workers=threads) as pool:
        batch: list[Request] = []
        for req in reqs + [None]:
            if req is not None and req.kind not in ("load", "cdc"):
                batch.append(req)
                continue
            list(pool.map(lambda r: _attempt(wl.ctx, r, tracer), batch))
            batch = []
            if req is not None:
                _attempt(wl.ctx, req, tracer)


def closed_loop(wl: Workload, seconds: float,
                on_request=None) -> tuple[list[Sample], float]:
    """Run whole passes until `seconds` of request time have elapsed.
    Returns the samples and the summed request seconds, which exclude the
    untimed per-pass input generation and trace probing."""
    samples: list[Sample] = []
    wall = 0.0
    tracer = on_request.tracer if on_request else Tracer()
    while wall < seconds:
        for req in wl.next_pass():
            state = on_request.before(req) if on_request else None
            t0 = time.perf_counter()
            ok = _attempt(wl.ctx, req, tracer)
            dt = time.perf_counter() - t0
            wall += dt
            samples.append(Sample(req, dt, ok,
                                  on_request.after(state) if on_request else {}))
    return samples, wall


# ---------------------------------------------------------------------------
# checks (untimed, after the timed phases)


def _duck(base_dir: str, extra_lineitem: pd.DataFrame | None = None):
    from etl_online_retail_spark.oracle import duckdb_connection

    con = duckdb_connection(base_dir)
    if extra_lineitem is not None:
        con.register("cdc_extra", extra_lineitem)
        con.execute(
            "CREATE OR REPLACE VIEW lineitem AS SELECT * FROM "
            f"'{base_dir}/lineitem.parquet' UNION ALL SELECT * FROM cdc_extra")
    return con


def _oracle_key(base_dir: str) -> str:
    """Fingerprint of what a cached oracle result depends on besides its
    SQL: the warehouse bytes, the DuckDB version and the view setup."""
    import inspect

    import duckdb

    from etl_online_retail_spark.oracle import duckdb_connection

    h = hashlib.sha256(duckdb.__version__.encode()
                       + inspect.getsource(duckdb_connection).encode())
    for f in sorted(os.listdir(base_dir)):
        with open(os.path.join(base_dir, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()


def oracle_frame(ctx: Context, con, name: str, state: str) -> pd.DataFrame:
    """The DuckDB twin's result. Results over the seed-independent base
    warehouse are cached in the checkout (see _oracle_key): some twins
    (the connected-components recursive CTEs) take ~20 s and would
    otherwise dominate every run."""
    import pickle

    sql = ctx.oracles[name]
    if state != "base":
        return con.sql(sql).df()
    key = hashlib.sha256((ctx.oracle_key + sql).encode()).hexdigest()[:32]
    path = os.path.join(ctx.oracle_cache, f"{name}-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    df = con.sql(sql).df()
    os.makedirs(ctx.oracle_cache, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump(df, f)
    os.replace(tmp, path)
    return df


def check_outputs(ctx: Context) -> list[str]:
    """Hash-check each distinct (query, state) result once against its
    DuckDB twin; rows-only queries must return the same non-zero row
    count on every execution. Returns failure descriptions."""
    from etl_online_retail_spark.oracle import compare_frames

    failures: list[str] = []
    cons: dict[str, object] = {}
    for (name, state), pdf in ctx.outputs.items():
        sql = ctx.oracles.get(name)
        if sql is None:
            counts = ctx.row_counts.get(name, set())
            if len(counts) != 1 or 0 in counts:
                failures.append(f"{name}: rows-only counts {sorted(counts)}")
            continue
        if state not in cons:
            cons[state] = _duck(ctx.base_dir, ctx.cdc_slices.get(state))
        try:
            r = compare_frames(name, pdf,
                               oracle_frame(ctx, cons[state], name, state))
        except Exception as e:
            failures.append(f"{name}@{state}: oracle error {e}")
            continue
        if not r.ok:
            failures.append(f"{name}@{state}: rows {r.spark_rows}/{r.duck_rows} "
                            f"schema_ok={r.schema_ok} hash_ok={r.hash_ok}")
    return failures


def check_loads(ctx: Context) -> list[str]:
    """Each pipeline load's fact row count and fct_row_rules counts
    against DuckDB over the same generated raw batch."""
    import duckdb

    failures = []
    key = 'coalesce(CAST("Customer ID" AS VARCHAR), \'00000\')'
    for i, load in enumerate(ctx.loads):
        con = duckdb.connect()
        con.register("raw", load["raw"])
        cleaned = (
            "SELECT * FROM raw WHERE Quantity > 0 AND Price > 0 "
            "AND length(Invoice) = 6 AND regexp_full_match(Invoice, '[0-9]+') "
            "AND length(StockCode) = 5 AND regexp_full_match(StockCode, '[0-9]+') "
            f"AND length({key}) = 5 AND regexp_full_match({key}, '[0-9]+')")
        n_exp, inv, price, qty = con.sql(
            f"SELECT count(*), count(*) FILTER (WHERE length(Invoice) <> 6), "
            f"count(*) FILTER (WHERE TRY_CAST(Price AS DECIMAL(8,2)) IS NULL), "
            f"count(*) FILTER (WHERE Quantity IS NULL) FROM ({cleaned})").fetchone()
        expected_rules = {"fct.invoice_id CHAR(6)": inv,
                          "fct.unit_price NOT NULL": price,
                          "fct.quantity NOT NULL": qty}
        n_got = ctx.spark.read.parquet(
            os.path.join(load["dir"], "fct_invoices")).count()
        if n_got != n_exp:
            failures.append(f"load {i}: fact rows {n_got} != {n_exp}")
        if load["metrics"] != expected_rules:
            failures.append(f"load {i}: rules {load['metrics']} != {expected_rules}")
        con.close()
    return failures


def settle_and_check_final(ctx: Context) -> list[str]:
    """Retract the outstanding CDC slice (untimed), then check the final
    served state against DuckDB on the original lineitem."""
    if ctx.outstanding is not None:
        run_cdc(ctx, Request("cdc", "lineitem_cdc",
                             payload=(None, ctx.outstanding)), Tracer())
        ctx.outstanding = None
    kept = ctx.outputs, ctx.row_counts
    ctx.outputs, ctx.row_counts = {}, {}
    failures = []
    try:
        for name in SERVED:
            try:
                run_query(ctx, Request("read", name), Tracer())
            except Exception as e:
                failures.append(f"final {name}: {type(e).__name__}: {e}")
        failures += check_outputs(ctx)
    finally:
        ctx.outputs, ctx.row_counts = kept
    return failures


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
