"""SparkSession factory.

The reference runs pandas task-by-task under Airflow (etl.py:24-33) with no
execution engine of its own; here one SparkSession owns the whole pipeline
and Catalyst replaces both pandas and the Postgres BI executor (SURVEY.md §3).

Config choices are scale-first (SURVEY.md §4): AQE on (runtime re-plan,
skew-join splitting, shuffle coalescing), broadcast threshold generous enough
that dimension tables never shuffle, shuffle partitions sized for the local
harness but overridable for a real cluster via env.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Runtime-settable SQL confs that queries in this package rely on. They are
# applied both at build time (get_spark) and defensively on sessions we did
# not create (ensure_session_confs) - e.g. the verify driver's session.
_RUNTIME_CONFS = {
    # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects by default; read nanos as long and convert explicitly
    # (see catalog.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: shuffle-partition coalescing, skew-join splitting,
    # dynamic broadcast conversion. Free wins at 100 TB scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE also size the partitioning UNDER cached plans (off by
    # default for output-partitioning stability): without it every
    # cached relation built from a shuffle keeps the static
    # spark.sql.shuffle.partitions count however small its data — the
    # unigram word cache held 32 near-empty partitions, billing every
    # EM round 32 tasks + 32 Arrow batches (r14, measured ~25% of the
    # tokenizer-training queries). Scale-adaptive by construction
    # (AQE's advisory sizing), correctness-neutral (partitioning only).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Dim tables (customer/part/nation/region/supplier and the date spine)
    # must broadcast, never shuffle, in star joins (SURVEY.md §2.4 J1-J3).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Partition-pruning for the smart-date-key pattern (SURVEY.md §4 F5).
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
    # Arrow for any pandas_udf / toPandas boundary (vectors, multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


# Capacity of Catalyst's LRU cache of Janino-compiled generated classes
# (spark.sql.codegen.cache.maxEntries, default 100), sized to the measured
# working set (PERFORMANCE.md "Generated-code cache"): staging sf0.01 plus
# one pass over the 241 benched queries compiles 2,901 distinct classes
# (sampled generated source: mean 8.4 KB, p95 21.9 KB), and the benchmark's
# etl_ingest workload about 500. At the default the cache evicts classes
# before their next use, so steady-state requests recompile: 160 classes
# (1.8 s of compile time) per CDC batch, ~3 per dashboard read. This is a
# STATIC SQL conf: it takes effect only on the session builder, and Spark
# reads it once per JVM, when the first class is compiled. It therefore
# stays out of _RUNTIME_CONFS: setting it on a live session raises, and
# ensure_session_confs would only warn and leave the size unchanged.
CODEGEN_CACHE_ENTRIES = 4096

# The checkout holding this package. Python workers get it on their path
# (spark.executorEnv.PYTHONPATH): the JVM starts the worker daemon by module
# name, from the driver's working directory, which need not be the checkout.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    """CPU budget: $SPARK_GRAFT_CPUS in the harness, else all local cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "etl-online-retail-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    shuffle_partitions defaults to the CPU budget: at the test scale
    (60k-600k rows) more partitions than cores only adds task-launch
    overhead; on a real cluster callers pass an explicit value sized so
    post-shuffle partitions are ~128MB (AQE coalescing then trims).
    """
    # Python worker daemon (spark.python.daemon.module, default
    # pyspark.daemon): worker_daemon runs the stock daemon after patching
    # zipimport so that the importlib.invalidate_caches() of every Python
    # task re-reads the zips on the worker path (pyspark.zip, the py4j
    # zip, the spark-core jar) only when they changed (PERFORMANCE.md
    # "Python worker bootstrap"). Like
    # CODEGEN_CACHE_ENTRIES it is a static conf, read when the JVM starts
    # its first daemon, so it is set on the builder only and kept out of
    # _RUNTIME_CONFS. Imported here, not at module level: the daemon runs
    # the module as __main__ after importing this package.
    from etl_online_retail_spark import worker_daemon

    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Local harness: the testdata tables are single small parquet files,
        # so a 128 MB split size would scan them single-threaded; 4 MB keeps
        # all cores busy (bounded below by row-group size). On a real
        # cluster override to 128-256 MB via env.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                               str(4 * 1024 * 1024)))
        # managed tables (the bucketed staged warehouse) live under /tmp,
        # never inside the repo checkout
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE_DIR",
                               "/tmp/spark-graft-warehouse"))
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", worker_daemon.__name__)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, seconds compiling) so far in this JVM: the
    sample count of CodegenMetrics' compilation-time histogram (one sample
    per Janino compile, i.e. per codegen-cache miss) and CodeGenerator's
    cumulative compile time, summed over threads."""
    jvm = spark._jvm
    n = (jvm.org.apache.spark.metrics.source.CodegenMetrics
         .METRIC_COMPILATION_TIME().getCount())
    ns = (jvm.org.apache.spark.sql.catalyst.expressions.codegen
          .CodeGenerator.compileTime())
    return n, ns / 1e9


def cut_lineage(df):
    """Materialize a DataFrame and truncate its lineage — the round
    boundary of every iterative operator (PageRank/PPR rounds, BFS
    frontiers, connected-components rounds, BPE merge rounds, the
    agreement operators' reduced grains).

    Default: eager `localCheckpoint()`. Blocks live in EXECUTOR
    storage and are released with the RDD by the context cleaner —
    fast (no external write), but NOT fault-tolerant: an executor
    loss drops its blocks and the job fails instead of recomputing
    (there is no lineage left to recompute from).

    Production knob (r14 verdict item 7): set
    $SPARK_GRAFT_CHECKPOINT_DIR to a reliable (HDFS / object-store)
    path and every cut becomes a reliable `checkpoint()` — each
    round's state survives executor loss at the cost of one
    write+read per round. Pair it with
    spark.cleaner.referenceTracking.cleanCheckpoints=true so the
    context cleaner also deletes checkpoint files once their RDDs
    are collected; otherwise files accumulate for the application's
    lifetime. See PERFORMANCE.md "Iterative loops" for the trade.
    """
    ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckdir:
        sc = df.sparkSession.sparkContext
        try:
            has_dir = sc._jsc.sc().getCheckpointDir().isDefined()
        except Exception:
            has_dir = False
        if not has_dir:
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def run_concurrently(fn, items) -> None:
    """Run independent per-item Spark actions from a thread pool: each
    action schedules its own jobs, so a pass costs the slowest item
    instead of the sum (single jobs underutilize the session's cores on
    their tail stages). Shared utility (promoted from matview's private
    helper, r11 advice): matview maintenance/publish and bench staging
    both use it. Single-item calls stay inline — identical semantics, no
    pool overhead. Workers capped at 2x the CPU budget
    (default_parallelism): the actions are job-submission threads (the
    JVM does the work), but an unbounded pool over a growing registry
    would thrash the scheduler. First exception propagates after
    scheduled actions finish (pool shutdown joins)."""
    items = list(items)
    if len(items) == 1:
        fn(items[0])
        return
    from concurrent.futures import ThreadPoolExecutor

    workers = min(len(items), 2 * default_parallelism())
    with ThreadPoolExecutor(max_workers=workers) as pool:
        list(pool.map(fn, items))


_refused_confs: set[str] = set()  # keys ensure_session_confs warned about


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply this package's runtime-settable confs to an existing session.

    The correctness driver hands us its own SparkSession; all confs in
    _RUNTIME_CONFS are runtime-settable SQL confs, so this is safe on any
    live session. A conf the session refuses (an exotic build) is left
    as it is, with a warning that names it, once per key per process.
    """
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            if key not in _refused_confs:
                _refused_confs.add(key)
                warnings.warn(f"session refused conf {key}={value}: {exc}",
                              RuntimeWarning, stacklevel=2)
    return spark
