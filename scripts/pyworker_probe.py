"""Measure the per-task import-cache invalidation inside Python workers.

    python scripts/pyworker_probe.py [tasks] > probe.json

Starts a `get_spark` session and runs one `mapInPandas` over `tasks`
partitions (default 8), twice; the second pass, on warm workers, is
reported. In each task, after the worker's own set-up, it counts the
worker's zip importers and their archives' entries, then times one
`importlib.invalidate_caches()` (the call
`pyspark.worker_util.setup_spark_files` makes once per task) and counts
the zip-directory reads it caused, then runs a second one under cProfile
for the share of its time spent in those reads. Prints one JSON object
with the per-task records and their medians. Run it from the checkout
whose session you want to measure; wall-clock: run alone.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _task(batches):
    import cProfile
    import importlib
    import pstats
    import time
    import zipimport

    import pandas as pd

    for _ in batches:
        pass
    importers = [f for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter)]
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    zipimport._read_directory = counting_read
    prof = cProfile.Profile()
    try:
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        wall = time.perf_counter() - t0
        n_reads = len(reads)
        prof.runcall(importlib.invalidate_caches)
    finally:
        zipimport._read_directory = stock_read
    stats = pstats.Stats(prof).stats
    total = sum(tt for (_, _, tt, _, _) in stats.values())
    read_s = sum(ct for (_, _, name), (_, _, _, ct, _) in stats.items()
                 if name == "counting_read")
    yield pd.DataFrame({
        "pid": [os.getpid()],
        "zip_importers": [len(importers)],
        "archives": [" ".join(sorted(
            {f"{os.path.basename(f.archive)}:{len(f._files)}"
             for f in importers}))],
        "zip_reads": [n_reads],
        "invalidate_ms": [wall * 1e3],
        "read_share": [read_s / total if total else 0.0],
    })


def main() -> None:
    tasks = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    from etl_online_retail_spark.session import get_spark

    spark = get_spark("pyworker-probe")
    daemon = spark.sparkContext.getConf().get("spark.python.daemon.module",
                                              "pyspark.daemon")
    schema = ("pid long, zip_importers long, archives string, zip_reads long, "
              "invalidate_ms double, read_share double")
    df = spark.range(0, tasks * 64, numPartitions=tasks).mapInPandas(_task, schema)
    df.collect()  # first pass forks and warms the workers
    rows = [r.asDict() for r in df.collect()]
    spark.stop()
    med = {k: statistics.median(r[k] for r in rows)
           for k in ("zip_importers", "zip_reads", "invalidate_ms", "read_share")}
    print(json.dumps({"daemon_module": daemon, "python": sys.version.split()[0],
                      "tasks": rows, "median": med}))


if __name__ == "__main__":
    main()
