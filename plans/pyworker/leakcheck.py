"""Are the cache entries a curation request leaves behind released on GC?

    cd CHECKOUT && python plans/pyworker/leakcheck.py CHECKOUT

Stages the benchmark's sf0.01 warehouse with `bench.stage_tables`, runs the
three iterative `curation_batch` queries twice each, and prints the cache
entries (`perfbench/layers.cache_entries`: CacheManager entries plus
persistent RDDs) right after staging, after the requests, and after two
rounds of Python and JVM garbage collection (the context cleaner releases
a dropped RDD's blocks only once the GC has collected it).
"""
import gc
import json
import sys
import time

sys.path[:0] = [sys.argv[1], sys.argv[1] + "/perfbench"]
import __spark_entry__ as E  # noqa: E402
import bench  # noqa: E402
import layers  # noqa: E402
from etl_online_retail_spark.session import get_spark  # noqa: E402

spark = get_spark("leakcheck")
staged, _ = bench.stage_tables(spark, sys.argv[1] + "/perfbench/data/sf0.01")
base = layers.cache_entries(spark)
Q = E.queries()
for name in ["duplicate_clusters", "knn_pq", "bpe_vocab_merges"] * 2:
    Q[name](spark, staged).collect()
after = layers.cache_entries(spark)
for _ in range(2):
    gc.collect()
    spark._jvm.System.gc()
    time.sleep(5)
print(json.dumps({"baseline": base, "after_requests": after,
                  "after_gc": layers.cache_entries(spark)}))
spark.stop()
