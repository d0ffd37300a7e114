"""Generated-code reuse across requests (PERFORMANCE.md "Generated-code
cache"): once a request mix has run, running it again compiles nothing.

Catalyst keeps Janino-compiled classes in one LRU cache per JVM, sized by
the static conf spark.sql.codegen.cache.maxEntries when the first class
is compiled. At Spark's default (100) a round over more than 100 distinct
classes evicts each class before its next use, so every round recompiles.
The rounds run in a fresh JVM: the suite's shared session has already
compiled whatever earlier tests ran, which would make the first round's
count depend on test order.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import SF_SMALL

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Registry queries whose plans carry no per-run literal (no random seed,
# clock or counter is inlined into their generated code), so a repeat
# reuses every class; together >100 distinct classes at sf0.001.
QUERIES = [
    "uniform_docs_sample", "rolling_7d_user_value",
    "approx_length_percentiles", "events_gapfill_locf",
    "user_activity_streaks", "user_golden_profile",
    "attribution_last_touch", "user_segment_scd2", "funnel_conversion",
    "event_transitions", "stratified_topk_docs",
    "latest_order_per_customer",
]

ROUNDS = r"""
import json, sys
import __spark_entry__ as entry
from etl_online_retail_spark.session import codegen_compiles, get_spark

spark = get_spark("codegen-reuse")
qs = entry.queries()
compiles = []
for _ in range(2):
    n0 = codegen_compiles(spark)[0]
    for name in sys.argv[2:]:
        qs[name](spark, sys.argv[1]).write.format("noop").mode("overwrite").save()
    compiles.append(codegen_compiles(spark)[0] - n0)
spark.stop()
print(json.dumps(compiles))
"""


def test_get_spark_sizes_the_codegen_cache(spark):
    from etl_online_retail_spark.session import (
        _RUNTIME_CONFS,
        CODEGEN_CACHE_ENTRIES,
    )

    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == str(CODEGEN_CACHE_ENTRIES)
    # a static conf: a live session refuses it, so ensure_session_confs
    # (which only warns on a refusal) must not carry it
    with pytest.raises(Exception, match="CANNOT_MODIFY_STATIC_CONFIG"):
        spark.conf.set(key, "100")
    assert key not in _RUNTIME_CONFS


def test_second_round_compiles_nothing(tmp_path):
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2",
           "SPARK_GRAFT_DRIVER_MEM": "1g",
           "SPARK_GRAFT_WAREHOUSE_DIR": str(tmp_path / "warehouse")}
    out = subprocess.run(
        [sys.executable, "-c", ROUNDS, SF_SMALL, *QUERIES], cwd=ROOT,
        env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    first, second = json.loads(out.stdout.strip().splitlines()[-1])
    # precondition: the round outgrows Spark's default cache of 100
    assert first > 100, first
    assert second == 0, (first, second)
