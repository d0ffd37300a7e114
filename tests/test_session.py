"""session helpers: refused confs are reported, and run_concurrently's pool
follows the CPU budget."""

from __future__ import annotations

import threading
import time
import warnings

from etl_online_retail_spark import session


def test_refused_conf_warns_once_per_key(spark, monkeypatch):
    key = "spark.sql.codegen.cache.maxEntries"  # static: a live session refuses it
    monkeypatch.setattr(session, "_RUNTIME_CONFS", {key: "100"})
    monkeypatch.setattr(session, "_refused_confs", set())
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        session.ensure_session_confs(spark)
        session.ensure_session_confs(spark)
    msgs = [str(w.message) for w in caught
            if issubclass(w.category, RuntimeWarning)]
    assert len(msgs) == 1, msgs
    assert key in msgs[0] and "CANNOT_MODIFY_STATIC_CONFIG" in msgs[0]


def test_package_confs_apply_without_warning(spark, monkeypatch):
    monkeypatch.setattr(session, "_refused_confs", set())
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        session.ensure_session_confs(spark)


def test_run_concurrently_pool_follows_cpu_budget(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    lock = threading.Lock()
    running, peak = 0, 0

    def job(_):
        nonlocal running, peak
        with lock:
            running += 1
            peak = max(peak, running)
        time.sleep(0.05)
        with lock:
            running -= 1

    session.run_concurrently(job, range(6))
    assert peak == 2
