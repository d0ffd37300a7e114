"""The Python worker daemon's stat-checked zipimport invalidation
(etl_online_retail_spark/worker_daemon.py): an unchanged archive is not
re-read by importlib.invalidate_caches(), a rewritten one is, and the
get_spark session's Python workers run with the patch, whatever the
driver's working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from etl_online_retail_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    """A zip on sys.path holding module wd_probe_a, with the stock
    invalidate_caches restored and the probe modules dropped afterwards;
    yields (archive path, list of archives _read_directory was called
    on)."""
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"wd_probe_a": "VALUE = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in ("wd_probe_a", "wd_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    worker_daemon._read_stamps.pop(archive, None)


def _reads_of(archive, reads, fn) -> int:
    n = len(reads)
    fn()
    return sum(1 for p in reads[n:] if p == archive)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13+ invalidates zipimport lazily itself")
def test_unchanged_archive_is_not_reread(probe_zip):
    archive, reads = probe_zip
    assert importlib.import_module("wd_probe_a").VALUE == 1
    # precondition: the stock method re-reads the archive on every call
    assert _reads_of(archive, reads, importlib.invalidate_caches) >= 1

    assert worker_daemon.install() and worker_daemon.active()
    # the first call stamps the archive, later ones only stat it
    assert _reads_of(archive, reads, importlib.invalidate_caches) == 1
    for _ in range(3):
        assert _reads_of(archive, reads, importlib.invalidate_caches) == 0
    assert importlib.import_module("wd_probe_a").VALUE == 1


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13+ invalidates zipimport lazily itself")
def test_rewritten_archive_exposes_its_new_module(probe_zip):
    archive, reads = probe_zip
    assert worker_daemon.install()
    importlib.import_module("wd_probe_a")
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("wd_probe_b")

    _write_zip(archive, {"wd_probe_a": "VALUE = 1\n",
                         "wd_probe_b": "VALUE = 2\n"})
    assert _reads_of(archive, reads, importlib.invalidate_caches) == 1
    assert importlib.import_module("wd_probe_b").VALUE == 2


def test_stdlib_method_left_alone_on_313(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert worker_daemon.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock
    assert not worker_daemon.active()


def test_python_workers_run_the_patch(spark):
    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == worker_daemon.__name__)

    def report(batches):
        import pandas as pd

        from etl_online_retail_spark import worker_daemon as wd

        for _ in batches:
            yield pd.DataFrame({"active": [wd.active()],
                                "pid": [os.getpid()]})

    rows = (spark.range(0, 8, numPartitions=2)
            .mapInPandas(report, "active boolean, pid long").collect())
    assert rows
    # the daemon patched itself before forking this worker; the driver
    # process is untouched
    assert {r.active for r in rows} == {sys.version_info < (3, 13)}
    assert not worker_daemon.active()


CWD_SESSION = """
import sys
sys.path.insert(0, sys.argv[1])
from etl_online_retail_spark.session import get_spark

def identity(batches):
    yield from batches

spark = get_spark("worker-daemon-cwd")
print(spark.range(10).mapInPandas(identity, "id long").count())
spark.stop()
"""


def test_daemon_starts_outside_the_checkout(tmp_path):
    """The JVM starts the daemon by module name from the driver's working
    directory; a driver started elsewhere must still run Python work."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2",
           "SPARK_GRAFT_DRIVER_MEM": "1g",
           "SPARK_GRAFT_WAREHOUSE_DIR": str(tmp_path / "warehouse")}
    env.pop("PYTHONPATH", None)
    out = subprocess.run([sys.executable, "-c", CWD_SESSION, ROOT],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "10"
