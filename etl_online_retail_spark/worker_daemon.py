"""PySpark worker daemon that re-reads an import zip only when it changed.

`session.get_spark` names this module in `spark.python.daemon.module`, so
the JVM starts it (`python -m etl_online_retail_spark.worker_daemon`) in
place of `pyspark.daemon`. It installs one patch and then runs the stock
daemon, whose forked workers inherit the patch.

Why: every Python task runs `pyspark.worker_util.setup_spark_files`,
which calls `importlib.invalidate_caches()`. Up to CPython 3.12 that makes
every `zipimport.zipimporter` re-read its archive's central directory. A
worker on the Arrow path holds 16 importers over `pyspark.zip`
(1,328 entries), the py4j zip and the spark-core jar (5,359 entries), so
with four tasks at once each task spent about 190 ms re-reading unchanged
files (PERFORMANCE.md "Python worker bootstrap").

The patched `zipimporter.invalidate_caches` stats the archive and re-reads
it only when `(st_mtime_ns, st_size)` differs from the stamp taken before
the last read of that archive; otherwise the importer takes the directory
read then. A rewritten archive is still re-read. This backports the intent
of CPython 3.13's lazy invalidation (gh-103200); on 3.13 and later the
stdlib method is left alone.

Importing this module has no side effect; the patch runs only under
`__main__`. If it cannot be installed, the daemon warns once on stderr and
runs unpatched.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> ((st_mtime_ns, st_size) stat'ed before the read, directory)
_read_stamps: dict[str, tuple[tuple[int, int], dict]] = {}


def _stat_checked_invalidate(self) -> None:
    """zipimporter.invalidate_caches, re-reading only a changed archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        stamp = None
    else:
        stamp = (st.st_mtime_ns, st.st_size)
        seen = _read_stamps.get(self.archive)
        if seen is not None and seen[0] == stamp:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
    _stock_invalidate(self)
    # the stock method drops the archive from the cache when the read fails
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_stamps[self.archive] = (stamp, self._files)
    else:
        _read_stamps.pop(self.archive, None)


_stat_checked_invalidate.stat_checked = True


def install() -> bool:
    """Patch zipimporter.invalidate_caches; False (and no patch) on 3.13+."""
    if sys.version_info >= (3, 13):
        return False
    if not active():
        zipimport.zipimporter.invalidate_caches = _stat_checked_invalidate
    return True


def active() -> bool:
    """Whether this process runs the stat-checked invalidation."""
    return getattr(zipimport.zipimporter.invalidate_caches,
                   "stat_checked", False)


def main() -> None:
    try:
        if install():
            # stamp the archives once here, so forked workers start warm
            importlib.invalidate_caches()
    except Exception as exc:
        zipimport.zipimporter.invalidate_caches = _stock_invalidate
        print(f"worker_daemon: stat-checked zipimport invalidation not "
              f"installed ({exc!r}); running the stock daemon",
              file=sys.stderr)
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
