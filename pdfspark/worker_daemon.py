"""Python worker daemon for the extraction stage: ``pyspark.daemon`` with
cheap per-task import-cache invalidation.

``build_session`` registers this module through Spark's own
``spark.python.daemon.module`` conf, so the JVM starts it as
``python -m pdfspark.worker_daemon`` instead of ``python -m pyspark.daemon``.
It changes one thing before handing over to ``pyspark.daemon.manager()``
unchanged:

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
EVERY task (``worker_util.setup_spark_files``).  Up to Python 3.12 that
makes each cached ``zipimporter`` re-read its archive's whole central
directory in pure Python — one importer per package prefix of
``pyspark.zip`` plus the py4j zip and the spark-core jar, ~0.2-0.3 s per
task on a 4-vCPU Xeon VM, against a task body of a few milliseconds on
small batches.  CPython 3.13 made the call cheap (it only drops the cached
directory, re-read lazily).  Here the 3.11/3.12 method is replaced by one
that re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
changed since the last read, and otherwise keeps the directory it already
holds.  A changed or new archive (``--py-files`` shipped per job) is read
exactly as before.

The daemon also imports ``pdfspark`` — and with it the extraction kernel
— once before forking, so forked workers share those pages instead of
each importing the kernel on its first task.

The daemon starts before any task, so ``pdfspark`` must be importable
from the executor's own ``PYTHONPATH`` (``build_session`` puts the repo
root there).  A ``--py-files`` zip reaches workers only per task, too
late for the daemon: ``scripts/submit_extract.py`` keeps the stock daemon.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (stat key at the last read, directory read then).
# Process-wide like zipimport's own directory cache: the importers of one
# archive's package prefixes share a single read.
_directories: dict = {}
_reread_directory = zipimport.zipimporter.invalidate_caches


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive file changed since it was last read."""
    # stat BEFORE reading: a rewrite racing the read re-reads next time
    key = _stat_key(self.archive)
    seen = _directories.get(self.archive)
    if key is not None and seen is not None and seen[0] == key:
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _reread_directory(self)
    if key is None:
        _directories.pop(self.archive, None)
    else:
        _directories[self.archive] = (key, self._files)


def install() -> None:
    """Patch ``zipimporter`` (Python < 3.13 only; 3.13 is already cheap)
    and record the current state of every cached archive, so workers
    forked afterwards start with every directory up to date."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


def main() -> None:
    install()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run the package copy of this module, not ``__main__``: workers then
    # see ``pdfspark.worker_daemon.invalidate_caches`` as the patch
    from pdfspark.worker_daemon import main as _main

    _main()
