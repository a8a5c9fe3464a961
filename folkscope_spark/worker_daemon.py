"""Python worker daemon: ``pyspark.daemon`` with a stat-gated zipimport cache.

Run as ``python -m folkscope_spark.worker_daemon`` (``spark.python.daemon.module``,
set by ``session.get_spark`` for local masters).  Spark forks every Python
worker from this process, so whatever it sets up is inherited before the
worker's first task.

Why: pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task.  On CPython
3.11/3.12, ``zipimporter.invalidate_caches`` eagerly re-reads the archive's
whole central directory, and a worker holds 16 importers over
``pyspark.zip`` (1,328 entries), py4j's zip and the spark-core jar — about
0.1 CPU-s per task that no kernel change can reach.  CPython 3.13 made the
method lazy.

What: ``install()`` wraps ``zipimport._read_directory`` to record, next to
each directory it returns, the archive's ``(st_mtime_ns, st_size)`` taken
just before the read, and replaces ``zipimporter.invalidate_caches`` with a
version that skips the re-read when the importer still holds that directory
and the archive's stamp is unchanged.  A changed stamp, a failed ``stat``, a
directory read before ``install()`` or one another importer has since
replaced all fall through to the original method, so the importer sees
exactly what it would have seen without the patch.
"""

from __future__ import annotations

import importlib
import os
import zipimport

# archive path -> (stamp, directory) of the last read of that archive
_READS: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def install() -> None:
    """Patch ``zipimport`` in this process (once, before any fork)."""
    read_directory = zipimport._read_directory
    original = zipimport.zipimporter.invalidate_caches

    def _read_directory(archive):
        # stat before the read: a write racing the read leaves an older
        # stamp, so the next invalidation re-reads
        stamp = _stamp(archive)
        files = read_directory(archive)
        if stamp is not None:
            _READS[archive] = (stamp, files)
        return files

    def invalidate_caches(self):
        """Reload the archive's file data only if the archive changed."""
        last = _READS.get(self.archive)
        if (
            last is not None
            # 3.13+ importers hold no _files; they take the original path
            and last[1] is getattr(self, "_files", None)
            and _stamp(self.archive) == last[0]
        ):
            return
        original(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    # stamp what was read before install() (e.g. a --py-files zip holding
    # this package), once, so the forked workers inherit the stamps
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run under the import name, so the patch reports this module and not
    # __main__ (``python -m`` executes a second copy of the file)
    from folkscope_spark.worker_daemon import main as _main

    _main()
