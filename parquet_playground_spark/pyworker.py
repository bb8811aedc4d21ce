"""Python worker daemon for sessions built by ``session.get_spark``.

Spark starts this module once per executor (``spark.python.daemon.module``)
and the daemon forks one Python worker per concurrent task. Before each
task a worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.setup_spark_files``), so that archives added with
``addPyFile`` become importable. On Python 3.11 and 3.12 that call makes
every ``zipimport.zipimporter`` on the worker's path re-read its
archive's central directory: 16 importers over ``pyspark.zip``, the py4j
zip and the spark-core jar, 26,672 entries, 130-250 ms per task on a
4-core host, on archives that never change while the executor lives.

The daemon installs one ``invalidate_caches`` that re-reads an archive
only when its ``(st_mtime_ns, st_size)`` differs from what it was when
the directory was last read, or when ``stat`` fails; otherwise the
importer keeps the directory already in ``zipimport``'s cache. It then
reads each archive once and runs ``pyspark.daemon.manager()``; forked
workers inherit both the function and the directories. A new
``addPyFile`` zip has no recorded signature, so it is read as before,
and ``spark_files_dir`` is a plain directory, whose finder this does not
touch. Python 3.13's ``invalidate_caches`` only drops the cache, so
there the daemon changes nothing.

Importing this module imports the package ``__init__`` and so
``tables``, whose atexit cleanup removes ``scratch_path("*")`` of the
exiting process only: the daemon's own pid, never the driver's.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` with the signature-checked
    one (Python < 3.13 only)."""
    if sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches
    # archive path -> signature of the directory in zipimport's cache
    read_at: dict[str, tuple[int, int]] = {}

    def invalidate_caches_if_changed(self: zipimport.zipimporter) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            original(self)
            return
        sig = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == sig:
            # importers of sub-packages share the archive's one directory
            self._files = files
            return
        original(self)
        read_at[self.archive] = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed


def main() -> None:
    install()
    from pyspark import daemon

    importlib.invalidate_caches()  # one read per archive, inherited by workers
    daemon.manager()


if __name__ == "__main__":
    main()
