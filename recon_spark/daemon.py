"""Python worker daemon for local masters: PySpark's daemon, minus the
per-task re-read of every zip archive on the worker path.

Every Python UDF task (the mention-detection ``mapInArrow`` kernels,
validation, pages, …) starts in ``pyspark.worker_util.setup_spark_files``,
which ends with ``importlib.invalidate_caches()``. On CPython < 3.12 each
``zipimport.zipimporter`` answers that by re-reading its archive's whole
central directory, eagerly. A worker holds one importer per imported
package directory inside ``pyspark.zip`` (1328 entries) and the py4j zip,
16 of them after one ``mapInArrow`` task, so each task re-parses those
directories 16 times: about 300 ms of CPU per task on a 4-vCPU VM, next
to 0.5 ms of UDF work for a trivial kernel. CPython 3.12 made the
invalidation lazy (gh-103200); this module brings the same behaviour to
older interpreters and does nothing on 3.12 or later.

The module is started by Spark in place of ``pyspark.daemon`` through
``spark.python.daemon.module`` (see ``recon_spark.session.get_spark``).
Every worker is forked from it and inherits what it sets up:

- ``install_lazy_zip_invalidation``: an archive is re-read only when its
  ``os.stat`` key ``(st_mtime_ns, st_size, st_ino)`` changed since the
  last read; a zip that really changes (a re-added py-file) is still
  re-read, and an archive that cannot be stat-ed takes the original path.
- ``gc.freeze()`` after pre-importing ``pyarrow``: the ``gc.collect()``
  that the daemon's workers run after each task skips the module objects
  every worker shares, and collections no longer touch (and so copy)
  the pages the fork shares.

All socket, fork and task handling stays in ``pyspark.daemon.manager``.

Local masters only: the daemon runs on the driver's host there, so the
driver can put this package on the daemon's path. On a cluster the
executors may not have the package installed, and Spark's own daemon is
the safe default.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport


def install_lazy_zip_invalidation() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its stat key changed since the last read. Returns False, and changes
    nothing, on Python 3.12+ where the method is already lazy."""
    if sys.version_info >= (3, 12):
        return False
    original = zipimport.zipimporter.invalidate_caches
    if hasattr(original, "__wrapped__"):
        return True
    # archive path -> stat key at its last read; one dict for all the
    # importers over the same archive, like _zip_directory_cache
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            original(self)
            return
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        # the key is taken before the read: a write racing with it shows
        # up as a changed key next time, never as a stale directory
        original(self)
        read_at[self.archive] = key

    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    from pyspark import daemon  # imports pyspark.worker

    import pyarrow  # noqa: F401 - shared by every forked worker

    if install_lazy_zip_invalidation():
        # one read per archive here, before the fork, so that a worker's
        # first task already finds every stat key recorded
        importlib.invalidate_caches()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
