"""PySpark daemon for the package's Python workers
(``spark.python.daemon.module``).

Every task a worker runs starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.10–3.12
``zipimporter.invalidate_caches`` re-reads its archive's whole directory
at once, and a worker holds one zipimporter per ``pyspark.zip``
subpackage it has imported (~16), so each task re-reads the 3.5 MB
archive ~16 times: most of the fixed per-task floor of a Python stage.
:func:`install` makes the re-read conditional on the archive's stat,
as CPython's ``FileFinder`` already does for directories; an archive
rewritten in place is still re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _archive_stat(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive only when its stat differs from the one taken
    before this importer's last re-read (stat first, so a write racing
    the read shows up as a change next time)."""
    try:
        stat = _archive_stat(self.archive)
    except OSError:
        self._archive_stat = None
        _reread(self)
        return
    if getattr(self, "_archive_stat", None) != stat:
        _reread(self)
        self._archive_stat = stat


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and seed the stat of every
    zipimporter that exists now, so a freshly forked worker's first task
    does not re-read the archives its parent already read."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            try:
                importer._archive_stat = _archive_stat(importer.archive)
            except OSError:
                pass


if __name__ == "__main__":
    from pyspark import daemon  # imports pyspark.worker: the importers to seed

    install()
    daemon.manager()
