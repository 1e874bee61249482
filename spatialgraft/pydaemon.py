"""PySpark daemon whose workers do not re-read zip archives on every task.

Every Python task starts with `importlib.invalidate_caches()`
(`pyspark.worker_util.setup_spark_files`).  On CPython 3.11 that makes
each `zipimporter` re-parse its archive's whole central directory, and a
warm worker holds one importer per imported package directory of
pyspark.zip (1,328 entries).  On a 4-core box an identity `mapInArrow`
over a 1 MB Parquet file took 377 ms median with the stock daemon and
168 ms with this one.  Here an importer re-reads its archive only when
the archive's (st_mtime_ns, st_size) differs from its last read, so a
changed zip is still picked up.  `session.get_spark` starts the daemon with

    spark.python.daemon.module=spatialgraft.pydaemon
"""

from __future__ import annotations

import importlib
import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def _signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """zipimporter.invalidate_caches, skipped while the archive is
    unchanged since this importer last read it."""
    sig = _signature(self.archive)
    if sig is None or sig != getattr(self, "_archive_signature", None):
        _read_archive(self)
        self._archive_signature = sig


def main() -> None:
    # pyspark.daemon imports the worker module; priming after that import
    # covers the importers every forked worker inherits
    from pyspark.daemon import manager
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()
    manager()


if __name__ == "__main__":
    # Run through the package import, not this `__main__` copy, so that
    # the patched method's __module__ names spatialgraft.pydaemon.
    from spatialgraft.pydaemon import main as _main
    _main()
