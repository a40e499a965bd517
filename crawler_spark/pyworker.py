"""Python worker daemon entry for sessions built by ``session.get_spark``.

Spark forks every Python worker (``pandas_udf``, ``mapInArrow``,
``applyInPandas``) from one daemon process per executor, started as
``python -m <spark.python.daemon.module>``. At the start of EVERY task
the worker runs ``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Before CPython 3.13 that call makes
each cached ``zipimport.zipimporter`` eagerly re-parse its archive's
whole central directory — about 16 importers over the 1,328-entry
``pyspark.zip``, 140-290 ms per task on a 4-core Python 3.11 box, while
a typical UDF body here takes 1-50 ms.

Importing this module replaces ``zipimporter.invalidate_caches`` with a
stat-checked version: an archive's directory is re-read only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the file its cached
directory was read from, or when the archive is not cached at all;
otherwise the importer keeps the cached directory. An archive that did
change on disk is re-read, and a vanished one is dropped, exactly as the
stock method does. CPython 3.13 made the stock method lazy (it only
drops the cache entry), so there nothing is replaced. Path-finder
(``FileFinder``) invalidation is untouched.

Run as a module, it then hands over to ``pyspark.daemon.manager()``;
forked workers inherit the replaced method.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path → stat signature of the file its cached directory was read from
_signatures: dict[str, tuple[int, int, int]] = {}


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_caches(self) -> None:
    """Stat-checked ``zipimporter.invalidate_caches`` (see module doc)."""
    archive = self.archive
    # stat BEFORE any read: a rewrite racing the read leaves an old
    # signature beside new data, which only costs one extra re-read
    sig = _signature(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if sig is not None and cached is not None and _signatures.get(archive) == sig:
        self._files = cached
        return
    _stock_invalidate_caches(self)
    if sig is not None and archive in zipimport._zip_directory_cache:
        _signatures[archive] = sig
    else:
        _signatures.pop(archive, None)


if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # pyspark.daemon picks the worker module from sys.argv at import
    from pyspark.daemon import manager

    manager()
