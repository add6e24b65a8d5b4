"""PySpark worker daemon for local sessions: the stock daemon with a zip
directory cache that checks the archive before it re-reads it.

PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``pyspark/worker_util.py::setup_spark_files``). On Python 3.11 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory, in pure Python. Spark puts three
archives on the worker's ``sys.path`` (``pyspark.zip``, the py4j zip
and the ``spark-core`` jar, ~6.7k entries together), and one importer
is cached per archive and per package inside it: 16 re-reads, about
0.1-0.2 s, before each task's kernel starts.

:func:`checked_invalidate` wraps ``zipimporter.invalidate_caches`` so
each importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` has changed since that importer last read
it: an archive that changes on disk is re-read exactly as before.

``session.get_spark`` runs this module as ``spark.python.daemon.module``
for ``local[...]`` masters. It installs the wrapper, reads each archive
once, and then runs ``pyspark.daemon.manager()``: the workers that the
daemon forks inherit both the wrapper and the stat keys.
"""

from __future__ import annotations

import importlib
import os
import zipimport
from collections.abc import Callable


def checked_invalidate(reread: Callable[[zipimport.zipimporter], None]
                       ) -> Callable[[zipimport.zipimporter], None]:
    """A ``zipimporter.invalidate_caches`` that calls ``reread`` (the
    stock method) only when the importer's archive has changed on disk
    since its last re-read, keyed per ``(archive, prefix)``."""
    read_at: dict[tuple[str, str], tuple[int, int]] = {}

    def invalidate_caches(importer: zipimport.zipimporter) -> None:
        ident = (importer.archive, importer.prefix)
        try:
            st = os.stat(importer.archive)
        except OSError:
            read_at.pop(ident, None)
            reread(importer)
            return
        key = (st.st_mtime_ns, st.st_size)
        if read_at.get(ident) != key:
            # stat before the read: a write racing the read leaves the
            # old key, so the next call reads the archive again
            reread(importer)
            read_at[ident] = key

    return invalidate_caches


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = checked_invalidate(
        zipimport.zipimporter.invalidate_caches)
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
