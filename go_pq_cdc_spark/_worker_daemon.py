"""PySpark worker daemon that keeps zip-archive directory caches.

Before every task a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 each cached
``zipimport.zipimporter`` then re-reads its archive's whole central
directory: ``pyspark.zip`` and the py4j zip hold ~27k entries between
them, and the ~16 importers cached for them cost 0.25–0.35 s per task.
That is most of a one-task Python stage.

This module is the ``spark.python.daemon.module`` that ``session.get_spark``
sets. It wraps ``zipimporter.invalidate_caches`` so an archive is re-read
only when its ``(st_mtime_ns, st_size)`` changed since the last read, then
runs PySpark's own daemon. A changed archive is still re-read and a
directory added to ``sys.path`` is still found by its FileFinder, so the
stdlib semantics hold for one ``stat`` per importer per task. The wrapper
is installed and primed in the daemon before it forks, so every worker
inherits the recorded signatures.

The daemon must be importable by the workers (``get_spark`` in local mode
puts the package root on their ``PYTHONPATH``), or every Python UDF fails
at worker start.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) stat'ed just before its last read
_read_at: dict[str, tuple[int, int]] = {}


def _signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory re-read
    of an archive unchanged since it was last read."""
    archive = self.archive
    sig = _signature(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if sig is not None and cached is not None and _read_at.get(archive) == sig:
        self._files = cached
        return
    _STDLIB_INVALIDATE(self)
    # stat'ed before the read: a rewrite racing the read leaves a stale
    # signature, so the next call reads again rather than keep old entries
    if sig is not None and archive in zipimport._zip_directory_cache:
        _read_at[archive] = sig
    else:
        _read_at.pop(archive, None)


def install() -> None:
    """Install the wrapper (idempotent) and prime it: one read per
    archive now, none per task while the archive is unchanged."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


def main() -> None:
    install()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # Run under ``python -m``, this file is ``__main__``; go through the
    # package module so the installed wrapper names it.
    from go_pq_cdc_spark._worker_daemon import main as _main

    _main()
