"""Keep ``importlib.invalidate_caches()`` from re-reading unchanged zip archives.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11
and 3.12 that makes each ``zipimporter`` in ``sys.path_importer_cache``
re-read its archive's whole central directory, eagerly. A Spark worker
imports pyspark from ``pyspark.zip`` and also has the ``spark-core`` jar on
its ``PYTHONPATH``, and it holds one importer per package directory it has
imported from: 13 over ``pyspark.zip`` (1,328 entries each) and 4 over the
jar (5,359 each) after a trivial task, ~39k entries re-read per task. That
is ~0.3 s of worker CPU per task, where the task itself takes milliseconds.

``install()`` replaces ``zipimporter.invalidate_caches`` with one that
re-reads an archive only when its size or mtime differs from the last
re-read, and otherwise reuses the directory already cached for that archive
(``zipimport._zip_directory_cache``, shared by all importers of one file).
A changed archive is re-read exactly as before.

Loaded by file path from ``_pbshim_path/sitecustomize.py`` at worker
interpreter startup, so it imports nothing from ``gridmr_spark``.
"""

from __future__ import annotations

import os
import zipimport


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches``; True if it is patched.
    Idempotent; a no-op on an interpreter without the module-level
    directory cache this relies on."""
    cache = getattr(zipimport, "_zip_directory_cache", None)
    original = zipimport.zipimporter.invalidate_caches
    if not isinstance(cache, dict):
        return False
    if getattr(original, "_stat_checked", False):
        return True
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is not None and stamps.get(self.archive) == stamp and self.archive in cache:
            self._files = cache[self.archive]
            return
        original(self)
        if stamp is None:
            stamps.pop(self.archive, None)
        else:
            stamps[self.archive] = stamp

    invalidate_caches.__doc__ = original.__doc__
    invalidate_caches._stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
