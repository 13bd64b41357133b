"""Re-read a zip archive on import-cache invalidation only if it changed.

Spark's Python worker calls `importlib.invalidate_caches()` before every
task (pyspark/worker_util.py::setup_spark_files). On CPython 3.10 to
3.12.1 that makes every `zipimporter` in `sys.path_importer_cache`
re-parse its whole archive directory in pure Python, and a worker holds
about 16 importers on pyspark.zip (1,328 entries), one per imported
subpackage: ~0.1 s of CPU per task before any UDF code runs. Installed
in a worker, the wrapper below skips the re-read while the archive's
(st_mtime_ns, st_size) is what that importer last read. Both behaviours
Spark relies on are kept: a zip added with `addPyFile` gets a new
importer (which reads it on construction), and a re-shipped zip has a
new stamp, so it is re-read. On an interpreter whose invalidation is
already lazy (3.13+), skipping it for an unchanged archive is a no-op.
"""

from __future__ import annotations

import os
import zipimport

_ORIGINAL = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _ORIGINAL(self)
        self._read_stamp = stamp


def install() -> bool:
    """Wrap `zipimporter.invalidate_caches` inside a Python worker (a
    task context is set); elsewhere leave it alone. Returns whether the
    wrapper is in place."""
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return active()


def active() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_if_changed


def uninstall() -> None:
    zipimport.zipimporter.invalidate_caches = _ORIGINAL


install()
