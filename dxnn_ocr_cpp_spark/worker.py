"""Per-task fixed cost of a PySpark Python worker.

Every task's `pyspark.worker_util.setup_spark_files` ends in
`importlib.invalidate_caches()`. On CPython 3.11 that makes each
`zipimporter` in `sys.path_importer_cache` re-read its archive's central
directory: ~14 importers over pyspark.zip (1,328 entries), 60-117 ms of
every task on a 4-vCPU box.

`install()` gives `zipimporter.invalidate_caches` an `os.stat` memo kept
on each importer, because each one holds its own `_files` table. The
stock re-read runs unless this importer already read the archive at the
same `(st_size, st_mtime_ns, st_ino)`, so a new or rewritten
`addPyFile`/`--py-files` zip is re-read as before, a zip whose `stat`
fails gets the stock result, and every other finder is untouched. Like
importlib's own directory cache, it trusts mtime: an in-place rewrite to
the same size within one filesystem timestamp tick goes unseen. The
package installs it on import inside a Python worker only
(`dxnn_ocr_cpp_spark/__init__.py`); the driver stays stock.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_size, st.st_mtime_ns, st.st_ino)
    except OSError:
        key = None
    # stat before the read: bytes that change after it differ next time
    if key is None or key != getattr(self, "_read_stat", None):
        _stock(self)
        self._read_stat = key


def installed() -> bool:
    return getattr(zipimport.zipimporter, "invalidate_caches", None) is _invalidate_caches


def install() -> bool:
    """Patch `zipimporter.invalidate_caches` (idempotent); True when patched."""
    if installed():
        return True
    if _stock is None:
        print("dxnn_ocr_cpp_spark.worker: zipimporter.invalidate_caches "
              "missing; worker imports left stock", file=sys.stderr)
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
