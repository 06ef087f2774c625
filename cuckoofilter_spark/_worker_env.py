"""Per-process fix for the fixed per-task cost of a PySpark Python worker.

Each task's ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Before CPython 3.12 (gh-103200),
``zipimporter.invalidate_caches`` eagerly re-reads the archive's central
directory, so every task re-reads ``pyspark.zip`` once per zipimporter
cached for it (~0.26 s of worker CPU per task on a 4-vCPU host). Importing
this module swaps in a version that re-reads only when the archive's
``(st_mtime_ns, st_size, st_ino)`` changed since that importer last read
it, so a replaced ``--py-files`` zip is still re-read. Every UDF closure of
the package unpickles through the package, so reused workers get the fix
from their second task on.
"""

import os
import zipimport

_eager_invalidate = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _stamped_invalidate_caches(self):
    """Reload the file data of the archive path if the archive changed."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_dir_stamp", None):
        self._dir_stamp = stamp  # taken before the read: a racing write re-reads
        _eager_invalidate(self)


# Only the eager implementation calls _read_directory: the lazy one (3.12+)
# and an already installed fix do not, so a second import is a no-op.
_code = getattr(_eager_invalidate, "__code__", None)
if _code is not None and "_read_directory" in _code.co_names:
    zipimport.zipimporter.invalidate_caches = _stamped_invalidate_caches
