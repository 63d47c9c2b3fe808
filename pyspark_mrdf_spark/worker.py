"""Python worker entry for engine sessions.

``get_spark`` sets ``spark.python.worker.module`` to this module, so the
Python daemon imports it and runs every Python task (each Arrow kernel,
and any UDF on the session) through ``pyspark.worker.main`` unchanged.
The one thing it adds is a cheaper ``zipimport.zipimporter.invalidate_caches``.

Every task's set-up (``pyspark.worker_util.setup_spark_files``) calls
``importlib.invalidate_caches()``. Before Python 3.13, a zipimporter
answers that by re-reading its archive's whole central directory, and a
warm worker holds one zipimporter per package it imported from
``pyspark.zip`` (16 of them, over a 1,328-entry directory): 0.16–0.22 s
of every task on a 4-core box, for an archive that never changes while
the worker lives. Here an importer re-reads its archive only when the
archive's (inode, size, mtime_ns) differs from what it was when *that
importer* last read it, so a rewritten archive is still picked up by
each of its importers.

``spark.python.worker.module=pyspark.worker`` on the session opts out.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only if the archive changed since
    this importer last read it (or it cannot be stat'ed)."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        _reread(self)
        self._read_stamp = stamp


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    # spark.python.use.daemon=false: Spark starts `python -m <module>`
    # for each worker, so run pyspark.worker's own entry block
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
else:
    from pyspark.worker import main  # noqa: F401  (the daemon calls <module>.main)
