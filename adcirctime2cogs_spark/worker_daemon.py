"""Python worker daemon: PySpark's daemon, with zip directories re-read
only when the archive changed.

Every Python task starts with `importlib.invalidate_caches()`. Before
CPython 3.13 that makes each `zipimporter` re-read its whole archive
directory; a worker holds over a dozen importers of `pyspark.zip`
(1,328 entries), so each task paid ~0.2 s of CPU before any work.
`install()` gives the 3.13 behaviour; `session.get_spark` names this
module as `spark.python.daemon.module`, so forked workers inherit it.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Re-read an importer's archive only when its (mtime, size) moved
    since that importer last read it; no-op on Python >= 3.13."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    import pyspark.daemon  # reads the worker module from sys.argv[1]

    pyspark.daemon.manager()
