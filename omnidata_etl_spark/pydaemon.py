"""Python worker daemon for sessions built by ``session.get_session``.

Spark starts ``python -m <spark.python.daemon.module> pyspark.worker`` once
and forks every Python worker from it. Each task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and on Python 3.11 ``zipimporter.invalidate_caches`` re-reads the archive's
whole central directory. Workers import pyspark from the 3.5 MB
``pyspark.zip`` through 14-16 zipimporters, so under the stock daemon every
task parses the same unchanged zip 14-16 times (~65 ms). The guard below re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the last time that importer
read it; forked workers inherit it. Then the stock ``pyspark.daemon`` runs.
"""

import os
import runpy
import zipimport

_read = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _read(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    # the package module's copy, so the guard's __module__ names the engine
    from omnidata_etl_spark.pydaemon import invalidate_if_changed as _guard

    zipimport.zipimporter.invalidate_caches = _guard
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
