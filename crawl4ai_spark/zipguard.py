"""Stat-guarded zip-import cache for the engine's Spark Python workers.

Every Python task starts in pyspark's ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython 3.11 that makes
each ``zipimporter`` in ``sys.path_importer_cache`` re-read its whole
archive directory (pyspark.zip, the py4j zip, any ``--py-files`` zip):
about a quarter of a second per task before its first row.

``install()`` runs once at package import. Inside a Spark task (a worker
unpickling an engine UDF) it wraps ``zipimporter.invalidate_caches`` so an
importer re-reads only when its archive's ``(st_mtime_ns, st_size)``
differs from the stamp taken before its last re-read, or when ``stat``
fails. A rewritten archive (an ``addPyFile`` zip replaced mid-session) is
still re-read. On the driver ``TaskContext.get()`` is None and nothing is
touched.
"""

import os
import sys
import zipimport

_STAMP = "_crawl4ai_spark_stamp"


def _stat_guarded(reread):
    """Wrap ``zipimporter.invalidate_caches`` (``reread``) with a stat check."""

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        # stat before the re-read: a change racing the read shows next time
        if stamp is None or stamp != getattr(self, _STAMP, None):
            setattr(self, _STAMP, stamp)
            reread(self)

    return invalidate_caches


def installed() -> bool:
    """True when this process's zipimporters carry the stat guard."""
    return zipimport.zipimporter.invalidate_caches.__module__ == __name__


def install() -> None:
    """Install the guard if this process is running a Spark task."""
    # a process that never imported pyspark is not a Spark worker
    tc = sys.modules.get("pyspark.taskcontext")
    if tc is None or tc.TaskContext.get() is None or installed():
        return
    zipimport.zipimporter.invalidate_caches = _stat_guarded(
        zipimport.zipimporter.invalidate_caches
    )


def report(batches):
    """``mapInPandas`` probe: one ``guarded boolean`` row per partition."""
    import pandas as pd

    for _ in batches:
        pass
    yield pd.DataFrame({"guarded": [installed()]})
