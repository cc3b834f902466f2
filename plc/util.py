"""Deployment helpers: ship the plc package to executors, and keep the
executor Python workers' per-task set-up cheap.

On a real cluster the job is launched ``spark-submit --py-files plc.zip``
(BASELINE.json north_star); for interactive sessions and notebooks,
:func:`ensure_shipped` builds that zip on the fly and registers it with
``SparkContext.addPyFile`` so executor Python workers can unpickle the
mapInArrow closures. Idempotent per SparkContext.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
import zipimport

_shipped: set[str] = set()


def ensure_shipped(spark) -> None:
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _shipped:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # plc was itself imported from a --py-files zip (spark-submit):
        # the archive is already on every executor's python path; trying
        # to re-zip from inside the archive would raise NotADirectoryError
        _shipped.add(app_id)
        return
    zpath = os.path.join(tempfile.gettempdir(), f"plc-pyfiles-{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for fn in sorted(os.listdir(pkg_dir)):
                if fn.endswith(".py"):
                    z.write(os.path.join(pkg_dir, fn), arcname=f"plc/{fn}")
    sc.addPyFile(zpath)
    _shipped.add(app_id)


def stamp_check_zip_invalidation() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size)`` stamp changed since this importer last
    read it (or when ``stat`` fails). Returns False if already installed.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    Python task. Before CPython 3.13 that makes every zipimporter re-read
    its archive's whole central directory in pure Python: pyspark.zip
    under a dozen package paths, the spark-core jar, py4j and plc's own
    zip, about 0.2 CPU-s per task. CPython 3.13 made the method lazy; this
    gives older interpreters the same saving. An importer with no stamp
    yet (created before this call) re-reads once, then is stamped."""
    eager = zipimport.zipimporter.invalidate_caches
    if getattr(eager, "_plc_stamp_checked", False):
        return False

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_plc_stamp", None):
            # the stamp predates the read, so a rewrite during the read
            # shows as a changed stamp on the next call
            eager(self)
            self._plc_stamp = stamp

    invalidate_caches._plc_stamp_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
