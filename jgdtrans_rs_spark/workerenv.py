"""Python-worker environment fix: mtime-guard zipimport cache
invalidation (CPython 3.11).

Why this exists — measured on this Spark 4.1 / CPython 3.11 build
(OPTIMIZATION_r06.md "Arrow channel" section): every Spark Python task
costs ~165 ms of pure worker CPU even for an identity pandas_udf over
ONE row.  cProfile over the live workers attributes ~78% of
``pyspark.worker.main`` to ``worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()`` once per TASK, and on CPython
3.11 ``zipimporter.invalidate_caches()`` re-reads the ENTIRE zip
central directory unconditionally — 16 zip importers on the worker's
sys.path (pyspark.zip, py4j, ...) re-parsed per task, ~60 M profiled
function calls per 47 tasks.

CPython 3.12+ guards that re-read with an archive mtime check
(python/cpython#87382); this module applies the same guard on 3.11:
``invalidate_caches`` becomes a no-op while the archive's
(mtime_ns, size) is unchanged, and falls through to the original
re-read the moment the file actually changes — so late
``sc.addPyFile`` zips and genuinely rewritten archives are still
picked up, which is the documented purpose of the call.

Activation: importing this package applies the patch (see
``__init__``).  Spark workers unpickle the kernel UDFs -> import this
package -> the patch lands once per (reused) worker process; every
subsequent task on that worker skips the re-parse.  The driver
process is patched too, with the same semantics.  On 3.12+ this is a
no-op (the interpreter already guards).

Off switch: ``SPARK_GRAFT_ZIPGUARD=0`` in the environment of a process
(driver or worker) makes the package import leave ``zipimport``
untouched there; any other value, or none, applies the guard.  Each
process that installs the guard logs it once, at INFO, on the
``jgdtrans_rs_spark.workerenv`` logger.
"""

from __future__ import annotations

import logging
import os
import sys
import zipimport

_log = logging.getLogger(__name__)
_KEY_ATTR = "_jgdtrans_zip_stat_key"
_FLAG_ATTR = "_jgdtrans_mtime_guarded"


def patch_zipimport_invalidate_caches() -> bool:
    """Apply the 3.12-style mtime guard to 3.11's zipimporter.
    Idempotent; returns True when the guard is (already) in place,
    False on interpreters that do not need it."""
    if sys.version_info >= (3, 12):
        return False
    zi = zipimport.zipimporter
    if getattr(zi, _FLAG_ATTR, False):
        return True
    orig = zi.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            # archive vanished — let the original record that state
            return orig(self)
        if getattr(self, _KEY_ATTR, None) == key:
            return None
        result = orig(self)
        setattr(self, _KEY_ATTR, key)
        return result

    invalidate_caches.__doc__ = orig.__doc__
    zi.invalidate_caches = invalidate_caches
    setattr(zi, _FLAG_ATTR, True)
    _log.info("zipimport mtime guard applied (pid %d); "
              "SPARK_GRAFT_ZIPGUARD=0 disables it", os.getpid())
    return True
