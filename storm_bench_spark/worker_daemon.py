"""The engine's Python worker daemon: ``pyspark.daemon`` with a per-task
import-cache reset that leaves zip archives alone.

Every Python task runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) so that ``.py`` files added
with ``addPyFile`` become importable. Under CPython 3.11 each cached
``zipimporter`` then re-reads its archive's directory; the workers
import pyspark from Spark's ``pyspark.zip`` (1,328 entries), so that
reset costs about a quarter of a CPU second per task (4 vCPU box). The
zips on a worker's path are Spark's own ``pyspark``/``py4j`` archives
and ``addPyFile`` zips, which Spark does not let a running application
replace, so the reset here skips them and still resets directory and
meta-path finders.

It is a daemon (``spark.python.daemon.module``), not a worker module,
because ``pyspark.daemon`` honours ``spark.python.worker.module`` only
for names that start with ``pyspark``. The forked workers inherit the
patched ``pyspark.worker_util``.
"""

from __future__ import annotations

import importlib
import sys
import zipimport


def invalidate_caches_keep_zips() -> None:
    """``importlib.invalidate_caches()`` minus the zip importers: they
    are taken out of ``sys.path_importer_cache`` for the reset and put
    back as the same objects, with their directory caches intact."""
    cache = sys.path_importer_cache
    zips = {k: f for k, f in cache.items() if isinstance(f, zipimport.zipimporter)}
    for k in zips:
        del cache[k]
    try:
        importlib.invalidate_caches()
    finally:
        cache.update(zips)


class _Importlib:
    """``importlib`` as ``pyspark.worker_util`` sees it."""

    invalidate_caches = staticmethod(invalidate_caches_keep_zips)

    def __getattr__(self, name: str):
        return getattr(importlib, name)


if __name__ == "__main__":
    import pyspark.worker_util
    from pyspark import daemon

    pyspark.worker_util.importlib = _Importlib()
    daemon.manager()
