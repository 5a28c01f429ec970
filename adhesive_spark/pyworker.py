"""Python worker daemon: PySpark's stock daemon minus the per-task re-read
of Spark's own zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``) so that zips shipped
with ``addPyFile`` become importable.  Under CPython 3.11 that makes every
``zipimporter`` re-read its whole archive directory: ``pyspark.zip``, the
py4j zip and the spark-core jar, about 0.15-0.2 s per task.  Those archives
sit on ``sys.path`` when the daemon starts and never change while it lives,
so their importers skip the re-read; every other finder, including zips
added per task, is invalidated as before.

``build_spark`` makes this the ``spark.python.daemon.module`` for local
masters.  Run as ``python -m adhesive_spark.pyworker pyspark.worker``.
"""

from __future__ import annotations

import sys
import zipimport

_invalidate = zipimport.zipimporter.invalidate_caches


def freeze_archives(paths: list[str]) -> frozenset[str]:
    """Stop ``invalidate_caches`` from re-reading the ``.zip``/``.jar``
    archives among ``paths``; returns the archives it froze."""
    frozen = frozenset(p for p in paths if p.endswith((".zip", ".jar")))

    def invalidate_caches(self):
        if self.archive not in frozen:
            _invalidate(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return frozen


if __name__ == "__main__":
    freeze_archives(sys.path)
    from pyspark.daemon import manager

    manager()
