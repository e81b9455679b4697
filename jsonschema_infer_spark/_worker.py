"""Housekeeping for engine code that runs inside PySpark Python workers."""

from __future__ import annotations

import sys
import zipimport


def release_zip_finders() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``.

    PySpark 4.1 workers call ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``), and on CPython 3.11 each cached
    ``zipimporter`` re-parses its whole archive directory on that call. A
    worker holds ~16 of them (pyspark.zip once per package path, the py4j
    zip, the spark-core jar), which cost 0.16-0.26 s of CPU at the start of
    every task on a 4-CPU host. The cache is pure: ``PathFinder`` rebuilds
    an entry on the next import that needs it, and loaded modules keep
    their own ``__spec__.loader``, so dropping the entries changes no
    result. Engine task bodies call this last."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        cache.pop(path, None)
