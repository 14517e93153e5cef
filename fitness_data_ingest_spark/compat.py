"""Worker start-up shim.

``drop_archive_importers``: PySpark's ``worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()`` at the start of every Python
task and every data-source planner call. On Python 3.11 that makes
each ``zipimport.zipimporter`` cached in ``sys.path_importer_cache``
re-read its whole archive directory. A Spark worker caches about 16:
one per ``pyspark.zip`` package directory imported so far (1,328
entries, about 10 ms a re-read), one for the py4j zip, and two for
``spark-core_2.13-*.jar`` (5,359 entries, about 43 ms a re-read), which
Spark puts on every worker's ``PYTHONPATH`` although it holds no Python
module. Together that was about 0.24 s of CPU per call. The function
takes the jars off ``sys.path`` and evicts the cached zip importers.
Eviction is always safe: the next import that needs an archive path
rebuilds its importer from ``sys.path_hooks``, and ``zipimport``'s
module-level directory cache makes that rebuild cheap. It runs when
this package is imported (``__init__.py``), and every Python worker
that runs engine code imports the package first, because cloudpickle
pickles the data source, its reader and the UDF kernels by reference.
A reused worker then has no archive left for ``invalidate_caches()`` to
re-read, save those that later imports of new ``pyspark`` packages
cache again.
"""

from __future__ import annotations

import sys
import zipimport


def drop_archive_importers() -> None:
    """Take every ``.jar`` off ``sys.path`` and evict every cached
    ``zipimporter``, so ``importlib.invalidate_caches()`` has no archive
    directory to re-read."""
    sys.path[:] = [p for p in sys.path if not str(p).endswith(".jar")]
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]

