"""Keep ``importlib.invalidate_caches()`` from re-reading zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, so that pyFiles and files newly added to the SparkFiles
directory are found. Before CPython 3.13, each cached
``zipimport.zipimporter`` answers that call by re-reading its archive's
whole central directory in pure Python. A reused worker caches about 16
of them (the spark-core jar, py4j, ``pyspark.zip`` and their package
directories), which costs 0.2-0.4 s per task on 4 cores before the UDF
is even called.

The hook below is a meta-path finder that finds nothing. Its
``invalidate_caches`` runs before PathFinder's and drops the zip finders
from ``sys.path_importer_cache``, so PathFinder has none left to
re-read. The next import that needs an archive builds a fresh finder
from zipimport's directory cache; the archives on a worker's path do not
change while it runs. FileFinders are left alone and still refresh.
"""

from __future__ import annotations

import sys
import zipimport


class _DropZipFinders:
    @staticmethod
    def find_spec(fullname, path=None, target=None):
        return None

    @staticmethod
    def invalidate_caches():
        cache = sys.path_importer_cache
        for entry, finder in list(cache.items()):
            if isinstance(finder, zipimport.zipimporter):
                cache.pop(entry, None)


def install() -> None:
    """Put the hook at the front of ``sys.meta_path`` once per process,
    also when this module is imported afresh."""
    if not any(type(f).__module__ == __name__ for f in sys.meta_path):
        sys.meta_path.insert(0, _DropZipFinders())
