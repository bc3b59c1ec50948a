"""Lazy zip-archive cache invalidation for Spark Python workers.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task, reused worker or not
(``pyspark/worker_util.setup_spark_files``). On CPython 3.10 and 3.11
``zipimport.zipimporter.invalidate_caches`` eagerly re-reads the whole
central directory of its archive, and Spark puts ``pyspark.zip`` and the
``spark-core`` jar on the worker's ``sys.path``, under 16 importers: one
call re-parses ~27k zip entries, 0.13-0.25 s of every task on a 4-core
x86 box, which dwarfs the decode of a one-block point read. CPython 3.12
made that invalidation lazy: the cached directory is dropped and read
again at the archive's next lookup. :func:`lazy_zip_invalidation`
installs the same behaviour on 3.10/3.11.

Stdlib only, and shipped to executors by value with the codec
(codec/spark_ops._ship_codec_by_value).
"""

from __future__ import annotations


def lazy_zip_invalidation() -> None:
    """Give ``zipimport.zipimporter`` CPython 3.12's lazy invalidation:
    ``invalidate_caches`` drops the archive's entry from
    ``zipimport._zip_directory_cache``, and ``_files`` reads through that
    cache, re-reading the archive on a miss (``{}`` if it is no longer a
    zip file). An archive changed or added after an invalidation is read
    again at its next lookup instead of at every invalidation.

    Once per process and idempotent; a no-op on 3.12+, which behaves this
    way already, and before 3.10, whose zip importers are never
    invalidated. Call it first thing in a Python-worker task: only the
    first task on a fresh worker then pays the eager re-read."""
    import sys

    if not (3, 10) <= sys.version_info[:2] < (3, 12):
        return
    import zipimport

    cls = zipimport.zipimporter
    if isinstance(cls.__dict__.get("_files"), property):
        return

    def get_files(self):
        try:
            return zipimport._zip_directory_cache[self.archive]
        except KeyError:
            pass
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files

    def set_files(self, files):
        # only __init__ assigns _files, right after caching them
        pass

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    cls._files = property(get_files, set_files)
    cls.invalidate_caches = invalidate_caches
