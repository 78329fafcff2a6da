"""Keep PySpark workers from re-reading their zip archives on every task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``worker_util.setup_spark_files``). Before Python 3.13,
``zipimport.zipimporter.invalidate_caches`` eagerly re-parses the archive's
central directory, and ``sys.path_importer_cache`` holds one zipimporter per
package path inside ``pyspark.zip`` (1,328 entries, 16 importers in a worker
that has run a pandas UDF). So each task re-parses the same unchanged
directory 16 times, about 0.3 s of CPU before it reads a row. Python 3.13
made the invalidation lazy (gh-103200).

``install`` replaces that method with one that re-reads an archive only when
its ``(st_mtime_ns, st_size)`` differs from the last read, so a file that
``SparkContext.addPyFile`` ships again, or a new one, is still re-read. The
module installs it on import, only inside a PySpark worker
(``PYTHON_WORKER_FACTORY_SECRET`` is set there) and only before 3.13;
``spatial/__init__.py`` imports it first, so a reused worker pays the re-read
once, when it unpickles its first engine UDF, instead of on every task.
"""

import functools
import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only changed archives.

    Idempotent: a second call leaves the one wrapper in place. The archives
    already cached are stamped as read now; in a worker this runs while the
    task unpickles its UDF, after ``setup_spark_files`` re-read every archive
    on the path, so the cache matches the files it stamps.
    """
    original = zipimport.zipimporter.invalidate_caches
    if hasattr(original, "__wrapped__"):
        return
    cache = zipimport._zip_directory_cache
    read_at: dict[str, tuple[int, int]] = {}
    for archive in list(cache):
        try:
            read_at[archive] = _stamp(archive)
        except OSError:
            pass

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            stamp = _stamp(self.archive)
        except OSError:
            return original(self)
        files = cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        original(self)
        read_at[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if "PYTHON_WORKER_FACTORY_SECRET" in os.environ and sys.version_info < (3, 13):
    install()
