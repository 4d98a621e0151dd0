"""Pay Python worker boot once per worker process, not once per task.

Every ``mapInPandas`` / ``applyInPandas`` / ``pandas_udf`` task starts by
running pyspark's ``setup_spark_files``, which calls
``importlib.invalidate_caches()`` so that files shipped with
``addPyFile`` / ``--py-files`` become importable.  On Python 3.11 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole directory.  A worker holds about 16 of them (one per
imported subpackage of ``pyspark.zip``, plus the py4j zip and the
spark-core jar).  Measured on 4 cores: one ``invalidate_caches()`` over
14 such importers took ~150 ms, and 0.2 ms once unchanged archives are
skipped; an identity ``mapInPandas`` invocation at ``local[4]`` fell
from 234-298 ms to 79-85 ms.

``install()`` wraps ``zipimporter.invalidate_caches`` so an archive is
re-read only when its ``(st_mtime_ns, st_size)`` differs from the read
this wrapper last stamped in this process.  An unchanged archive's
importers are pointed at the shared ``_zip_directory_cache`` entry.  A
changed archive goes to the original method, so a zip rewritten in
place (an ``addPyFile`` re-ship) is still picked up; so does one that
is missing or cannot be stat'ed, which empties its importer as
before.  The package ``__init__`` calls ``install()`` on a worker;
worker reuse keeps the wrapper for every later task in that process,
so only the process's first task and one stamped read per archive in
its second pay the full cost.
"""

from __future__ import annotations

import functools
import os
import zipimport


def _stamp(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


def installed() -> bool:
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; idempotent.  The next
    call per archive (the following task's ``setup_spark_files``) does
    one stamped read; later calls skip the archive while it is
    unchanged."""
    if installed():
        return
    original = zipimport.zipimporter.invalidate_caches
    # archive -> (stamp taken before the read, the directory it produced)
    reads: dict[str, tuple[tuple[int, int], dict]] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            stamp = _stamp(self.archive)
        except OSError:
            return original(self)
        files = zipimport._zip_directory_cache.get(self.archive)
        seen = reads.get(self.archive)
        if seen is not None and seen[0] == stamp and seen[1] is files:
            self._files = files
            return
        original(self)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None:
            reads[self.archive] = (stamp, files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
