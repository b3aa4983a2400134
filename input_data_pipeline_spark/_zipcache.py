"""Cheap zip-import cache invalidation for CPython < 3.12.

Before every task, ``pyspark.worker`` calls ``importlib.invalidate_caches()``.
On CPython < 3.12 that makes every ``zipimport.zipimporter`` on
``sys.path_importer_cache`` re-parse its whole archive directory in pure
Python. A Spark 4.1 Python worker holds 16 of them: 12 over ``pyspark.zip``
(1,328 entries), 2 over the spark-core jar (5,359 entries) and 2 over
py4j's zip, which cost 150-310 ms per task on a 4-core host. CPython 3.12
made the re-read lazy (gh-103200).

Importing this module (the package ``__init__`` does so first) replaces
``zipimporter.invalidate_caches`` with a version that re-reads an archive
only when its ``(st_mtime_ns, st_size)`` differs from the stamp taken when
the cached directory was last read. If ``os.stat`` fails it always
re-reads, so an archive that changes or disappears on disk is still seen.
Importers over the same archive share the one re-read directory, as
``zipimporter.__init__`` already shares ``_zip_directory_cache``.

Spark's Python workers unpickle references into this package, so every
reused worker picks this up from its second task on. On 3.12+ nothing is
changed.
"""

import os
import sys
import zipimport

if sys.version_info < (3, 12):
    # a re-import of the package (reload, sys.modules reset) must wrap the
    # stdlib method, not the previous copy of this one
    _reread = zipimport.zipimporter.invalidate_caches
    _reread = getattr(_reread, "__wrapped__", _reread)
    # archive path -> (stamp, directory dict read under that stamp)
    _read_at = {}

    def _stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def invalidate_caches(self):
        """Reload the archive directory if the archive changed on disk."""
        archive = self.archive
        stamp = _stamp(archive)
        seen = _read_at.get(archive)
        cached = zipimport._zip_directory_cache.get(archive)
        if seen is not None and seen[0] == stamp and seen[1] is cached:
            self._files = cached
            return
        _reread(self)
        if stamp is not None and \
                zipimport._zip_directory_cache.get(archive) is self._files:
            _read_at[archive] = (stamp, self._files)
        else:
            _read_at.pop(archive, None)

    invalidate_caches.__wrapped__ = _reread
    zipimport.zipimporter.invalidate_caches = invalidate_caches
