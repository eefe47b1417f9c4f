"""Python worker daemon for local sessions (``spark.python.daemon.module``).

Every task calls ``importlib.invalidate_caches()`` in pyspark's
``setup_spark_files``; on CPython 3.11 each zipimporter then re-reads its
archive's central directory (pyspark.zip: 1,328 entries, ~16 importers).
Here a zipimporter re-reads only when its archive's (mtime, size) stamp
changed since its last read; a missing archive takes the stock path.
The daemon also freezes its startup objects before it forks workers.
Directory finders still invalidate on every task, so files shipped by
``addFile``/``addPyFile`` are seen as before. This module imports nothing
from the package; ``session.get_session`` sets it for ``local`` masters
only, because cluster executors do not have the package.
"""

import gc
import importlib
import os
import zipimport

_stock = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _stock(self)
        self._archive_stamp = stamp


# `python -m` runs this file as __main__; name the wrapper after its module
invalidate_caches.__module__ = __spec__.name
zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    import pyspark.daemon

    # stamp the daemon's importers once, so every forked worker inherits them
    importlib.invalidate_caches()
    # the pre-fork idiom of the gc docs: the gc.collect() a forked worker
    # runs after every task then skips the daemon's ~40k startup objects
    gc.freeze()
    pyspark.daemon.manager()
