"""Re-read a zip importer's directory only when its archive has changed.

pyspark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``). On CPython 3.11 each
``zipimport.zipimporter.invalidate_caches()`` eagerly re-reads the whole
directory of its archive, and a reused worker holds one importer per package
directory imported from ``pyspark.zip`` (1,328 entries, never rewritten): about
0.25 core-seconds per task before it touches a row. ``install`` keeps, per
importer, a stamp of the archive's ``(st_ino, st_size, st_mtime_ns)`` and calls
the original re-read only when there is no stamp or the stamp differs -- the
contract that later CPython releases give by making the re-read lazy.
"""

import os
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; a second call is a no-op."""
    original = zipimport.zipimporter.invalidate_caches
    if original.__module__ == __name__:
        return

    def invalidate_caches(self):
        # stat before the read, so a write racing the read re-reads next time
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            original(self)
            self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
