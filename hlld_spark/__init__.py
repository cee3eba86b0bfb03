import sys

if sys.version_info < (3, 12):
    import os
    import zipimport

    # A reused PySpark worker calls importlib.invalidate_caches() before
    # every task; before 3.12 that re-parses every zip directory on the
    # path at once (~12 zipimporters over pyspark.zip, 1328 entries, and
    # the spark-core jar, 5359): 0.16-0.32 s per task, measured. Re-read
    # only an archive whose (inode, size, mtime) changed since this
    # importer's last read, or that cannot be stat'ed (FileFinder's rule).
    _reread_directory = zipimport.zipimporter.invalidate_caches

    def _invalidate_if_changed(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            sig = None
        if sig is None or sig != getattr(self, "_archive_sig", None):
            _reread_directory(self)
            self._archive_sig = sig

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
