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

    def _archive_signature(archive: str):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return (st.st_ino, st.st_size, st.st_mtime_ns)

    def _invalidate_if_changed(self):
        sig = _archive_signature(self.archive)
        if sig is None or sig != getattr(self, "_archive_sig", None):
            _reread_directory(self)
            self._archive_sig = sig

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

    # In a PySpark worker this package is first imported by a task whose
    # setup (setup_spark_files' invalidate_caches) has just re-read every
    # zip directory on the path: record those reads, so the worker's next
    # task re-reads none.
    for _importer in list(sys.path_importer_cache.values()):
        if isinstance(_importer, zipimport.zipimporter):
            _importer._archive_sig = _archive_signature(_importer.archive)
