"""Worker preload for the pyspark worker daemon.

Placed on PYTHONPATH for the Spark session (jobs do this via
pipeline.enable_worker_preload), this runs once in the pyspark.daemon
process and every forked worker inherits what it did:

- numpy/pandas/pyarrow are imported copy-on-write, eliminating the ~2s
  import that every fresh worker otherwise pays on its first task (2N
  core-seconds of pure import overhead per job at N workers);
- on Python < 3.12, `zipimport.zipimporter.invalidate_caches` re-reads
  an archive's central directory only when the archive's
  (st_ino, st_size, st_mtime_ns) changed. pyspark calls
  `importlib.invalidate_caches()` at the start of every task
  (worker_util.setup_spark_files), and 3.11's zipimporter re-parses the
  whole directory on each call: ~0.2-0.3 s of CPU per task on Spark's
  core jar and pyspark.zip, which never change while a job runs. A zip
  that does change is still re-read. CPython 3.12 made that re-read
  lazy, so the method is left alone there.
"""
import os
import sys


def _stat_gated_invalidate_caches() -> None:
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    seen: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        if key is None or seen.get(self.archive) != key:
            original(self)
            seen[self.archive] = key
            return
        # Several importers can share one archive: adopt the directory
        # another importer already re-read rather than parse it again.
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None:
            self._files = files

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if os.environ.get("TTDP_PRELOAD", "1") == "1":
    try:
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import pyarrow.compute  # noqa: F401
    except Exception:
        pass
    if sys.version_info < (3, 12):
        _stat_gated_invalidate_caches()
