"""raquet_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the RaQuet raster-in-Parquet format
(reference: CartoDB/raquet), plus large-scale training-data pipeline
operators (dedup, similarity search, multimodal columns, text analysis).

Everything is expressed Spark-first: declarative DataFrame/SQL plans,
Catalyst-optimizable quadbin Column expressions, Arrow-batched Pandas
UDFs only for binary pixel codecs.
"""

__version__ = "0.1.0"


def _cache_zip_directories() -> None:
    """Inside a PySpark worker on CPython < 3.13, make
    ``zipimport.zipimporter.invalidate_caches`` re-read an archive's
    central directory only when the archive changed on disk (inode,
    size, ``mtime_ns``), and let every importer of that archive share
    the one directory.

    Why: PySpark's per-task ``setup_spark_files`` calls
    ``importlib.invalidate_caches()``, and CPython 3.11's zipimport then
    re-reads the whole directory once per importer: 17 importers over 4
    archives in a worker (most on ``pyspark.zip``'s 1328 entries, the
    rest on py4j, the spark-core jar and this package's zip). Measured
    on a 4-CPU host: one ``invalidate_caches()`` in a worker took 207 ms
    of CPU (0.12 ms with this hook); a 1-task trivial pandas UDF on
    ``local[4]`` cost 0.25-0.27 cpu-s of worker CPU (0.04-0.05 with it);
    Python workers used 12-14 cpu-s of a ``perfbench`` convert pass
    (3.4-4.2 with it). CPython 3.13's ``invalidate_caches`` already only
    drops the cache.

    Runs at import of ``raquet_spark``; on the driver and on
    CPython >= 3.13 it does nothing. Idempotent. Standard library only.
    """
    import os
    import sys
    import zipimport

    if sys.version_info >= (3, 13):
        return
    files = sys.modules.get("pyspark.core.files")
    if files is None or not getattr(files.SparkFiles, "_is_running_on_worker", False):
        return
    if hasattr(zipimport.zipimporter.invalidate_caches, "stamps"):
        return
    # archive path -> (st_ino, st_size, st_mtime_ns) of its cached directory
    stamps: dict = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and stamps.get(self.archive) == stamp:
            self._files = cached
            return
        try:
            self._files = zipimport._read_directory(self.archive)
            zipimport._zip_directory_cache[self.archive] = self._files
            stamps[self.archive] = stamp
        except zipimport.ZipImportError:
            zipimport._zip_directory_cache.pop(self.archive, None)
            stamps.pop(self.archive, None)
            self._files = {}

    invalidate_caches.stamps = stamps
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_cache_zip_directories()
