"""sprintz_spark — a PySpark-native time-series rollup, downsample, and
retention engine whose compression core re-implements the Sprintz pipeline
(FIRE online forecasting, delta/zigzag encoding, bit-packed 8-sample block
codes with zero-block RLE — reference: dblalock/sprintz, arXiv:1808.02515)
alongside Gorilla XOR float encoding and delta-of-delta timestamp
compression, all as vectorized numpy kernels driven from Arrow-batched
pandas UDFs over Spark DataFrames.

Design notes (Spark-first, not a port):
  * All relational work (windows, rollups, joins, gap-fill spines, salting,
    partial+final aggregation) is plain DataFrame API so Catalyst handles
    pushdown/pruning/AQE.
  * Codec kernels live in ``sprintz_spark.codecs`` and are Spark-free pure
    numpy, unit-tested against the reference's own test input families
    (see /root/reference/cpp/Compress/test/compress_testing.hpp semantics).
  * Per-series sequential state (delta carry, FIRE coefficients) is confined
    inside ``applyInPandas`` groups, never across Spark rows.
"""

__version__ = "0.1.0"


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that are unchanged.

    Before every task a PySpark worker calls ``importlib.invalidate_caches()``
    (``worker_util.setup_spark_files``). On CPython < 3.13 each zipimporter
    then re-reads its whole archive directory, and a warm worker holds one
    importer per package prefix of ``pyspark.zip`` (1.3k entries), so that
    call alone cost 0.25-0.43 s of every Python-UDF task (4 vCPUs, Python
    3.11). CPython 3.13 made the call lazy, so the fix is installed only
    below it. An archive whose ``(st_mtime_ns, st_size, st_ino)`` matches
    the stamp taken when its directory was last read keeps that directory;
    a changed or missing archive goes through the original method. Workers
    import this package when they unpickle any engine UDF, so the fix holds
    from a worker's second task on."""
    import os
    import sys
    import zipimport

    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    stamps = {}  # archive -> stamp when its directory was last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamps.get(self.archive) == stamp and files:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rereads()
