"""minhashsketch_spark — a from-scratch PySpark-native near-duplicate
detection + clustering engine with the query/data-processing capabilities of
daren996/MinhashSketch (reference, read-only, at /root/reference).

Layout:
  core/       pure-NumPy parity kernels (RNG, SpookyHash, k-mer packing,
              sketches, similarity) — no Spark imports
  operators/  DataFrame-level stages (signatures, LSH, verification,
              connected components, dedup, text analysis, similarity search)
  sources/    IO (iceberg-with-parquet-fallback), synthetic corpus generator
  pipeline.py end-to-end near-dup pipeline with checkpoint/resume + metrics

Importing the package makes zip archives on the import path re-read only
when they change (``_install_zip_stat_guard``), in the driver and in every
Python worker that unpickles a package function.
"""

__version__ = "0.1.0"


def _install_zip_stat_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive's (mtime, size) changed since that importer last
    read it.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task; before CPython 3.13 that eagerly re-reads the directory of every
    zip on the worker's path (pyspark.zip, py4j, the spark-core jar), 0.1-
    0.25 s a task. A worker imports this package when it unpickles a
    package function, so from its next task on the call costs one ``stat``
    per importer. An archive rewritten in place (``addPyFile``) changes its
    stat and is still re-read. 3.13 already makes the call lazy."""
    import os
    import sys
    import zipimport

    orig = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(orig, "stat_guarded", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return orig(self)
        stamp = (st.st_mtime_ns, st.st_size)
        if getattr(self, "_read_stamp", None) != stamp:
            orig(self)
            self._read_stamp = stamp

    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_stat_guard()
