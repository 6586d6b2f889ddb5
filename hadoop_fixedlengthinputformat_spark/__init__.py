"""PySpark-native analytics engine with the capabilities of
bitsofinfo/hadoop-fixedlengthinputformat (MAPREDUCE-1176).

The reference (``/root/reference/fixedLengthInputFormat``) is a Hadoop
InputFormat/RecordReader pair for fixed-length binary records
(FixedLengthInputFormat.java:37-75).  This engine re-expresses that scan
layer as a Spark 4 Python Data Source (``sources.fixedlen``) and layers
the full relational / streaming / LLM-pipeline query surface on top of
stock DataFrame / Catalyst — see SURVEY.md §2.3 for the declared
capability contract.

Layout:
    sources/    fixed-length data source (batch + stream), fixture codecs
    operators/  relational operator query definitions (B-F families)
    functions/  scalar-function families, UDF surface, LLM-pipeline ops
    streaming/  Structured Streaming operators (H family)
    plans/      plan-inspection helpers (pushdown / broadcast assertions)
"""

import functools
import os
import zipimport

from hadoop_fixedlengthinputformat_spark.registry import QUERIES, ORACLES, query


def _install_zip_stat_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the archive changed.

    Every Spark Python worker call starts with
    ``worker_util.setup_spark_files``, which calls
    ``importlib.invalidate_caches()``.  On CPython 3.11 each zipimporter
    then re-reads its archive's whole central directory; a worker holds
    ~16 importers over ``pyspark.zip`` and py4j, so every call, even one
    whose own work takes milliseconds, burns ~0.13 s of CPU.

    The wrapper keeps what invalidation means.  It calls the original on
    the first call for each importer, whenever ``os.stat`` of the archive
    fails, and whenever the archive's ``(st_mtime_ns, st_size, st_ino)``
    differs from the key stored on that importer; otherwise it returns at
    once.  A rewritten archive is therefore still re-read (an
    ``os.replace``d zip also gets a new inode), and a worker's first call
    still pays the full cost.  Every worker that unpickles this package's
    sources, readers, writers or UDFs imports this file, so the wrapper is
    installed once per process, here; installing it again is a no-op.
    """
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "_stat_guarded", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is None or getattr(self, "_archive_stat_key", None) != key:
            original(self)
            self._archive_stat_key = key

    invalidate_caches._stat_guarded = True
    cls.invalidate_caches = invalidate_caches


_install_zip_stat_guard()

__version__ = "0.1.0"

__all__ = ["QUERIES", "ORACLES", "query", "__version__"]
