"""PySpark-native main-content extraction engine.

A from-scratch reimplementation of the dataflow semantics of
elayoubidriss/HistoricalDataDocumentParserSystem (reference at
/root/reference, read-only) as an idiomatic Spark pipeline:

- ``extractor/``  : pure-Python (no Spark) extraction core — payload sniff,
  HTML DOM parse + Arc90-style boilerplate classification, PDF-subset
  layout pass. This module IS the correctness oracle; the Spark UDFs call
  exactly these functions, so Spark-vs-oracle equality is structural.
- ``pipeline``    : the flagship Spark job (read -> repartition by
  xxhash64(url) -> mapInPandas(extract) -> write extracted + lineage).
- ``catalog``     : Iceberg-style table emulation (partitioned parquet +
  snapshot manifest + lineage table with MERGE-style resume).
- ``operators/``  : dedup (exact/minhash-LSH/simhash/ngram-jaccard/
  embedding-cosine), similarity search, text analysis, chunking,
  keyword-section selection, span/bbox algebra.
- ``functions/``  : column-expression helpers (built-in functions only).

Reference parity citations use /root/reference file:line in docstrings.

Importing the package also makes zip-archive cache invalidation
stat-keyed (``_stat_keyed_zip_invalidation`` below): a PySpark worker
calls ``importlib.invalidate_caches()`` at the start of every task,
which on Python >= 3.10 re-reads the central directory of every zip on
its path (pyspark.zip, the Spark jar, any ``--py-files`` zip): 0.2-0.4 s
per task with PySpark 4.1.2 on Python 3.11. Every UDF of this package
imports the package on its worker, so later tasks there re-read only
archives that changed.
"""

import functools as _functools
import os as _os
import zipimport as _zipimport

__version__ = "0.1.0"


def _stat_keyed_zip_invalidation() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` so that an
    importer re-reads its archive only when the archive's
    ``(st_ino, st_size, st_mtime_ns)`` differs from the key of its last
    successful read, or when ``os.stat`` fails. A rewritten archive is
    still re-read and a new path entry still gets a fresh importer.
    Idempotent: a second import or a reload keeps the one wrapper."""
    cls = _zipimport.zipimporter
    reread = getattr(cls, "invalidate_caches", None)
    if reread is None or getattr(reread, "stat_keyed", False):
        return

    @_functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        if key is not None and self.__dict__.get("_stat_key") == key:
            return
        reread(self)
        # a failed read drops the archive from the directory cache;
        # keep no key then, so the next call tries again
        ok = self.archive in _zipimport._zip_directory_cache
        self._stat_key = key if ok else None

    invalidate_caches.stat_keyed = True
    cls.invalidate_caches = invalidate_caches


_stat_keyed_zip_invalidation()
