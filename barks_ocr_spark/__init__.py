"""barks_ocr_spark — a PySpark-native document-extraction analytics engine.

A from-scratch rebuild of the *capabilities* of the reference extraction
system (glk1001/barks-ocr): interleaved text+media document extraction
(boilerplate strip, OCR-noise repair, hyphenation/paragraph merge,
reading-order span emission), comic-page box grouping / panel assignment,
inverted full-text index, entity tagging, plus the large-scale
training-data-pipeline operators (dedup, similarity search, text stats).

Architecture is Spark-first: DataFrame/SQL plans optimized by Catalyst,
with vectorized pandas/Arrow kernels (mapInPandas / pandas_udf) for the
non-relational text/geometry work. No RDDs, no per-row Python UDFs.

Importing the package installs one process-wide fix for the Python
workers, :func:`_reuse_unchanged_zip_directories`; see README "Python
boundary".
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def _reuse_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that did not change.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task, and on CPython < 3.13 each ``zipimporter`` then re-parses its
    archive's whole central directory: about 11 ms per importer, one
    importer per imported pyspark subpackage, 0.2-0.4 s per task. The
    replacement re-reads an archive only when its ``(mtime_ns, size,
    inode)`` differs from the one recorded at the last re-read, or when
    ``zipimport``'s directory cache no longer holds it. CPython 3.13
    made the method lazy, so there it is left alone. Any kernel closure
    that references a package module imports the package, so a reused
    worker keeps this for its life.
    """
    reread = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if sys.version_info >= (3, 13) or reread is None or hasattr(reread, "stamps"):
        return
    stamps: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and stamps.get(self.archive) == stamp:
            self._files = cached
        else:
            reread(self)
            stamps[self.archive] = stamp

    invalidate_caches.stamps = stamps  # marks the guard as installed
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reuse_unchanged_zip_directories()
