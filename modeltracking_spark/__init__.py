"""modeltracking_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the data capabilities of the
reference repo ``EavenW/Modeltracking`` (hurricane-track × HYCOM ocean-model
profile analytics; see ``trackplot_hycom.py`` / ``kmz2csv.py`` in the
reference), extended with the operators a large-scale training-data pipeline
needs: deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard, with
connected-components clustering), similarity search (brute / hyperplane-LSH
/ IVF), text analysis (metrics, quality, language ID, winnowing
fingerprints, decontamination, repetition), deterministic hash sampling and
splits, sequence packing, multimodal column plumbing, and Structured
Streaming (windows, stateful ops, stream-static joins).

Design stance (not a port):
- Everything is declared with the DataFrame / Spark SQL API so Catalyst
  owns optimization (predicate pushdown, column pruning, join selection,
  AQE). No RDDs, no custom physical operators.
- The reference's per-point HTTP loops (``trackplot_hycom.py:144``,
  ``:109-111``) become one distributed join over a partitioned grid table.
- Python off the hot path unless it wins: every Python kernel is
  Arrow-batched and vectorized (Vincenty, winnowing rolling hash, IVF
  centroid matmul, multimodal decode stubs); everything else is a JVM
  builtin inside whole-stage codegen.
"""

from __future__ import annotations

import sys

__version__ = "0.1.0"


def _guard_zipimport_invalidate(version: tuple = sys.version_info) -> bool:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task. Before CPython 3.13 that makes every zipimporter
    in ``sys.path_importer_cache`` re-read its archive's whole directory
    (``pyspark.zip``, the spark-core jar, this package's shipped zip):
    a fixed cost of 0.2-0.3 s of CPU per task. The guard re-reads an
    archive only when it is not cached, the guard has not read it yet, or
    its ``(st_mtime_ns, st_size, st_ino)`` changed since the guard last
    read it; otherwise it reuses ``zipimport._zip_directory_cache``.
    3.13 only drops the cache entry, so the guard is not installed there.
    ``version`` is the interpreter's, a parameter so tests can pass
    another. Returns whether the guard is installed.
    """
    import functools
    import os
    import zipimport

    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "_skips_unchanged", False):
        return True
    if tuple(version) >= (3, 13):
        return False
    stamps: dict[str, tuple[int, int, int]] = {}

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamp is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)  # stat before read: a racing rewrite re-reads next time
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    invalidate_caches._skips_unchanged = True
    cls.invalidate_caches = invalidate_caches
    return True


_guard_zipimport_invalidate()
