"""sequin_spark — a PySpark-native CDC/stream-processing engine.

A brand-new engine with the query and data-processing capabilities of
sequinstream/sequin (reference surveyed in SURVEY.md), re-expressed on the
Spark DataFrame / Structured Streaming stack:

- Canonical change-event schema (``sequin_spark.schema``) mirroring the
  reference's ConsumerEventData payload.
- Postgres text-value casting rules (``sequin_spark.types``).
- Declarative operators (``sequin_spark.operators``): source scoping,
  column filters, diff/changes, grouping & ordered delivery, dedup,
  payload guards — all plain Catalyst expressions so predicate pushdown,
  column pruning and whole-stage codegen apply.
- Function surface (``sequin_spark.functions``): path projections, a
  sandboxed expression DSL compiled to Spark SQL, per-sink routing.
- Sources & backfill (``sequin_spark.sources``), sinks (``sequin_spark.sinks``),
  and the streaming pipeline compiler (``sequin_spark.streaming``).
- Large-scale training-data operators (``sequin_spark.datapipe``):
  dedup (exact/MinHash-LSH/SimHash/n-gram), similarity search, text
  analysis, multimodal column plumbing.

Everything is designed for a 1000-executor cluster: broadcast joins for
dims, group-hash partitioning for ordered delivery, no driver-side
per-row work.
"""

__version__ = "0.1.0"

import os
import sys


def _reread_changed_zip_archives_only() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that did not change.

    Every PySpark Python task calls ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``), and the workers import
    PySpark itself from ``$SPARK_HOME/python/lib/pyspark.zip``.  On
    CPython < 3.12 ``zipimporter.invalidate_caches`` re-reads the
    archive's central directory eagerly, once per zipimporter — a worker
    holds one per package directory inside the zip, so each task spent
    ~250 ms of CPU re-parsing an unchanged 1.3k-entry directory
    (docs/perf_notes_zipimport.md).  CPython 3.12 made the re-read lazy
    (gh-103200), so there this is a no-op.

    The replacement keeps the original semantics keyed on the archive's
    ``(st_mtime_ns, st_size)``: an archive whose stamp matches the one
    its cached directory was read at reuses that directory; a rewritten,
    missing or never-stamped archive goes through the original re-read.
    The stamp is taken *before* the read, so a rewrite racing the read
    leaves a stale stamp and is re-read on the next call.  Installed on
    import of ``sequin_spark``, which every engine UDF's unpickling
    performs in its Python worker.
    """
    if sys.version_info >= (3, 12):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_reads_changed_only", False):
        return
    read_at: dict = {}  # archive path -> stamp its cached directory was read at

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            read_at[self.archive] = stamp
        else:
            read_at.pop(self.archive, None)

    invalidate_caches.__wrapped__ = reread
    invalidate_caches._reads_changed_only = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reread_changed_zip_archives_only()

from sequin_spark.session import get_spark  # noqa: E402,F401
