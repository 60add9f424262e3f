"""pdf_to_text_spark — a PySpark-native, cluster-scale main-content
extraction engine with the data-processing capabilities of the reference
Geetanjally/PDF_TO_TEXT (see SURVEY.md), re-expressed Spark-first.

Layout
------
core/        pure-Python deterministic extraction spec (PDF text-object
             decode, HTML boilerplate strip, fixture generators). Shared
             verbatim by the Arrow-batched pandas UDFs and by the
             sequential golden oracle — byte-identity by construction.
functions/   the Catalyst expression library (SURVEY.md §2.4 F1–F14).
operators/   DataFrame-level operators: extraction routing/explode/
             reassembly, dedup (exact/minhash/simhash), similarity
             search, text analytics, and the page-image tier (page
             rasterize, OCR, PDF embedded-image extraction).
plans/       end-to-end jobs: the extraction pipeline with whale-aware
             placement, per-partition lineage, partition-completion
             manifests and idempotent resume.
streaming/   Structured Streaming wrapper (availableNow incremental runs).
"""

__version__ = "0.1.0"


def _reread_zip_directories_only_when_changed() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_mtime_ns, st_size)`` stamp
    changed, the rule ``FileFinder`` applies to directories.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and on CPython 3.10–3.12 each zipimporter then re-reads
    its whole archive directory: a worker that imports pyspark from
    ``pyspark.zip`` and has the Spark jar on its path holds 16 of them,
    about 200 ms of CPU per task before its first row (3.13 made the
    re-read lazy). Installed once per process at package import; a
    worker's first task still pays, because it imports the package after
    that task's invalidate, and the next invalidate reads each archive
    once to take its stamp. An archive whose stamp changed, or that cannot
    be stat'ed, still goes through the stdlib re-read, so a rewritten
    archive's new modules import. The stamp is taken before the read, so
    a write during the read shows as a change at the next invalidate; the
    other importers of an unchanged archive take zipimport's shared copy
    of its directory.
    """
    import sys

    if not (3, 10) <= sys.version_info < (3, 13):
        return
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stamped", False):
        return
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            stamps.pop(self.archive, None)
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
        else:
            reread(self)
            stamps[self.archive] = stamp

    invalidate_caches._stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reread_zip_directories_only_when_changed()
