"""doclayout_yolo_spark — a from-scratch PySpark-native, layout-aware
main-content extraction engine with the query/data-processing semantics
of the DocLayout-YOLO reference (kythuatdulieu fork).

Architecture (see SURVEY.md):

- ``kernels``     — pure NumPy detection post-processing (two-stage
                    top-k, IoU NMS, class filter, reading-order sort,
                    box geometry).  No Spark imports; deterministic.
- ``functions``   — scalar feature functions (23-dim text/spatial
                    features, boilerplate heuristics) both as pure
                    Python and as Spark Column expressions.
- ``extract``     — the per-document HTML -> blocks -> proposals ->
                    regions -> (extracted_text, spans) core shared by
                    the single-process oracle and the Spark kernel.
- ``oracle``      — single-process reference extractor (byte-identity
                    anchor for the golden tests).
- ``fixtures``    — seeded synthetic Common-Crawl-style ``pages`` table
                    generator (url, warc_ts, html, text, lang).
- ``pipeline``    — the Spark job: scan -> salted repartition ->
                    mapInArrow(extract kernel) -> partitioned output
                    with per-partition lineage rows and a checkpoint
                    manifest for exactly-once resume.
- ``metrics``     — Spark-side detection-metrics harness (IoU match,
                    TP/FP cumsum windows, AP aggregation).
- ``session``     — SparkSession builder with the tuned configs
                    (AQE, shuffle partitions, Arrow batch sizing), and
                    ``local_df``, the Arrow-built frame for driver-side
                    rows.

Requires Python >= 3.11 (checked at import).

Importing the package on Python < 3.12 also makes
``zipimport.zipimporter.invalidate_caches`` re-read an archive's
directory only when the archive's ``(st_mtime_ns, st_size, st_ino)``
changed since this process last read it, the stat-then-refresh rule
``FileFinder`` applies to directories (CPython 3.12 made the re-read
lazy, gh-103200).  pyspark's worker calls ``importlib.invalidate_caches()``
at the start of every task, and on 3.11 each of the ~14 importers over
``pyspark.zip`` (1,328 entries) then re-read the whole archive
directory: ~160 ms of worker CPU per task, for every Python crossing
(a 4-task passthrough ``mapInArrow`` spent 0.70 s of worker CPU, 0.07 s
without the re-read; local[4]).  Every worker that runs a package
kernel imports the package when it unpickles the kernel, so this is
the one place that reaches them all; no Spark conf can, because
``PythonWorkerFactory`` puts ``pyspark.zip`` first on the workers'
``PYTHONPATH``.  An archive with no stamp yet (one read before the
import, as ``pyspark.zip`` is) is re-read once at its first
``invalidate_caches`` call, which records the stamp.
"""

import sys

if sys.version_info < (3, 11):
    raise ImportError(
        "doclayout_yolo_spark requires Python >= 3.11: the HTML attribute "
        "scanner (extract._ATTRS) uses possessive regex quantifiers, which "
        "the re module supports from 3.11 and which keep it linear-time "
        "on hostile, unterminated tags"
    )

if sys.version_info < (3, 12):
    import os
    import zipimport

    _invalidate_caches = zipimport.zipimporter.invalidate_caches
    _stamps: dict[str, tuple[int, int, int]] = {}

    def _stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    def _invalidate_if_changed(self):
        # stat before the read: a change during the read shows as a new
        # stamp at the next call and re-reads then
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or _stamps.get(self.archive) != stamp:
            _stamps[self.archive] = stamp
            _invalidate_caches(self)
        else:
            self._files = files

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

__version__ = "0.1.0"
