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
"""

import sys

if sys.version_info < (3, 11):
    raise ImportError(
        "doclayout_yolo_spark requires Python >= 3.11: the HTML attribute "
        "scanner (extract._ATTRS) uses possessive regex quantifiers, which "
        "the re module supports from 3.11 and which keep it linear-time "
        "on hostile, unterminated tags"
    )

__version__ = "0.1.0"
