"""Detection-semantics queries over driver testdata.

The testdata has no boxes, so detections/ground truth are *derived
deterministically* from the ``events`` table with pure integer
arithmetic (identical in Spark and DuckDB), then the reference's
relational post-processing semantics run on them:

- ``det_postprocess_sql``: confidence filter (F1, predict.py:23),
  class allow-filter dropping 'abandon' id 2 (F2, predict.py:24-25),
  xywh->xyxy conversion (C1, ops.py:382-400), clip (C2, ops.py:305-324)
  — fully SQL-expressible, oracle-checked.
- ``det_iou_best_match``: per-document IoU theta-join (J1,
  metrics.py:53-72) + best-match-per-detection ranking (J2's
  relational rendering, validator.py:249-289).
- ``det_grouped_postprocess``: the REAL kernel (two-stage top-k + NMS
  + reading order) via applyInPandas per doc — greedy NMS is not
  SQL-expressible, so its oracle is a GOLDEN parquet value-hash
  (tests/golden/, generated by tools/gen_golden_oracles.py from the
  pytest-trusted NumPy path); zero rows-only checks remain.

Plus the flagship: ``extract_pages`` — wraps ``documents`` rows into
HTML pages and runs the full extraction pipeline; for this controlled
page shape the extracted text is provably ``'Doc <id>\\n\\n<text>'``,
which gives the full pipeline a value-hash SQL oracle.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import scan
from .kernels import postprocess
from .pipeline import extract_pages

PAGE = 1000.0


def _derived_dets(spark, sf_dir):
    """Deterministic synthetic detections: integer arithmetic on
    event_id only — bit-identical across engines."""
    ev = scan.table(spark, sf_dir, "events", spread=True)
    e = F.col("event_id")
    return ev.select(
        (F.col("user_id") % 50).alias("doc"),
        e.alias("det_id"),
        ((e * 37) % 800 + 50).cast("double").alias("cx"),
        ((e * 53) % 800 + 50).cast("double").alias("cy"),
        ((e * 7) % 300 + 100).cast("double").alias("w"),
        ((e * 11) % 240 + 80).cast("double").alias("h"),
        (((e * 13) % 100) / 100.0).alias("conf"),
        # NOT e % 10: class parity must not correlate with the even/odd
        # det-vs-gt split used by det_iou_best_match
        F.floor((e % 20) / 2.0).alias("cls"),
    )


_DERIVED_DUCK = """
  SELECT user_id % 50 AS doc, event_id AS det_id,
         CAST((event_id * 37) % 800 + 50 AS DOUBLE) AS cx,
         CAST((event_id * 53) % 800 + 50 AS DOUBLE) AS cy,
         CAST((event_id * 7) % 300 + 100 AS DOUBLE) AS w,
         CAST((event_id * 11) % 240 + 80 AS DOUBLE) AS h,
         ((event_id * 13) % 100) / 100.0 AS conf,
         -- Spark F.floor -> BIGINT; DuckDB FLOOR -> DOUBLE. Cast so the
         -- value hash matches when cls reaches the output.
         CAST(FLOOR((event_id % 20) / 2.0) AS BIGINT) AS cls
  FROM events
"""


def det_postprocess_sql(spark, sf_dir):
    d = _derived_dets(spark, sf_dir)
    x1 = F.col("cx") - F.col("w") / 2.0
    y1 = F.col("cy") - F.col("h") / 2.0
    x2 = F.col("cx") + F.col("w") / 2.0
    y2 = F.col("cy") + F.col("h") / 2.0
    clip = lambda c: F.greatest(F.lit(0.0), F.least(F.lit(PAGE), c))  # noqa: E731
    return (
        d.filter((F.col("conf") > 0.25) & (F.col("cls") != 2))
        .select(
            "doc",
            "det_id",
            clip(x1).alias("x1"),
            clip(y1).alias("y1"),
            clip(x2).alias("x2"),
            clip(y2).alias("y2"),
            "conf",
            "cls",
        )
    )


DET_POSTPROCESS_SQL = f"""
WITH d AS ({_DERIVED_DUCK})
SELECT doc, det_id,
       GREATEST(0.0, LEAST({PAGE}, cx - w / 2.0)) AS x1,
       GREATEST(0.0, LEAST({PAGE}, cy - h / 2.0)) AS y1,
       GREATEST(0.0, LEAST({PAGE}, cx + w / 2.0)) AS x2,
       GREATEST(0.0, LEAST({PAGE}, cy + h / 2.0)) AS y2,
       conf, cls
FROM d WHERE conf > 0.25 AND cls <> 2
"""


def det_iou_best_match(spark, sf_dir):
    d = _derived_dets(spark, sf_dir)
    boxed = d.select(
        "doc",
        "det_id",
        "cls",
        (F.col("cx") - F.col("w") / 2.0).alias("x1"),
        (F.col("cy") - F.col("h") / 2.0).alias("y1"),
        (F.col("cx") + F.col("w") / 2.0).alias("x2"),
        (F.col("cy") + F.col("h") / 2.0).alias("y2"),
    )
    dets = boxed.filter(F.col("det_id") % 2 == 0).select(
        "doc", F.col("det_id"), F.col("cls"),
        *[F.col(c).alias(f"d_{c}") for c in ("x1", "y1", "x2", "y2")],
    )
    gts = boxed.filter(F.col("det_id") % 2 == 1).select(
        "doc", F.col("det_id").alias("gt_id"), F.col("cls").alias("gt_cls"),
        *[F.col(c).alias(f"g_{c}") for c in ("x1", "y1", "x2", "y2")],
    )
    ix = F.greatest(
        F.lit(0.0),
        F.least(F.col("d_x2"), F.col("g_x2")) - F.greatest(F.col("d_x1"), F.col("g_x1")),
    )
    iy = F.greatest(
        F.lit(0.0),
        F.least(F.col("d_y2"), F.col("g_y2")) - F.greatest(F.col("d_y1"), F.col("g_y1")),
    )
    inter = ix * iy
    area_d = (F.col("d_x2") - F.col("d_x1")) * (F.col("d_y2") - F.col("d_y1"))
    area_g = (F.col("g_x2") - F.col("g_x1")) * (F.col("g_y2") - F.col("g_y1"))
    iou = F.round(inter / (area_d + area_g - inter), 6)
    pairs = (
        dets.join(gts, ["doc"])
        .filter(F.col("cls") == F.col("gt_cls"))
        .select("doc", "det_id", "gt_id", "cls", iou.alias("iou"))
        .filter(F.col("iou") > 0.1)
    )
    w = W.partitionBy("doc", "det_id").orderBy(F.desc("iou"), F.asc("gt_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


DET_IOU_SQL = f"""
WITH d AS ({_DERIVED_DUCK}),
boxed AS (
  SELECT doc, det_id, cls,
         cx - w / 2.0 AS x1, cy - h / 2.0 AS y1,
         cx + w / 2.0 AS x2, cy + h / 2.0 AS y2
  FROM d
),
pairs AS (
  SELECT a.doc, a.det_id, b.det_id AS gt_id, a.cls,
         ROUND(
           GREATEST(0.0, LEAST(a.x2, b.x2) - GREATEST(a.x1, b.x1)) *
           GREATEST(0.0, LEAST(a.y2, b.y2) - GREATEST(a.y1, b.y1)) /
           ((a.x2 - a.x1) * (a.y2 - a.y1) + (b.x2 - b.x1) * (b.y2 - b.y1)
            - GREATEST(0.0, LEAST(a.x2, b.x2) - GREATEST(a.x1, b.x1)) *
              GREATEST(0.0, LEAST(a.y2, b.y2) - GREATEST(a.y1, b.y1))), 6) AS iou
  FROM boxed a JOIN boxed b
    ON a.doc = b.doc AND a.cls = b.cls
   AND a.det_id % 2 = 0 AND b.det_id % 2 = 1
)
SELECT doc, det_id, gt_id, cls, iou FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc, det_id ORDER BY iou DESC, gt_id ASC) AS rn
  FROM pairs WHERE iou > 0.1
) WHERE rn = 1
"""


# --- the real grouped NMS kernel (no SQL oracle: greedy NMS) --------------------

GROUPED_DDL = "doc long, x1 double, y1 double, x2 double, y2 double, conf double, cls long"


def _grouped_kernel(pdf):
    import pandas as pd  # noqa: PLC0415

    # applyInPandas delivers group rows in shuffle-arrival order; the
    # kernel's tie-breaks pin on input (anchor) index, so sort by det_id
    # first to make the output value-deterministic across runs
    pdf = pdf.sort_values("det_id")
    doc = int(pdf["doc"].iloc[0])
    boxes = pdf[["cx", "cy", "w", "h"]].to_numpy(dtype=np.float32)
    nc = 10
    scores = np.zeros((len(pdf), nc), dtype=np.float32)
    scores[np.arange(len(pdf)), pdf["cls"].to_numpy()] = pdf["conf"].to_numpy()
    out = postprocess(boxes, scores, conf_thres=0.25, iou_thres=0.7,
                      max_det=300, drop_classes=(2,))
    return pd.DataFrame(
        {
            "doc": doc,
            "x1": out["x1"].astype(float),
            "y1": out["y1"].astype(float),
            "x2": out["x2"].astype(float),
            "y2": out["y2"].astype(float),
            "conf": out["conf"].astype(float),
            "cls": out["cls"],
        }
    )


def det_grouped_postprocess(spark, sf_dir):
    d = _derived_dets(spark, sf_dir)
    return d.groupBy("doc").applyInPandas(_grouped_kernel, schema=GROUPED_DDL)


# --- flagship: full extraction over pages built from documents -------------------

def _pages_from_documents(spark, sf_dir, docs=None):
    """(url, html) pages synthesized from the documents table.  Pass
    ``docs`` to build from an already-filtered frame (the filter then
    pushes down to the parquet scan instead of synthesizing the whole
    corpus and joining it away — see corpus_curation_pipeline, r6)."""
    d = (
        docs
        if docs is not None
        else scan.table(spark, sf_dir, "documents", spread=True)
    )
    html = F.concat(
        F.lit("<html><head><title>d</title></head><body>"
              "<nav><p><a href=\"/x\">home</a></p></nav><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><footer><p>copyright</p></footer></body></html>"),
    )
    return d.select(
        F.concat(F.lit("https://testdata.local/doc/"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )


def extract_pages_flagship(spark, sf_dir):
    pages = _pages_from_documents(spark, sf_dir)
    out = extract_pages(pages, n_buckets=64)
    return out.select("url", "extracted_text", "n_regions", "n_blocks")


# provable closed form for this controlled page shape: nav+footer are
# boilerplate (stripped), h1 -> 'Doc <id>', p -> text, separator '\n\n'.
FLAGSHIP_SQL = """
SELECT 'https://testdata.local/doc/' || CAST(doc_id AS VARCHAR) AS url,
       'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) || text AS extracted_text,
       CAST(2 AS INT) AS n_regions,
       CAST(4 AS INT) AS n_blocks
FROM documents
"""


def extract_region_rows(spark, sf_dir):
    """Span-level long table (the S11 txt-per-region sink rendering):
    every region of the full extraction pipeline, value-checked against
    the closed form provable for this controlled page shape."""
    pages = _pages_from_documents(spark, sf_dir)
    out = extract_pages(pages, n_buckets=64)
    return out.select("url", F.explode("spans").alias("s")).select(
        "url",
        F.col("s.region_id").alias("region_id"),
        F.col("s.cls").alias("cls"),
        F.col("s.name").alias("name"),
        F.col("s.conf").alias("conf"),
        F.col("s.x1").alias("x1"),
        F.col("s.y1").alias("y1"),
        F.col("s.x2").alias("x2"),
        F.col("s.y2").alias("y2"),
        F.col("s.start").alias("span_start"),
        F.col("s.end").alias("span_end"),
    )


# closed form (verified against the kernel): title block 'Doc <id>'
# at y 90..130, text block at y1 142, height 18*ceil(len/90), both
# conf sigmoid32(3.0) -> 0.95257, x 96..900; spans joined by '\n\n'.
REGION_ROWS_SQL = """
WITH base AS (
  SELECT 'https://testdata.local/doc/' || CAST(doc_id AS VARCHAR) AS url,
         LENGTH('Doc ' || CAST(doc_id AS VARCHAR)) AS tlen,
         LENGTH(text) AS xlen
  FROM documents
)
SELECT url, CAST(0 AS INT) AS region_id, CAST(0 AS BIGINT) AS cls,
       'title' AS name, CAST(0.95257 AS DOUBLE) AS conf,
       CAST(96 AS DOUBLE) AS x1, CAST(90 AS DOUBLE) AS y1,
       CAST(900 AS DOUBLE) AS x2, CAST(130 AS DOUBLE) AS y2,
       CAST(0 AS INT) AS span_start, CAST(tlen AS INT) AS span_end
FROM base
UNION ALL
SELECT url, CAST(1 AS INT), CAST(1 AS BIGINT), 'plain text', CAST(0.95257 AS DOUBLE),
       CAST(96 AS DOUBLE), CAST(142 AS DOUBLE), CAST(900 AS DOUBLE),
       CAST(142 + 18 * CEIL(xlen / 90.0) AS DOUBLE),
       CAST(tlen + 2 AS INT), CAST(tlen + 2 + xlen AS INT)
FROM base
"""


def detection_map(spark, sf_dir):
    """Full mAP pipeline over derived dets/gts (greedy IoU match ->
    per-class distributed AP reduction, 101-pt interpolation).  Greedy
    matching is not SQL-expressible, so the oracle is a golden snapshot
    generated from the pytest-trusted NumPy path
    (tools/gen_golden_oracles.py -> tests/golden/sf0.01/)."""
    from .metrics import ap_per_class, match_table  # noqa: PLC0415

    d = _derived_dets(spark, sf_dir)
    boxed = d.select(
        F.col("doc").cast("string").alias("doc"),
        "det_id",
        "cls",
        (F.col("cx") - F.col("w") / 2.0).alias("x1"),
        (F.col("cy") - F.col("h") / 2.0).alias("y1"),
        (F.col("cx") + F.col("w") / 2.0).alias("x2"),
        (F.col("cy") + F.col("h") / 2.0).alias("y2"),
        "conf",
    )
    dets = boxed.filter(F.col("det_id") % 2 == 0)
    gts = boxed.filter(F.col("det_id") % 2 == 1).select(
        "doc", F.col("det_id").alias("gt_id"), "x1", "y1", "x2", "y2", "cls"
    )
    # lazy counts frame (r6): the old dict collect ran a full
    # events-scan + aggregation JOB inside the query BUILDER — paid on
    # every bench run; the DataFrame form keeps the query one lazy plan
    gt_counts = gts.groupBy("cls").agg(F.count("*").alias("n"))
    return ap_per_class(match_table(dets, gts), gt_counts)


def det_confusion_matrix(spark, sf_dir):
    """True (nc+1)^2 detection confusion matrix with background row/col
    (utils/metrics.py:284-384 ConfusionMatrix semantics: conf 0.25,
    class-agnostic IoU 0.45 greedy matching, unmatched gt -> background
    row, unmatched det -> background col).  Greedy matching is not
    SQL-expressible -> golden-snapshot oracle."""
    from .metrics import confusion_matrix  # noqa: PLC0415

    d = _derived_dets(spark, sf_dir)
    boxed = d.select(
        "doc",
        "det_id",
        "cls",
        "conf",
        (F.col("cx") - F.col("w") / 2.0).alias("x1"),
        (F.col("cy") - F.col("h") / 2.0).alias("y1"),
        (F.col("cx") + F.col("w") / 2.0).alias("x2"),
        (F.col("cy") + F.col("h") / 2.0).alias("y2"),
    )
    dets = boxed.filter(F.col("det_id") % 2 == 0)
    gts = boxed.filter(F.col("det_id") % 2 == 1)
    return confusion_matrix(dets, gts, nc=10)


def coco_json_predictions(spark, sf_dir):
    """COCO-JSON predictions sink (models/yolo/detect/val.py:261-275
    pred_to_json): one JSON object per detection with xywh bbox (top-
    left corner + size, bbox rounded to 3 dp, score to 5 dp), built
    with deterministic string ops so both engines emit byte-equal
    JSON."""
    d = det_postprocess_sql(spark, sf_dir)
    w = F.col("x2") - F.col("x1")
    h = F.col("y2") - F.col("y1")
    json = F.format_string(
        '{"image_id":%s,"category_id":%s,"bbox":[%s,%s,%s,%s],"score":%s}',
        F.col("doc").cast("string"),
        F.col("cls").cast("string"),
        F.round(F.col("x1"), 3).cast("string"),
        F.round(F.col("y1"), 3).cast("string"),
        F.round(w, 3).cast("string"),
        F.round(h, 3).cast("string"),
        F.round(F.col("conf"), 5).cast("string"),
    )
    return d.select("doc", "det_id", json.alias("pred_json"))


COCO_JSON_SQL = f"""
WITH d AS ({_DERIVED_DUCK}),
f AS (
  SELECT doc, det_id,
         GREATEST(0.0, LEAST({PAGE}, cx - w / 2.0)) AS x1,
         GREATEST(0.0, LEAST({PAGE}, cy - h / 2.0)) AS y1,
         GREATEST(0.0, LEAST({PAGE}, cx + w / 2.0)) AS x2,
         GREATEST(0.0, LEAST({PAGE}, cy + h / 2.0)) AS y2,
         conf, cls
  FROM d WHERE conf > 0.25 AND cls <> 2
)
SELECT doc, det_id,
       '{{"image_id":' || CAST(doc AS VARCHAR) ||
       ',"category_id":' || CAST(cls AS VARCHAR) ||
       ',"bbox":[' || CAST(ROUND(x1, 3) AS VARCHAR) ||
       ',' || CAST(ROUND(y1, 3) AS VARCHAR) ||
       ',' || CAST(ROUND(x2 - x1, 3) AS VARCHAR) ||
       ',' || CAST(ROUND(y2 - y1, 3) AS VARCHAR) ||
       '],"score":' || CAST(ROUND(conf, 5) AS VARCHAR) || '}}' AS pred_json
FROM f
"""


def refine_region_scores(spark, sf_dir):
    """Refinement-MLP stage over extracted regions (rows-only: frozen
    seeded weights, NumPy matmul inside mapInPandas)."""
    from .refine import refine_regions  # noqa: PLC0415

    pages = _pages_from_documents(spark, sf_dir)
    out = extract_pages(pages, n_buckets=64)
    return refine_regions(out)


def _pdf_pages_from_documents(spark, sf_dir, compress=False, style="Tj", objstm=False):
    """Wrap documents rows into minimal single-page PDFs (title at
    24pt, body at 12pt, footer in the boilerplate strip) — the PDF
    twin of ``_pages_from_documents``.  ``compress``/``style`` select
    FlateDecode streams and the show-operator family (Tj literal vs
    kerned TJ arrays); all variants extract identical text.  When
    ``compress`` is a list, each doc picks the ``doc_id % len`` entry
    (used by the filter-chain twin to cycle codec specs)."""
    d = scan.table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")

    def kernel(batches):
        import pandas as pd  # noqa: PLC0415

        from doclayout_yolo_spark.pdf import build_pdf  # noqa: PLC0415

        for pdf in batches:
            urls, htmls = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # PDF literal strings are byte strings: project text to
                # latin-1 (unmappable -> '?') so a single exotic char
                # can never kill the synthesis task; mirrored in the
                # oracle's closed form
                safe = str(text).encode("latin-1", "replace").decode("latin-1")
                urls.append(f"https://testdata.local/pdf/{int(doc_id)}.pdf")
                comp = (
                    compress[int(doc_id) % len(compress)]
                    if isinstance(compress, list)
                    else compress
                )
                htmls.append(
                    build_pdf(
                        [
                            (f"Doc {int(doc_id)}", 24.0, 60.0, 80.0),
                            (safe, 12.0, 60.0, 150.0),
                            ("copyright example", 9.0, 60.0, 760.0),
                        ],
                        compress=comp,
                        style=style,
                        objstm=objstm,
                    )
                )
            yield pd.DataFrame({"url": urls, "html": htmls})

    return d.mapInPandas(kernel, schema="url string, html binary")


def _pdf_batches(batches, compress, style, objstm):
    """(doc_id, text) Arrow batches -> (url, part_id, html) batches of
    synthesized PDFs, byte-identical to ``_pdf_pages_from_documents``.
    Columns are built with ``pipeline._arrow_array``, so the worker
    loads no pandas."""
    import pyarrow as pa  # noqa: PLC0415

    from .pdf import build_pdf  # noqa: PLC0415
    from .pipeline import _arrow_array  # noqa: PLC0415

    for rb in batches:
        ids = rb.column(rb.schema.get_field_index("doc_id")).to_pylist()
        texts = rb.column(rb.schema.get_field_index("text")).to_pylist()
        urls, htmls = [], []
        for doc_id, text in zip(ids, texts):
            # latin-1 projection mirrored in the oracle closed
            # form (same as _pdf_pages_from_documents)
            safe = str(text).encode("latin-1", "replace").decode("latin-1")
            urls.append(f"https://testdata.local/pdf/{int(doc_id)}.pdf")
            comp = (
                compress[int(doc_id) % len(compress)]
                if isinstance(compress, list)
                else compress
            )
            htmls.append(
                build_pdf(
                    [
                        (f"Doc {int(doc_id)}", 24.0, 60.0, 80.0),
                        (safe, 12.0, 60.0, 150.0),
                        ("copyright example", 9.0, 60.0, 760.0),
                    ],
                    compress=comp,
                    style=style,
                    objstm=objstm,
                )
            )
        yield pa.RecordBatch.from_arrays(
            [
                _arrow_array(urls, pa.string()),
                _arrow_array([0] * len(urls), pa.int32()),
                _arrow_array(htmls, pa.binary()),
            ],
            names=["url", "part_id", "html"],
        )


def _pdf_extracted(spark, sf_dir, compress=False, style="Tj", objstm=False):
    """FUSED PDF synthesis + extraction: one mapInArrow kernel, one
    JVM<->Python crossing (r6, guide §4.1: every Python boundary pays
    a serialize/transpose each way — the old two-kernel chain shipped
    every synthesized PDF JVM->Python->JVM->Python->JVM).  The synth
    loop (``_pdf_batches``) is byte-identical to
    ``_pdf_pages_from_documents`` and the extraction delegates to the
    shared ``pipeline._extract_batches`` kernel, so extracted rows are
    identical to the unfused ``extract_pages`` path (oracle-pinned).
    ``part_id`` is a constant 0 here: the PDF contract queries never
    select it (bucketing belongs to the sink path, which keeps the
    unfused operator)."""
    from .pipeline import OUTPUT_DDL, _extract_batches  # noqa: PLC0415

    d = scan.table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")

    def kern(batches):
        yield from _extract_batches(_pdf_batches(batches, compress, style, objstm))

    return d.mapInArrow(kern, OUTPUT_DDL).select(
        "url", "extracted_text", "n_regions", "n_blocks"
    )


def extract_pdf_pages(spark, sf_dir):
    """Full extraction over PDF inputs (the north rule's PDF/layout
    parse leg): dispatcher routes on the %PDF- magic, the shared
    detector/NMS/reading-order pipeline does the rest.  Closed form
    for this controlled shape: title block 'Doc <id>' + body text,
    footer stripped as boilerplate."""
    return _pdf_extracted(spark, sf_dir)


def extract_pdf_pages_multipage(spark, sf_dir):
    """Two-page PDF twin: page 1 carries the title + first half of the
    body, page 2 the second half + a footer inside page 2's boilerplate
    strip.  The parser lays pages out as a continuous scroll, so the
    extracted text equals title + half1 + half2 — the oracle closed
    form splits the text at the same midpoint token boundary."""
    d = scan.table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")

    def kernel(batches):
        import pandas as pd  # noqa: PLC0415

        from doclayout_yolo_spark.pdf import build_pdf_pages  # noqa: PLC0415

        for pdf in batches:
            urls, htmls = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                safe = str(text).encode("latin-1", "replace").decode("latin-1")
                words = safe.split(" ")
                mid = len(words) // 2
                half1, half2 = " ".join(words[:mid]), " ".join(words[mid:])
                urls.append(f"https://testdata.local/pdfmp/{int(doc_id)}.pdf")
                # a <=1-word doc has an empty first half: page 1 then
                # carries only the title (mirrored in the oracle CASE)
                page1 = [(f"Doc {int(doc_id)}", 24.0, 60.0, 80.0)]
                if half1:
                    page1.append((half1, 12.0, 60.0, 150.0))
                htmls.append(
                    build_pdf_pages(
                        [
                            page1,
                            [
                                (half2, 12.0, 60.0, 150.0),
                                ("copyright example", 9.0, 60.0, 760.0),
                            ],
                        ],
                        compress=True,
                    )
                )
            yield pd.DataFrame({"url": urls, "html": htmls})

    pages = d.mapInPandas(kernel, schema="url string, html binary")
    out = extract_pages(pages, n_buckets=64)
    return out.select("url", "extracted_text", "n_regions", "n_blocks")


PDF_MULTIPAGE_SQL = r"""
WITH s AS (
  SELECT doc_id,
         string_split(regexp_replace(text, '[^\x00-\xff]', '?', 'g'), ' ') AS w
  FROM documents
)
SELECT 'https://testdata.local/pdfmp/' || CAST(doc_id AS VARCHAR) || '.pdf' AS url,
       'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) ||
         CASE WHEN LENGTH(w) >= 2
              THEN array_to_string(w[1 : LENGTH(w) // 2], ' ') || chr(10) || chr(10)
              ELSE '' END ||
         array_to_string(w[LENGTH(w) // 2 + 1 :], ' ') AS extracted_text,
       CAST(CASE WHEN LENGTH(w) >= 2 THEN 3 ELSE 2 END AS INT) AS n_regions,
       CAST(CASE WHEN LENGTH(w) >= 2 THEN 4 ELSE 3 END AS INT) AS n_blocks
FROM s
"""


def extract_pdf_pages_compressed(spark, sf_dir):
    """FlateDecode twin of ``extract_pdf_pages``: pages are written
    with zlib-compressed content streams AND kerned ``TJ`` show arrays
    (the shape every real-world PDF writer emits — reference handles
    real documents via PyMuPDF, mesh-candidate_bestfit/rendering.py:14-54).
    Extracted text must be byte-identical to the uncompressed twin, so
    the oracle closed form is shared."""
    return _pdf_extracted(spark, sf_dir, compress=True, style="TJ")


PDF_FLAGSHIP_SQL = r"""
SELECT 'https://testdata.local/pdf/' || CAST(doc_id AS VARCHAR) || '.pdf' AS url,
       'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) ||
         regexp_replace(text, '[^\x00-\xff]', '?', 'g') AS extracted_text,
       CAST(2 AS INT) AS n_regions,
       CAST(3 AS INT) AS n_blocks
FROM documents
"""


def extract_pdf_pages_hex(spark, sf_dir):
    """Hex-string twin (``<...> Tj`` shows, ISO 32000-1 §7.3.4.3):
    extraction must be byte-identical to the literal-string flagship,
    so the oracle closed form is shared."""
    return _pdf_extracted(spark, sf_dir, style="hex")


def extract_pdf_pages_cid(spark, sf_dir):
    """CID-font twin: Type0 font, 2-byte CID codes in kerned hex TJ
    arrays, decoded through a /ToUnicode CMap (bfrange + bfchar) — the
    encoding real-world Word/LaTeX PDFs overwhelmingly emit (the
    reference consumes such documents via PyMuPDF rendering,
    mesh-candidate_bestfit/rendering.py:14-54).  Extraction must be
    byte-identical to the flagship, so the oracle closed form is
    shared."""
    return _pdf_extracted(spark, sf_dir, compress=True, style="cid")


def extract_pdf_pages_filters(spark, sf_dir):
    """Stream-filter-chain twin (ISO 32000-1 §7.4): each doc's content
    stream is encoded with a codec chain cycled by doc_id — ASCIIHex,
    ASCII85, RunLength, legacy LZW, and the armored chains
    [/ASCII85Decode /FlateDecode] and [/RunLengthDecode /FlateDecode]
    that mail-safe and pre-Flate writers emit (the reference consumes
    such wild PDFs via PyMuPDF, mesh-candidate_bestfit/rendering.py:14-54).
    Extraction must be byte-identical to the flagship, so the oracle
    closed form is shared — a pipeline that only understands
    FlateDecode extracts nothing from 6/7 of these pages."""
    specs = ["ahx", "a85", "rl", "lzw", "a85+flate", "rl+flate", "flate"]
    return _pdf_extracted(spark, sf_dir, compress=specs, style="TJ")


def extract_pages_gzip(spark, sf_dir):
    """Gzip-payload twin of the flagship: crawl archives frequently
    store the raw ``Content-Encoding: gzip`` response body, so the
    kernel transparently inflates ``\\x1f\\x8b`` payloads before
    dispatch (extract.extract_document).  Same closed-form oracle as
    the flagship — a pipeline without the inflate step extracts
    nothing from these pages."""
    pages = _pages_from_documents(spark, sf_dir)

    def kern(batches):
        import gzip  # noqa: PLC0415

        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "html": [
                        gzip.compress(bytes(b), mtime=0) for b in pdf["html"]
                    ],
                }
            )

    gz = pages.mapInPandas(kern, schema="url string, html binary")
    out = extract_pages(gz, n_buckets=64)
    return out.select("url", "extracted_text", "n_regions", "n_blocks")


def extract_pages_http(spark, sf_dir):
    """HTTP-envelope twin of the flagship: WARC ``response`` records
    store the raw HTTP response the crawler received (status line +
    header block + body that may be chunked and/or gzip-compressed,
    with the charset often declared only in the ``Content-Type``
    header), so the dispatcher strips the envelope before dispatch
    (http.parse_http_response wired in extract.extract_document).
    Each page is wrapped in one of five envelope variants keyed by a
    crc32 of its url: identity / chunked / gzip / gzip+chunked /
    utf-16le body with only the transport charset label.  Same
    closed-form oracle as the flagship — a pipeline without the
    envelope leg extracts nothing from these pages."""
    pages = _pages_from_documents(spark, sf_dir)

    def kern(batches):
        import zlib  # noqa: PLC0415

        import pandas as pd  # noqa: PLC0415

        from .http import build_http_response  # noqa: PLC0415

        for pdf in batches:
            payloads = []
            for u, b in zip(pdf["url"], pdf["html"]):
                raw = bytes(b)
                v = zlib.crc32(str(u).encode("utf-8")) % 5
                if v == 0:
                    out = build_http_response(raw)
                elif v == 1:
                    out = build_http_response(raw, chunked=True)
                elif v == 2:
                    out = build_http_response(raw, content_encoding="gzip")
                elif v == 3:
                    out = build_http_response(
                        raw,
                        content_encoding="gzip",
                        chunked=True,
                        chunk_size=13,
                    )
                else:
                    # fixture pages are UTF-8; re-encode utf-16-le and
                    # declare it ONLY in the header — transport label
                    # must beat any in-band <meta> for this to extract
                    out = build_http_response(
                        raw.decode("utf-8").encode("utf-16-le"),
                        charset="utf-16le",
                    )
                payloads.append(out)
            yield pd.DataFrame({"url": pdf["url"], "html": payloads})

    enveloped = pages.mapInPandas(kern, schema="url string, html binary")
    out = extract_pages(enveloped, n_buckets=64)
    return out.select("url", "extracted_text", "n_regions", "n_blocks")


def extract_outlinks_query(spark, sf_dir):
    """Crawl-frontier outlink extraction (extract.extract_outlinks):
    pages plant four navigational links per doc — absolute,
    root-relative, document-relative, protocol-relative — plus a
    fragment and a javascript: href that MUST be skipped.  Resolution
    is stdlib urljoin against the page url; the controlled shapes give
    a closed-form oracle.  Output: one row per (page, position,
    resolved target)."""
    d = scan.table(spark, sf_dir, "documents", spread=True).select("doc_id")
    html = F.concat(
        F.lit('<html><body><p><a href="https://ext.example.com/p/'),
        F.col("doc_id").cast("string"),
        F.lit('">x</a> <a href="/r/'),
        F.col("doc_id").cast("string"),
        F.lit('">y</a> <a href="rel'),
        F.col("doc_id").cast("string"),
        F.lit('.html?a=1&amp;b=2">z</a> <a href="//cdn.example.com/c/'),
        F.col("doc_id").cast("string"),
        F.lit('">w</a> <a href="#frag">s</a>'
              ' <a href="javascript:void(0)">j</a></p></body></html>'),
    )
    pages = d.select(
        F.concat(
            F.lit("https://testdata.local/doc/"), F.col("doc_id").cast("string")
        ).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )
    from .pipeline import extract_outlinks_df  # noqa: PLC0415

    return extract_outlinks_df(pages)


OUTLINKS_SQL = """
WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS i FROM documents)
SELECT 'https://testdata.local/doc/' || i AS url, CAST(0 AS INT) AS link_pos,
       'https://ext.example.com/p/' || i AS target FROM d
UNION ALL
SELECT 'https://testdata.local/doc/' || i, CAST(1 AS INT),
       'https://testdata.local/r/' || i FROM d
UNION ALL
SELECT 'https://testdata.local/doc/' || i, CAST(2 AS INT),
       'https://testdata.local/doc/rel' || i || '.html?a=1&b=2' FROM d
UNION ALL
SELECT 'https://testdata.local/doc/' || i, CAST(3 AS INT),
       'https://cdn.example.com/c/' || i FROM d
"""


def robots_policy_filter(spark, sf_dir):
    """Crawl-permission verdicts through the REAL robots.txt stack
    (crawl.parse_robots via robots_rules_df, longest-prefix matching
    via robots_filter_df): each host (doc_id % 20 residues) serves one
    of three planted robots bodies — a comment + Disallow /private/ +
    Allow /private/pub/ group (longest-prefix and allow-wins
    exercised), a multi-agent group behind a googlebot-only decoy
    group with an empty-Disallow idiom (group selection exercised),
    or an empty-Disallow-only body (no rules) — and each doc
    contributes one url whose path cycles /doc/, /private/,
    /private/pub/, /tmp/ by doc_id % 4; every 5th url carries an
    UPPERCASE host and every 7th an explicit :443 port, which must
    normalize onto the lowercase port-less rules key (a mixed-case or
    ported link must not dodge its disallow).  The planted grid gives
    a closed-form oracle over the residues.  Output: (url, allowed,
    matched winning rule or NULL)."""
    from .crawl import robots_filter_df, robots_rules_df  # noqa: PLC0415

    d = scan.table(spark, sf_dir, "documents", spread=False).select("doc_id")
    h = (F.col("doc_id") % 20).cast("string")
    host = F.concat(F.lit("host"), h, F.lit(".example.com"))
    body_a = (
        "# corp policy\nUser-Agent: *\nDisallow: /private/\n"
        "Allow: /private/pub/\n"
    )
    body_b = (
        "User-agent: googlebot\nDisallow: /\n\n"
        "User-agent: bingbot\nUser-agent: *\nDisallow: /tmp/\nDisallow:\n"
    )
    body_c = "User-agent: *\nDisallow:\n"
    robots = (
        d.select(((F.col("doc_id") % 20)).alias("hn"))
        .distinct()
        .select(
            F.concat(
                F.lit("host"), F.col("hn").cast("string"), F.lit(".example.com")
            ).alias("host"),
            F.when(F.col("hn") % 3 == 0, F.lit(body_a))
            .when(F.col("hn") % 3 == 1, F.lit(body_b))
            .otherwise(F.lit(body_c))
            .alias("body"),
        )
    )
    path = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("/doc/"))
        .when(F.col("doc_id") % 4 == 1, F.lit("/private/"))
        .when(F.col("doc_id") % 4 == 2, F.lit("/private/pub/"))
        .otherwise(F.lit("/tmp/"))
    )
    url_host = F.when(
        F.col("doc_id") % 5 == 0, F.upper(host)
    ).otherwise(host)
    url_port = F.when(F.col("doc_id") % 7 == 0, F.lit(":443")).otherwise(
        F.lit("")
    )
    urls = d.select(
        F.concat(
            F.lit("https://"), url_host, url_port, path,
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    return robots_filter_df(urls, robots_rules_df(robots))


ROBOTS_POLICY_SQL = """
WITH d AS (
  SELECT doc_id, (doc_id % 20) % 3 AS h3, doc_id % 4 AS p4,
         CASE WHEN doc_id % 5 = 0
              THEN 'HOST' || CAST(doc_id % 20 AS VARCHAR) || '.EXAMPLE.COM'
              ELSE 'host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'
         END
         || CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END AS host,
         CAST(doc_id AS VARCHAR) AS i
  FROM documents
)
SELECT 'https://' || host ||
         CASE p4 WHEN 0 THEN '/doc/' WHEN 1 THEN '/private/'
                 WHEN 2 THEN '/private/pub/' ELSE '/tmp/' END || i AS url,
       CASE
         WHEN h3 = 0 AND p4 = 1 THEN FALSE
         WHEN h3 = 1 AND p4 = 3 THEN FALSE
         ELSE TRUE
       END AS allowed,
       CASE
         WHEN h3 = 0 AND p4 = 1 THEN 'disallow:/private/'
         WHEN h3 = 0 AND p4 = 2 THEN 'allow:/private/pub/'
         WHEN h3 = 1 AND p4 = 3 THEN 'disallow:/tmp/'
       END AS matched
FROM d
"""


def fetch_schedule(spark, sf_dir):
    """Politeness scheduling through the REAL crawl-delay stack
    (crawl.parse_crawl_delay via crawl_delays_df + fetch_schedule_df):
    each host's robots body plants one of three shapes — a
    googlebot-only Crawl-delay: 99 decoy group ahead of a '*' group
    with 2.5 s (group selection must pick 2.5), a body with NO
    crawl-delay (default 1.0 s), or 0.5 s — and every doc contributes
    one url.  Slots are per-host ROW_NUMBER order by url; offset =
    slot * delay.  Closed-form oracle over the residues.  Output:
    (url, host, slot, fetch_offset_s)."""
    from .crawl import crawl_delays_df, fetch_schedule_df  # noqa: PLC0415

    d = scan.table(spark, sf_dir, "documents", spread=False).select("doc_id")
    h = (F.col("doc_id") % 20).cast("string")
    host = F.concat(F.lit("host"), h, F.lit(".example.com"))
    body_a = (
        "User-agent: googlebot\nCrawl-delay: 99\n\n"
        "User-agent: *\nCrawl-delay: 2.5\n"
    )
    body_b = "User-agent: *\nDisallow:\n"
    body_c = "User-agent: *\nCrawl-delay: 0.5\n"
    robots = (
        d.select((F.col("doc_id") % 20).alias("hn"))
        .distinct()
        .select(
            F.concat(
                F.lit("host"), F.col("hn").cast("string"), F.lit(".example.com")
            ).alias("host"),
            F.when(F.col("hn") % 3 == 0, F.lit(body_a))
            .when(F.col("hn") % 3 == 1, F.lit(body_b))
            .otherwise(F.lit(body_c))
            .alias("body"),
        )
    )
    urls = d.select(
        F.concat(
            F.lit("https://"), host, F.lit("/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    return fetch_schedule_df(urls, crawl_delays_df(robots))


FETCH_SCHEDULE_SQL = """
WITH d AS (
  SELECT doc_id, (doc_id % 20) % 3 AS h3,
         'host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS host,
         CAST(doc_id AS VARCHAR) AS i
  FROM documents
),
u AS (
  SELECT 'https://' || host || '/doc/' || i AS url, host,
         CASE h3 WHEN 0 THEN 2.5 WHEN 1 THEN 1.0 ELSE 0.5 END AS delay_s
  FROM d
)
SELECT url, host,
       CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) - 1 AS INT)
         AS slot,
       (ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) - 1) * delay_s
         AS fetch_offset_s
FROM u
"""


def sitemap_extract(spark, sf_dir):
    """Sitemap ingestion roundtrip (crawl.parse_sitemap via
    sitemap_entries_df): each doc becomes one sitemap document —
    every 5th a <sitemapindex> pointing at a child sitemap, the rest
    a two-entry <urlset> (first entry with lastmod, second without);
    even doc_ids are served gzip-compressed (.xml.gz, mtime=0) to
    exercise the inflate path.  Deterministic planting gives a
    closed-form oracle.  Output: one row per sitemap entry."""
    from .crawl import sitemap_entries_df  # noqa: PLC0415

    d = scan.table(spark, sf_dir, "documents", spread=True).select("doc_id")

    def kern(batches):
        import gzip as _gzip  # noqa: PLC0415

        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            urls, bodies = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                h = i % 20
                base = f"https://host{h}.example.com"
                if i % 5 == 0:
                    xml = (
                        '<?xml version="1.0"?><sitemapindex><sitemap>'
                        f"<loc>{base}/sitemap-child-{i}.xml</loc>"
                        "</sitemap></sitemapindex>"
                    )
                else:
                    # sitemaps.org mandates entity-escaped values:
                    # the second loc carries &amp; and must come out
                    # as a literal & (fetchable as carried)
                    xml = (
                        '<?xml version="1.0"?><urlset>'
                        f"<url><loc>{base}/p/{i}/1</loc>"
                        "<lastmod>2026-01-15</lastmod></url>"
                        f"<url><loc>{base}/p/{i}/2?a=1&amp;b=2</loc>"
                        "</url></urlset>"
                    )
                raw = xml.encode("utf-8")
                suffix = ".xml"
                if i % 2 == 0:
                    raw = _gzip.compress(raw, mtime=0)
                    suffix = ".xml.gz"
                urls.append(f"{base}/sitemap{i}{suffix}")
                bodies.append(raw)
            yield pd.DataFrame({"sm_url": urls, "body": bodies})

    sitemaps = d.mapInPandas(kern, schema="sm_url string, body binary")
    return sitemap_entries_df(sitemaps)


SITEMAP_EXTRACT_SQL = """
WITH d AS (
  SELECT doc_id,
         'https://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'
           AS base,
         CAST(doc_id AS VARCHAR) AS i,
         CASE WHEN doc_id % 2 = 0 THEN '.xml.gz' ELSE '.xml' END AS sfx
  FROM documents
)
SELECT base || '/sitemap' || i || sfx AS sm_url, CAST(0 AS INT) AS pos,
       'sitemap' AS kind, base || '/sitemap-child-' || i || '.xml' AS loc,
       CAST(NULL AS VARCHAR) AS lastmod
FROM d WHERE doc_id % 5 = 0
UNION ALL
SELECT base || '/sitemap' || i || sfx, CAST(0 AS INT), 'url',
       base || '/p/' || i || '/1', '2026-01-15'
FROM d WHERE doc_id % 5 <> 0
UNION ALL
SELECT base || '/sitemap' || i || sfx, CAST(1 AS INT), 'url',
       base || '/p/' || i || '/2?a=1&b=2', CAST(NULL AS VARCHAR)
FROM d WHERE doc_id % 5 <> 0
"""


def extract_metadata_query(spark, sf_dir):
    """Page-metadata extraction (extract.extract_page_metadata via
    pipeline.extract_metadata_df): pages plant a ``<title>`` with an
    HTML entity and internal whitespace run (unescape + collapse must
    both fire), a description ``<meta>`` with content BEFORE name
    (attribute-order robustness) present only on doc_id % 3 != 0, an
    ``og:title`` only on even doc_ids (absent fields must surface as
    NULL, never empty string), a rel=stylesheet decoy link before the
    relative rel=canonical (resolved against the page url), a keywords
    decoy meta, and ``<html lang>``.  The controlled shapes give a
    closed-form oracle.  Output: one metadata row per page."""
    from .pipeline import extract_metadata_df  # noqa: PLC0415

    d = scan.table(spark, sf_dir, "documents", spread=True).select("doc_id")
    i = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html lang="en-US"><head><title>Doc &amp;\n  '),
        i,
        F.lit("</title>"),
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.lit('<meta content="Summary '), i, F.lit('" name="description">')
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit('<meta property="og:title" content="OG '), i, F.lit('"/>')
            ),
        ).otherwise(F.lit("")),
        F.lit('<link rel="stylesheet" href="/x.css">'),
        F.lit('<link rel="canonical" href="/canon/'),
        i,
        F.lit('"><meta name="keywords" content="k'),
        i,
        F.lit('"></head><body><p>body</p></body></html>'),
    )
    pages = d.select(
        F.concat(F.lit("https://testdata.local/m/"), i).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )
    return extract_metadata_df(pages)


EXTRACT_METADATA_SQL = """
WITH d AS (SELECT doc_id AS n, CAST(doc_id AS VARCHAR) AS i FROM documents)
SELECT 'https://testdata.local/m/' || i AS url,
       'Doc & ' || i AS title,
       CASE WHEN n % 3 <> 0 THEN 'Summary ' || i END AS description,
       CASE WHEN n % 2 = 0 THEN 'OG ' || i END AS og_title,
       'https://testdata.local/canon/' || i AS canonical,
       'en-US' AS lang
FROM d
"""


_PR_HOSTS = 20       # planted host-graph size (doc_id residues)
_PR_ITERS = 5        # fixed power iterations — deterministic closed form
_PR_DAMP = 0.85


def host_pagerank(spark, sf_dir):
    """Crawl-prioritization PageRank over the host graph induced by
    REAL outlink extraction (pipeline.extract_outlinks_df feeding
    pipeline.pagerank_df): every page of host ``doc_id % 20`` plants
    two absolute links to hosts ``(3*doc_id+1) % 20`` and
    ``(doc_id+7) % 20`` (gcd(3,20)=1, so both target maps are
    permutations of the residues — every host has in- AND out-edges,
    making the planted graph dangling-free by construction and the
    5-iteration power recurrence a closed form the oracle unrolls as
    chained CTEs).  Complementary to queries_curation's
    ``link_graph_pagerank`` (a 2-step doc-level rendering with
    decimal exact-sum contributions): THIS one is the general
    K-iteration engine (pipeline.pagerank_df) the crawl job composes
    with the outlink frontier.  The rank chain runs
    ``handle_dangling=False``:
    one lazy linear plan, one rank⋈edge join + one partial-agged
    groupBy per iteration, no driver actions (the dangling path is
    unit-tested separately against a NumPy oracle).  Output: one row
    per host, rank rounded to 6 dp."""
    from .pipeline import extract_outlinks_df, pagerank_df  # noqa: PLC0415

    d = scan.table(spark, sf_dir, "documents", spread=True).select("doc_id")
    t1 = ((F.col("doc_id") * 3 + 1) % _PR_HOSTS).cast("string")
    t2 = ((F.col("doc_id") + 7) % _PR_HOSTS).cast("string")
    html = F.concat(
        F.lit('<html><body><p><a href="https://host'),
        t1,
        F.lit('.example.com/x">a</a> <a href="https://host'),
        t2,
        F.lit('.example.com/y">b</a></p></body></html>'),
    )
    pages = d.select(
        F.concat(
            F.lit("https://host"),
            (F.col("doc_id") % _PR_HOSTS).cast("string"),
            F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )
    links = extract_outlinks_df(pages)
    host_re = r"^https?://([^/]+)/"
    edges = (
        links.select(
            F.regexp_extract("url", host_re, 1).alias("src"),
            F.regexp_extract("target", host_re, 1).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
    )
    ranks = pagerank_df(
        edges, iters=_PR_ITERS, damping=_PR_DAMP, handle_dangling=False
    )
    return ranks.select("host", F.round("pr", 6).alias("pr"))


def _pagerank_sql() -> str:
    """Unrolled-CTE mirror of ``host_pagerank`` (DuckDB restricts
    recursive-CTE self-references, and _PR_ITERS is a fixed small
    constant, so the power iteration is unrolled r0->r5 verbatim —
    same association order ``(pr * w) / ow`` and the same
    ``(1-d)/n + d*contrib`` update as the Spark side)."""
    h, d = _PR_HOSTS, _PR_DAMP
    parts = [
        f"""
WITH raw AS (
  SELECT 'host' || CAST(doc_id % {h} AS VARCHAR) || '.example.com' AS src,
         'host' || CAST((doc_id * 3 + 1) % {h} AS VARCHAR) || '.example.com' AS dst
  FROM documents
  UNION ALL
  SELECT 'host' || CAST(doc_id % {h} AS VARCHAR) || '.example.com',
         'host' || CAST((doc_id + 7) % {h} AS VARCHAR) || '.example.com'
  FROM documents
),
ew AS (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w FROM raw GROUP BY src, dst),
outw AS (SELECT src, SUM(w) AS ow FROM ew GROUP BY src),
hosts AS (SELECT src AS h FROM ew UNION SELECT dst FROM ew),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM hosts),
r0 AS (SELECT h AS host, 1.0 / nn.n AS pr FROM hosts, nn)"""
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f""",
c{i} AS (
  SELECT ew.dst AS host, SUM(p.pr * ew.w / outw.ow) AS contrib
  FROM r{i - 1} p JOIN ew ON ew.src = p.host JOIN outw ON outw.src = p.host
  GROUP BY ew.dst
),
r{i} AS (
  SELECT hosts.h AS host,
         (1.0 - {d}) / nn.n + {d} * COALESCE(c{i}.contrib, 0.0) AS pr
  FROM hosts CROSS JOIN nn LEFT JOIN c{i} ON c{i}.host = hosts.h
)"""
        )
    parts.append(
        f"\nSELECT host, ROUND(pr, 6) AS pr FROM r{_PR_ITERS}"
    )
    return "".join(parts)


HOST_PAGERANK_SQL = _pagerank_sql()


def extract_pdf_pages_diffenc(spark, sf_dir):
    """Simple-font /Encoding /Differences twin (ISO 32000-1 §9.6.6.3,
    r4 verdict wild-PDF leg): every distinct character is remapped to a
    non-identity single-byte code declared through a /Differences
    glyph-name array (AGL letter/digit names + uniXXXX forms) over a
    /WinAnsiEncoding base — the shape subset-embedding writers emit.
    A parser ignoring /Differences reads shifted garbage bytes here,
    so byte-identity with the flagship closed form proves the remap."""
    return _pdf_extracted(spark, sf_dir, style="diffenc")


def extract_pdf_pages_objstm(spark, sf_dir):
    """PDF 1.5 object-stream twin: page dicts live inside a
    FlateDecode /ObjStm (the layout most modern PDF writers emit);
    extraction must be byte-identical to the classic-layout flagship,
    so the oracle closed form is shared."""
    return _pdf_extracted(spark, sf_dir, compress=True, objstm=True)


def extract_quarantine_stats(spark, sf_dir):
    """Poisoned-input robustness through the full pipeline: every 7th
    document becomes a corrupt PDF (valid header, undecodable
    FlateDecode stream) and every doc_id % 7 == 1 becomes an ENCRYPTED
    PDF (/Encrypt in the trailer, §7.6 — a double-digit fraction of
    wild PDF crawls).  The kernel must degrade the corrupt one to an
    empty extraction and quarantine the encrypted one with a DISTINCT
    ``encrypted`` reason — never fail the task (P9 quarantine; at 10^12
    docs a one-in-a-billion poison would otherwise kill whole
    partitions).  Output: per url, extraction status + reason bucket —
    closed-form oracle on the planting rule."""
    d = scan.table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")

    CORRUPT = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 8 /Filter /FlateDecode >>\n"
        b"stream\nBADBYTES\nendstream\nendobj\n"
    )

    def kernel(batches):
        import pandas as pd  # noqa: PLC0415

        from doclayout_yolo_spark.pdf import build_pdf  # noqa: PLC0415

        for pdf in batches:
            urls, htmls = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                urls.append(f"https://testdata.local/q/{int(doc_id)}")
                if int(doc_id) % 7 == 0:
                    htmls.append(CORRUPT)
                    continue
                safe = str(text).encode("latin-1", "replace").decode("latin-1")
                body = build_pdf(
                    [
                        (f"Doc {int(doc_id)}", 24.0, 60.0, 80.0),
                        (safe, 12.0, 60.0, 150.0),
                        ("copyright example", 9.0, 60.0, 760.0),
                    ],
                    compress=True,
                )
                if int(doc_id) % 7 == 1:
                    # RC4-stub: declare /Encrypt in the trailer dict —
                    # the reader must quarantine-with-reason, not parse
                    body = body.replace(
                        b"trailer\n<< ", b"trailer\n<< /Encrypt 99 0 R ", 1
                    )
                htmls.append(body)
            yield pd.DataFrame({"url": urls, "html": htmls})

    pages = d.mapInPandas(kernel, schema="url string, html binary")
    out = extract_pages(pages, n_buckets=64)
    return out.select(
        "url",
        F.when(F.length("extracted_text") > 0, 1).otherwise(0)
        .cast("int")
        .alias("extracted_ok"),
        F.col("n_blocks").cast("int").alias("n_blocks"),
        F.col("error").isNotNull().cast("int").alias("hard_error"),
        F.when(
            F.col("error").startswith("EncryptedPdfError"), "encrypted"
        )
        .when(F.col("error").isNotNull(), "error")
        .when(F.length("extracted_text") == 0, "corrupt_degraded")
        .otherwise("ok")
        .alias("reason"),
    )


QUARANTINE_SQL = """
SELECT 'https://testdata.local/q/' || CAST(doc_id AS VARCHAR) AS url,
       CAST(CASE WHEN doc_id % 7 <= 1 THEN 0 ELSE 1 END AS INT) AS extracted_ok,
       CAST(CASE WHEN doc_id % 7 <= 1 THEN 0 ELSE 3 END AS INT) AS n_blocks,
       CAST(CASE WHEN doc_id % 7 = 1 THEN 1 ELSE 0 END AS INT) AS hard_error,
       CASE doc_id % 7 WHEN 0 THEN 'corrupt_degraded'
                       WHEN 1 THEN 'encrypted'
                       ELSE 'ok' END AS reason
FROM documents
"""


N_COPY = 10  # planted duplicate pages (re-crawls under a tracking url)


def corpus_curation_pipeline(spark, sf_dir):
    """The 100 TB workload end-to-end in ONE query: pages -> layout
    extraction (mapInPandas kernel) -> exact content dedup on the
    EXTRACTED text (md5 fingerprint, min-url wins — re-crawls under
    tracking urls collapse because boilerplate was stripped first) ->
    quality gate.  Duplicates are planted deterministically: the first
    N_COPY documents appear again under '?ref=copy' urls.  The closed
    form of the controlled page shape makes the whole chain
    SQL-oracle-able."""
    docs = scan.table(spark, sf_dir, "documents", spread=True)
    pages = _pages_from_documents(spark, sf_dir)
    # r6: build the planted copies DIRECTLY from the filtered docs —
    # the old form synthesized the whole corpus a second time and
    # broadcast-joined all but N_COPY rows away; now the doc_id filter
    # pushes down to the parquet scan and the join disappears.
    # Identical rows: the join kept exactly the doc_id < N_COPY pages.
    copies = docs.filter(F.col("doc_id") < N_COPY)
    copy_pages = _pages_from_documents(spark, sf_dir, docs=copies).select(
        F.concat(F.col("url"), F.lit("?ref=copy")).alias("url"), "html"
    )
    out = extract_pages(pages.unionByName(copy_pages), n_buckets=64)
    fp = out.select(
        "url",
        F.length("extracted_text").alias("n_chars"),
        F.md5(F.col("extracted_text")).alias("fp"),
    )
    w = W.partitionBy("fp").orderBy("url")
    wall = W.partitionBy("fp")
    return fp.select(
        "url",
        "n_chars",
        F.count("*").over(wall).cast("long").alias("dup_group_size"),
        (
            (F.row_number().over(w) == 1) & (F.col("n_chars") >= 20)
        ).cast("long").alias("kept"),
    )


CURATION_SQL = f"""
WITH pages AS (
  SELECT 'https://testdata.local/doc/' || CAST(doc_id AS VARCHAR) AS url,
         'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) || text AS extracted_text
  FROM documents
  UNION ALL
  SELECT 'https://testdata.local/doc/' || CAST(doc_id AS VARCHAR) || '?ref=copy' AS url,
         'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) || text AS extracted_text
  FROM documents WHERE doc_id < {N_COPY}
),
fp AS (SELECT url, LENGTH(extracted_text) AS n_chars, md5(extracted_text) AS fp FROM pages)
SELECT url, n_chars,
       COUNT(*) OVER (PARTITION BY fp) AS dup_group_size,
       CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY fp ORDER BY url) = 1
                  AND n_chars >= 20 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM fp
"""


def label_verify(spark, sf_dir):
    """S9: YOLO label scan + verify (data/utils.py:166-224 semantics):
    derive 5-col normalized labels, keep rows with all coords in [0,1]
    and cls < nc, drop duplicate rows."""
    ev = scan.table(spark, sf_dir, "events", spread=True)
    e = F.col("event_id")
    labels = ev.select(
        (F.col("user_id") % 50).alias("doc"),
        F.floor((e % 20) / 2.0).alias("cls"),
        # some rows deliberately out of range (the verifier must drop them)
        (((e * 29) % 1200) / 1000.0).alias("cx"),
        (((e * 31) % 1000) / 1000.0).alias("cy"),
        (((e * 17) % 400 + 50) / 1000.0).alias("w"),
        (((e * 19) % 300 + 50) / 1000.0).alias("h"),
    )
    ok = labels.filter(
        (F.col("cx") >= 0) & (F.col("cx") <= 1)
        & (F.col("cy") >= 0) & (F.col("cy") <= 1)
        & (F.col("w") > 0) & (F.col("w") <= 1)
        & (F.col("h") > 0) & (F.col("h") <= 1)
        & (F.col("cls") < 10)
    ).dropDuplicates()
    return ok.groupBy("doc").agg(F.count("*").alias("n_valid_labels"))


LABEL_VERIFY_SQL = """
WITH labels AS (
  SELECT DISTINCT user_id % 50 AS doc,
         FLOOR((event_id % 20) / 2.0) AS cls,
         ((event_id * 29) % 1200) / 1000.0 AS cx,
         ((event_id * 31) % 1000) / 1000.0 AS cy,
         ((event_id * 17) % 400 + 50) / 1000.0 AS w,
         ((event_id * 19) % 300 + 50) / 1000.0 AS h
  FROM events
)
SELECT doc, COUNT(*) AS n_valid_labels
FROM labels
WHERE cx BETWEEN 0 AND 1 AND cy BETWEEN 0 AND 1
  AND w > 0 AND w <= 1 AND h > 0 AND h <= 1 AND cls < 10
GROUP BY doc
"""


def class_histogram_padded(spark, sf_dir):
    """A2: targets-per-class histogram right-padded with zero rows for
    absent classes (np.bincount(minlength=nc) analog: class-dim join)."""
    d = _derived_dets(spark, sf_dir).filter(F.col("conf") > 0.9)
    counts = d.groupBy("cls").agg(F.count("*").alias("n"))
    classes = spark.range(10).select(F.col("id").alias("cls"))
    return (
        classes.join(counts, "cls", "left")
        .select("cls", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
    )


CLASS_HIST_SQL = """
WITH d AS (
  SELECT FLOOR((event_id % 20) / 2.0) AS cls,
         ((event_id * 13) % 100) / 100.0 AS conf
  FROM events
),
counts AS (SELECT cls, COUNT(*) AS n FROM d WHERE conf > 0.9 GROUP BY cls)
SELECT r.cls, COALESCE(counts.n, 0) AS n
FROM (SELECT CAST(i AS BIGINT) AS cls FROM range(10) t(i)) r
LEFT JOIN counts ON r.cls = counts.cls
"""


# --- charset-aware decoding over planted non-UTF-8 pages -------------------

# (variant tag, python codec, <head> payload, marker paragraph).  The
# marker strings are chosen to be encodable in their charset and to
# differ byte-wise from their UTF-8 encoding — a utf-8/replace
# regression turns them into mojibake and fails the value hash.
_CS_VARIANTS: list[tuple[str, str, str, str]] = [
    ("utf8bom", "utf-8", "", "café ✓ ünïcode"),
    (
        "cp1252",
        "cp1252",
        '<meta charset="windows-1252">',
        "café — naïve résumé",
    ),
    (
        "sjis",
        "cp932",
        '<meta http-equiv="Content-Type" '
        'content="text/html; charset=Shift_JIS">',
        "日本語のテスト文書",
    ),
    ("gbk", "gbk", '<meta charset="GBK">', "中文测试文本"),
    # no BOM, no meta: the strict-utf8-then-cp1252 fallback leg (the
    # cp1252 bytes of the marker are invalid UTF-8, so the fallback
    # decides) — the most common real-world undeclared case
    ("cp1252_undeclared", "cp1252", "", "naïve café — 99¢ détails"),
]
_N_CS = len(_CS_VARIANTS)


def _charset_page_parts() -> tuple[list[bytes], list[bytes]]:
    """Per-variant (prefix, suffix) page bytes; the doc_id's ASCII
    digits go between them (ASCII encodes identically in every variant)."""
    prefixes, suffixes = [], []
    for tag, codec, head, marker in _CS_VARIANTS:
        bom = b"\xef\xbb\xbf" if tag == "utf8bom" else b""
        prefixes.append(
            bom
            + f"<html><head>{head}<title>d</title></head><body><h1>Doc ".encode(
                codec
            )
        )
        suffixes.append(f"</h1><p>{marker}</p></body></html>".encode(codec))
    return prefixes, suffixes


def extract_pages_charsets(spark, sf_dir):
    """Full extraction over pages planted in five REAL encodings
    (UTF-8+BOM / cp1252 / Shift-JIS / GBK declared via BOM or <meta>,
    plus UNDECLARED cp1252 exercising the strict-utf8-then-cp1252
    fallback),
    proving the BOM + meta-prescan sniffer (extract.decode_html)
    recovers the exact unicode text.  Closed-form oracle: the
    controlled page shape extracts to 'Doc <id>\\n\\n<marker>'."""
    d = scan.table(spark, sf_dir, "documents", spread=True)
    prefixes, suffixes = _charset_page_parts()
    v = (F.col("doc_id") % _N_CS).cast("int")

    def pick(parts: list[bytes]):
        c = F.when(v == 0, F.lit(parts[0]))
        for i in range(1, _N_CS):
            c = c.when(v == i, F.lit(parts[i]))
        return c

    pages = d.select(
        F.concat(
            F.lit("https://testdata.local/cs/"), F.col("doc_id").cast("string")
        ).alias("url"),
        F.concat(
            pick(prefixes),
            F.encode(F.col("doc_id").cast("string"), "utf-8"),
            pick(suffixes),
        ).alias("html"),
    )
    out = extract_pages(pages, n_buckets=64)
    return out.select("url", "extracted_text", "n_regions", "n_blocks")


_CS_MARKER_CASE = " ".join(
    f"WHEN {i} THEN '{m}'" for i, (_t, _c, _h, m) in enumerate(_CS_VARIANTS)
)

CHARSETS_SQL = f"""
SELECT 'https://testdata.local/cs/' || CAST(doc_id AS VARCHAR) AS url,
       'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) ||
       CASE CAST(doc_id % {_N_CS} AS INT) {_CS_MARKER_CASE} END AS extracted_text,
       CAST(2 AS INT) AS n_regions,
       CAST(2 AS INT) AS n_blocks
FROM documents
"""


# Golden-snapshot oracles for the non-SQL-expressible queries (greedy
# NMS / greedy matching / frozen MLP): expected outputs generated ONCE
# by the pytest-trusted single-process NumPy path over the deterministic
# sf0.01 testdata (tools/gen_golden_oracles.py), stored as parquet, read
# back by DuckDB.  Valid for the driver's sf=0.01 correctness gate only.
# Independence: tests/test_independent_oracle.py re-derives these
# snapshots with a structurally different pure-Python implementation
# (dict-based greedy passes, bisect interpolation, no NumPy) and
# asserts agreement — the oracle chain is not anchored solely on the
# kernels under test.
_GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "golden", "sf0.01",
)


def _golden_sql(name: str) -> str:
    return (
        f"SELECT * FROM parquet_scan('{_GOLDEN_DIR}/{name}.parquet')"
    )


DETECT_QUERIES = {
    "label_verify": (label_verify, LABEL_VERIFY_SQL),
    "class_histogram_padded": (class_histogram_padded, CLASS_HIST_SQL),
    "det_postprocess_sql": (det_postprocess_sql, DET_POSTPROCESS_SQL),
    "det_iou_best_match": (det_iou_best_match, DET_IOU_SQL),
    "det_grouped_postprocess": (
        det_grouped_postprocess,
        _golden_sql("det_grouped_postprocess"),
    ),
    "extract_pages": (extract_pages_flagship, FLAGSHIP_SQL),
    "corpus_curation_pipeline": (corpus_curation_pipeline, CURATION_SQL),
    "extract_pdf_pages": (extract_pdf_pages, PDF_FLAGSHIP_SQL),
    "extract_pdf_pages_compressed": (extract_pdf_pages_compressed, PDF_FLAGSHIP_SQL),
    "extract_pdf_pages_multipage": (extract_pdf_pages_multipage, PDF_MULTIPAGE_SQL),
    "extract_quarantine_stats": (extract_quarantine_stats, QUARANTINE_SQL),
    "extract_pdf_pages_objstm": (extract_pdf_pages_objstm, PDF_FLAGSHIP_SQL),
    "extract_pdf_pages_hex": (extract_pdf_pages_hex, PDF_FLAGSHIP_SQL),
    "extract_pdf_pages_cid": (extract_pdf_pages_cid, PDF_FLAGSHIP_SQL),
    "extract_pdf_pages_filters": (extract_pdf_pages_filters, PDF_FLAGSHIP_SQL),
    "extract_pdf_pages_diffenc": (extract_pdf_pages_diffenc, PDF_FLAGSHIP_SQL),
    "extract_region_rows": (extract_region_rows, REGION_ROWS_SQL),
    "extract_pages_charsets": (extract_pages_charsets, CHARSETS_SQL),
    "extract_pages_gzip": (extract_pages_gzip, FLAGSHIP_SQL),
    "extract_pages_http": (extract_pages_http, FLAGSHIP_SQL),
    "extract_outlinks": (extract_outlinks_query, OUTLINKS_SQL),
    "host_pagerank": (host_pagerank, HOST_PAGERANK_SQL),
    "extract_metadata": (extract_metadata_query, EXTRACT_METADATA_SQL),
    "robots_policy_filter": (robots_policy_filter, ROBOTS_POLICY_SQL),
    "sitemap_extract": (sitemap_extract, SITEMAP_EXTRACT_SQL),
    "fetch_schedule": (fetch_schedule, FETCH_SCHEDULE_SQL),
    "detection_map": (detection_map, _golden_sql("detection_map")),
    "det_confusion_matrix": (
        det_confusion_matrix,
        _golden_sql("det_confusion_matrix"),
    ),
    "coco_json_predictions": (coco_json_predictions, COCO_JSON_SQL),
    "refine_region_scores": (
        refine_region_scores,
        _golden_sql("refine_region_scores"),
    ),
}
