"""The Arrow kernels build their output without pandas.

``pa.array`` probes its input for pandas and imports it (+38 MB RSS in
every Python worker), and so does ``Array.to_numpy``.  The kernels read
columns with ``pipeline._numpy_of`` and build each output column
through ``pipeline._arrow_array`` instead.  These tests pin that the
sink kernel, the PDF synthesis kernel, the LSH signature kernels, the
detection-metric kernels and the WARC kernel each leave pandas
unimported and give the rows of the pandas kernels they replaced (ties
in IoU and conf included); that every column ``_arrow_array`` builds
equals the ``pa.array`` column; that no ``pa.array`` call or pandas
import comes back; and that the outlink and metadata kernels keep
their per-page results and quarantine behaviour.
"""

from __future__ import annotations

import ast
import gzip
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from doclayout_yolo_spark import fixtures as fx
from doclayout_yolo_spark import metrics, pipeline, queries_vector
from doclayout_yolo_spark.extract import (
    extract_documents,
    extract_outlinks,
    extract_page_metadata,
)

REPO = Path(__file__).resolve().parents[1]

# run in a fresh interpreter: the test process itself has pandas loaded.
# argv[1] is an expression over ``batches`` (the input stream's record
# batches) giving record batches or tables; every package module a
# kernel's worker may import is imported first.
_KERNEL_RUN = """
import json, sys
import pyarrow as pa
from doclayout_yolo_spark import metrics, pipeline, queries_curation
from doclayout_yolo_spark import queries_detect, queries_vector
with pa.ipc.open_stream(pa.OSFile(sys.argv[2])) as r:
    batches = list(r)
out = [
    b for item in eval(sys.argv[1])
    for b in (item.to_batches() if isinstance(item, pa.Table) else [item])
]
with pa.ipc.new_stream(pa.OSFile(sys.argv[3], "wb"), out[0].schema) as w:
    for b in out:
        w.write_batch(b)
print(json.dumps({"pandas": "pandas" in sys.modules}))
"""


def _run_fresh(expr: str, batches: list, tmp_path) -> pa.Table:
    """``expr`` over ``batches`` in a fresh interpreter; asserts it left
    pandas unimported and returns its output rows."""
    src, dst = tmp_path / "in.arrow", tmp_path / "out.arrow"
    with pa.ipc.new_stream(pa.OSFile(str(src), "wb"), batches[0].schema) as w:
        for b in batches:
            w.write_batch(b)
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    proc = subprocess.run(
        [sys.executable, "-c", _KERNEL_RUN, expr, str(src), str(dst)],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=300,
        check=True,
    )
    assert json.loads(proc.stdout.splitlines()[-1]) == {"pandas": False}
    with pa.ipc.open_stream(pa.OSFile(str(dst))) as r:
        return r.read_all()


def _pages():
    html = [bytes(h) for h in fx.make_rows(range(2))["html"]]
    return [
        ("https://a.test/html", html[0]),
        ("https://a.test/gzip", gzip.compress(html[1])),
        ("https://a.test/null", None),
        ("https://a.test/empty", b"<html><body></body></html>"),
        ("https://a.test/bad-gzip", b"\x1f\x8b garbage"),
    ]


def test_sink_kernel_imports_no_pandas_and_matches_pa_array(tmp_path):
    pages = _pages()
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([u for u, _ in pages], pa.string()),
            pa.array([h for _, h in pages], pa.binary()),
            pa.array(range(len(pages)), pa.int32()),
        ],
        names=["url", "html", "part_id"],
    )
    out = _run_fresh("pipeline._extract_batches(iter(batches))", [batch], tmp_path)
    assert out.num_rows == len(pages)
    for name in out.column_names:
        col = out.column(name).combine_chunks()
        col.validate(full=True)
        assert col.equals(pa.array(col.to_pylist(), col.type)), name

    # the batch covers what the column builders must get right: empty
    # span lists, null and non-null errors, non-trivial offsets
    results = extract_documents([h if h is not None else b"" for _, h in pages])
    assert out.column("extracted_text").to_pylist() == [r[0] for r in results]
    assert out.column("error").to_pylist() == [r[3] for r in results]
    n_spans = [len(s) for s in out.column("spans").to_pylist()]
    assert n_spans == [len(r[1]) for r in results]
    assert 0 in n_spans and max(n_spans) > 1
    errors = out.column("error").to_pylist()
    assert None in errors and any(e is not None for e in errors)


@pytest.mark.parametrize(
    ("values", "type_"),
    [
        ([], pa.int32()),
        ([3, 0, -7], pa.int32()),
        ([0.5, -1.25, 1e300], pa.float64()),
        ([], pa.string()),
        (["a", None, "", "é" * 3, None], pa.string()),
        ([None] * 9, pa.string()),
        ([], pa.int64()),
        ([5, None, -(2**62), 0], pa.int64()),
        ([], pa.bool_()),
        ([True, None, False] * 4, pa.bool_()),
        ([], pa.binary()),
        ([b"\x00\xff", None, b"", b"%PDF-1.4"], pa.binary()),
        ([None] * 3, pa.binary()),
    ],
)
def test_arrow_array_equals_pa_array(values, type_):
    col = pipeline._arrow_array(values, type_)
    col.validate(full=True)
    assert col.equals(pa.array(values, type_))


def _module_tree(name: str) -> ast.Module:
    return ast.parse((REPO / "doclayout_yolo_spark" / f"{name}.py").read_text())


def _pa_array_lines(node: ast.AST) -> list[int]:
    return [
        n.lineno for n in ast.walk(node)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr == "array" and isinstance(n.func.value, ast.Name)
        and n.func.value.id == "pa"
    ]


def _pandas_import_lines(node: ast.AST) -> list[int]:
    return [
        n.lineno for n in ast.walk(node)
        if (isinstance(n, ast.Import) and any(a.name.split(".")[0] == "pandas" for a in n.names))
        or (isinstance(n, ast.ImportFrom) and (n.module or "").split(".")[0] == "pandas")
    ]


def test_pipeline_calls_no_pa_array_and_imports_no_pandas():
    tree = _module_tree("pipeline")
    assert _pa_array_lines(tree) == [], "pa.array( in pipeline.py"
    assert _pandas_import_lines(tree) == [], "pandas imported in pipeline.py"


def test_outlink_and_metadata_kernels_match_the_extractors(spark):
    from doclayout_yolo_spark.session import local_df

    pages = _pages() + [(None, b'<a href="/x">x</a>')]
    df = local_df(spark, pages, "url string, html binary")

    want_links = []
    want_meta = []
    fields = ("title", "description", "og_title", "canonical", "lang")
    for u, h in pages:
        try:
            links = extract_outlinks(u, h if h is not None else b"")
        except Exception:  # noqa: BLE001 — the kernel quarantines too
            links = []
        want_links += [(u, i, t) for i, t in enumerate(links)]
        try:
            md = extract_page_metadata(u, h if h is not None else b"")
        except Exception:  # noqa: BLE001
            md = {}
        want_meta.append((u, *(md.get(f) for f in fields)))

    got_links = [tuple(r) for r in pipeline.extract_outlinks_df(df).collect()]
    got_meta = [tuple(r) for r in pipeline.extract_metadata_df(df).collect()]
    key = lambda r: tuple("" if v is None else str(v) for v in r)  # noqa: E731
    assert sorted(got_links, key=key) == sorted(want_links, key=key)
    assert sorted(got_meta, key=key) == sorted(want_meta, key=key)
    assert want_links and any(v is not None for r in want_meta for v in r[1:])


def test_arrow_array_takes_numpy_arrays_and_numpy_of_reads_them_back():
    ids = np.arange(-3, 4, dtype=np.int64)
    assert pipeline._arrow_array(ids, pa.int64()).equals(pa.array(ids.tolist(), pa.int64()))
    strided = np.array([[True, False], [False, False], [True, True]])[:, 0]
    col = pipeline._arrow_array(strided, pa.bool_())
    assert col.equals(pa.array(strided.tolist(), pa.bool_()))
    chunked = pa.chunked_array([pa.array([1.0, 2.0, 3.0]).slice(1), pa.array([4.0])])
    assert pipeline._numpy_of(chunked).tolist() == [2.0, 3.0, 4.0]
    assert pipeline._numpy_of(pa.array([7, 8, 9], pa.int32()).slice(1)).tolist() == [8, 9]
    with pytest.raises(ValueError):
        pipeline._numpy_of(pa.array([1, None], pa.int64()))


def _rows(frame) -> list[tuple]:
    """Rows of a pyarrow table or a pandas frame, in order."""
    if isinstance(frame, pd.DataFrame):
        return [tuple(r) for r in frame.itertuples(index=False, name=None)]
    return list(zip(*(frame.column(c).to_pylist() for c in frame.column_names)))


def _vectors(n: int, seed: int) -> pa.RecordBatch:
    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, queries_vector.DIM)
    vecs[0] = 0.0  # every product exactly 0: the sign bit's tie case
    return pa.RecordBatch.from_arrays(
        [pa.array(range(seed, seed + n), pa.int64()),
         pa.array(vecs.tolist(), pa.list_(pa.float64()))],
        names=["vec_id", "vec"],
    )


def _sig_bits_pandas(pdf, planes):
    v = np.array(pdf["vec"].tolist(), dtype=np.float64).reshape(-1, queries_vector.DIM)
    return queries_vector._round_half_away(v @ planes.T, 9) > 0


def _signatures_pandas(pdf):
    qv = queries_vector
    planes = qv._plane_matrix(qv.N_PLANES)
    weights = (1 << np.arange(qv.N_PLANES)).astype(np.int64)
    bits = _sig_bits_pandas(pdf, planes)
    return pd.DataFrame({"vec_id": pdf["vec_id"].astype("int64"), "bucket": bits @ weights})


def _multiband_pandas(pdf):
    qv = queries_vector
    planes = qv._plane_matrix(qv.MB_BANDS * qv.MB_ROWS)
    weights = (1 << np.arange(qv.MB_ROWS)).astype(np.int64)
    bits = _sig_bits_pandas(pdf, planes)
    return pd.concat(
        [
            pd.DataFrame({
                "vec_id": pdf["vec_id"].astype("int64"),
                "band": band,
                "bucket": bits[:, band * qv.MB_ROWS:(band + 1) * qv.MB_ROWS] @ weights,
            })
            for band in range(qv.MB_BANDS)
        ],
        ignore_index=True,
    )


@pytest.mark.parametrize(
    ("kernel", "reference"),
    [("_signatures_kernel", _signatures_pandas), ("_multiband_kernel", _multiband_pandas)],
)
def test_lsh_kernels_import_no_pandas_and_match_the_pandas_kernels(kernel, reference, tmp_path):
    batches = [_vectors(7, 0), _vectors(12, 100)]
    out = _run_fresh(f"queries_vector.{kernel}(iter(batches))", batches, tmp_path)
    want = pd.concat([reference(b.to_pandas()) for b in batches], ignore_index=True)
    assert _rows(out) == _rows(want)
    assert len(set(out.column("bucket").to_pylist())) > 1


# (doc, det_id, x1, y1, x2, y2, conf, cls, side), each doc's rows out of
# id order.  Doc a: three detections on one box with the same conf and
# two identical ground-truth boxes (every IoU tied at 1.0: the
# positional dedup keeps only the lowest-id detection); doc b repeats
# doc a's conf 0.9 (a tie the AP sort breaks by doc); doc c has
# detections only, doc d ground truth only.
_DETS = [
    ("a", 2, 0.0, 0.0, 10.0, 10.0, 0.9, 1, "det"),
    ("a", 10, 0.0, 0.0, 10.0, 10.0, 0.9, 1, "det"),
    ("a", 3, 0.0, 0.0, 10.0, 10.0, 0.0, 1, "gt"),
    ("a", 0, 0.0, 0.0, 10.0, 10.0, 0.9, 1, "det"),
    ("a", 1, 0.0, 0.0, 10.0, 10.0, 0.0, 1, "gt"),
    ("a", 6, 0.0, 0.0, 10.0, 10.0, 0.3, 2, "det"),
    ("a", 4, 5.0, 5.0, 15.0, 15.0, 0.5, 2, "det"),
    ("a", 5, 5.0, 5.0, 14.0, 14.0, 0.0, 2, "gt"),
    ("a", 8, 40.0, 40.0, 50.0, 50.0, 0.1, 1, "det"),
    ("b", 2, 20.0, 20.0, 30.0, 30.0, 0.2, 1, "det"),
    ("b", 1, 1.0, 1.0, 10.0, 10.0, 0.0, 1, "gt"),
    ("b", 0, 0.0, 0.0, 10.0, 10.0, 0.9, 1, "det"),
    ("c", 1, 0.0, 0.0, 10.0, 10.0, 0.6, 0, "det"),
    ("c", 0, 0.0, 0.0, 9.0, 9.0, 0.6, 2, "det"),
    ("d", 1, 0.0, 0.0, 10.0, 10.0, 0.0, 0, "gt"),
]
_DET_COLS = ["doc", "det_id", "x1", "y1", "x2", "y2", "conf", "cls", "side"]
_DET_TYPES = [pa.string(), pa.int64()] + [pa.float64()] * 5 + [pa.int64(), pa.string()]


def _doc_batches() -> list[pa.RecordBatch]:
    out = []
    for doc in sorted({r[0] for r in _DETS}):
        rows = [r for r in _DETS if r[0] == doc]
        out.append(pa.RecordBatch.from_arrays(
            [pa.array(list(c), t) for c, t in zip(zip(*rows), _DET_TYPES)],
            names=_DET_COLS,
        ))
    return out


_BOX = ["x1", "y1", "x2", "y2"]


def _match_pandas(key, pdf):
    pdf = pdf.sort_values("det_id")
    dets = pdf[pdf["side"] == "det"]
    gts = pdf[pdf["side"] == "gt"]
    tp = metrics.greedy_match(
        dets[_BOX].to_numpy(dtype=np.float32), dets["cls"].to_numpy(),
        gts[_BOX].to_numpy(dtype=np.float32), gts["cls"].to_numpy(),
    )
    out = {"doc": str(key[0]), "det_id": dets["det_id"].to_numpy(),
           "cls": dets["cls"].to_numpy(), "conf": dets["conf"].to_numpy()}
    for i in range(tp.shape[1]):
        out[f"tp{i}"] = tp[:, i]
    return pd.DataFrame(out)


def _confusion_pandas(pdf, nc, conf_thres, iou_thres):
    pdf = pdf.sort_values("det_id")
    dd = pdf[pdf["side"] == "det"]
    gg = pdf[pdf["side"] == "gt"]
    pairs = metrics.confusion_pairs(
        dd[_BOX].to_numpy(np.float32), dd["cls"].to_numpy(np.int64),
        dd["conf"].to_numpy(np.float64), gg[_BOX].to_numpy(np.float32),
        gg["cls"].to_numpy(np.int64), nc, conf_thres, iou_thres,
    )
    return pd.DataFrame(pairs, columns=["pred_cls", "gt_cls"])


def _ap_pandas(cls, pdf, n_gt):
    cols = {"cls": [], "iou_idx": [], "iou_thr": [], "ap": []}
    if n_gt == 0:
        return pd.DataFrame(cols)
    pdf = pdf.sort_values(["conf", "doc", "det_id"], ascending=[False, True, True])
    npreds = np.arange(1, len(pdf) + 1, dtype=np.float64)
    for i, thr in enumerate(metrics.IOU_THRESHOLDS):
        ctp = pdf[f"tp{i}"].to_numpy(dtype=np.float64).cumsum()
        cols["cls"].append(cls)
        cols["iou_idx"].append(i)
        cols["iou_thr"].append(float(thr))
        cols["ap"].append(metrics.ap_interp(ctp / n_gt, ctp / npreds))
    return pd.DataFrame(cols)


def test_match_kernel_imports_no_pandas_and_matches_the_pandas_kernel(tmp_path):
    batches = _doc_batches()
    out = _run_fresh(
        "[metrics._match_group((b.column(0)[0],), pa.Table.from_batches([b]))"
        " for b in batches]",
        batches, tmp_path,
    )
    want = pd.concat(
        [_match_pandas((b.column(0)[0].as_py(),), b.to_pandas()) for b in batches],
        ignore_index=True,
    )
    assert _rows(out) == _rows(want)
    assert out.schema == pipeline._arrow_table(metrics.MATCH_DDL, [[]] * 14).schema
    # the tied pair in doc a: one detection wins, the lower id
    tp0 = {(d, i): t for d, i, t in zip(*(out.column(c).to_pylist() for c in ("doc", "det_id", "tp0")))}
    assert tp0[("a", 0)] and not tp0[("a", 2)] and not tp0[("a", 10)]


def test_confusion_kernel_imports_no_pandas_and_matches_the_pandas_kernel(tmp_path):
    batches = _doc_batches()
    out = _run_fresh(
        "[metrics._confusion_cells(pa.Table.from_batches([b]), 3, 0.25, 0.45)"
        " for b in batches]",
        batches, tmp_path,
    )
    want = pd.concat(
        [_confusion_pandas(b.to_pandas(), 3, 0.25, 0.45) for b in batches],
        ignore_index=True,
    )
    assert _rows(out) == _rows(want) and len(want) > 0


def test_ap_kernel_imports_no_pandas_and_matches_the_pandas_kernel(tmp_path):
    matches = pd.concat(
        [_match_pandas((b.column(0)[0].as_py(),), b.to_pandas()) for b in _doc_batches()],
        ignore_index=True,
    )
    n_gt = {0: 1, 1: 3, 2: 0}
    schema = pipeline._arrow_table(metrics.MATCH_DDL, [[]] * 14).schema.append(pa.field("n_gt", pa.int64()))
    batches = []
    for cls in sorted(n_gt):
        part = matches[matches["cls"] == cls].iloc[::-1].assign(n_gt=n_gt[cls])
        batches.append(pa.RecordBatch.from_pandas(part, schema=schema, preserve_index=False))
    out = _run_fresh(
        "[metrics._ap_curves(b.column('cls')[0].as_py(), pa.Table.from_batches([b]),"
        " b.column('n_gt')[0].as_py()) for b in batches]",
        batches, tmp_path,
    )
    want = pd.concat(
        [_ap_pandas(c, b.to_pandas(), n_gt[c]) for c, b in zip(sorted(n_gt), batches)],
        ignore_index=True,
    )
    assert _rows(out) == _rows(want)
    assert out.schema == pipeline._arrow_table(metrics.AP_DDL, [[]] * 4).schema
    # class 2 has no ground truth, so no rows; class 1's tied confs shape its curve
    assert {r[0] for r in _rows(out)} == {0, 1}


def _warc_pandas(pdf):
    from doclayout_yolo_spark.warc import build_warc, parse_warc

    pdf = pdf.sort_values("doc_id")
    recs = parse_warc(build_warc([
        (f"https://w{int(r.doc_id)}.example/p", "2026-01-01T00:00:00Z",
         str(r.payload_txt).encode("utf-8"))
        for r in pdf.itertuples()
    ]))
    return pd.DataFrame({
        "doc_id": [int(r["uri"][9:].split(".")[0]) for r in recs],
        "rec_index": list(range(len(recs))),
        "content_length": [len(r["payload"]) for r in recs],
        "payload_md5": [hashlib.md5(r["payload"]).hexdigest() for r in recs],
    })


def test_warc_kernel_imports_no_pandas_and_matches_the_pandas_kernel(tmp_path):
    texts = ["plain", "WARC/1.0\r\nContent-Length: 3\r\n\r\nxyzdecoy", "", "é ünï", None]
    batches = [
        pa.RecordBatch.from_arrays(
            [pa.array([7, 5, 9, 6, 8][:n], pa.int64()), pa.array([f] * n, pa.int64()),
             pa.array(texts[:n], pa.string())],
            names=["doc_id", "file_id", "payload_txt"],
        )
        for f, n in ((0, 5), (1, 2))
    ]
    out = _run_fresh(
        "[queries_curation._warc_file((b.column(1)[0],), pa.Table.from_batches([b]))"
        " for b in batches]",
        batches, tmp_path,
    )
    want = pd.concat([_warc_pandas(b.to_pandas()) for b in batches], ignore_index=True)
    assert _rows(out) == _rows(want)
    assert out.column("doc_id").to_pylist()[:5] == [5, 6, 7, 8, 9]


def test_pdf_kernel_imports_no_pandas_and_matches_pa_array(tmp_path):
    from doclayout_yolo_spark.queries_detect import _pdf_batches

    batch = pa.RecordBatch.from_arrays(
        [pa.array([3, 1, 2], pa.int64()),
         pa.array(["Hello PDF world", "café ☃", None], pa.string())],
        names=["doc_id", "text"],
    )
    out = _run_fresh(
        "pipeline._extract_batches(queries_detect._pdf_batches(iter(batches), False, 'Tj', False))",
        [batch], tmp_path,
    )
    (synth,) = _pdf_batches(iter([batch]), False, "Tj", False)
    for col in synth.columns:
        col.validate(full=True)
        assert col.equals(pa.array(col.to_pylist(), col.type))
    via_pa_array = pa.RecordBatch.from_arrays(
        [pa.array(c.to_pylist(), c.type) for c in synth.columns], names=synth.schema.names
    )
    want = pa.Table.from_batches(list(pipeline._extract_batches(iter([via_pa_array]))))
    assert _rows(out) == _rows(want)
    assert all(t for t in out.column("extracted_text").to_pylist())


#: pandas-UDF call sites (mapInPandas / applyInPandas) in the package
#: and jobs/, outside streaming.py (direction E's deletion candidate,
#: two more).  Lower it when a site moves to mapInArrow/applyInArrow;
#: never raise it.
PANDAS_UDF_SITES = 23

#: kernels that build their output with pipeline._arrow_array/_arrow_table
ARROW_KERNELS = {
    "queries_vector": ("_sig_bits", "_signatures_kernel", "_multiband_kernel"),
    "queries_curation": ("_warc_file",),
    "queries_detect": ("_pdf_batches",),
}


def test_pandas_udf_sites_do_not_grow():
    sites = {}
    for path in sorted([*(REPO / "doclayout_yolo_spark").glob("*.py"), *(REPO / "jobs").glob("*.py")]):
        n = sum(
            isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute)
            and c.func.attr in ("mapInPandas", "applyInPandas")
            for c in ast.walk(ast.parse(path.read_text()))
        )
        if n:
            sites[path.name] = n
    assert sites.pop("streaming.py", 0) <= 2
    assert sum(sites.values()) <= PANDAS_UDF_SITES, sites


def test_arrow_kernels_call_no_pa_array_and_metrics_imports_no_pandas():
    for module, names in ARROW_KERNELS.items():
        defs = {
            n.name: n for n in ast.walk(_module_tree(module))
            if isinstance(n, ast.FunctionDef)
        }
        for name in names:
            assert _pa_array_lines(defs[name]) == [], f"pa.array( in {module}.{name}"
    tree = _module_tree("metrics")
    assert _pa_array_lines(tree) == [], "pa.array( in metrics.py"
    assert _pandas_import_lines(tree) == [], "pandas imported in metrics.py"
