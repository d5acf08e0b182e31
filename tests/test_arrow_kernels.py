"""The Arrow kernels of ``pipeline.py`` build their output without pandas.

``pa.array`` probes its input for pandas and imports it (+38 MB RSS in
every Python worker).  The kernels build each column through
``pipeline._arrow_array`` instead; these tests pin that the sink kernel
leaves pandas unimported, that every column it builds equals the
``pa.array`` column it replaced, that no ``pa.array`` call or pandas
import comes back into ``pipeline.py``, and that the outlink and
metadata kernels keep their per-page results and quarantine behaviour.
"""

from __future__ import annotations

import ast
import gzip
import json
import os
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest

from doclayout_yolo_spark import fixtures as fx
from doclayout_yolo_spark import pipeline
from doclayout_yolo_spark.extract import (
    extract_documents,
    extract_outlinks,
    extract_page_metadata,
)

REPO = Path(__file__).resolve().parents[1]

# run in a fresh interpreter: the test process itself has pandas loaded
_KERNEL_RUN = """
import json, sys
import pyarrow as pa
from doclayout_yolo_spark.pipeline import _extract_batches
with pa.ipc.open_stream(pa.OSFile(sys.argv[1])) as r:
    batches = list(r)
out = list(_extract_batches(iter(batches)))
with pa.ipc.new_stream(pa.OSFile(sys.argv[2], "wb"), out[0].schema) as w:
    for b in out:
        w.write_batch(b)
print(json.dumps({"pandas": "pandas" in sys.modules}))
"""


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
    src, dst = tmp_path / "in.arrow", tmp_path / "out.arrow"
    with pa.ipc.new_stream(pa.OSFile(str(src), "wb"), batch.schema) as w:
        w.write_batch(batch)
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    proc = subprocess.run(
        [sys.executable, "-c", _KERNEL_RUN, str(src), str(dst)],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=300,
        check=True,
    )
    assert json.loads(proc.stdout.splitlines()[-1]) == {"pandas": False}

    with pa.ipc.open_stream(pa.OSFile(str(dst))) as r:
        out = r.read_all()
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
    ],
)
def test_arrow_array_equals_pa_array(values, type_):
    col = pipeline._arrow_array(values, type_)
    col.validate(full=True)
    assert col.equals(pa.array(values, type_))


def test_pipeline_calls_no_pa_array_and_imports_no_pandas():
    tree = ast.parse(Path(pipeline.__file__).read_text())
    calls = [
        n.lineno for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "array"
        and isinstance(n.func.value, ast.Name)
        and n.func.value.id == "pa"
    ]
    assert calls == [], f"pa.array( at pipeline.py lines {calls}"
    imports = [
        n.lineno for n in ast.walk(tree)
        if (isinstance(n, ast.Import) and any(a.name.split(".")[0] == "pandas" for a in n.names))
        or (isinstance(n, ast.ImportFrom) and (n.module or "").split(".")[0] == "pandas")
    ]
    assert imports == [], f"pandas imported at pipeline.py lines {imports}"


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
