"""Property-based tests (hypothesis) for the deterministic kernels —
no Spark session needed."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from doclayout_yolo_spark import kernels as K
from doclayout_yolo_spark.extract import extract_document
from doclayout_yolo_spark.metrics import greedy_match


@st.composite
def boxes_scores(draw, max_n=40):
    n = draw(st.integers(0, max_n))
    rng = np.random.RandomState(draw(st.integers(0, 2**31 - 1)))
    xy = rng.rand(n, 2).astype(np.float32) * 200
    wh = rng.rand(n, 2).astype(np.float32) * 80 + 1
    boxes = np.concatenate([xy, xy + wh], axis=1)
    scores = rng.rand(n).astype(np.float32)
    return boxes, scores


@given(boxes_scores(), st.floats(0.1, 0.9))
@settings(max_examples=60, deadline=None)
def test_nms_invariants(bs, thr):
    boxes, scores = bs
    keep = K.nms(boxes, scores, thr)
    assert len(set(keep.tolist())) == len(keep)  # unique
    kept_scores = scores[keep]
    assert np.all(np.diff(kept_scores) <= 1e-7)  # score-desc order
    if len(keep) > 1:
        iou = K.box_iou(boxes[keep], boxes[keep])
        np.fill_diagonal(iou, 0)
        assert iou.max() <= thr + 1e-6  # survivors don't overlap past thr


@given(boxes_scores())
@settings(max_examples=30, deadline=None)
def test_nms_deterministic(bs):
    boxes, scores = bs
    a = K.nms(boxes, scores, 0.5)
    b = K.nms(boxes.copy(), scores.copy(), 0.5)
    np.testing.assert_array_equal(a, b)


@given(st.integers(0, 2**31 - 1), st.integers(1, 50))
@settings(max_examples=40, deadline=None)
def test_xywh_roundtrip_property(seed, n):
    rng = np.random.RandomState(seed)
    xywh = (rng.rand(n, 4).astype(np.float32) * 100) + 0.5
    back = K.xyxy2xywh(K.xywh2xyxy(xywh))
    np.testing.assert_allclose(back, xywh, rtol=1e-4, atol=1e-3)


@given(st.integers(0, 2**31 - 1), st.integers(0, 30))
@settings(max_examples=40, deadline=None)
def test_reading_order_is_permutation(seed, n):
    rng = np.random.RandomState(seed)
    boxes = rng.rand(n, 4).astype(np.float32) * 500
    order = K.reading_order(boxes, np.arange(n))
    assert sorted(order.tolist()) == list(range(n))


@given(st.text(max_size=400))
@settings(max_examples=80, deadline=None)
def test_extract_never_crashes_and_spans_valid(s):
    html = f"<body><nav><p><a href='/x'>m</a></p></nav><h1>{s}</h1><p>{s} body</p></body>".encode(
        "utf-8", errors="ignore"
    )
    text, regions, meta = extract_document(html)
    for r in regions:
        assert text[r.start : r.end] == r.text
    # determinism
    text2, regions2, _ = extract_document(html)
    assert text == text2 and len(regions) == len(regions2)


@given(st.integers(0, 2**31 - 1))
@settings(max_examples=30, deadline=None)
def test_greedy_match_bounds(seed):
    rng = np.random.RandomState(seed)
    nd, ng = rng.randint(0, 15), rng.randint(0, 10)
    db = np.concatenate([rng.rand(nd, 2) * 100, rng.rand(nd, 2) * 100 + 100], axis=1)
    gb = np.concatenate([rng.rand(ng, 2) * 100, rng.rand(ng, 2) * 100 + 100], axis=1)
    dc = rng.randint(0, 3, nd)
    gc = rng.randint(0, 3, ng)
    tp = greedy_match(db.astype(np.float32), dc, gb.astype(np.float32), gc)
    assert tp.shape == (nd, 10)
    # at each threshold, #TP <= min(n_det, n_gt) and thresholds are monotone
    for t in range(10):
        assert tp[:, t].sum() <= min(nd, ng)
        if t > 0:
            assert tp[:, t].sum() <= tp[:, t - 1].sum()


@given(
    n_det=st.integers(0, 12),
    n_gt=st.integers(0, 8),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=60, deadline=None)
def test_confusion_pairs_invariants(n_det, n_gt, seed):
    """Every gt contributes exactly one increment; matched detections
    contribute exactly once; totals are bounded; background index only
    in the defined slots."""
    import numpy as np

    from doclayout_yolo_spark.metrics import confusion_pairs

    rng = np.random.RandomState(seed)
    nc = 5
    det = rng.rand(n_det, 4).astype(np.float32) * 100
    det[:, 2:] += det[:, :2] + 5
    gt = rng.rand(n_gt, 4).astype(np.float32) * 100
    gt[:, 2:] += gt[:, :2] + 5
    det_cls = rng.randint(0, nc, n_det)
    gt_cls = rng.randint(0, nc, n_gt)
    det_conf = rng.rand(n_det)
    pairs = confusion_pairs(det, det_cls, det_conf, gt, gt_cls, nc)
    gt_increments = [p for p in pairs if p[1] != nc]
    assert len(gt_increments) == n_gt  # one per ground-truth box
    # detection-side: each det appears at most once across all slots
    n_kept = int((det_conf > 0.25).sum())
    det_increments = [p for p in pairs if p[0] != nc]
    assert len(det_increments) <= n_kept
    for pc, gc in pairs:
        assert 0 <= pc <= nc and 0 <= gc <= nc
        assert not (pc == nc and gc == nc)  # background-background never


_pdf_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=1, max_size=60,
).filter(lambda s: s.strip())


@given(
    texts=st.lists(_pdf_text, min_size=1, max_size=6),
    sizes=st.lists(st.sampled_from([9.0, 12.0, 14.0, 18.0, 24.0]),
                   min_size=6, max_size=6),
    seed=st.integers(0, 999),
    style=st.sampled_from(["Tj", "TJ", "Tstar", "hex", "hexTJ", "winansi", "cid"]),
    compress=st.sampled_from(
        [False, True, "ahx", "a85", "rl", "lzw", "a85+flate", "rl+flate"]
    ),
)
@settings(max_examples=120, deadline=None)
def test_pdf_writer_parser_roundtrip(texts, sizes, seed, style, compress):
    """build_pdf -> parse_pdf_blocks round-trips every text object's
    (normalized) text, position, and font-derived tag — including PDF
    string metacharacters — for content placed outside the boilerplate
    strips, across all show-operator styles (literal Tj, kerned TJ
    arrays, TL/T* line advances, single-byte hex strings, hex TJ
    segments, WinAnsi-encoded literals, and 2-byte CID codes decoded
    through a /ToUnicode CMap) and every stream filter spec the writer
    emits (Flate, ASCIIHex, ASCII85, RunLength, LZW, armored chains)."""
    import numpy as np

    from doclayout_yolo_spark.extract import _norm_ws
    from doclayout_yolo_spark.pdf import (
        _tag_for_size,
        build_pdf,
        parse_pdf_blocks,
    )

    rng = np.random.RandomState(seed)
    items = []
    y = 100.0
    for i, t in enumerate(texts):
        items.append((t, sizes[i % len(sizes)], float(rng.randint(40, 200)), y))
        y += 40.0
    pdf = build_pdf(items, page_h=max(900.0, y + 200.0),
                    compress=compress, style=style)
    blocks, _, page_h = parse_pdf_blocks(pdf)
    expected = [(t, s, x, yt) for (t, s, x, yt) in items if _norm_ws(t)]
    assert len(blocks) == len(expected)
    for b, (t, s, x, yt) in zip(blocks, expected):
        assert b.text == _norm_ws(t)
        assert b.tag == _tag_for_size(s)
        assert abs(b.x1 - x) < 1e-6
        assert abs(b.y1 - yt) < 1e-6
        assert not b.in_boiler


@given(
    page_texts=st.lists(
        st.lists(_pdf_text, min_size=1, max_size=3), min_size=1, max_size=4
    ),
    compress=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_pdf_multipage_scroll_roundtrip(page_texts, compress):
    """Multi-page PDFs parse as a continuous scroll: page k's blocks
    are offset by k*page_h, page order preserved, total height is
    n_pages * page_h."""
    from doclayout_yolo_spark.extract import _norm_ws
    from doclayout_yolo_spark.pdf import build_pdf_pages, parse_pdf_blocks

    pages = []
    for texts in page_texts:
        pages.append([
            (t, 12.0, 60.0, 100.0 + 40.0 * j) for j, t in enumerate(texts)
        ])
    pdf = build_pdf_pages(pages, compress=compress)
    blocks, _, total_h = parse_pdf_blocks(pdf)
    assert total_h == 792.0 * len(pages)
    expected = [
        (k, _norm_ws(t), 100.0 + 40.0 * j)
        for k, texts in enumerate(page_texts)
        for j, t in enumerate(texts)
        if _norm_ws(t)
    ]
    assert len(blocks) == len(expected)
    for b, (k, t, y_top) in zip(blocks, expected):
        assert b.text == t
        assert abs(b.y1 - (k * 792.0 + y_top)) < 1e-6


_fuzz_payload = st.one_of(
    st.binary(min_size=0, max_size=600),
    st.binary(min_size=0, max_size=300).map(lambda b: b"%PDF-1.4\n" + b),
    st.text(max_size=400).map(lambda s: ("<html><body>" + s).encode("utf-8", "replace")),
)


@given(raw=_fuzz_payload)
@settings(max_examples=400, deadline=None)
def test_quarantine_wrapper_never_raises_on_fuzz(raw):
    """Arbitrary bytes — random garbage, truncated PDFs with a valid
    magic, and unterminated HTML — must flow through the per-document
    quarantine wrapper without raising and without emitting
    Arrow-unserializable text (lone surrogates): the partition-level
    reality of a 10^12-document crawl where poisoned payloads are a
    statistical certainty."""
    from doclayout_yolo_spark.extract import extract_documents

    text, regions, _meta, _err = extract_documents([raw])[0]
    assert isinstance(text, str)
    text.encode("utf-8")  # no lone surrogates -> Arrow-safe
    for r in regions:
        assert text[r.start : r.end] == r.text


@given(st.binary(max_size=600))
@settings(max_examples=120, deadline=None)
def test_sniff_and_decode_never_raise(raw):
    # charset sniffing + fallback decode are total functions over
    # arbitrary bytes (r5 surface)
    from doclayout_yolo_spark.extract import decode_html, sniff_charset

    sniff_charset(raw)
    out = decode_html(raw)
    assert isinstance(out, str)
    out.encode("utf-8")  # Arrow-serializable (no lone surrogates)


@given(st.binary(max_size=600))
@settings(max_examples=120, deadline=None)
def test_outlinks_never_raise_on_garbage(raw):
    from doclayout_yolo_spark.extract import extract_outlinks

    links = extract_outlinks("https://h.example.org/a/b", raw)
    assert all(isinstance(x, str) for x in links)


def test_outlinks_skip_malformed_authority():
    # urljoin raises ValueError on an unclosed IPv6 bracket — the link
    # (or a malformed <base>) is skipped, never the page
    from doclayout_yolo_spark.extract import extract_outlinks

    h = b'<a href="http://[::1">bad</a><a href="/ok">good</a>'
    assert extract_outlinks("https://h.example.org/", h) == [
        "https://h.example.org/ok"
    ]
    h2 = b'<base href="http://[broken"><a href="/x">y</a>'
    assert extract_outlinks("https://h.example.org/", h2) == [
        "https://h.example.org/x"
    ]


@given(st.binary(max_size=400))
@settings(max_examples=120, deadline=None)
def test_differences_parse_never_raises(raw):
    from doclayout_yolo_spark.pdf import _parse_differences, is_encrypted_pdf

    d = _parse_differences(b"<< /Differences [" + raw + b"] >>")
    if d:
        for code, ch in d.items():
            assert 0 <= code <= 255
            ch.encode("utf-8")  # never a lone surrogate
    is_encrypted_pdf(raw)  # total over arbitrary bytes


@given(
    raw=st.binary(max_size=400),
    filt=st.sampled_from(
        [
            b"/FlateDecode",
            b"/LZWDecode",
            b"/ASCIIHexDecode",
            b"/ASCII85Decode",
            b"/RunLengthDecode",
            b"[/ASCII85Decode /FlateDecode]",
            b"[/RunLengthDecode /LZWDecode]",
            b"/DCTDecode",
        ]
    ),
    parms=st.sampled_from(
        [b"", b" /DecodeParms << /Predictor 12 /Columns 4 >>",
         b" /DecodeParms << /Predictor 2 >>", b" /EarlyChange 0"]
    ),
)
@settings(max_examples=300, deadline=None)
def test_decode_stream_total_over_garbage(raw, filt, parms):
    """_decode_stream is a total function over arbitrary stream bodies
    for every filter chain: it returns bytes or None (degrade), never
    raises — a poisoned stream costs one page slot, not a document or
    a task (r5 filter-chain surface)."""
    from doclayout_yolo_spark.pdf import _decode_stream

    out = _decode_stream(b"<< /Filter " + filt + parms + b" >>", raw)
    assert out is None or isinstance(out, bytes)


def test_tag_scanner_linear_on_unclosed_tag_junk():
    """ReDoS regression (r5): an open tag followed by attribute-like
    junk with no closing '>' must scan in linear time — the
    plain-greedy attribute grammar backtracked exponentially here
    (one corrupt crawl page pinned a core for hours).  200k chars of
    the adversarial shape must parse in well under a second."""
    import time

    from doclayout_yolo_spark.extract import parse_blocks

    for evil in (
        "<a " + "x=y " * 50_000 + "\x00" * 64,
        "<a" + "=.." * 60_000,
        "<div " + "a" * 200_000,
        "<p " + "'" * 100_000,
    ):
        t0 = time.time()
        parse_blocks(evil.encode("utf-8", "replace"))
        assert time.time() - t0 < 1.0
