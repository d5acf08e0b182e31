"""PDF-layout-parse leg: parser semantics, format dispatcher, and
byte-identity of the Spark pipeline with the oracle on PDF inputs."""

from __future__ import annotations

import zlib

import pandas as pd
import pytest

from doclayout_yolo_spark.extract import extract_document
from doclayout_yolo_spark.fixtures import PAGES_DDL, generate_pages_pandas, make_pdf_rows
from doclayout_yolo_spark.oracle import extract_rows
from doclayout_yolo_spark.pdf import build_pdf, parse_pdf_blocks
from doclayout_yolo_spark.pipeline import extract_pages


def test_pdf_string_escapes_roundtrip():
    tricky = r"paren (pairs) and \ backslash and ) stray"
    pdf = build_pdf([(tricky, 12.0, 50.0, 100.0)])
    blocks, _, _ = parse_pdf_blocks(pdf)
    assert len(blocks) == 1
    assert blocks[0].text == tricky


def test_pdf_title_body_footer_semantics():
    pdf = build_pdf([
        ("Big Title", 24.0, 60.0, 80.0),
        ("Body paragraph with enough words to be believable.", 12.0, 60.0, 150.0),
        ("copyright footer", 9.0, 60.0, 760.0),
        ("running header", 9.0, 60.0, 10.0),
    ])
    text, regions, meta = extract_document(pdf)
    assert text.startswith("Big Title\n\nBody paragraph")
    assert "copyright" not in text and "running header" not in text
    assert [r.name for r in regions] == ["title", "plain text"]
    # real PDF coordinates round-trip (writer baseline conversion is
    # the parser's inverse): the title box sits at its authored y_top
    assert regions[0].y1 == pytest.approx(80.0, abs=1.0)
    assert meta["page_h"] == 792.0


def test_pdf_geometry_from_mediabox():
    pdf = build_pdf([("hello world page", 12.0, 10.0, 20.0)],
                    page_w=300.0, page_h=400.0)
    blocks, w, h = parse_pdf_blocks(pdf)
    assert (w, h) == (300.0, 400.0)
    assert blocks[0].y1 == pytest.approx(20.0)


_DEMO = [
    ("Big Title", 24.0, 60.0, 80.0),
    ("Body paragraph with enough words to be believable.", 12.0, 60.0, 150.0),
    ("copyright footer", 9.0, 60.0, 760.0),
]


def test_flate_compressed_equals_uncompressed():
    # FlateDecode streams (what every real-world PDF writer emits)
    # must extract byte-identically to the plain-text twin
    plain = extract_document(build_pdf(_DEMO))
    comp = extract_document(build_pdf(_DEMO, compress=True))
    assert comp == plain
    assert plain[0].startswith("Big Title")


def test_corrupt_flate_stream_yields_no_blocks_not_crash():
    junk = zlib.compress(b"BT (hidden) Tj ET")[:-4] + b"\x00\x00\x00\x00"
    raw = (
        b"%%PDF-1.4\n1 0 obj\n<< /Length %d /Filter /FlateDecode >>\n"
        b"stream\n%s\nendstream\nendobj\n" % (len(junk), junk)
    )
    text, regions, meta = extract_document(raw)
    assert text == "" and regions == []


def test_unknown_filter_yields_no_blocks_not_crash():
    raw = (
        b"%%PDF-1.4\n1 0 obj\n<< /Length 20 /Filter /DCTDecode >>\n"
        b"stream\nBT (hidden) Tj ET\nendstream\nendobj\n"
    )
    text, regions, meta = extract_document(raw)
    assert text == "" and regions == []


def test_hex_string_show_operator():
    from doclayout_yolo_spark.pdf import parse_pdf_blocks as parse

    # whitespace inside hex data is ignored; odd digit count pads 0
    raw = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 999 >>\nstream\n"
        b"BT /F1 12 Tf 1 0 0 1 50 700 Tm <48656C 6C6F20776F726C64> Tj ET"
        b"\nendstream\nendobj\n"
    )
    blocks, _, _ = parse(raw)
    assert blocks[0].text == "Hello world"


@pytest.mark.parametrize("style", ["TJ", "Tstar", "hex", "hexTJ", "winansi", "cid", "diffenc"])
@pytest.mark.parametrize("compress", [False, True])
def test_show_operator_styles_equal_plain(style, compress):
    # word-per-segment TJ arrays (kerned) and TL/T* line advances must
    # extract the same text as one literal Tj string
    plain = extract_document(build_pdf(_DEMO))
    other = extract_document(build_pdf(_DEMO, compress=compress, style=style))
    assert other[0] == plain[0]
    assert [r.text for r in other[1]] == [r.text for r in plain[1]]


def test_cid_tounicode_roundtrips_cjk_and_nonbmp():
    # the encoding real Word/LaTeX writers emit: Type0 font, 2-byte CID
    # codes in hex strings, /ToUnicode CMap back to Unicode — including
    # a surrogate-pair (non-BMP) bfchar entry
    from doclayout_yolo_spark.pdf import build_pdf, parse_pdf_blocks

    exotic = "日本語テキスト naïve café — test 🚀 end"
    raw = build_pdf(
        [("Title X", 24.0, 60.0, 80.0), (exotic, 12.0, 60.0, 150.0)],
        style="cid",
        compress=True,
    )
    blocks, _, _ = parse_pdf_blocks(raw)
    assert [b.text for b in blocks] == ["Title X", exotic]


def test_unmapped_surrogate_cids_never_emit_lone_surrogates():
    # Identity-H without ToUnicode: codes in 0xD800-0xDFFF must decode
    # to U+FFFD, not lone surrogates (which crash Arrow serialization
    # OUTSIDE the per-doc quarantine wrapper -> task failure)
    from doclayout_yolo_spark.pdf import _Font

    f = _Font(cmap={}, code_bytes=2)
    out = f.decode(b"\xd8\x00\x00\x41\xdf\xff")
    assert out == "�A�"
    out.encode("utf-8")  # must be serializable


def test_bfrange_expansion_is_capped_and_overflow_safe():
    from doclayout_yolo_spark.pdf import _parse_tounicode

    # adversarial full-plane range must not loop 4e9 times
    cmap, _ = _parse_tounicode(
        b"1 beginbfrange <00000000> <ffffffff> <0041> endbfrange\n"
    )
    # capped to one 16-bit plane (and further trimmed where the 2-byte
    # destination 0x41+off would itself overflow)
    assert len(cmap) == 0x10000 - 0x41
    assert cmap[0] == "A"
    # destination overflowing its width stops the range, keeps the rest
    cmap2, _ = _parse_tounicode(
        b"1 beginbfrange <00f0> <0100> <fff0> endbfrange\n"
        b"1 beginbfchar <01> <0042> endbfchar\n"
    )
    assert cmap2[0x01] == "B"
    assert 0x100 not in cmap2  # would have needed dst 0x10000 in 2 bytes


def test_odd_digit_cmap_destination_degrades_per_entry():
    """r4 advisor finding: an odd-digit destination like <041> (sloppy
    producer) must not raise out of _parse_tounicode and quarantine the
    whole doc — it pads with a trailing '0' like _hex_bytes does."""
    from doclayout_yolo_spark.pdf import _parse_tounicode, _u16

    assert _u16(b"041") == bytes.fromhex("0410").decode("utf-16-be")
    cmap, _ = _parse_tounicode(
        b"2 beginbfchar <01> <041> <02> <0042> endbfchar\n"
    )
    assert cmap[0x02] == "B"  # well-formed sibling entry unaffected
    assert 0x01 in cmap  # malformed entry degraded, not fatal


def test_tounicode_bfrange_array_form_and_width():
    from doclayout_yolo_spark.pdf import _parse_tounicode

    cmap, width = _parse_tounicode(
        b"begincodespacerange <00> <ff> endcodespacerange\n"
        b"1 beginbfrange <41> <43> [<0058> <0059> <005a>] endbfrange\n"
        b"1 beginbfchar <01> <0041> endbfchar\n"
    )
    assert width == 1
    assert cmap[0x41] == "X" and cmap[0x42] == "Y" and cmap[0x43] == "Z"
    assert cmap[0x01] == "A"


def test_winansi_encoding_decodes_cp1252_bytes():
    from doclayout_yolo_spark.pdf import build_pdf, parse_pdf_blocks

    wtext = "smart “quotes” and € dash — plus ™"
    raw = build_pdf(
        [("Title X", 24.0, 60.0, 80.0), (wtext, 12.0, 60.0, 150.0)],
        style="winansi",
    )
    blocks, _, _ = parse_pdf_blocks(raw)
    assert blocks[1].text == wtext


def test_octal_escapes_in_literal_strings():
    from doclayout_yolo_spark.pdf import parse_pdf_blocks as parse

    raw = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 999 >>\nstream\n"
        b"BT /F1 12 Tf 1 0 0 1 50 700 Tm (A\\053B \\101gain) Tj ET"
        b"\nendstream\nendobj\n"
    )
    blocks, _, _ = parse(raw)
    assert blocks[0].text == "A+B Again"  # \053='+', \101='A'


def test_hex_items_inside_tj_array():
    from doclayout_yolo_spark.pdf import parse_pdf_blocks as parse

    raw = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 999 >>\nstream\n"
        b"BT /F1 12 Tf 1 0 0 1 50 700 Tm"
        b" [<486579> -250 (there) -40 <21>] TJ ET\nendstream\nendobj\n"
    )
    blocks, _, _ = parse(raw)
    assert blocks[0].text == "Hey there!"


def test_undecodable_page_keeps_its_slot():
    # a page whose /Contents stream is corrupt contributes zero blocks
    # AT ITS POSITION: later pages must not shift up the scroll
    from doclayout_yolo_spark.pdf import build_pdf_pages, parse_pdf_blocks

    raw = build_pdf_pages(
        [
            [("first page", 12.0, 60.0, 150.0)],
            [("second page", 12.0, 60.0, 150.0)],
            [("third page", 12.0, 60.0, 150.0)],
        ],
        compress=True,
    )
    # corrupt ONLY page 2's flate body (objects: 1 cat, 2 pages, 3 font,
    # 4/6/8 page dicts, 5/7/9 content streams)
    import re as _re

    streams = list(_re.finditer(rb"stream\r?\n(.*?)endstream", raw, _re.S))
    assert len(streams) == 3
    s = streams[1]
    raw = raw[: s.start(1)] + b"X" * (s.end(1) - s.start(1)) + raw[s.end(1):]
    blocks, _w, total_h = parse_pdf_blocks(raw)
    assert [b.text for b in blocks] == ["first page", "third page"]
    page_h = total_h / 3
    assert blocks[1].y1 > 2 * page_h  # third page stays on slot 3


def test_tj_kern_threshold_and_small_kerns():
    from doclayout_yolo_spark.pdf import parse_pdf_blocks as parse

    raw = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 999 >>\nstream\n"
        b"BT /F1 12 Tf 1 0 0 1 50 700 Tm"
        b" [(Ker) -40 (ned) -250 (words)] TJ ET\nendstream\nendobj\n"
    )
    blocks, _, _ = parse(raw)
    # -40 is glyph kerning (no space); -250 is an inter-word gap
    assert blocks[0].text == "Kerned words"


def test_quote_td_tc_tw_operators():
    from doclayout_yolo_spark.pdf import parse_pdf_blocks as parse

    raw = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 999 >>\nstream\n"
        b"BT /F1 12 Tf 0.5 Tc 2 Tw 1 0 0 1 50 700 Tm 0 -14 TD"
        b" (first line) Tj (second line) ' ET\nendstream\nendobj\n"
    )
    blocks, _, _ = parse(raw)
    assert blocks[0].text == "first line second line"
    # TD moved down 14 from Tm's 700 -> baseline 686; ' advances one
    # more leading (TD set TL=14) -> last line at 672
    assert blocks[0].y1 == pytest.approx(792.0 - 686.0 - 12.0)
    # Tc/Tw widen the glyph-advance width model
    assert blocks[0].x2 - blocks[0].x1 == pytest.approx(
        (0.5 * 12 + 0.5) * len("first line second line") + 2 * 3
    )


@pytest.mark.parametrize("compress", [False, True])
def test_objstm_layout_equals_classic(compress):
    # PDF 1.5 object streams: page dicts packed into a FlateDecode
    # /ObjStm must extract byte-identically to the classic layout
    plain = extract_document(build_pdf(_DEMO))
    via_objstm = extract_document(
        build_pdf(_DEMO, compress=compress, objstm=True)
    )
    assert via_objstm == plain


def test_objstm_mediabox_resolved_from_packed_page_dict():
    # the MediaBox lives inside the compressed /ObjStm: geometry must
    # come from the resolved page dict, not a raw-byte regex
    pdf = build_pdf([("Hello world", 12.0, 60.0, 150.0)],
                    page_w=400.0, page_h=500.0, objstm=True)
    blocks, w, h = parse_pdf_blocks(pdf)
    assert (w, h) == (400.0, 500.0)
    assert blocks[0].y1 == pytest.approx(150.0)


def test_upward_reposition_never_inverts_box():
    # a second Tm ABOVE the first shown string (columns, superscripts)
    # must not produce y2 < y1 — degenerate boxes poison NMS/IoU
    raw = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 999 >>\nstream\n"
        b"BT /F1 12 Tf 1 0 0 1 50 300 Tm (low) Tj"
        b" 1 0 0 1 50 700 Tm (high) Tj ET\nendstream\nendobj\n"
    )
    blocks, _, _ = parse_pdf_blocks(raw)
    assert blocks[0].y2 > blocks[0].y1


def test_objstm_multipage_kids_order():
    from doclayout_yolo_spark.pdf import build_pdf_pages, parse_pdf_blocks

    pdf = build_pdf_pages(
        [
            [("Page one body", 12.0, 60.0, 150.0)],
            [("Page two body", 12.0, 60.0, 150.0)],
            [("Page three body", 12.0, 60.0, 150.0)],
        ],
        objstm=True,
        compress=True,
    )
    blocks, _, total_h = parse_pdf_blocks(pdf)
    assert total_h == pytest.approx(3 * 792.0)
    assert [b.text for b in blocks] == [
        "Page one body", "Page two body", "Page three body",
    ]
    assert blocks[2].y1 == pytest.approx(2 * 792.0 + 150.0)


def test_multipage_continuous_scroll():
    from doclayout_yolo_spark.pdf import build_pdf_pages, parse_pdf_blocks

    pdf = build_pdf_pages(
        [
            [("Page one body text here", 12.0, 60.0, 150.0)],
            [("Page two body text here", 12.0, 60.0, 150.0),
             ("copyright footer", 9.0, 60.0, 760.0)],
        ],
        compress=True,
    )
    blocks, w, total_h = parse_pdf_blocks(pdf)
    assert total_h == pytest.approx(2 * 792.0)
    assert len(blocks) == 3
    assert blocks[0].y1 == pytest.approx(150.0)
    assert blocks[1].y1 == pytest.approx(792.0 + 150.0)
    # footer strip applies per PHYSICAL page: page-2 footer still boiler
    assert not blocks[0].in_boiler and not blocks[1].in_boiler
    assert blocks[2].in_boiler
    text, regions, meta = extract_document(pdf)
    assert "Page one body text here" in text
    assert "Page two body text here" in text
    assert "copyright" not in text
    assert meta["page_h"] == pytest.approx(2 * 792.0)


def test_pdf_pipeline_byte_identity(spark):
    import numpy as np

    pdf_rows = make_pdf_rows(np.arange(24))
    df = spark.createDataFrame(pdf_rows, schema=PAGES_DDL)
    got = {
        r["url"]: r["extracted_text"]
        for r in extract_pages(df, n_buckets=8).collect()
    }
    want = {
        rec["url"]: rec["extracted_text"]
        for rec in extract_rows(
            (u, bytes(h)) for u, h in zip(pdf_rows["url"], pdf_rows["html"])
        )
    }
    assert got == want
    assert all(t for t in got.values())


def test_mixed_html_pdf_single_job(spark):
    # the source dispatcher: one table, two formats, one kernel pass
    import numpy as np

    html_rows = generate_pages_pandas(15)
    pdf_rows = make_pdf_rows(np.arange(15))
    both = pd.concat([html_rows, pdf_rows], ignore_index=True)
    df = spark.createDataFrame(both, schema=PAGES_DDL)
    out = extract_pages(df, n_buckets=8).collect()
    assert len(out) == 30
    assert all(r["error"] is None for r in out)
    pdf_texts = [r for r in out if r["url"].endswith(".pdf")]
    assert len(pdf_texts) == 15
    assert all(r["extracted_text"].startswith("Pdf document") for r in pdf_texts)


def test_encrypted_pdf_quarantines_with_distinct_reason():
    """r4 verdict item 6: /Encrypt in the trailer must raise
    EncryptedPdfError (distinct from corrupt-input degradation)."""
    import pytest as _pytest

    from doclayout_yolo_spark.extract import extract_document
    from doclayout_yolo_spark.pdf import (
        EncryptedPdfError,
        build_pdf,
        is_encrypted_pdf,
        parse_pdf_blocks,
    )

    body = build_pdf([("hello secret", 12.0, 60.0, 100.0)])
    enc = body.replace(b"trailer\n<< ", b"trailer\n<< /Encrypt 99 0 R ", 1)
    assert is_encrypted_pdf(enc) and not is_encrypted_pdf(body)
    with _pytest.raises(EncryptedPdfError):
        parse_pdf_blocks(enc)
    # through the batched kernel's quarantine: an error row, not a crash
    from doclayout_yolo_spark.extract import extract_documents

    text, regions, _meta, err = extract_documents([enc])[0]
    assert text == "" and regions == []
    assert err is not None and err.startswith("EncryptedPdfError")

    # page CONTENT merely mentioning the keyword must not false-positive
    chatty = build_pdf([("the /Encrypt 9 0 R entry", 12.0, 60.0, 100.0)])
    assert not is_encrypted_pdf(chatty)
    blocks, _, _ = parse_pdf_blocks(chatty)
    assert any("/Encrypt" in b.text for b in blocks)

    # corrupt (non-encrypted) input still DEGRADES instead of erroring
    corrupt = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 8 /Filter /FlateDecode >>\n"
        b"stream\nBADBYTES\nendstream\nendobj\n"
    )
    text2, _, _, err2 = extract_documents([corrupt])[0]
    assert text2 == "" and err2 is None


def test_differences_encoding_remap_roundtrip():
    """Simple-font /Encoding /Differences (§9.6.6.3): remapped codes
    decode through AGL names, uniXXXX, non-BMP uXXXXXX; unknown glyph
    names degrade to U+FFFD; codes NOT in Differences fall back to the
    /BaseEncoding."""
    from doclayout_yolo_spark.pdf import (
        _glyph_to_unicode,
        _parse_differences,
        build_pdf,
        parse_pdf_blocks,
    )

    exotic = "café €9.50 “quoted” — 中文 🚀 end"
    raw = build_pdf(
        [("Title X", 24.0, 60.0, 80.0), (exotic, 12.0, 60.0, 150.0)],
        style="diffenc",
    )
    blocks, _, _ = parse_pdf_blocks(raw)
    assert [b.text for b in blocks] == ["Title X", exotic]
    # a parser that ignored /Differences would read shifted bytes:
    assert b"(Title X)" not in raw  # the codes really are remapped

    d = _parse_differences(
        b"<< /Differences [128 /Euro /eacute 200 /uni4E2D /u01F680"
        b" /mysteryglyph /zero /A] >>"
    )
    assert d == {128: "€", 129: "é", 200: "中", 201: "🚀",
                 202: "�", 203: "0", 204: "A"}
    # surrogate-range uni names must never emit lone surrogates
    assert _glyph_to_unicode("uniD800") == "�"
    assert _glyph_to_unicode("emdash") == "—"
    assert _glyph_to_unicode("x") == "x"


def test_differences_partial_remap_uses_base_encoding():
    # only SOME codes remapped: the rest decode via WinAnsi base
    from doclayout_yolo_spark.pdf import _Font

    f = _Font(winansi=True, diffs={0x80: "X"})
    # 0x80 remapped; 0x93 falls through to WinAnsi (U+201C)
    assert f.decode(b"\x80a\x93") == "Xa“"


def test_encrypted_xref_stream_detected_via_startxref():
    """r5 second-pass review: the XRef-stream /Encrypt check follows
    the tail startxref pointer (works at any distance before EOF) and
    page content quoting an XRef dict cannot false-positive."""
    from doclayout_yolo_spark.pdf import is_encrypted_pdf

    xref_obj = (
        b"9 0 obj\n<< /Type /XRef /Size 10 /W [1 2 1] /Root 1 0 R"
        b" /Encrypt 5 0 R /Length 4 >>\nstream\nAAAA\nendstream\nendobj\n"
    )
    body = b"%PDF-1.5\n" + b"%" + b"x" * 20_000 + b"\n"  # xref >8KB before EOF
    off = len(body)
    raw = body + xref_obj + b"startxref\n%d\n%%%%EOF\n" % off
    assert is_encrypted_pdf(raw)
    # same layout without /Encrypt: clean
    clean_obj = xref_obj.replace(b" /Encrypt 5 0 R", b"")
    raw2 = body + clean_obj + b"startxref\n%d\n%%%%EOF\n" % off
    assert not is_encrypted_pdf(raw2)
    # content QUOTING an encrypted xref dict, real startxref pointing
    # at a clean one: not encrypted
    quote = b"1 0 obj\n<< /Length 99 >>\nstream\nBT (see << /Type /XRef /Encrypt 9 0 R >>) Tj ET\nendstream\nendobj\n"
    body3 = b"%PDF-1.5\n" + quote
    off3 = len(body3)
    raw3 = body3 + clean_obj + b"startxref\n%d\n%%%%EOF\n" % off3
    assert not is_encrypted_pdf(raw3)


# --- stream filter chain (ISO 32000-1 §7.4) ----------------------------------


@pytest.mark.parametrize(
    "spec",
    ["ahx", "a85", "rl", "lzw", "a85+flate", "rl+flate", "ahx+flate", "lzw"],
)
def test_filter_chain_equals_plain(spec):
    texts = [
        ("Doc 1", 24.0, 60.0, 80.0),
        ("chain codec body text", 12.0, 60.0, 150.0),
    ]
    plain = parse_pdf_blocks(build_pdf(texts))
    coded = parse_pdf_blocks(build_pdf(texts, compress=spec))
    assert coded == plain and len(plain[0]) == 2


def test_lzw_iso_spec_vector():
    # ISO 32000-1 §7.4.4.2 example input: bytes (decimal) 45 x5, 65,
    # 45 x4.  The TIFF-LZW code sequence is 256 45 258 258 65 259 45
    # 257 (hand-traced: 258='--' is learned after the 2nd 45 and
    # emitted twice, 259='---' once), which packs at 9 bits/code to
    # the byte vector below.
    from doclayout_yolo_spark.pdf import _lzw_decode, _lzw_encode

    raw = bytes([45] * 5 + [65] + [45] * 4)
    enc = bytes.fromhex("800b6050220c0c5b01")
    assert _lzw_decode(enc) == raw
    assert _lzw_encode(raw) == enc
    assert _lzw_decode(_lzw_encode(raw)) == raw


def test_lzw_eod_at_width_boundary_roundtrips():
    # regression: when the table reaches the 9->10-bit widen threshold
    # exactly at the FINAL data code, the decoder (maxcode-1 rule)
    # widens after its post-read add while the encoder did no add —
    # EOD must be emitted at the widened width.  253 incompressible
    # bytes put next_code at 510 on the last code (was: decoder read a
    # 10-bit 514 where the encoder wrote a 9-bit EOD).
    import random

    from doclayout_yolo_spark.pdf import _lzw_decode, _lzw_encode

    rng = random.Random(0)
    for n in (252, 253, 254):
        raw = bytes(rng.randrange(256) for _ in range(n))
        assert _lzw_decode(_lzw_encode(raw)) == raw


def test_lzw_width_change_roundtrip_large():
    # enough distinct digrams to cross the 9->10->11 bit width bumps,
    # where a decoder without the "-1 early" rule desyncs
    import random

    rng = random.Random(7)
    raw = bytes(rng.randrange(256) for _ in range(20000))
    from doclayout_yolo_spark.pdf import _lzw_decode, _lzw_encode

    assert _lzw_decode(_lzw_encode(raw)) == raw
    # EarlyChange 0 variant
    assert _lzw_decode(_lzw_encode(raw, early=0), early=0) == raw


def test_ascii_hex_odd_digit_and_whitespace():
    from doclayout_yolo_spark.pdf import _ahx_decode

    assert _ahx_decode(b"48 65 6c\n6c 6f>") == b"Hello"
    # odd trailing digit pads with 0 (ISO 7.4.2)
    assert _ahx_decode(b"4865 6c6c 6f 4>") == b"Hello@"


def test_runlength_roundtrip_and_truncation():
    from doclayout_yolo_spark.pdf import _rl_decode, _rl_encode

    for raw in [b"", b"a", b"aaaa", b"abcabc", b"x" * 300, b"ab" + b"c" * 200 + b"de"]:
        assert _rl_decode(_rl_encode(raw)) == raw
    with pytest.raises(ValueError):
        _rl_decode(b"\x05ab")  # literal run claims 6 bytes, has 2


def test_png_predictor_up_and_sub():
    from doclayout_yolo_spark.pdf import _png_predictor

    # Up filter: rows are deltas vs previous row
    rows = [b"\x02\x01\x02\x03\x04", b"\x02\x01\x01\x01\x01"]
    out = _png_predictor(b"".join(rows), columns=4)
    assert out == bytes([1, 2, 3, 4, 2, 3, 4, 5])
    # Sub filter: bytes are deltas vs left neighbour
    out = _png_predictor(b"\x01\x05\x01\x01\x01", columns=4)
    assert out == bytes([5, 6, 7, 8])


def test_flate_predictor_stream_decodes():
    # hand-build a Flate stream with /Predictor 12 (PNG Up), as xref
    # and object streams in wild PDFs declare
    from doclayout_yolo_spark.pdf import _decode_stream

    payload = bytes([1, 2, 3, 4, 2, 3, 4, 5])
    filtered = b"\x02\x01\x02\x03\x04" + b"\x02\x01\x01\x01\x01"
    body = zlib.compress(filtered)
    d = b"<< /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 4 >> >>"
    assert _decode_stream(d, body) == payload


def test_tiff_predictor_degrades_to_none():
    from doclayout_yolo_spark.pdf import _decode_stream

    body = zlib.compress(b"anything")
    d = b"<< /Filter /FlateDecode /DecodeParms << /Predictor 2 /Columns 4 >> >>"
    assert _decode_stream(d, body) is None


def test_filter_abbreviations_and_bad_chain_degrade():
    from doclayout_yolo_spark.pdf import _decode_stream

    # short names (inline-image abbreviations some writers leak)
    assert _decode_stream(b"<< /Filter /AHx >>", b"4869>") == b"Hi"
    # unknown codec in the middle of a chain -> None, not crash
    assert (
        _decode_stream(b"<< /Filter [/ASCII85Decode /DCTDecode] >>", b"x")
        is None
    )
    # corrupt a85 payload -> None
    assert _decode_stream(b"<< /Filter /ASCII85Decode >>", b"\xff\xff~>") is None


def test_decompression_bombs_degrade_not_oom():
    """A stream whose decode output exceeds the 64 MB per-stream cap
    degrades to None (one lost page) instead of materializing GBs on
    an executor: Flate (~1032:1), LZW (~3840:1), RunLength (128:1)."""
    from doclayout_yolo_spark.pdf import _decode_stream, _lzw_encode

    big = b"\x00" * (70 << 20)
    assert (
        _decode_stream(b"<< /Filter /FlateDecode >>", zlib.compress(big))
        is None
    )
    assert (
        _decode_stream(b"<< /Filter /LZWDecode >>", _lzw_encode(big)) is None
    )
    rl_bomb = (b"\x81\x00") * ((64 << 20) // 128 + 16)
    assert _decode_stream(b"<< /Filter /RunLengthDecode >>", rl_bomb) is None
    # a normal-size stream still decodes through the same paths
    assert (
        _decode_stream(b"<< /Filter /FlateDecode >>", zlib.compress(b"ok"))
        == b"ok"
    )
