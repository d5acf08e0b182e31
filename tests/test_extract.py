"""Tests for the HTML block parser, layout, features and the
per-document extraction core (no Spark)."""

from __future__ import annotations

import numpy as np

from doclayout_yolo_spark.extract import (
    extract_document,
    extract_documents,
    layout_blocks,
    parse_blocks,
)
from doclayout_yolo_spark.fixtures import generate_pages_pandas, make_page
from doclayout_yolo_spark.textfeat import (
    N_FEATURES,
    feature_vector,
    keyword_scores,
    text_stats,
)

HTML = b"""<!DOCTYPE html><html><head><title>T</title>
<script>junk()</script></head><body>
<nav><ul><li><a href="/a">a</a></li><li><a href="/b">b</a></li></ul></nav>
<h1>Main Title Here</h1>
<p>First paragraph with enough words to be real content for sure.</p>
<ul><li>item one text</li><li>item two text</li></ul>
<figure><img src="x.png" alt="a diagram"/><figcaption>Figure 1: caption text</figcaption></figure>
<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>
<footer><p>copyright <a href="/p">privacy</a></p></footer>
</body></html>"""


def test_parse_blocks_structure():
    blocks = parse_blocks(HTML)
    tags = [b.tag for b in blocks]
    assert "h1" in tags and "p" in tags and "figcaption" in tags and "table" in tags
    h1 = next(b for b in blocks if b.tag == "h1")
    assert h1.text == "Main Title Here"
    assert not h1.in_boiler
    nav_blocks = [b for b in blocks if b.in_boiler]
    assert nav_blocks, "nav/footer blocks must be flagged boilerplate"
    table = next(b for b in blocks if b.tag == "table")
    assert "a | b" in table.text and "║" in table.text
    # script text never leaks
    assert not any("junk" in b.text for b in blocks)


def test_link_density():
    blocks = parse_blocks(
        b"<body><p><a href='/x'>linked words here</a> and free text</p></body>"
    )
    b = blocks[0]
    assert 0.4 < b.link_density < 0.8


def test_layout_is_monotonic_flow():
    blocks = parse_blocks(HTML)
    _, page_h = layout_blocks(blocks)
    ys = [b.y1 for b in blocks]
    assert ys == sorted(ys)
    assert all(b.y2 <= float(page_h) for b in blocks)
    assert all(b.x2 > b.x1 and b.y2 > b.y1 for b in blocks)


def test_extract_strips_boilerplate_keeps_content():
    text, regions, meta = extract_document(HTML)
    assert "Main Title Here" in text
    assert "First paragraph" in text
    assert "Figure 1: caption text" in text
    assert "copyright" not in text and "privacy" not in text
    names = {r.name for r in regions}
    assert "title" in names and "plain text" in names
    assert "abandon" not in names


def test_span_offsets_exact():
    text, regions, _ = extract_document(HTML)
    for r in regions:
        assert text[r.start : r.end] == r.text


def test_reading_order_of_regions():
    text, regions, _ = extract_document(HTML)
    ys = [r.y1 for r in regions]
    assert ys == sorted(ys)  # pure vertical flow layout => y-sorted


def test_extraction_is_deterministic():
    a = extract_document(HTML)
    b = extract_document(HTML)
    assert a[0] == b[0]
    assert [vars(r) for r in a[1]] == [vars(r) for r in b[1]]


def test_degenerate_inputs():
    for raw in (b"", b"plain text no tags", b"<body><p></p></body>", b"\xff\xfe junk"):
        text, regions, meta = extract_document(raw)
        assert isinstance(text, str)
        assert meta["n_regions"] == len(regions)


def test_malformed_html_no_crash():
    text, regions, _ = extract_document(
        b"<body><p>unclosed <div><h1>nested wrong</p></h1><p>more text here</body>"
    )
    assert isinstance(text, str)


def test_fixture_pages_roundtrip():
    pdf = generate_pages_pandas(10)
    assert list(pdf.columns) == ["url", "warc_ts", "html", "text", "lang"]
    # regenerating the same url is byte-stable
    h1, t1, l1 = make_page(pdf["url"][3])
    assert h1 == pdf["html"][3] and t1 == pdf["text"][3] and l1 == pdf["lang"][3]
    for html in pdf["html"]:
        text, regions, meta = extract_document(html)
        assert meta["n_regions"] > 0
        assert "subscribe" not in text and "copyright" not in text


def test_feature_vector_dims_and_values():
    v = feature_vector("Table 1: The total.", (10, 20, 110, 70), (1000, 500))
    assert v.shape == (N_FEATURES,) and v.dtype == np.float32
    stats = text_stats("Ab1 cd.")
    assert stats[0] == np.float32(np.log1p(7.0))
    assert abs(stats[2] - 1 / 7) < 1e-6  # digit ratio
    assert abs(stats[3] - 1 / 7) < 1e-6  # upper ratio
    kw = keyword_scores("this table shows the total for each row")
    assert kw[5] == 1.0  # all 3 of table/total/row present
    sp = v[17:]
    np.testing.assert_allclose(
        sp, [0.01, 0.04, 0.1, 0.1, 0.06, 0.09], atol=1e-6
    )


# ---------------------------------------------------------------------------
# charset sniffing (r4 verdict item 1: non-UTF-8 Common-Crawl pages)
# ---------------------------------------------------------------------------


def _page(body: str, head: str = "") -> str:
    return f"<html><head>{head}</head><body><p>{body}</p></body></html>"


def test_sniff_charset_bom_and_meta():
    from doclayout_yolo_spark.extract import sniff_charset

    assert sniff_charset(b"\xef\xbb\xbf<html>") == "utf-8-sig"
    assert sniff_charset("x".encode("utf-16")) == "utf-16"
    assert (
        sniff_charset(b'<meta charset="windows-1252">') == "cp1252"
    )
    assert sniff_charset(b"<meta charset=ISO-8859-1>") == "cp1252"
    assert (
        sniff_charset(
            b'<meta http-equiv="Content-Type" '
            b'content="text/html; charset=Shift_JIS">'
        )
        == "cp932"
    )
    assert sniff_charset(b"<meta charset='gb2312'>") == "gbk"
    assert sniff_charset(b"<meta charset=KOI8-R>") == "koi8-r"
    # undeclared -> "" (caller tries strict utf-8, then cp1252)
    assert sniff_charset(b"<html><p>nothing declared</p>") == ""
    # unknown label and ASCII-bytes utf-16 claim both degrade to utf-8
    assert sniff_charset(b"<meta charset=x-mystery-enc>") == "utf-8"
    assert sniff_charset(b"<meta charset=utf-16>") == "utf-8"
    # declaration OUTSIDE the 1024-byte prescan window is ignored
    late = b"<html><head>" + b" " * 1100 + b'<meta charset="gbk"></head>'
    assert sniff_charset(late) == ""


def test_undeclared_cp1252_falls_back_cleanly():
    """No BOM, no meta: strict utf-8 first (valid utf-8 wins), then
    cp1252 — the WHATWG default legacy encoding — instead of mangling
    every non-ASCII byte to U+FFFD."""
    from doclayout_yolo_spark.extract import decode_html

    legacy = _page("café — naïve résumé, 99¢").encode("cp1252")
    assert decode_html(legacy) == _page("café — naïve résumé, 99¢")
    utf8 = _page("日本語 café").encode("utf-8")
    assert decode_html(utf8) == _page("日本語 café")
    # truncated utf-8 (invalid) routes to cp1252, never raises
    broken = _page("x").encode() + bytes([0xE4, 0xB8])
    assert isinstance(decode_html(broken), str)


def test_decode_html_recovers_legacy_encodings():
    from doclayout_yolo_spark.extract import decode_html

    cases = [
        ("café — naïve", "cp1252", '<meta charset="windows-1252">'),
        ("日本語のテスト", "shift_jis",
         '<meta http-equiv="Content-Type" content="text/html; charset=Shift_JIS">'),
        ("中文测试", "gbk", '<meta charset="GBK">'),
        ("привет", "koi8-r", "<meta charset=koi8-r>"),
    ]
    for marker, codec, head in cases:
        raw = _page(marker, head).encode(codec)
        assert raw.decode("utf-8", "replace") != _page(marker, head)  # mojibake without sniff
        assert decode_html(raw) == _page(marker, head)


def test_extract_document_charset_end_to_end():
    marker = "café — résumé of the naïve approach"
    raw = _page(marker, '<meta charset="windows-1252">').encode("cp1252")
    text, regions, _ = extract_document(raw)
    assert text == marker
    # BOM'd UTF-8 must not leak a ﻿ into the text
    text2, _, _ = extract_document(b"\xef\xbb\xbf" + _page("plain x y").encode())
    assert text2 == "plain x y"
    # a LYING meta tag degrades (replace), never raises
    bad = _page("日本語", '<meta charset="windows-1252">').encode("utf-8")
    text3, _, _ = extract_document(bad)
    assert isinstance(text3, str)


def test_utf8_pages_unchanged_by_sniffer():
    # regression pin: pages with no BOM/meta decode exactly as before
    for i in range(10):
        html, _, _ = make_page(f"https://host00.example.org/article/{i:08d}")
        from doclayout_yolo_spark.extract import decode_html

        assert decode_html(html) == html.decode("utf-8", errors="replace")


def test_gzip_payloads_inflate_transparently():
    """Crawl-archive gzip response bodies: the dispatcher inflates
    \\x1f\\x8b payloads before format routing — HTML and PDF both —
    and corrupt gzip quarantines (error row), never crashes."""
    import gzip

    from doclayout_yolo_spark.pdf import build_pdf

    html = _page("gzip payload body text").encode()
    t1, _, _ = extract_document(gzip.compress(html, mtime=0))
    t2, _, _ = extract_document(html)
    assert t1 == t2 == "gzip payload body text"

    pdf = build_pdf([("Zipped Pdf Title", 24.0, 60.0, 80.0)])
    t3, _, _ = extract_document(gzip.compress(pdf, mtime=0))
    assert t3 == "Zipped Pdf Title"

    corrupt = gzip.compress(html)[:-6] + b"\x00\x00"
    text, regions, _m, err = extract_documents([corrupt])[0]
    assert text == "" and err is not None


def test_extract_outlinks_resolution_and_skips():
    from doclayout_yolo_spark.extract import extract_outlinks

    u = "https://h.example.org/a/b/page.html"
    h = b"""<html><body>
    <a href="https://abs.example.com/x">1</a>
    <a href='/root.html'>2</a>
    <a href=bare.html>3</a>
    <a href="../up.html">4</a>
    <a href="//proto.example.net/p">5</a>
    <a href="?q=2">6</a>
    <a href="#only-fragment">skip</a>
    <a href="javascript:void(0)">skip</a>
    <a href="mailto:x@example.com">skip</a>
    <a name="anchor-no-href">skip</a>
    <a href="ent.html?a=1&amp;b=2">7</a>
    </body></html>"""
    assert extract_outlinks(u, h) == [
        "https://abs.example.com/x",
        "https://h.example.org/root.html",
        "https://h.example.org/a/b/bare.html",
        "https://h.example.org/a/up.html",
        "https://proto.example.net/p",
        "https://h.example.org/a/b/page.html?q=2",
        "https://h.example.org/a/b/ent.html?a=1&b=2",
    ]
    # charset shared with the block parser: cp1252 href survives
    legacy = '<a href="/café">x</a>'.encode("cp1252")
    page = b'<html><head><meta charset="windows-1252"></head><body>' + legacy
    assert extract_outlinks("https://h.example.org/", page) == [
        "https://h.example.org/caf\xe9"
    ]


def test_outlinks_base_href_and_gzip(tmp_path):
    import gzip

    from doclayout_yolo_spark.extract import extract_outlinks

    # <base href> wins over the page url for relative resolution
    h = (b'<html><head><base href="https://other.example.com/dir/"></head>'
         b'<body><a href="x.html">1</a><a href="/root">2</a></body></html>')
    assert extract_outlinks("https://page.example.org/a/", h) == [
        "https://other.example.com/dir/x.html",
        "https://other.example.com/root",
    ]
    # relative <base> resolves against the page url first (HTML spec)
    h2 = (b'<html><head><base href="sub/"></head>'
          b'<body><a href="y.html">1</a></body></html>')
    assert extract_outlinks("https://page.example.org/a/", h2) == [
        "https://page.example.org/a/sub/y.html"
    ]
    # gzip-stored response bodies yield the same frontier (r5 review
    # finding: the frontier leg must share the dispatcher's inflate)
    raw = b'<html><body><a href="/z">1</a></body></html>'
    assert extract_outlinks(
        "https://page.example.org/", gzip.compress(raw, mtime=0)
    ) == ["https://page.example.org/z"]


def test_gzip_bomb_quarantines_not_oom():
    import gzip

    from doclayout_yolo_spark.extract import MAX_INFLATED_BYTES

    bomb = gzip.compress(b"\x00" * (MAX_INFLATED_BYTES + 1024), 9)
    assert len(bomb) < 2_000_000  # the whole point: tiny input
    text, _r, _m, err = extract_documents([bomb])[0]
    assert text == "" and err is not None and "inflates past" in err


def test_meta_charset_attribute_position_guard():
    # r5 review finding (confirmed false positive): a non-charset
    # attribute or value merely CONTAINING 'charset=' must not hijack
    # the page codec
    from doclayout_yolo_spark.extract import sniff_charset

    assert sniff_charset(b'<meta name="x" content="data-charset=big5">') == ""
    assert sniff_charset(b'<meta data-charset="big5">') == ""
    # the legitimate forms still sniff
    assert sniff_charset(b'<meta charset="big5">') == "big5"
    assert (
        sniff_charset(
            b'<meta http-equiv="Content-Type" '
            b'content="text/html; charset=big5">'
        )
        == "big5"
    )


def test_second_pass_review_fixes():
    """r5 second-pass review regressions: data-href cannot shadow the
    real href; quoted '>' inside attributes doesn't truncate the tag;
    content= mentions of charset need http-equiv; near-valid UTF-8
    doesn't cliff into cp1252; corrupt gzip yields no links (total)."""
    import gzip

    from doclayout_yolo_spark.extract import (
        decode_html,
        extract_outlinks,
        sniff_charset,
    )

    u = "https://h.example.org/"
    # data-href shadowing + fabrication
    h = b'<a class="l" data-href="/tracked" href="/real">x</a><a data-href="/fake">y</a>'
    assert extract_outlinks(u, h) == ["https://h.example.org/real"]
    # '>' inside a quoted attribute value
    h2 = b'<a onclick="if(x>1)go()" href="/real2">x</a>'
    assert extract_outlinks(u, h2) == ["https://h.example.org/real2"]
    # charset= inside content only honored with http-equiv
    assert sniff_charset(
        b'<meta name="description" content="how to use charset=big5">'
    ) == ""
    assert sniff_charset(
        b'<meta http-equiv="Content-Type" content="text/html; charset=big5">'
    ) == "big5"
    # one truncated multibyte sequence must NOT flip the page to cp1252
    page = ("x" * 50 + "日本語テキスト" * 5).encode("utf-8")
    broken = page + bytes([0xE4, 0xB8])  # truncated trailing char
    out = decode_html(broken)
    assert "日本語" in out and out.count("�") <= 2
    # corrupt gzip: frontier total, zero links
    corrupt = gzip.compress(b'<a href="/x">y</a>')[:-5] + b"\x00"
    assert extract_outlinks(u, corrupt) == []


def test_extract_page_metadata_fields_and_edges():
    from doclayout_yolo_spark.extract import extract_page_metadata

    u = "https://site.example.org/a/b"
    h = (
        '<HTML Lang="pt-BR"><head>\n'
        "<TITLE> O  Mundo &eacute;\tgrande </TITLE>"
        "<meta content='resumo &amp; tal' name='Description'>"
        '<meta name="description" content="second — must not win">'
        "<META PROPERTY='og:title' CONTENT='og resumo'>"
        '<link href="/css" rel="stylesheet">'
        "<link rel='Canonical' href='../canon?x=1'>"
        '<link rel="canonical" href="/second-must-not-win">'
        "</head><body></body></html>"
    )
    md = extract_page_metadata(u, h.encode())
    assert md["title"] == "O Mundo é grande"  # unescape + ws collapse
    assert md["description"] == "resumo & tal"  # first wins, any attr order
    assert md["og_title"] == "og resumo"
    assert md["canonical"] == "https://site.example.org/canon?x=1"
    assert md["lang"] == "pt-BR"


def test_extract_page_metadata_absent_gzip_and_poison():
    import gzip

    from doclayout_yolo_spark.extract import extract_page_metadata

    # absent fields are None (never ""), gzip bodies inflate first
    h = gzip.compress(b"<html><head><title>T</title></head></html>")
    md = extract_page_metadata("https://x.example.org/", h)
    assert md["title"] == "T"
    assert (
        md["description"] is None
        and md["og_title"] is None
        and md["canonical"] is None
        and md["lang"] is None
    )
    # total function on garbage and on a malformed canonical authority
    assert extract_page_metadata("https://x.example.org/", b"\x00\xff")[
        "title"
    ] is None
    bad = b'<link rel="canonical" href="http://[::bad/">'
    assert (
        extract_page_metadata("https://x.example.org/", bad)["canonical"]
        is None
    )


def test_metadata_missing_content_attr_does_not_block_later_tag():
    from doclayout_yolo_spark.extract import extract_page_metadata

    h = (b'<meta name="description"><meta name="description" content="real">'
         b'<meta property="og:title"><meta property="og:title" content="og">')
    md = extract_page_metadata("https://x.example.org/", h)
    assert md["description"] == "real"
    assert md["og_title"] == "og"
