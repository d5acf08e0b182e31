"""WARC writer/parser round-trip and robustness (ISO 28500)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from doclayout_yolo_spark.warc import build_warc, parse_warc


def test_roundtrip_basic():
    recs = [
        ("https://a.example/x", "2026-01-01T00:00:00Z", b"hello world"),
        ("https://b.example/y", "2026-01-02T00:00:00Z", b""),
    ]
    out = parse_warc(build_warc(recs))
    assert [(r["uri"], r["date"], r["payload"]) for r in out] == recs


def test_payload_containing_warc_magic_not_sheared():
    # a crawled page ABOUT warc files: the payload embeds a full fake
    # record; Content-Length slicing must keep it inside one payload
    evil = b"WARC/1.0\r\nContent-Length: 3\r\n\r\nxyz\r\n\r\nmore"
    recs = [
        ("https://a.example/1", "2026-01-01T00:00:00Z", evil),
        ("https://a.example/2", "2026-01-01T00:00:00Z", b"tail"),
    ]
    out = parse_warc(build_warc(recs))
    assert len(out) == 2
    assert out[0]["payload"] == evil
    assert out[1]["payload"] == b"tail"


def test_truncated_file_returns_prefix():
    recs = [
        ("https://a.example/1", "2026-01-01T00:00:00Z", b"one"),
        ("https://a.example/2", "2026-01-01T00:00:00Z", b"two"),
    ]
    blob = build_warc(recs)
    out = parse_warc(blob[:-8])  # cut into the second record's payload
    assert len(out) == 1
    assert out[0]["payload"] == b"one"


def test_garbage_and_bad_length_quarantine():
    assert parse_warc(b"not a warc at all") == []
    bad = b"WARC/1.0\r\nWARC-Target-URI: u\r\nContent-Length: oops\r\n\r\nx"
    assert parse_warc(bad) == []


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 10**6),
            st.binary(max_size=200),
        ),
        max_size=8,
    )
)
def test_roundtrip_property(items):
    recs = [
        (f"https://w{i}.example/p", "2026-01-01T00:00:00Z", payload)
        for i, payload in items
    ]
    out = parse_warc(build_warc(recs))
    assert [(r["uri"], r["payload"]) for r in out] == [
        (u, p) for u, _, p in recs
    ]


def test_negative_content_length_quarantines():
    bad = b"WARC/1.0\r\nWARC-Target-URI: u\r\nContent-Length: -4\r\n\r\ntailbytes"
    assert parse_warc(bad) == []


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400))
def test_parse_never_raises_on_garbage(raw):
    # crawl archives contain arbitrary corruption; the parser must
    # quarantine (return a prefix), never throw
    out = parse_warc(raw)
    assert isinstance(out, list)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=120), st.binary(max_size=200))
def test_parse_valid_prefix_survives_garbage_suffix(payload, junk):
    blob = build_warc([("https://a.example/x", "2026-01-01T00:00:00Z", payload)])
    out = parse_warc(blob + junk)
    assert out and out[0]["payload"] == payload


def test_warc_response_record_with_http_envelope_extracts():
    """The Common-Crawl shape end-to-end: a WARC response record whose
    payload is the raw HTTP response (status line + headers + chunked,
    gzip-compressed body).  parse_warc returns the envelope verbatim;
    the extraction dispatcher strips it, so the extracted text is
    byte-identical to extracting the bare HTML."""
    from doclayout_yolo_spark.http import build_http_response
    from doclayout_yolo_spark.extract import extract_documents

    html = (
        b"<html><head><title>T</title></head><body>"
        b"<h1>Envelope</h1><p>body text inside a warc record</p>"
        b"</body></html>"
    )
    envelope = build_http_response(html, chunked=True, content_encoding="gzip")
    blob = build_warc(
        [("https://cc.example/page", "2026-01-01T00:00:00Z", envelope)]
    )
    recs = parse_warc(blob)
    assert len(recs) == 1 and recs[0]["payload"] == envelope
    t_env, r_env, _m1, e1 = extract_documents([recs[0]["payload"]])[0]
    t_bare, r_bare, _m2, e2 = extract_documents([html])[0]
    assert e1 is None and e2 is None
    assert t_env == t_bare and len(r_env) == len(r_bare) > 0
