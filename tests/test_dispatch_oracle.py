"""Differential tier for format routing: the table-driven dispatch must
return the same ``(text, status, error)`` as the frozen ``if/elif`` ladder
in ``frozen_dispatch.py`` — on the fixture corpus under every output
format, on payloads that open with each magic the routing knows plus an
arbitrary tail, and on nested archives and mail attachments at every
nesting depth."""

import base64
import gzip

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import frozen_dispatch
from open_ocr_spark.fixtures import generate_pages
from open_ocr_spark.kernels.archive import build_tar, build_zip
from open_ocr_spark.kernels.dispatch import extract_document
from open_ocr_spark.kernels.doc_text import build_doc
from open_ocr_spark.kernels.docx_text import (
    build_docx,
    build_epub,
    build_odt,
    build_pptx,
    build_xlsx,
)
from open_ocr_spark.kernels.eml_text import build_eml, build_mbox
from open_ocr_spark.kernels.ipynb_text import build_ipynb
from open_ocr_spark.kernels.latex_text import build_latex
from open_ocr_spark.kernels.ps_text import build_ps
from open_ocr_spark.kernels.rtf_text import build_rtf
from open_ocr_spark.kernels.subtitle_text import build_srt, build_webvtt

ENGINE_ARGS = {
    "default": None,
    "md": {"config_vars": {"output_format": "md"}},
    "hocr": {"config_vars": {"tessedit_create_hocr": "1"}},
    "charset": {"config_vars": {"charset": "windows-1252"}},
}

CHAINS = [
    (None, None),
    (["identity"], None),
    (["convert-pdf"], None),
    (["convert-pdf", "stroke-width-transform"],
     {"stroke-width-transform": "0"}),
    (["stroke-width-transform", "bogus", "other"], None),
]


def _same(payload, *args, **kwargs):
    live = extract_document(payload, *args, **kwargs)
    frozen = frozen_dispatch.extract_document(payload, *args, **kwargs)
    assert live == frozen, (payload[:80], args, kwargs)
    return live


@pytest.mark.parametrize("mode", sorted(ENGINE_ARGS))
def test_fixture_corpus_matches_frozen_ladder(mode):
    pages, _ = generate_pages(400)
    for p in pages:
        _same(p["html"], p["lang"], p["engine"], ENGINE_ARGS[mode],
              p["preprocessors"], p["preprocessor_args"])


# one payload per format the routing knows; the magic strategy below
# cuts and extends them
_DOCS = [
    b"<html><body><p>Page text here.</p></body></html>",
    b"%PDF-1.4\n1 0 obj << >> endobj\n",
    build_rtf(["Rich text.", "Second paragraph."]),
    build_doc([("Word body.", False)]),
    build_docx(["Docx body."]),
    build_odt(["Odt body."]),
    build_pptx([["Slide one."]]),
    build_xlsx([[["a", "b"], ["c", "d"]]]),
    build_epub([b"<html><body><p>Chapter.</p></body></html>"]),
    build_zip([("a.html", b"<p>zipped</p>"), ("b.txt", b"plain")]),
    build_tar([("a.html", b"<p>tarred</p>")]),
    build_tar([("<a.html", b"<p>a member name that opens with lt</p>")]),
    build_mbox([("One", "first body", 0), ("Two", "second body", 2)]),
    build_eml("Subject line", "Mail body.", 3),
    build_ipynb([("markdown", "# Notebook"), ("code", "print(1)")]),
    build_latex(["A paragraph of TeX."], title="Title"),
    build_ps([["PostScript line."]]),
    build_webvtt([(0, 1000, "A cue.")]),
    build_srt([(0, 1000, "A SubRip cue.")]),
    gzip.compress(b"<p>gzipped page</p>", mtime=0),
]

_MAGICS = [
    b"<", b"<html>", b'<meta charset="idna">', b"%PDF", b"{\\rtf",
    b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1", b"PK\x03\x04", b"From ",
    b"From a@b Mon Jan  1 00:00:00 2024\n",
    b"Subject: s\r\nFrom: a@b\r\n\r\n", b"Subject: s\n\nbody", b"{",
    b'{"cells": [], "nbformat": 4}', b" {", b"\\", b"\\documentclass{x}",
    b"%", b"%!PS", b"\xef\xbb\xbfW", b"WEBVTT\n\n", b"W", b"1", b"  7\n",
    b"\xef\xbb\xbf1\n00:00:01,000 --> 00:00:02,000\nx\n",
    b"\x89PNG\r\n\x1a\n", b"GIF87a", b"GIF89a", b"\xff\xd8", b"BM",
    b"BM" + b"\x00" * 60, b"P6 2 2 255 ", b"\x1f\x8b", b"",
]


def _ustar_at_257(prefix: bytes, tail: bytes) -> bytes:
    head = (prefix + tail)[:257]
    return head + b"\x00" * (257 - len(head)) + b"ustar" + tail


_TAILS = [b"", b"x", b"\n\n<p>Some text.</p>\n", bytes(range(256)) * 2]


@pytest.mark.parametrize("mode", sorted(ENGINE_ARGS))
def test_every_magic_and_document_matches_frozen_ladder(mode):
    for magic in _MAGICS:
        for tail in _TAILS:
            for payload in (magic + tail, _ustar_at_257(magic, tail)):
                _same(payload, None, None, ENGINE_ARGS[mode])
    for doc in _DOCS:
        _same(doc, None, None, ENGINE_ARGS[mode])


_payloads = st.one_of(
    st.builds(lambda m, t: m + t, st.sampled_from(_MAGICS),
              st.binary(max_size=300)),
    st.builds(_ustar_at_257, st.sampled_from(_MAGICS),
              st.binary(max_size=600)),
    # real documents, cut short or with junk appended
    st.builds(lambda d, cut, t: d[:cut] + t, st.sampled_from(_DOCS),
              st.integers(0, 4000), st.binary(max_size=40)),
    st.sampled_from(_DOCS).map(lambda d: gzip.compress(d, mtime=0)),
)


@given(_payloads, st.sampled_from(sorted(ENGINE_ARGS)),
       st.sampled_from(CHAINS))
@settings(max_examples=400, deadline=None)
def test_magic_prefixed_payloads_match_frozen_ladder(payload, mode, chain):
    preprocessors, preprocessor_args = chain
    _same(payload, None, None, ENGINE_ARGS[mode], preprocessors,
          preprocessor_args)


def _mail(payload: bytes) -> bytes:
    b64 = base64.b64encode(payload).decode()
    return (
        "From: a@b\r\nSubject: s\r\nMIME-Version: 1.0\r\n"
        'Content-Type: multipart/mixed; boundary="BB"\r\n\r\n'
        "--BB\r\nContent-Type: application/octet-stream\r\n"
        "Content-Transfer-Encoding: base64\r\n\r\n"
        f"{b64}\r\n--BB--\r\n"
    ).encode()


_WRAPS = {
    "tar": lambda p: build_tar([("m", p)]),
    "zip": lambda p: build_zip([("m", p)]),
    "gz": lambda p: gzip.compress(p, mtime=0),
    "mail": _mail,
    "tar2": lambda p: build_tar([("a.html", b"<p>first</p>"), ("m", p)]),
}


def _nests():
    leaves = [b"<p>leaf page</p>", build_docx(["Leaf docx."]),
              build_tar([("x.html", b"<p>x</p>")]), b"\x89PNG\r\n\x1a\n"]
    out = []
    for leaf in leaves:
        for outer in _WRAPS:
            for inner in _WRAPS:
                out.append(_WRAPS[outer](_WRAPS[inner](leaf)))
                out.append(_WRAPS[outer](_WRAPS[inner](_WRAPS["mail"](leaf))))
    # a tar whose checksum fails, nested: the checksum error comes first
    bad = bytearray(build_tar([("x.html", b"<p>x</p>")]))
    bad[148:156] = b"0000000\x00"
    out += [build_zip([("bad.tar", bytes(bad))]), _mail(bytes(bad)),
            build_zip([("empty.zip", build_zip([]))])]
    return out


@pytest.mark.parametrize("depth", range(6))
@pytest.mark.parametrize("mode", ["default", "hocr"])
def test_nested_archives_and_attachments_match_frozen_ladder(depth, mode):
    for payload in _nests():
        _same(payload, None, None, ENGINE_ARGS[mode], _depth=depth)
