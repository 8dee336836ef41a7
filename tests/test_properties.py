"""Property tier (hypothesis): the kernel guarantees that make the
distributed pipeline safe — total functions (never raise on any bytes),
determinism (same bytes → same text, any order), and normalization
invariants. The reference has no property tests (SURVEY §5.1); these guard
OUR hard requirements (byte-stability, SURVEY §7.3)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from open_ocr_spark.kernels.dispatch import extract_document
from open_ocr_spark.kernels.html_extract import extract_main_text
from open_ocr_spark.kernels.htmltree import collapse_ws, parse_html
from open_ocr_spark.kernels.options import execution_order, resolve_engine
from open_ocr_spark.kernels.pdf_text import is_pdf

BINARY = st.binary(max_size=2000)
MOSTLY_HTML = st.text(
    alphabet=st.sampled_from(list("<>/ab c=\"'&;#!-\n\tp")), max_size=400
)


@given(BINARY)
@settings(max_examples=300, deadline=None)
def test_extract_document_total_on_bytes(payload):
    text, status, error = extract_document(payload)
    assert isinstance(text, str) and isinstance(status, str)
    assert status == "ok" or status.startswith("error:")


@given(MOSTLY_HTML)
@settings(max_examples=300, deadline=None)
def test_extract_total_on_taglike_text(s):
    out = extract_main_text(s.encode())
    assert isinstance(out, str)


@given(BINARY)
@settings(max_examples=150, deadline=None)
def test_extract_deterministic(payload):
    assert extract_document(payload) == extract_document(payload)


@given(MOSTLY_HTML)
@settings(max_examples=200, deadline=None)
def test_output_whitespace_invariant(s):
    """Frozen normalization: output never has leading/trailing whitespace,
    runs of spaces, or lone newlines (paragraph breaks are exactly \\n\\n)."""
    out = extract_main_text(s.encode())
    if out:
        assert out == out.strip()
        for para in out.split("\n\n"):
            assert "  " not in para
            assert "\n" not in para


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_collapse_ws_idempotent(s):
    once = collapse_ws(s)
    assert collapse_ws(once) == once


@given(BINARY)
@settings(max_examples=200, deadline=None)
def test_parse_never_raises(payload):
    root = parse_html(payload)
    assert root.tag == "#document"


@given(st.lists(st.text(min_size=1, max_size=10), max_size=6))
@settings(max_examples=100, deadline=None)
def test_chain_order_is_reverse(chain):
    assert execution_order(chain) == list(reversed(chain))


@given(st.one_of(st.none(), st.integers(-5, 10), st.text(max_size=12)))
@settings(max_examples=100, deadline=None)
def test_resolve_engine_total(value):
    assert resolve_engine(value) in {"tesseract", "go_tesseract", "mock"}


@given(BINARY)
@settings(max_examples=100, deadline=None)
def test_is_pdf_only_prefix(payload):
    assert is_pdf(payload) == (bytes(payload[:4]) == b"%PDF")


# --- round-2 surfaces: flate PDFs, multipart parsing --------------------------

PDF_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    max_size=300,
)


@given(PDF_TEXT)
@settings(max_examples=200, deadline=None)
def test_flate_pdf_roundtrip_any_text(content):
    """Any text wrapped in a FlateDecode PDF comes back byte-exact through
    the kernel (escapes + compression + /Length slicing are inverses)."""
    import zlib

    from open_ocr_spark.kernels.pdf_text import extract_pdf_text

    esc = content.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    body = zlib.compress(("BT\n(" + esc + ") Tj\nET\n").encode("utf-8"))
    pdf = (
        b"%PDF-1.5\n1 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(body)).encode()
        + b" >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF\n"
    )
    # raw control chars inside the literal string survive verbatim (only
    # backslash escapes are decoded)
    assert extract_pdf_text(pdf) == content


@given(st.binary(max_size=500), st.text(max_size=60))
@settings(max_examples=200, deadline=None)
def test_multipart_parser_total(body, ctype):
    """The multipart request parser never raises on arbitrary bytes and
    content types — errors are values."""
    from open_ocr_spark.sources import _parse_multipart_request

    req, err = _parse_multipart_request(body, ctype)
    assert (req is None) != (err is None)


@settings(max_examples=60, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=400),
    cols=st.integers(min_value=1, max_value=17),
    colors=st.integers(min_value=1, max_value=3),
    ftypes=st.lists(st.integers(min_value=0, max_value=4), max_size=40),
)
def test_png_predictor_reversal_roundtrips(data, cols, colors, ftypes):
    """Forward-applying any mix of PNG row filters (None/Sub/Up/Average/
    Paeth, RFC 2083 S6) and reversing through the PDF kernel's _unpredict
    must return the original bytes for every row shape."""
    from open_ocr_spark.kernels.pdf_text import _unpredict

    rowlen = cols * colors
    n_rows = len(data) // rowlen
    data = data[: n_rows * rowlen]
    bpp = colors

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    predicted = bytearray()
    prev = bytes(rowlen)
    for r in range(n_rows):
        row = data[r * rowlen : (r + 1) * rowlen]
        ftype = ftypes[r % len(ftypes)] if ftypes else 2
        predicted.append(ftype)
        for i in range(rowlen):
            left = row[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            ref = {0: 0, 1: left, 2: up, 3: (left + up) >> 1,
                   4: paeth(left, up, ul)}[ftype]
            predicted.append((row[i] - ref) & 0xFF)
        prev = row
    head = (b"<< /Predictor 12 /Columns " + str(cols).encode()
            + b" /Colors " + str(colors).encode()
            + b" /DecodeParms >>")  # parms marker present
    assert _unpredict(bytes(predicted), head) == data


@settings(max_examples=60, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=400),
    cols=st.integers(min_value=1, max_value=17),
)
def test_tiff_predictor_reversal_roundtrips(data, cols):
    from open_ocr_spark.kernels.pdf_text import _unpredict

    diff = bytearray(data)
    for r0 in range(0, (len(diff) // cols) * cols, cols):
        for i in range(r0 + cols - 1, r0, -1):
            diff[i] = (diff[i] - diff[i - 1]) & 0xFF
    head = (b"<< /DecodeParms << /Predictor 2 /Columns "
            + str(cols).encode() + b" >> >>")
    out = _unpredict(bytes(diff), head)
    # full rows round-trip exactly; a trailing partial row is untouched
    whole = (len(data) // cols) * cols
    assert out[:whole] == data[:whole]
    assert out[whole:] == diff[whole:]


# --- r5 parser totality: archives, mail, csv, microdata ---------------------
# Contract: on ARBITRARY bytes each split/parse either returns or raises
# ValueError — never IndexError/KeyError/Unicode errors — and the
# dispatch stays total end-to-end including the new branches.

from open_ocr_spark.kernels.archive import (  # noqa: E402
    gunzip_payload,
    split_tar,
    split_zip,
)
from open_ocr_spark.kernels.csv_text import parse_csv  # noqa: E402
from open_ocr_spark.kernels.eml_text import (  # noqa: E402
    extract_eml_text,
    split_mbox,
)
from open_ocr_spark.kernels.microdata import extract_microdata  # noqa: E402


@settings(max_examples=200, deadline=None)
@given(payload=st.binary(max_size=2048))
def test_r5_parsers_raise_only_valueerror(payload):
    for fn in (split_tar, split_zip, gunzip_payload, split_mbox,
               extract_eml_text):
        try:
            fn(payload)
        except ValueError:
            pass
    parse_csv(payload)          # total (or ValueError on caps)
    extract_microdata(payload)  # total


@settings(max_examples=100, deadline=None)
@given(payload=st.binary(max_size=4096))
def test_dispatch_total_with_r5_branches(payload):
    # salt the prefixes so the fuzz actually reaches the new branches
    for prefix in (b"", b"\x1f\x8b", b"PK\x03\x04", b"From a@b x ",
                   b"From: a@b\r\nSubject: s\r\nMIME-Version: 1.0\r\n\r\n"):
        text, status, error = extract_document(prefix + payload)
        assert isinstance(text, str) and isinstance(status, str)
        assert status == "ok" or status.startswith("error:")


@settings(max_examples=100, deadline=None)
@given(payload=st.binary(min_size=200, max_size=1024))
def test_dispatch_total_on_tar_like(payload):
    raw = bytearray(b"\x00" * 512)
    raw[0:len(payload) % 100] = payload[:len(payload) % 100]
    raw[257:262] = b"ustar"
    text, status, _ = extract_document(bytes(raw) + payload)
    assert status == "ok" or status.startswith("error:")


# --- complexity gate: linear time, bounded stack -----------------------------
# Each adversarial family runs through the dispatch at size n and 4n, best
# of 3; a linear kernel takes about 4x as long, a quadratic one 16x. The
# bound of 6 leaves room for a noisy host, which also gets up to three
# attempts (a quadratic kernel misses the bound on every one). The cyclic
# GC is paused while timing: its collections land at arbitrary points and
# move single timings by as much as the ratio under test. A page that
# parsed quadratically would take minutes at 4n, so each run is also
# capped in absolute time.

import gc  # noqa: E402
import time  # noqa: E402

import pytest  # noqa: E402

_FAMILIES = {
    # every "<" has no later ">": the tag arm used to rescan to the end
    # (48 KB at n)
    "unterminated_tags": (lambda k: b"<a " * k, 16000),
    # 5000 elements deep at n, never closed
    "deep_nesting": (lambda k: b"<font><b>" * k + b"deep text", 2500),
    # a comment opened in a raw-text body and left open past its close tag
    "rawtext_comment": (lambda k: b"<script><!--</script><p>x</p>" * k, 2500),
    # close tags of a raw-text element that never reach their ">"
    "rawtext_unclosed": (lambda k: b"<script>" + b"</script " * k, 20000),
    # end tags that match nothing on a deep stack of open elements
    "stray_end_tags": (lambda k: b"<b>" * k + b"</i>" * k, 2500),
}


def _best_of_3(payload):
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        _, status, err = extract_document(payload)
        elapsed = time.perf_counter() - t
        assert status == "ok", err
        assert elapsed < 5.0, f"{len(payload)} bytes took {elapsed:.1f}s"
        best = min(best, elapsed)
    return best


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_html_kernel_scales_linearly(family):
    make, k = _FAMILIES[family]
    gc.collect()
    gc.disable()
    try:
        for _ in range(3):
            small = _best_of_3(make(k))
            assert small < 1.0, f"{family}: {small:.2f}s at n"
            big = _best_of_3(make(4 * k))
            if big / small <= 6:
                break
    finally:
        gc.enable()
    assert big / small <= 6, f"{family}: {small:.4f}s -> {big:.4f}s"


def test_deep_nesting_extracts_ok():
    text, status, _ = extract_document(b"<font><b>" * 5000 + b"deep text")
    assert (text, status) == ("deep text", "ok")


@given(st.binary(max_size=700))
@settings(max_examples=200, deadline=None)
def test_markup_fast_route_skips_no_format(tail):
    """The dispatch sends a payload opening with "<" straight to the HTML
    branch unless it carries the tar magic at offset 257: no other sniff
    of the format ladder may accept such a payload."""
    from open_ocr_spark.kernels import dispatch as d

    payload = b"<" + tail
    if payload[257:262] == b"ustar":
        return
    sniffs = (d.is_pdf, d._mbox_sniff, d._eml_sniff, d._ipynb_sniff,
              d._latex_sniff, d._vtt_sniff, d._srt_sniff, d._is_image_payload)
    assert not any(sniff(payload) for sniff in sniffs)
    magics = (b"\x1f\x8b", b"{\\rtf", b"\xd0\xcf\x11\xe0", b"PK\x03\x04",
              b"From ", b"%!PS")
    assert not payload.startswith(magics)
