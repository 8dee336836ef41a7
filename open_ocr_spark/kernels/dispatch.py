"""Per-document extraction dispatch: engine factory + preprocessor chain +
error-as-value, as one pure function the Arrow batch kernel maps over.

Format routing is one ordered table, ``_FORMATS``, of ``(format, sniff,
extract)`` rows: the first row whose sniff accepts the payload extracts
it, and a ``ValueError`` from its extractor becomes the value
``error:<format>-unsupported``. Row order is semantics, because sniffs
overlap (the final ``html`` row accepts everything, the ``zip`` row every
zip the Office rows left). Row 1 is the markup fast route: only the tar
sniff could also accept a payload opening with ``<``, so a page costs one
cheap check. Format modules import on first use.

Reference parity:
- Engine factory/dispatch (/root/reference/ocr_engine.go:22-30, default-mock
  on unknown at :58-60) → resolve_engine + the engine branch below.
- Chain router (/root/reference/ocr_request.go:21-31): stages execute in
  REVERSE list order (pop-from-end); the terminal hop is always the engine
  ("decode-ocr", rabbit_config.go:25). Here the chain only validates
  stage names: the engine routes by magic bytes with or without
  convert-pdf, identity is a no-op (preprocessor.go:11-16), and SWT is
  the HTML extractors' ``aggressive`` flag.
- Error-as-value (/root/reference/ocr_rpc_worker.go:163-190): a failing
  document NEVER fails the job; the reference embeds "Error ..." in the
  text and still replies — we do better per SURVEY §2.A17: clean
  ``status``/``error`` columns, text left empty.
- Lang gate: the reference passes ``-l lang`` through to tesseract
  (tesseract_engine.go:65-75,93-95); unsupported languages fail there. We
  gate on the apiary enum (apiary.apib:78-111) up front.

Structured-output mode (hOCR recast, tesseract_engine.go:194-262): when
engine_args.config_vars["tessedit_create_hocr"]=="1", the extracted text is
wrapped into a deterministic span-per-paragraph JSON structure instead of
plain text.
"""

from __future__ import annotations

import json
import re
from importlib import import_module
from typing import NamedTuple

from open_ocr_spark.kernels.html_extract import extract_main_text
from open_ocr_spark.kernels.mock import MOCK_ENGINE_RESPONSE
from open_ocr_spark.kernels.options import (
    ENGINE_GO_TESSERACT,
    ENGINE_MOCK,
    ENGINE_TESSERACT,
    KNOWN_PREPROCESSORS,
    SUPPORTED_LANGS,
    EngineArgs,
    execution_order,
    parse_engine_args,
    resolve_engine,
    swt_aggressive,
)
from open_ocr_spark.kernels.pdf_text import is_pdf

STATUS_OK = "ok"

# Per-document resource bound — the batch analog of the reference's 120 s
# RPC timeout (ocr_rpc_client.go:13,141-146): a pathological document gets
# an error value instead of stalling its whole task. 20 MB covers >99.99%
# of real crawl pages.
MAX_DOC_BYTES = 20 * 1024 * 1024


_PPM_HEADER_RE = re.compile(rb"P6\s+\d+\s+\d+\s+255\s")


def _is_image_payload(payload: bytes) -> bool:
    """Raster-image detection for OCR routing. PNG/GIF/JPEG magics cannot
    occur in text; BMP and P6 get stricter checks (reserved NULs /
    header shape) so a PAGE whose text merely starts with "BM" or "P6"
    still routes to the HTML branch."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return True
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return True
    if payload[:2] == b"\xff\xd8":
        return True
    if (
        payload[:2] == b"BM"
        and len(payload) >= 54
        and payload[6:10] == b"\x00\x00\x00\x00"
    ):
        return True
    return bool(_PPM_HEADER_RE.match(payload[:40]))


class _Doc(NamedTuple):
    """An extractor's view of the call besides the payload; ``call`` is
    (lang, engine, engine_args, preprocessors, preprocessor_args)."""

    args: EngineArgs
    aggressive: bool
    depth: int
    call: tuple


class _MemberError(Exception):
    """An archive member failed to extract: ``error:<format>-member``."""


def _lazy(module: str, name: str):
    """``kernels.<module>.<name>``, imported on the first call and then
    cached, so a format module loads only once a payload needs it."""
    fn = None

    def call(*args, **kwargs):
        nonlocal fn
        if fn is None:
            fn = getattr(import_module(f"open_ocr_spark.kernels.{module}"),
                         name)
        return fn(*args, **kwargs)

    return call


def _gated(gate, module: str, name: str):
    """A sniff row: the cheap byte ``gate`` first, and only payloads that
    pass it pay for importing and running the format's own sniff."""
    sniff = _lazy(module, name)
    return lambda payload: gate(payload) and sniff(payload)


def _text_of(module: str, name: str):
    """An extract row for a format module's ``extract_*`` function."""
    extract = _lazy(module, name)
    return lambda payload, doc: extract(payload)


def _mail_text(name: str):
    """Mail extract rows: attachments route back through extract_document,
    so the extractor carries the nesting depth."""
    extract = _lazy("eml_text", name)
    return lambda payload, doc: extract(payload, _dispatch_depth=doc.depth)


def _members_text(split, check=None):
    """The tar and zip extract rows: every member routes back through
    extract_document, and the archive text is the member texts in order.
    Members render plain — the outer structured switch (if any) wraps the
    joined text once. One nesting level only: an archive inside an
    archive (or a mail attachment) is an error value."""

    def extract(payload: bytes, doc: _Doc) -> str:
        if check is not None:
            check(payload)
        if doc.depth >= 1:
            raise ValueError("nested archive (depth > 1)")
        members = split(payload)
        if not members:
            raise ValueError("archive has no file members")
        lang, engine, engine_args, preprocessors, preprocessor_args = \
            doc.call
        member_args = dict(engine_args or {})
        cv = dict(member_args.get("config_vars") or {})
        cv.pop("tessedit_create_hocr", None)
        if cv:
            member_args["config_vars"] = cv
        else:
            member_args.pop("config_vars", None)
        texts = []
        for name, data in members:
            t, s, e = extract_document(
                data, lang, engine, member_args or None, preprocessors,
                preprocessor_args, _depth=doc.depth + 1,
            )
            if s != STATUS_OK:
                raise _MemberError(f"{name}: {e or s}")
            texts.append(t)
        return "\n".join(texts)

    return extract


_is_tar = _lazy("archive", "is_tar")


def _check_tar(payload: bytes) -> None:
    if not _is_tar(payload):
        raise ValueError("ustar magic with invalid header checksum")


def _spans_json(text: str) -> str:
    """hOCR-recast structured output: one span per paragraph with
    deterministic char offsets into the plain-text form."""
    spans = []
    offset = 0
    for i, para in enumerate(text.split("\n\n")) if text else []:
        spans.append(
            {"id": i, "start": offset, "end": offset + len(para), "text": para}
        )
        offset += len(para) + 2
    return json.dumps({"spans": spans}, ensure_ascii=False, sort_keys=True)


def _apply_charset(payload: bytes, args) -> bytes | str:
    """Transport-layer charset: a valid ``charset`` config var decodes
    the HTML payload HERE (errors=replace, matching the sniff's
    degradation contract) so the downstream parser receives str and
    never re-sniffs; absent/unknown labels pass the bytes through to the
    normal BOM/meta sniff."""
    codec = args.charset_override
    if codec is None:
        return payload
    return payload.decode(codec, errors="replace")


_html_to_markdown = _lazy("html_markdown", "html_to_markdown")


def _markup_text(payload: bytes, doc: _Doc) -> str:
    """The HTML branch: main text, or in the "md" output format
    (options.py markdown_output) structure-preserving markdown."""
    text = _apply_charset(payload, doc.args)
    if doc.args.markdown_output:
        return _html_to_markdown(text, aggressive=doc.aggressive)
    return extract_main_text(text, aggressive=doc.aggressive)


def _is_zip(payload: bytes) -> bool:
    return payload[:4] == b"PK\x03\x04"


_BOM = b"\xef\xbb\xbf"


def _cue_index_first(p: bytes) -> bool:
    # a SubRip cue index: a digit first, after an optional BOM and blanks
    return (p[3:19] if p[:3] == _BOM else p[:16]).lstrip()[:1].isdigit()


# (format, sniff, extract); row order is semantics (module docstring)
_FORMATS = (
    # markup fast route: pages skip every other sniff
    ("html", lambda p: p[:1] == b"<" and p[257:262] != b"ustar",
     _markup_text),
    ("pdf", is_pdf, _text_of("pdf_text", "extract_pdf_text")),
    ("rtf", lambda p: p[:5] == b"{\\rtf",
     _text_of("rtf_text", "extract_rtf_text")),
    # legacy Office binaries: the CFB directory picks Word/PowerPoint/Excel
    ("doc", lambda p: p[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1",
     _text_of("doc_text", "extract_cfb_text")),
    # OOXML, ODF and EPUB by their parts; any other zip is an archive
    ("docx", _gated(_is_zip, "docx_text", "is_docx"),
     _text_of("docx_text", "extract_docx_text")),
    ("odt", _gated(_is_zip, "docx_text", "is_odt"),
     _text_of("docx_text", "extract_odt_text")),
    ("pptx", _gated(_is_zip, "docx_text", "is_pptx"),
     _text_of("docx_text", "extract_pptx_text")),
    ("xlsx", _gated(_is_zip, "docx_text", "is_xlsx"),
     _text_of("docx_text", "extract_xlsx_text")),
    ("epub", _gated(_is_zip, "docx_text", "is_epub"),
     _text_of("docx_text", "extract_epub_text")),
    ("zip", _is_zip, _members_text(_lazy("archive", "split_zip"))),
    ("tar", lambda p: len(p) >= 512 and p[257:262] == b"ustar",
     _members_text(_lazy("archive", "split_tar"), check=_check_tar)),
    # the envelope line "From <addr> <date>" is no RFC 5322 header
    ("mbox", _gated(lambda p: p[:5] == b"From ", "eml_text", "is_mbox"),
     _mail_text("extract_mbox_text")),
    # mail opens with a printable header-name byte, never "<"
    ("eml", _gated(lambda p: p and 33 <= p[0] <= 126 and p[0] != ord("<"),
                   "eml_text", "is_eml"),
     _mail_text("extract_eml_text")),
    # a notebook is a JSON object, optionally after whitespace
    ("ipynb", _gated(lambda p: p[:1] in (b"{", b" ", b"\t", b"\r", b"\n"),
                     "ipynb_text", "is_ipynb"),
     _text_of("ipynb_text", "extract_ipynb_text")),
    # TeX source opens with a control word or a comment
    ("latex", _gated(lambda p: p[:64].lstrip()[:1] in (b"\\", b"%"),
                     "latex_text", "is_latex"),
     _text_of("latex_text", "extract_latex_text")),
    ("ps", lambda p: p[:4] == b"%!PS", _text_of("ps_text", "extract_ps_text")),
    # WEBVTT magic, after the UTF-8 BOM the spec permits
    ("vtt", _gated(lambda p: (p[3:4] if p[:3] == _BOM else p[:1]) == b"W",
                   "subtitle_text", "is_webvtt"),
     _text_of("subtitle_text", "extract_webvtt_text")),
    ("srt", _gated(_cue_index_first, "subtitle_text", "is_srt"),
     _text_of("subtitle_text", "extract_srt_text")),
    # raster payloads: unrecognizable pixels are a low-confidence error
    ("ocr", _is_image_payload, _text_of("glyph_ocr", "ocr_image")),
    ("html", lambda p: True, _markup_text),
)


def extract_document(
    html: bytes | None,
    lang: str | None = None,
    engine=None,
    engine_args: dict | None = None,
    preprocessors: list[str] | None = None,
    preprocessor_args: dict | None = None,
    _depth: int = 0,
) -> tuple[str, str, str]:
    """Extract one document. Returns (extracted_text, status, error).

    status is 'ok' or 'error:<class>'; error holds the message. Never
    raises: every failure becomes a value (A17).
    """
    try:
        if _depth > 4:
            # structural backstop for every container-hop path (archive
            # members, mail attachments): a crafted matryoshka becomes a
            # clean error value long before the interpreter's recursion
            # limit could surface as error:internal
            return "", "error:too-deep", f"container nesting depth {_depth}"

        engine_name = resolve_engine(engine)

        if engine_name == ENGINE_MOCK:
            # mock ignores payload entirely (mock_engine.go:7-9)
            return MOCK_ENGINE_RESPONSE, STATUS_OK, ""

        if engine_name == ENGINE_GO_TESSERACT:
            # declared but factory returns nil (ocr_engine.go:22-30):
            # treated as an unsupported-engine error value
            return "", "error:engine", "no engine impl for go_tesseract"

        assert engine_name == ENGINE_TESSERACT

        try:
            args = parse_engine_args(engine_args)
        except ValueError as exc:
            return "", "error:engine-args", str(exc)

        if args.lang and args.lang not in SUPPORTED_LANGS:
            return "", "error:lang", f"unsupported lang: {args.lang}"
        if lang is not None and lang != "" and lang not in SUPPORTED_LANGS \
                and args.lang == "":
            # row-level lang outside the enum and no explicit override
            return "", "error:lang", f"unsupported lang: {lang}"

        if html is None or len(html) == 0:
            return "", "error:empty", "empty document payload"
        if len(html) > MAX_DOC_BYTES:
            return (
                "",
                "error:too-large",
                f"payload {len(html)} bytes exceeds {MAX_DOC_BYTES}",
            )

        chain = execution_order(list(preprocessors)) if preprocessors else []
        unknown = [s for s in chain if s not in KNOWN_PREPROCESSORS]
        if unknown:
            return "", "error:preprocessor", f"unknown preprocessor: {unknown[0]}"

        aggressive = swt_aggressive(preprocessor_args)
        payload = bytes(html)

        if payload[:2] == b"\x1f\x8b":
            # standalone gzip file (page.html.gz, corpus.tar.gz): a
            # transparent encoding, not a format — decompress and route
            # whatever is inside (r5, kernels/archive.py). The cap is
            # MAX_DOC_BYTES, the SAME per-document bound raw payloads
            # get: a .gz must not smuggle a document past the budget.
            from open_ocr_spark.kernels.archive import gunzip_payload

            try:
                payload = gunzip_payload(payload, cap=MAX_DOC_BYTES)
            except ValueError as exc:
                if "exceeds" in str(exc):
                    return (
                        "",
                        "error:too-large",
                        f"gunzipped payload exceeds {MAX_DOC_BYTES}",
                    )
                return "", "error:gzip-unsupported", str(exc)

        for fmt, sniff, extract in _FORMATS:
            if sniff(payload):
                break
        call = (lang, engine, engine_args, preprocessors, preprocessor_args)
        try:
            text = extract(payload, _Doc(args, aggressive, _depth, call))
        except ValueError as exc:
            if fmt == "html":
                # the HTML extractors never raise ValueError on purpose; a
                # codec that cannot decode with errors=replace is internal
                raise
            return "", f"error:{fmt}-unsupported", str(exc)
        except _MemberError as exc:
            return "", f"error:{fmt}-member", str(exc)

        if args.structured_output:
            return _spans_json(text), STATUS_OK, ""
        return text, STATUS_OK, ""

    except Exception as exc:  # last-resort guard: never fail the batch
        return "", "error:internal", f"{type(exc).__name__}: {exc}"
