"""Per-document extraction dispatch: engine factory + preprocessor chain +
error-as-value, as one pure function the Arrow batch kernel maps over.

Reference parity:
- Engine factory/dispatch (/root/reference/ocr_engine.go:22-30, default-mock
  on unknown at :58-60) → resolve_engine + the engine branch below.
- Chain router (/root/reference/ocr_request.go:21-31): stages execute in
  REVERSE list order (pop-from-end); the terminal hop is always the engine
  ("decode-ocr", rabbit_config.go:25).
- Identity preprocessor (/root/reference/preprocessor.go:11-16): no-op.
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

from open_ocr_spark.kernels.html_extract import extract_main_text
from open_ocr_spark.kernels.mock import MOCK_ENGINE_RESPONSE
from open_ocr_spark.kernels.options import (
    ENGINE_GO_TESSERACT,
    ENGINE_MOCK,
    ENGINE_TESSERACT,
    KNOWN_PREPROCESSORS,
    PREPROCESSOR_CONVERT_PDF,
    PREPROCESSOR_IDENTITY,
    PREPROCESSOR_STROKE_WIDTH,
    SUPPORTED_LANGS,
    execution_order,
    parse_engine_args,
    resolve_engine,
    swt_aggressive,
)
from open_ocr_spark.kernels.pdf_text import extract_pdf_text, is_pdf

STATUS_OK = "ok"

# Per-document resource bound — the batch analog of the reference's 120 s
# RPC timeout (ocr_rpc_client.go:13,141-146): a pathological document gets
# an error value instead of stalling its whole task. 20 MB covers >99.99%
# of real crawl pages.
MAX_DOC_BYTES = 20 * 1024 * 1024

# Default chain when none is given: PDF payloads are still handled, because
# the engine itself routes by magic bytes (the reference's tesseract would
# fail on a PDF; our flagship pipeline always detects).
_DEFAULT_CHAIN = (PREPROCESSOR_CONVERT_PDF, PREPROCESSOR_STROKE_WIDTH)


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


def _members_text(
    members, lang, engine, engine_args, preprocessors, preprocessor_args,
    depth, kind,
):
    """Shared archive-member loop (tar and generic zip): every member
    routes back through extract_document; a failing member fails the
    archive as a value naming the member. Members render plain — the
    outer structured switch (if any) wraps the joined text once."""
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
            data, lang, engine, member_args or None,
            preprocessors, preprocessor_args,
            _depth=depth + 1,
        )
        if s != STATUS_OK:
            return None, f"error:{kind}-member", f"{name}: {e or s}"
        texts.append(t)
    return "\n".join(texts), STATUS_OK, ""


def _mbox_sniff(payload: bytes) -> bool:
    from open_ocr_spark.kernels.eml_text import is_mbox

    return is_mbox(payload)


def _eml_sniff(payload: bytes) -> bool:
    """Lazy wrapper so the eml module only imports when a payload could
    plausibly be mail (first byte is a printable header-name char)."""
    if not payload or not (33 <= payload[0] <= 126) or payload[0] == ord("<"):
        return False
    from open_ocr_spark.kernels.eml_text import is_eml

    return is_eml(payload)


def _ipynb_sniff(payload: bytes) -> bool:
    """Lazy wrapper: only payloads whose first byte can open a JSON
    object (optionally after whitespace) pay for the notebook sniff's
    parse; ordinary pages start with '<' and skip it entirely."""
    if payload[:1] not in (b"{", b" ", b"\t", b"\r", b"\n"):
        return False
    from open_ocr_spark.kernels.ipynb_text import is_ipynb

    return is_ipynb(payload)


def _latex_sniff(payload: bytes) -> bool:
    r"""Lazy wrapper: only payloads whose first non-blank byte is a TeX
    control or comment char (\ or %) pay for the preamble scan."""
    if payload[:64].lstrip()[:1] not in (b"\\", b"%"):
        return False
    from open_ocr_spark.kernels.latex_text import is_latex

    return is_latex(payload)


def _vtt_sniff(payload: bytes) -> bool:
    """Lazy wrapper: only payloads opening with 'W' (the WEBVTT magic's
    first byte, never HTML's '<') pay for the header check. The spec
    permits a UTF-8 BOM before the magic (and Windows tools write it),
    so the byte gate looks past one."""
    head = payload[3:4] if payload[:3] == b"\xef\xbb\xbf" else payload[:1]
    if head != b"W":
        return False
    from open_ocr_spark.kernels.subtitle_text import is_webvtt

    return is_webvtt(payload)


def _srt_sniff(payload: bytes) -> bool:
    """Lazy wrapper: only payloads whose first non-blank byte (after an
    optional UTF-8 BOM) is a digit (a SubRip cue index) pay for the
    index+timestamp pair scan."""
    head = payload[3:19] if payload[:3] == b"\xef\xbb\xbf" else payload[:16]
    if not head.lstrip()[:1].isdigit():
        return False
    from open_ocr_spark.kernels.subtitle_text import is_srt

    return is_srt(payload)


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


def _markup_text(payload: bytes, args, aggressive: bool) -> str:
    """The HTML branch: main text, or in the "md" output format
    (options.py markdown_output) structure-preserving markdown."""
    if args.markdown_output:
        from open_ocr_spark.kernels.html_markdown import html_to_markdown

        return html_to_markdown(
            _apply_charset(payload, args), aggressive=aggressive
        )
    return extract_main_text(_apply_charset(payload, args), aggressive=aggressive)


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

        chain = execution_order(list(preprocessors)) if preprocessors \
            else list(_DEFAULT_CHAIN)

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

        text: str | None = None

        for stage in chain:
            if stage == PREPROCESSOR_IDENTITY:
                continue  # preprocessor.go:11-16
            if stage == PREPROCESSOR_CONVERT_PDF:
                if is_pdf(payload):
                    try:
                        text = extract_pdf_text(payload)
                    except ValueError as exc:
                        return "", "error:pdf-unsupported", str(exc)
            elif stage == PREPROCESSOR_STROKE_WIDTH:
                pass  # folded into the engine call's `aggressive` flag

        if text is None:
            if payload[:1] == b"<" and payload[257:262] != b"ustar":
                # markup fast route: of the sniffs below only the tar
                # header (magic at offset 257) can match a payload that
                # opens with "<", so pages skip the rest of the ladder
                text = _markup_text(payload, args, aggressive)
            elif is_pdf(payload):
                # no convert-pdf stage in the chain but payload is a PDF:
                # the engine itself routes by magic bytes
                try:
                    text = extract_pdf_text(payload)
                except ValueError as exc:
                    return "", "error:pdf-unsupported", str(exc)
            elif payload[:5] == b"{\\rtf":
                # RTF routes by magic like PDF (r4, kernels/rtf_text.py);
                # without this branch the HTML tokenizer would eat the
                # control words as text soup
                from open_ocr_spark.kernels.rtf_text import extract_rtf_text

                try:
                    text = extract_rtf_text(payload)
                except ValueError as exc:
                    return "", "error:rtf-unsupported", str(exc)
            elif payload[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
                # Legacy Office binaries: CFB magic, then the container
                # directory picks Word/PowerPoint/Excel (r5,
                # kernels/doc_text.py extract_cfb_text)
                from open_ocr_spark.kernels.doc_text import (
                    extract_cfb_text,
                )

                try:
                    text = extract_cfb_text(payload)
                except ValueError as exc:
                    return "", "error:doc-unsupported", str(exc)
            elif payload[:4] == b"PK\x03\x04":
                # Office containers: same magic-byte routing as PDF
                # (r4) — OOXML (.docx) and ODF (.odt). ZIPs that are
                # neither stay error-as-value rather than being fed to
                # the HTML tokenizer as binary soup.
                from open_ocr_spark.kernels.docx_text import (
                    extract_docx_text,
                    extract_epub_text,
                    extract_odt_text,
                    extract_pptx_text,
                    extract_xlsx_text,
                    is_docx,
                    is_epub,
                    is_odt,
                    is_pptx,
                    is_xlsx,
                )

                if is_docx(payload):
                    try:
                        text = extract_docx_text(payload)
                    except ValueError as exc:
                        return "", "error:docx-unsupported", str(exc)
                elif is_odt(payload):
                    try:
                        text = extract_odt_text(payload)
                    except ValueError as exc:
                        return "", "error:odt-unsupported", str(exc)
                elif is_pptx(payload):
                    try:
                        text = extract_pptx_text(payload)
                    except ValueError as exc:
                        return "", "error:pptx-unsupported", str(exc)
                elif is_xlsx(payload):
                    try:
                        text = extract_xlsx_text(payload)
                    except ValueError as exc:
                        return "", "error:xlsx-unsupported", str(exc)
                elif is_epub(payload):
                    try:
                        text = extract_epub_text(payload)
                    except ValueError as exc:
                        return "", "error:epub-unsupported", str(exc)
                else:
                    # not an Office/EPUB container: a generic zip
                    # archive — members route through the dispatch like
                    # tar members (r5, kernels/archive.py)
                    from open_ocr_spark.kernels.archive import split_zip

                    if _depth >= 1:
                        return ("", "error:zip-unsupported",
                                "nested archive (depth > 1)")
                    try:
                        members = split_zip(payload)
                    except ValueError as exc:
                        return "", "error:zip-unsupported", str(exc)
                    if not members:
                        return ("", "error:zip-unsupported",
                                "archive has no file members")
                    text, s, e = _members_text(
                        members, lang, engine, engine_args, preprocessors,
                        preprocessor_args, _depth, "zip",
                    )
                    if text is None:
                        return "", s, e
            elif len(payload) >= 512 and payload[257:262] == b"ustar":
                # tar archive (r5, kernels/archive.py): each regular-file
                # member routes back through this dispatch; the archive
                # text is the member texts in order. One recursion level
                # only — an archive inside an archive is an error value.
                from open_ocr_spark.kernels.archive import is_tar, split_tar

                if not is_tar(payload):
                    return ("", "error:tar-unsupported",
                            "ustar magic with invalid header checksum")
                if _depth >= 1:
                    return ("", "error:tar-unsupported",
                            "nested archive (depth > 1)")
                try:
                    members = split_tar(payload)
                except ValueError as exc:
                    return "", "error:tar-unsupported", str(exc)
                if not members:
                    return "", "error:tar-unsupported", "archive has no file members"
                text, s, e = _members_text(
                    members, lang, engine, engine_args, preprocessors,
                    preprocessor_args, _depth, "tar",
                )
                if text is None:
                    return "", s, e
            elif payload[:5] == b"From " and _mbox_sniff(payload):
                # Unix mbox mail archive (r5, kernels/eml_text.py): the
                # envelope line "From <addr> <date>" can't be an RFC
                # 5322 header (space, not colon) nor HTML
                from open_ocr_spark.kernels.eml_text import (
                    extract_mbox_text,
                )

                try:
                    text = extract_mbox_text(payload, _dispatch_depth=_depth)
                except ValueError as exc:
                    return "", "error:mbox-unsupported", str(exc)
            elif _eml_sniff(payload):
                # RFC 5322 / MIME e-mail (r5, kernels/eml_text.py): a
                # header-block structural sniff that HTML can never
                # satisfy routes mail payloads away from the HTML
                # tokenizer
                from open_ocr_spark.kernels.eml_text import (
                    extract_eml_text,
                )

                try:
                    text = extract_eml_text(payload, _dispatch_depth=_depth)
                except ValueError as exc:
                    return "", "error:eml-unsupported", str(exc)
            elif _ipynb_sniff(payload):
                # Jupyter notebook (r5, kernels/ipynb_text.py): JSON
                # payload with the nbformat/cells shape; cell sources +
                # textual outputs render in document order
                from open_ocr_spark.kernels.ipynb_text import (
                    extract_ipynb_text,
                )

                try:
                    text = extract_ipynb_text(payload)
                except ValueError as exc:
                    return "", "error:ipynb-unsupported", str(exc)
            elif _latex_sniff(payload):
                # LaTeX source (r5, kernels/latex_text.py): the
                # \documentclass preamble routes .tex payloads away from
                # the HTML tokenizer; markup resolves to prose like the
                # HTML branch's boilerplate strip
                from open_ocr_spark.kernels.latex_text import (
                    extract_latex_text,
                )

                try:
                    text = extract_latex_text(payload)
                except ValueError as exc:
                    return "", "error:latex-unsupported", str(exc)
            elif payload[:4] == b"%!PS":
                # PostScript routes by DSC magic like PDF (r5,
                # kernels/ps_text.py): scan-based text-show recovery,
                # the pre-PDF sibling of the convert-pdf branch
                from open_ocr_spark.kernels.ps_text import extract_ps_text

                try:
                    text = extract_ps_text(payload)
                except ValueError as exc:
                    return "", "error:ps-unsupported", str(exc)
            elif _vtt_sniff(payload):
                # WebVTT subtitles (r5, kernels/subtitle_text.py): cue
                # text in cue order, timing/markup machinery dropped
                from open_ocr_spark.kernels.subtitle_text import (
                    extract_webvtt_text,
                )

                try:
                    text = extract_webvtt_text(payload)
                except ValueError as exc:
                    return "", "error:vtt-unsupported", str(exc)
            elif _srt_sniff(payload):
                # SubRip subtitles (r5): index + timestamp pair sniff,
                # same cue-text contract as WebVTT
                from open_ocr_spark.kernels.subtitle_text import (
                    extract_srt_text,
                )

                try:
                    text = extract_srt_text(payload)
                except ValueError as exc:
                    return "", "error:srt-unsupported", str(exc)
            elif _is_image_payload(payload):
                # raster payloads route to the pixel-domain OCR branch —
                # the reference's literal image->text contract
                # (kernels/glyph_ocr.py). Unrecognizable pixels are a
                # declared low-confidence error value, not silence.
                from open_ocr_spark.kernels.glyph_ocr import ocr_image

                try:
                    text = ocr_image(payload)
                except ValueError as exc:
                    return "", "error:ocr-unsupported", str(exc)
            else:
                text = _markup_text(payload, args, aggressive)

        if args.structured_output:
            return _spans_json(text), STATUS_OK, ""
        return text, STATUS_OK, ""

    except Exception as exc:  # last-resort guard: never fail the batch
        return "", "error:internal", f"{type(exc).__name__}: {exc}"
