r"""PostScript (.ps) extraction branch.

The pre-PDF document format still carried by print archives, preprint
mirrors, and legacy office exports — and the closest sibling of the
PDF branch (`kernels/pdf_text.py` extracts PDF text-show operators;
this does the same for PostScript's, citing the same reference
contract: recover the text from the document,
/root/reference/ocr_http_handler.go).

Scan-based subset of the public language (Adobe, PostScript Language
Reference, 3rd ed.): like the PDF branch, the extractor does NOT
execute the program — it tokenizes and recovers the text-show operator
stream, which is how every practical ps-to-text tool works:

- string literals ``(...)`` with the PLRM escapes — ``\( \) \\ \n \r
  \t \b \f``, octal ``\ddd``, and line-continuation backslash-newline
  — and balanced unescaped parens nested inside;
- a literal consumed by ``show`` / ``ashow`` / ``widthshow`` /
  ``awidthshow`` is text (the numeric spacing operands that precede
  the string are layout, not content); any other literal (e.g. a
  ``def`` operand or ``/Title (...)`` DSC metadata) is NOT emitted;
- layout recovery by ``moveto`` tracking, the pdftotext convention:
  the two numeric tokens before ``moveto`` set the current point — a
  show after a moveto whose y differs from the previous show's y
  starts a new LINE; same y joins with nothing (the x advance is the
  printer's business); ``showpage`` ends a paragraph (blank-line
  join, the house rule);
- comments ``%`` to end of line are dropped (except inside strings);
  the DSC header lines are comments by construction.

Totality: ``is_ps`` gates on the unambiguous ``%!PS`` magic;
``extract_ps_text`` raises ValueError only (hostile-input caps).
"""

from __future__ import annotations

import re

_MAX_SHOWS = 200_000       # hostile-input cap
_MAX_TEXT = 20 * 1 << 20   # rendered-text cap, mirrors MAX_DOC_BYTES

_SHOW_OPS = {"show", "ashow", "widthshow", "awidthshow"}
# PLRM number forms: integers, reals with either side of the point
# empty, exponents, and radix numbers (16#FF) — a mis-classified number
# would clear the moveto operand window and silently merge text lines
_NUM_RE = re.compile(
    r"^[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?$"
    r"|^\d+#[0-9A-Za-z]+$"
)
# name literal and bare token: matched in place (``pat.match(src, i)``),
# never on a slice, so tokenizing stays linear in the input
_NAME_RE = re.compile(r"/[^\s()<>\[\]{}/%]*")
_TOKEN_RE = re.compile(r"[^\s()<>\[\]{}/%]+")
_ESC = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f",
        "(": "(", ")": ")", "\\": "\\"}


def is_ps(payload: bytes) -> bool:
    """The DSC magic: nothing else on the web starts with %!PS."""
    return payload[:4] == b"%!PS"


def _read_string(s: str, i: int) -> tuple[str, int]:
    """PLRM string literal starting at the '(' — returns (decoded,
    index past the closing paren). Balanced unescaped parens nest;
    EOF inside a string yields the remainder (truncated payloads
    parse, the house rule)."""
    out: list[str] = []
    depth = 1
    i += 1
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\\":
            nxt = s[i + 1:i + 2]
            if nxt in _ESC:
                out.append(_ESC[nxt])
                i += 2
            elif "0" <= nxt <= "7":
                # octal escape: 1-3 OCTAL digits only ('\8' is an
                # undefined escape, not an empty octal literal)
                j = i + 1
                while j < min(i + 4, n) and "0" <= s[j] <= "7":
                    j += 1
                out.append(chr(int(s[i + 1:j], 8) & 0xFF))
                i = j
            elif nxt == "\n":
                i += 2  # line continuation: both chars vanish
            elif nxt == "\r":
                # PLRM: \<CR> and \<CRLF> are continuations too
                i += 3 if s[i + 2:i + 3] == "\n" else 2
            else:
                # undefined escape: backslash drops, the char stays
                i += 1
        elif c == "(":
            depth += 1
            out.append(c)
            i += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return "".join(out), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out), n


def extract_ps_text(payload: bytes) -> str:
    """Text-show stream with moveto line recovery. ValueError only."""
    src = payload.decode("latin-1")
    lines: list[list[str]] = [[]]   # current page's lines of show-texts
    pages: list[str] = []
    pending: str | None = None      # last string literal, awaiting its op
    nums: list[str] = []            # trailing numeric tokens (for moveto)
    cur_y: str | None = None        # y of the current line
    shows = 0
    size = 0

    def flush_page() -> None:
        nonlocal lines
        page = "\n".join("".join(parts) for parts in lines if parts)
        if page.strip():
            pages.append(page)
        lines = [[]]

    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if c == "%":
            j = src.find("\n", i)
            i = n if j < 0 else j + 1
        elif c == "(":
            pending, i = _read_string(src, i)
            nums.clear()
        elif c in " \t\r\n":
            i += 1
        elif c in "[]{}<>/":
            # procedure/array/dict/hex-string/name machinery: a name's
            # chars are consumed below; brackets themselves are opaque
            if c == "/":
                i = _NAME_RE.match(src, i).end()
            else:
                i += 1
            pending = None
            nums.clear()
        else:
            m = _TOKEN_RE.match(src, i)
            tok = m.group(0) if m else src[i]
            i += len(tok)
            if _NUM_RE.match(tok):
                nums.append(tok)
                continue
            if tok in _SHOW_OPS and pending is not None:
                shows += 1
                size += len(pending)
                if shows > _MAX_SHOWS:
                    raise ValueError(f"ps show count exceeds {_MAX_SHOWS}")
                if size > _MAX_TEXT:
                    raise ValueError(f"ps text exceeds {_MAX_TEXT}")
                lines[-1].append(pending)
            elif tok == "moveto" and len(nums) >= 2:
                y = nums[-1]
                if cur_y is not None and y != cur_y and lines[-1]:
                    lines.append([])
                cur_y = y
            elif tok == "showpage":
                flush_page()
                cur_y = None
            pending = None
            nums.clear()
    flush_page()
    if not pages:
        raise ValueError("ps payload has no text shows")
    return "\n\n".join(pages)


def build_ps(pages: list[list[str]]) -> bytes:
    """Writer twin: each page is a list of text lines, emitted as a
    DSC-conformant program with per-line moveto + show pairs and
    PLRM escaping — the independent serializer the oracle's
    closed-form expectations ride on."""
    out = [
        "%!PS-Adobe-3.0",
        "%%Creator: fixture-twin",
        "%%Pages: " + str(len(pages)),
        "/Times-Roman findfont 12 scalefont setfont",
    ]
    for pi, page in enumerate(pages):
        out.append(f"%%Page: {pi + 1} {pi + 1}")
        y = 720
        for line in page:
            esc = (line.replace("\\", r"\\")
                       .replace("(", r"\(")
                       .replace(")", r"\)"))
            out.append(f"72 {y} moveto ({esc}) show")
            y -= 14
        out.append("showpage")
    out.append("%%EOF")
    return "\n".join(out).encode("latin-1")
