"""Frozen differential oracle: the regex tokenizer ``parse_html`` exactly
as it stood before its split-driven rewrite, with the charset sniff and
``collapsed_len`` it called, and the recursive paragraph walk
``_emit_paragraphs`` of ``html_extract`` before it became iterative.
Tests compare the live code against these node for node and paragraph for
paragraph; do not edit them to make a test pass.

Known defects kept on purpose, so inputs here stay small and shallow:
the tag arm rescans to the end of the input for every ``<`` with no later
``>``, and the walk recurses once per nesting level.
"""

from __future__ import annotations

import codecs
import html as _html
import re as _re

from open_ocr_spark.kernels.htmltree import (
    _CHARSET_ALIASES,
    BLOCK_TAGS,
    BOILERPLATE_TAGS,
    CANDIDATE_TAGS,
    SKIP_TAGS,
    VOID_TAGS,
    Node,
    collapse_ws,
)

_META_CHARSET_RE = _re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?\s*([a-zA-Z0-9._-]+)", _re.I
)
_HTML_COMMENT_RE = _re.compile(rb"<!--.*?-->", _re.S)
_OPEN_COMMENT_RE = _re.compile(rb"<!--.*\Z", _re.S)


def sniff_charset(raw: bytes) -> str:
    """The Python codec name the frozen decode policy picks for a page."""
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if raw[:2] in (b"\xff\xfe", b"\xfe\xff"):
        # the utf-16 codec reads the BOM for endianness AND strips it;
        # the -le/-be variants would leave a U+FEFF in the text
        return "utf-16"
    window = raw[:1024]
    if b"<!--" in window:  # hot path: most pages have no early comment
        window = _OPEN_COMMENT_RE.sub(b"", _HTML_COMMENT_RE.sub(b"", window))
    m = _META_CHARSET_RE.search(window)
    if m:
        label = m.group(1).decode("ascii").lower()
        label = _CHARSET_ALIASES.get(label, label)
        try:
            codecs.lookup(label)
            return label
        except LookupError:
            return "utf-8"
    return "utf-8"


def decode_html_bytes(raw: bytes | bytearray | memoryview) -> str:
    """bytes -> str under the frozen sniff policy (never raises)."""
    raw = bytes(raw)
    return raw.decode(sniff_charset(raw), errors="replace")


_TOKEN_RE = _re.compile(
    r"<!--.*?(?:-->|$)"              # comment
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"    # cdata
    r"|<[!?][^>]*>?"                 # doctype / PI
    r"|<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9:_.-]*)[^>]*?(/?)\s*>",  # tag
    _re.S,
)
# raw-text elements: content runs to the matching close tag, never nested
_RAWTEXT = {"script", "style", "textarea", "title", "noscript", "template"}
_RAWTEXT_CLOSE = {
    t: _re.compile(rf"</\s*{t}[^>]*>", _re.I) for t in _RAWTEXT
}


def parse_html(raw: bytes | str) -> Node:
    """Parse HTML bytes (frozen sniff-then-replace decode policy, see
    decode_html_bytes) or a str into a Node tree. Never raises on
    malformed markup."""
    if isinstance(raw, (bytes, bytearray, memoryview)):
        raw = decode_html_bytes(raw)
    root = Node("#document")
    candidates: list[Node] = []
    root.candidates = candidates
    stack = [root]
    skip_tag = None
    skip_depth = 0
    a_depth = 0
    pos = 0
    n = len(raw)

    def add_text(text: str) -> None:
        if "&" in text:
            text = _html.unescape(text)
        top = stack[-1]
        clen = collapsed_len(text)
        top.tlen += clen
        if a_depth:
            top.llen += clen
        top.children.append(text)

    def pop_to(idx: int) -> None:
        # fold each popped element's totals into its parent (stats flow up
        # exactly once, at close time)
        nonlocal a_depth
        while len(stack) > idx:
            child = stack.pop()
            if child.tag == "a":
                a_depth -= 1
            parent = stack[-1]
            parent.tlen += child.tlen
            parent.llen += child.llen

    # C-level token scan: one finditer drives the whole loop (the regex
    # engine skips intervening text internally — measured ~9% faster than
    # the previous find('<') + anchored-match loop on the fixture corpus,
    # byte-identical trees). The ONE place `pos` jumps ahead of the
    # iterator is a raw-text body (script/style): the iterator is
    # re-created at the jump target, because a still-pending match that
    # STARTED inside the raw body can span past its close tag (an
    # unterminated `<!--` inside a script would otherwise swallow the
    # rest of the document as one comment token — real tags the old loop
    # parsed). Resyncs are 1-2 per document, so the restart cost is noise.
    it = _TOKEN_RE.finditer(raw)
    nxt = it.__next__
    while True:
        try:
            m = nxt()
        except StopIteration:
            break
        start = m.start()
        if start > pos and skip_depth == 0:
            add_text(raw[pos:start])
        pos = m.end()
        slash, tag, trail = m.group(1, 2, 3)
        if tag is None:
            continue  # comment / cdata / doctype / PI
        if not tag.islower():
            tag = tag.lower()

        if skip_depth:
            if tag == skip_tag:
                if slash:
                    skip_depth -= 1
                elif tag not in VOID_TAGS:
                    skip_depth += 1
            continue

        if slash:
            if tag in VOID_TAGS:
                continue
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    pop_to(i)
                    break
            continue

        if tag in SKIP_TAGS:
            if trail:
                continue
            if tag in _RAWTEXT:
                # raw-text content: jump straight to the close tag and
                # resync the token iterator past the body (see above)
                mclose = _RAWTEXT_CLOSE[tag].search(raw, pos)
                pos = mclose.end() if mclose else n
                it = _TOKEN_RE.finditer(raw, pos)
                nxt = it.__next__
            else:
                skip_tag = tag
                skip_depth = 1
            continue

        top = stack[-1]
        node = Node(tag, None)
        top.children.append(node)
        if tag in CANDIDATE_TAGS:
            candidates.append(node)
        if not trail and tag not in VOID_TAGS:
            stack.append(node)
            if tag == "a":
                a_depth += 1
    if pos < n and skip_depth == 0:
        add_text(raw[pos:])
    pop_to(1)  # folds every still-open element's totals up into root
    return root


def collapsed_len(s: str) -> int:
    """len(collapse_ws(s)) without building the string."""
    parts = s.split()
    if not parts:
        return 0
    return sum(map(len, parts)) + len(parts) - 1


def _emit_paragraphs(node: Node, strip_boilerplate: bool) -> list[str]:
    """Walk the subtree in document order, flushing the running text buffer
    at block-element boundaries. Each paragraph is whitespace-collapsed;
    empty paragraphs are dropped. Frozen output policy: paragraphs joined
    (by the caller) with exactly '\\n\\n'."""
    paragraphs: list[str] = []
    buf: list[str] = []

    def flush():
        text = collapse_ws("".join(buf))
        buf.clear()
        if text:
            paragraphs.append(text)

    def walk(cur: Node):
        if type(cur) is str:  # text runs are plain strings in children
            buf.append(cur)
            return
        if strip_boilerplate and cur.tag in BOILERPLATE_TAGS:
            flush()
            return
        is_block = cur.tag in BLOCK_TAGS
        if is_block:
            flush()
        if cur.tag == "br":
            buf.append(" ")
        for child in cur.children:
            walk(child)
        if is_block:
            flush()

    walk(node)
    flush()
    return paragraphs
