"""Minimal, deterministic HTML node tree: a regex tokenizer driven by one
``re.split`` per page (``parse_html``, the extraction path) and a stdlib
html.parser builder (``parse_html_stdlib``) that tests check it against.

This is the graft's recast of the reference's external OCR binaries: where
open-ocr shells out to ``tesseract`` per document
(/root/reference/tesseract_engine.go:98-128, exec at :210-211), this engine
parses the raw page bytes into a node tree in pure Python so the extraction
stage can run vectorized inside one Arrow batch with zero subprocesses and
zero per-row Python on the Spark side.

Determinism requirements (SURVEY.md §7.3 "Hard #1/#2"): stdlib-only parsing,
an explicit frozen decode policy (WHATWG-style charset sniff: BOM, then a
1024-byte <meta> prescan with label normalization, then utf-8; always
errors=replace), no environment-dependent behavior. The same bytes must
yield the same tree on every executor at any parallelism.

Tree representation (hot-path layout): element nodes are ``Node``; text
runs are plain ``str`` entries in ``children`` — no object allocation per
text run, which is the bulk of nodes on a text-heavy page. Candidate
main-content roots are collected in document order at parse time
(``root.candidates``) so scoring needs no full-tree walk.
"""

from __future__ import annotations

import codecs
import html as _html
import re
from collections import defaultdict
from html.parser import HTMLParser
from operator import length_hint

# --- charset sniff ----------------------------------------------------------
# WHATWG "encoding sniffing algorithm", reduced to its deterministic core:
# a byte-order mark wins; else a <meta charset=...> / <meta http-equiv
# content="...charset=..."> found in the first 1024 bytes; else utf-8.
# Labels normalize per the WHATWG encoding registry's big equivalence
# classes (every latin1-family label means windows-1252 on the web; a meta
# claiming utf-16 is a lie by construction — the prescan READ it as ASCII —
# and maps to utf-8, as the spec prescribes). Unknown labels fall back to
# utf-8. Decoding is always errors=replace: a wrong declaration degrades to
# replacement characters, never raises, and stays byte-deterministic.

_META_CHARSET_RE = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?\s*([a-zA-Z0-9._-]+)", re.I
)

# The WHATWG prescan skips comments: a commented-out <meta charset=...>
# must not win over the real declaration.  Closed comments are removed
# from the window; an UNCLOSED comment swallows the rest of the window
# (the spec jumps past "-->" and never finds it, ending the prescan).
_HTML_COMMENT_RE = re.compile(rb"<!--.*?-->", re.S)
_OPEN_COMMENT_RE = re.compile(rb"<!--.*\Z", re.S)

# WHATWG label -> Python codec, for the classes where they differ.
_CHARSET_ALIASES = {
    "iso-8859-1": "cp1252", "latin1": "cp1252", "latin-1": "cp1252",
    "us-ascii": "cp1252", "ascii": "cp1252", "windows-1252": "cp1252",
    "iso8859-1": "cp1252", "l1": "cp1252",
    "gb2312": "gb18030", "gbk": "gb18030", "gb_2312-80": "gb18030",
    "shift-jis": "shift_jis", "sjis": "shift_jis", "x-sjis": "shift_jis",
    "euc-kr": "cp949", "ks_c_5601-1987": "cp949", "korean": "cp949",
    "utf-16": "utf-8", "utf-16le": "utf-8", "utf-16be": "utf-8",
    "unicode": "utf-8",
}


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


def codec_for_label(label: str) -> str | None:
    """Python codec for a TRANSPORT-layer charset label (the HTTP
    Content-Type parameter), normalized through the same WHATWG label
    classes the meta prescan uses — per the spec the transport layer
    sits ABOVE the sniff, so a valid header label wins over BOM/meta.
    Unknown labels return None: the caller falls back to sniffing (the
    spec's behavior for an unrecognized label), never errors."""
    norm = _CHARSET_ALIASES.get(label.strip().lower(), label.strip().lower())
    try:
        codecs.lookup(norm)
        return norm
    except LookupError:
        return None


# Elements whose entire subtree carries no extractable text.
SKIP_TAGS = frozenset(
    {"script", "style", "noscript", "template", "head", "svg", "iframe",
     "object", "embed", "canvas", "audio", "video", "map", "button",
     "select", "option", "textarea", "datalist"}
)

# Void elements: never pushed on the open-element stack.
VOID_TAGS = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input", "link",
     "meta", "param", "source", "track", "wbr"}
)

# Block-level elements: boundaries between them are paragraph breaks.
BLOCK_TAGS = frozenset(
    {"address", "article", "aside", "blockquote", "body", "caption", "dd",
     "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer", "form",
     "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "html", "li",
     "main", "nav", "ol", "p", "pre", "section", "table", "tbody", "td",
     "tfoot", "th", "thead", "tr", "ul"}
)

# Boilerplate containers: their text is counted but they are never chosen as
# the main-content root, and they are pruned from a chosen ancestor's output.
# This is the graft's analog of the stroke-width-transform text-region filter
# (/root/reference/stroke_width_transform.go:15-68): regions that do not look
# like body text are removed before the engine runs.
BOILERPLATE_TAGS = frozenset({"nav", "header", "footer", "aside", "form"})

# Candidate roots for main content (disjoint from BOILERPLATE_TAGS, so the
# parse-time candidate list needs no boilerplate filter).
CANDIDATE_TAGS = frozenset({"article", "main", "section", "div", "body", "td"})


class Node:
    """One element node: tag + children. ``children`` holds child ``Node``s
    and plain ``str`` text runs interleaved in document order.

    ``tlen``/``llen`` are subtree totals of collapsed text chars / chars
    under <a>, folded in DURING parsing (each element's totals flow into
    its parent when it closes) so scoring needs no second tree walk.
    ``candidates`` is set on the document root only: every CANDIDATE_TAGS
    element in document (pre-)order."""

    __slots__ = ("tag", "attrs", "children", "tlen", "llen", "candidates")

    def __init__(self, tag, attrs=None):
        self.tag = tag
        # stored as given (None for the fast tokenizer, which never parses
        # attributes — the extractor reads none); avoids a dict alloc per
        # node on the hot path
        self.attrs = attrs
        self.children = []
        self.tlen = 0
        self.llen = 0
        self.candidates = None

    def iter(self):
        """Depth-first pre-order walk of this subtree: yields Node elements
        and plain-str text runs."""
        stack = [self]
        while stack:
            node = stack.pop()
            yield node
            if type(node) is not str:
                stack.extend(reversed(node.children))

    def iter_text(self):
        """All text runs in document order."""
        for n in self.iter():
            if type(n) is str:
                yield n


class _TreeBuilder(HTMLParser):
    """Tolerant stack-based tree builder: unmatched end tags are ignored;
    a matching end tag pops every unclosed element above it (implicit
    close); elements inside SKIP_TAGS are dropped entirely."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("#document")
        self.root.candidates = []
        self.stack = [self.root]
        self.skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if self.skip_depth:
            # inside a skipped subtree: drop everything, but track nesting
            # of the skipped tag itself so its end tag unwinds correctly
            if tag == self._skip_tag and tag not in VOID_TAGS:
                self.skip_depth += 1
            return
        if tag in SKIP_TAGS:
            self.skip_depth = 1
            self._skip_tag = tag
            return
        node = Node(tag, dict(attrs))
        self.stack[-1].children.append(node)
        if tag in CANDIDATE_TAGS:
            self.root.candidates.append(node)
        if tag not in VOID_TAGS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        if self.skip_depth or tag in SKIP_TAGS:
            return
        node = Node(tag, dict(attrs))
        self.stack[-1].children.append(node)
        if tag in CANDIDATE_TAGS:
            self.root.candidates.append(node)

    def handle_endtag(self, tag):
        if self.skip_depth:
            if tag == self._skip_tag:
                self.skip_depth -= 1
            return
        if tag in VOID_TAGS:
            return
        # find the matching open element; ignore stray end tags
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if self.skip_depth or not data:
            return
        self.stack[-1].children.append(data)


def fold_stats(root: Node) -> None:
    """Post-order fold of subtree text/link totals into tlen/llen for a
    finished tree (used by the stdlib parse path; the fast tokenizer folds
    during parsing)."""
    stack: list[tuple[Node, bool, bool]] = [(root, False, False)]
    while stack:
        node, in_link, visited = stack.pop()
        child_in_link = in_link or node.tag == "a"
        if not visited:
            node.tlen = 0
            node.llen = 0
            stack.append((node, in_link, True))
            for child in node.children:
                if type(child) is str:
                    n = len(collapse_ws(child))
                    node.tlen += n
                    if child_in_link:
                        node.llen += n
                else:
                    stack.append((child, child_in_link, False))
        else:
            for child in node.children:
                if type(child) is not str:
                    node.tlen += child.tlen
                    node.llen += child.llen


def parse_html_stdlib(raw: bytes | str) -> Node:
    """html.parser-backed tree build — the reference implementation the
    fast tokenizer below is cross-checked against (tests assert identical
    extraction on the golden fixtures)."""
    if isinstance(raw, (bytes, bytearray, memoryview)):
        raw = decode_html_bytes(raw)
    builder = _TreeBuilder()
    try:
        builder.feed(raw)
        builder.close()
    except Exception:
        # html.parser is tolerant, but freeze the guarantee: a parse blowup
        # yields whatever tree was built so far (error-as-value upstream).
        pass
    fold_stats(builder.root)
    return builder.root


# --- fast tokenizer ---------------------------------------------------------
# Never parses attributes (the extractor reads none) and never builds a
# Match object per token: one C-level ``_TOKEN_RE.split`` cuts the whole
# page into text and token strings, and the loop in ``parse_html`` walks
# that list. Same tolerant tree semantics as the stdlib builder: implicit
# closes, ignored stray end tags, SKIP_TAGS subtrees dropped, entities
# unescaped.

# Groups: the whole token, then for tags the end-tag slash and the name.
# ``split`` returns [text, token, slash, name, text, ...]; slash and name
# are None for comments, CDATA, doctypes and PIs.
_TOKEN_RE = re.compile(
    r"(<!--.*?(?:-->|$)"                 # comment
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"        # cdata
    r"|<[!?][^>]*>?"                     # doctype / PI
    r"|<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9:_.-]*)[^>]*>)",  # tag
    re.S,
)
_MARKUP_DECL_RE = re.compile(r"<[!?]")
# raw-text elements: content runs to the matching close tag, never nested
_RAWTEXT = {"script", "style", "textarea", "title", "noscript", "template"}
_RAWTEXT_CLOSE = {
    t: re.compile(rf"</\s*{t}[^>]*>", re.I) for t in _RAWTEXT
}


def _runs_on(tok: str) -> bool:
    """True for a comment or CDATA token that ends at the end of its scan
    window only because ``$`` matched there: over the whole input it
    runs on past the window."""
    if tok.startswith("<!--"):
        return len(tok) < 7 or not tok.endswith("-->")
    if tok.startswith("<![CDATA["):
        return not tok.endswith("]]>")
    return False


def _tail_parts(raw: str, pos: int, start: int) -> list:
    """Token blocks for ``raw[pos:]`` where ``raw[pos:start]`` is plain
    text and ``raw[start:]`` holds no ``>`` that ends a token. No tag can
    close there, so the first ``<!`` or ``<?`` opens a token that runs to
    the end of input; a comment or CDATA one stops before a final newline,
    where ``$`` matches. The last block is the ``("", None, None)``
    sentinel that carries the trailing text."""
    m = _MARKUP_DECL_RE.search(raw, start)
    if m is None:
        return [raw[pos:], "", None, None]
    tok, rest = raw[m.start():], ""
    if tok[-1] == "\n" and tok.startswith(("<!--", "<![CDATA[")):
        tok, rest = tok[:-1], "\n"
    return [raw[pos:m.start()], tok, None, None, rest, "", None, None]


def _split_tokens(raw: str, cut: int) -> list:
    """``[text, token, slash, name]`` blocks for the whole page, ending in
    a sentinel block. ``cut`` is one past the last ``>``: a ``<`` after it
    can never open a tag, so splitting stops there instead of letting the
    tag arm rescan to the end of input from every such ``<``."""
    parts = _TOKEN_RE.split(raw[:cut])
    start = cut
    if len(parts) > 1 and not parts[-1] and _runs_on(parts[-4]):
        start -= len(parts[-4])
        del parts[-4:]
    parts[-1:] = _tail_parts(raw, start - len(parts[-1]), start)
    return parts


def _scan_tokens(raw: str, pos: int, cut: int, at: list):
    """The blocks of ``_split_tokens`` from ``pos`` on, scanned one token
    at a time; ``at[0]`` is the end of the last token yielded. Used after
    a raw-text resync that the up-front split cannot serve (see
    ``parse_html``): scanning lazily never looks past the token the
    caller is on, so each resync costs only what it consumes."""
    for m in _TOKEN_RE.finditer(raw, pos, cut):
        tok = m[1]
        if m.end() == cut and _runs_on(tok):
            cut = m.start()
            break
        at[0] = m.end()
        yield raw[pos:m.start()], tok, m[2], m[3]
        pos = m.end()
    blocks = iter(_tail_parts(raw, pos, max(pos, cut)))
    yield from zip(blocks, blocks, blocks, blocks)


def parse_html(raw: bytes | str) -> Node:
    """Parse HTML bytes (frozen sniff-then-replace decode policy, see
    decode_html_bytes) or a str into a Node tree. Never raises on
    malformed markup.

    Runs in time linear in the input: every character is scanned a
    bounded number of times, whatever the markup (unterminated tags,
    comments inside raw-text elements, deep nesting)."""
    if isinstance(raw, (bytes, bytearray, memoryview)):
        raw = decode_html_bytes(raw)
    root = Node("#document")
    candidates: list[Node] = []
    root.candidates = candidates
    stack = [root]
    top = root
    skip_tag = None
    skip_depth = 0
    # open elements per tag name: a stray end tag is dismissed without a
    # walk down the stack (which made deep pages quadratic), and
    # opened["a"] says whether text is link text
    opened = defaultdict(int)
    n = len(raw)
    cut = raw.rfind(">") + 1
    unescape = _html.unescape

    parts = _split_tokens(raw, cut)
    it = iter(parts)
    source = zip(it, it, it, it)
    # Position bookkeeping for raw-text resyncs only: parts[done_idx]
    # starts at raw offset done_pos. ``at`` is None while tokens come from
    # ``parts``, and the lazy scanner's position cell after that.
    done_idx = done_pos = 0
    at = None
    while source is not None:
        for text, tok, slash, tag in source:
            if text and not skip_depth:
                if "&" in text:
                    text = unescape(text)
                clen = len(" ".join(text.split()))
                if clen:
                    top.tlen += clen
                    if opened["a"]:
                        top.llen += clen
                top.children.append(text)
            if tag is None:
                continue  # comment / cdata / doctype / PI / end sentinel
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
                # close the matching open element and every unclosed one
                # above it, folding each one's totals into its parent
                # (stats flow up exactly once, at close time); stray end
                # tags are ignored
                if tag == top.tag:  # the common case: closes the top
                    stack.pop()
                    child, top = top, stack[-1]
                    top.tlen += child.tlen
                    top.llen += child.llen
                    opened[tag] -= 1
                    continue
                if not opened[tag]:
                    continue
                for i in range(len(stack) - 2, 0, -1):
                    if stack[i].tag == tag:
                        while len(stack) > i:
                            child = stack.pop()
                            opened[child.tag] -= 1
                            top = stack[-1]
                            top.tlen += child.tlen
                            top.llen += child.llen
                        break
                continue

            # a "/" before the ">" (after optional space) self-closes
            c = tok[-2]
            trail = c == "/" or (c.isspace() and tok[:-1].rstrip()[-1] == "/")
            if tag in SKIP_TAGS:
                if trail:
                    continue
                if tag not in _RAWTEXT:
                    skip_tag = tag
                    skip_depth = 1
                    continue
                # raw-text content: resume tokenizing after the close tag
                if at is None:
                    # k: index of the text block after this token
                    k = len(parts) - length_hint(it)
                    pos = (done_pos + sum(map(len, parts[done_idx:k:4]))
                           + sum(map(len, parts[done_idx + 1:k:4])))
                else:
                    pos = at[0]
                # a close tag ends with ">", so none lies past ``cut``
                mclose = _RAWTEXT_CLOSE[tag].search(raw, pos, cut)
                end = mclose.end() if mclose else n
                if at is None:
                    # skip the blocks inside the raw body. The close tag
                    # ends with ">", so a tag or declaration token never
                    # straddles it; if the end lands in text, trim that
                    # text and continue from it.
                    while pos + len(parts[k]) < end:
                        pos += len(parts[k])
                        if pos + len(parts[k + 1]) > end:
                            break  # a comment / CDATA straddles the close
                        pos += len(parts[k + 1])
                        k += 4
                    else:
                        parts[k] = parts[k][end - pos:]
                        it.__setstate__(k)  # list iterator: seek to k
                        done_idx, done_pos = k, end
                        continue
                # the split tokenized a comment or CDATA section that
                # began inside the raw body; scan lazily from the close
                # tag instead (re-splitting the rest at every such
                # resync would be quadratic)
                at = [end]
                source = _scan_tokens(raw, end, cut, at)
                break

            node = Node(tag, None)
            top.children.append(node)
            if tag in CANDIDATE_TAGS:
                candidates.append(node)
            if not trail and tag not in VOID_TAGS:
                stack.append(node)
                top = node
                opened[tag] += 1
        else:
            source = None
    # fold every still-open element's totals up into the root
    while len(stack) > 1:
        child = stack.pop()
        parent = stack[-1]
        parent.tlen += child.tlen
        parent.llen += child.llen
    return root


def collapse_ws(s: str) -> str:
    """Frozen whitespace normalization: any run of unicode whitespace
    becomes one ASCII space; leading/trailing stripped."""
    return " ".join(s.split())
