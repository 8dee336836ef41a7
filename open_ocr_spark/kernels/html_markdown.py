"""HTML → Markdown structured extraction: the "md" output format.

Reference parity: the reference's engine discovers its output file over the
format list ["txt", "hocr"] (/root/reference/tesseract_engine.go:194-262)
and switches formats with a config var (tesseract_engine_test.go:50). This
kernel is the engine-surface EXTENSION of that switch — a third format,
``output_format=md`` — using the SAME main-content selection and
boilerplate-strip policy as the txt path (html_extract.py) but preserving
document structure the txt path flattens: headings, lists, quotes, code,
tables, links, emphasis, images, as CommonMark-compatible text. A training
-data pipeline keeps structure because downstream filters and LLM
pretraining both want it (heading density, list ratio, code detection).

Frozen output policy (deterministic, byte-identical at any parallelism,
SURVEY.md §7.3):

- blocks joined with exactly ``"\\n\\n"``; inline text whitespace-collapsed
  per block; ``<pre>`` content is NOT collapsed (fenced verbatim).
- ATX headings (``#``·level), ``- `` bullets, ``N. `` ordered items,
  2-space nesting indent per list level, ``> `` quote prefix on every
  line, ``` fences, pipe tables with a ``---`` separator after row 1.
- markdown metacharacters in source TEXT runs are backslash-escaped
  (``\\ ` * _ [ ]``) so emitted markup is unambiguous; code-span content
  and URLs are never escaped (a backtick inside a code span switches the
  delimiter to double-backtick instead, per CommonMark).
- emphasis markers hug the content: boundary whitespace inside
  ``<strong>``/``<em>`` moves OUTSIDE the marker pair (``a ** b ** c``
  is not emphasis in CommonMark; ``a **b** c`` is).

Parses with the stdlib tree builder (``parse_html_stdlib``) rather than
the fast tokenizer: markdown needs attributes (href/src/alt), which the
fast path deliberately never parses (htmltree.py fast-tokenizer header).
Same totality guarantee: never raises on malformed bytes (error-as-value
one level up, dispatch.py).
"""

from __future__ import annotations

import re

from open_ocr_spark.kernels.html_extract import select_main_node
from open_ocr_spark.kernels.htmltree import (
    BLOCK_TAGS,
    BOILERPLATE_TAGS,
    Node,
    collapse_ws,
    parse_html_stdlib,
)

_ESCAPE_RE = re.compile(r"([\\`*_\[\]])")

_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}

# inline wrappers: tag -> CommonMark delimiter
_EMPHASIS = {"strong": "**", "b": "**", "em": "*", "i": "*",
             "del": "~~", "s": "~~"}


def _esc(text: str) -> str:
    return _ESCAPE_RE.sub(r"\\\1", text)


def _attr(node: Node, name: str) -> str:
    attrs = node.attrs
    if isinstance(attrs, dict):
        val = attrs.get(name)
        return val if isinstance(val, str) else ""
    return ""


def _code_span(node: Node) -> str:
    content = collapse_ws("".join(node.iter_text()))
    if not content:
        return ""
    if "`" in content:
        return f"`` {content} ``"
    return f"`{content}`"


def _leaf(child: Node) -> str | None:
    """Inline elements rendered without their children's markdown
    (line break, image, code span); None for every other element."""
    tag = child.tag
    if tag == "br":
        return " "
    if tag == "img":
        src = _attr(child, "src")
        if not src:
            return ""
        return f"![{_esc(collapse_ws(_attr(child, 'alt')))}]({src})"
    if tag == "code":
        return _code_span(child)
    return None


class _Run:
    """Inline markdown under construction: whether whitespace leads it,
    its core (nested fragment lists whose joined text neither starts nor
    ends with whitespace), and whether whitespace trails it. Wrapping the
    core and moving or dropping the boundary whitespace cost O(1) at any
    depth, and the text is joined once. Whitespace inside comes out as one
    space: every caller collapses whitespace anyway."""

    __slots__ = ("lead", "core", "trail")

    def __init__(self) -> None:
        self.lead, self.core, self.trail = False, [], False

    def add(self, core, lead: bool, trail: bool) -> None:
        """Append a piece; an empty ``core`` is blank (whitespace when
        ``lead``)."""
        if not self.core:
            self.lead |= lead
        elif not core:
            self.trail |= lead
        elif self.trail or lead:
            self.core.append(" ")
        if core:
            self.core.append(core)
            self.trail = trail

    def add_text(self, text: str) -> None:
        self.add(text.strip(), text[:1].isspace(), text[-1:].isspace())

    def text(self) -> str:
        out, stack = [" "] if self.lead else [], [self.core]
        while stack:
            frag = stack.pop()
            if type(frag) is list:
                stack.extend(reversed(frag))
            else:
                out.append(frag)
        if self.trail:
            out.append(" ")
        return "".join(out)


def _close(child: Node, run: _Run) -> _Run:
    """A link brackets its stripped text; emphasis markers hug the text,
    with boundary whitespace moved outside the pair."""
    if run.core and child.tag == "a":
        href = _attr(child, "href")
        if href:
            run.core = ["[", run.core, f"]({href})"]
            run.lead = run.trail = False
    elif run.core and child.tag in _EMPHASIS:
        marker = _EMPHASIS[child.tag]
        run.core = [marker, run.core, marker]
    return run


def _inline(children) -> str:
    """The inline markdown of a run of sibling nodes. Iterative and
    linear: a stack of (element, child iterator, run) frames, one per open
    element, so deep nesting costs neither interpreter stack nor repeated
    copies."""
    top = _Run()
    stack = [(None, iter(children), top)]
    while stack:
        element, nodes, run = stack[-1]
        for child in nodes:
            if type(child) is str:
                run.add_text(_esc(child))
                continue
            leaf = _leaf(child)
            if leaf is not None:
                run.add_text(leaf)
                continue
            stack.append((child, iter(child.children), _Run()))
            break
        else:
            stack.pop()
            if stack:
                closed = _close(element, run)
                stack[-1][2].add(closed.core, closed.lead, closed.trail)
    return top.text()


def _list_lines(node: Node, depth: int) -> list[str]:
    """Render a <ul>/<ol> as markdown lines (one block, '\\n'-joined by
    the caller). Nested lists indent 2 spaces per level; a block child of
    an <li> other than a nested list contributes its inline text to the
    item line (frozen simplification: items stay single-line)."""
    ordered = node.tag == "ol"
    lines: list[str] = []
    idx = 0
    for child in node.children:
        if type(child) is str or child.tag != "li":
            continue  # inter-item whitespace / malformed children
        idx += 1
        marker = f"{idx}. " if ordered else "- "
        buf: list = []
        sub: list[str] = []
        for grand in child.children:
            if type(grand) is not str and grand.tag in ("ul", "ol"):
                sub.extend(_list_lines(grand, depth + 1))
            elif type(grand) is not str and grand.tag in BLOCK_TAGS:
                buf.extend((" ", grand, " "))
            else:
                buf.append(grand)
        text = collapse_ws(_inline(buf))
        if text or sub:
            lines.append("  " * depth + marker + text)
            lines.extend(sub)
    return lines


def _table_rows(table: Node) -> list[Node]:
    rows: list[Node] = []
    for child in table.children:
        if type(child) is str:
            continue
        if child.tag == "tr":
            rows.append(child)
        elif child.tag in ("thead", "tbody", "tfoot"):
            rows.extend(
                c for c in child.children
                if type(c) is not str and c.tag == "tr"
            )
    return rows


def _table_block(table: Node) -> list[str]:
    """Pipe table: first row is the header row (whether <th> or <td>),
    then the --- separator, then the body. Ragged rows are padded to the
    widest row; cell pipes are escaped locally."""
    grid: list[list[str]] = []
    for tr in _table_rows(table):
        cells = [
            collapse_ws(_inline(c.children)).replace("|", "\\|")
            for c in tr.children
            if type(c) is not str and c.tag in ("td", "th")
        ]
        if cells:
            grid.append(cells)
    if not grid:
        return []
    width = max(len(r) for r in grid)
    grid = [r + [""] * (width - len(r)) for r in grid]
    out = ["| " + " | ".join(grid[0]) + " |",
           "| " + " | ".join(["---"] * width) + " |"]
    out.extend("| " + " | ".join(r) + " |" for r in grid[1:])
    return ["\n".join(out)]


def _flush(buf: list, out: list[str]) -> None:
    text = collapse_ws(_inline(buf))
    buf.clear()
    if text:
        out.append(text)


def _container_blocks(node: Node, strip: bool) -> list[str]:
    """Walk a block container's children: inline nodes accumulate into a
    paragraph buffer that flushes at every block-element boundary (the
    same boundary rule as html_extract._emit_paragraphs). Nested generic
    containers write into the same block list, walked with a stack of
    (child iterator, paragraph buffer) frames instead of recursion."""
    out: list[str] = []
    stack = [(iter(node.children), [])]
    while stack:
        children, buf = stack[-1]
        for child in children:
            if type(child) is str or child.tag not in BLOCK_TAGS:
                buf.append(child)
                continue
            _flush(buf, out)
            if strip and child.tag in BOILERPLATE_TAGS:
                continue
            blocks = _own_block(child, strip)
            if blocks is None:
                stack.append((iter(child.children), []))
                break
            out.extend(blocks)
        else:
            stack.pop()
            _flush(buf, out)
    return out


def _own_block(node: Node, strip: bool) -> list[str] | None:
    """Blocks of an element with a markdown form of its own; None for a
    generic container (article/section/div/li/dd/...). Lists and quotes
    recurse per level: each level widens every line below it, so output
    grows with depth squared and the interpreter stack bounds the depth."""
    tag = node.tag
    level = _HEADINGS.get(tag)
    if level:
        text = collapse_ws(_inline(node.children))
        return ["#" * level + " " + text] if text else []
    if tag == "p":
        text = collapse_ws(_inline(node.children))
        return [text] if text else []
    if tag in ("ul", "ol"):
        lines = _list_lines(node, 0)
        return ["\n".join(lines)] if lines else []
    if tag == "blockquote":
        inner = _container_blocks(node, strip)
        if not inner:
            return []
        joined = "\n\n".join(inner)
        return ["\n".join(
            ("> " + line) if line else ">" for line in joined.split("\n")
        )]
    if tag == "pre":
        content = "".join(node.iter_text()).strip("\n")
        if not content.strip():
            return []
        return ["```\n" + content + "\n```"]
    if tag == "hr":
        return ["---"]
    if tag == "table":
        return _table_block(node)
    return None


def _block(node: Node, strip: bool) -> list[str]:
    if strip and node.tag in BOILERPLATE_TAGS:
        return []
    blocks = _own_block(node, strip)
    return _container_blocks(node, strip) if blocks is None else blocks


def html_to_markdown(raw: bytes | str, aggressive: bool = True) -> str:
    """Extract the main content of an HTML page as Markdown.

    ``aggressive`` is the same SWT dark_on_light recast as
    ``extract_main_text``: True prunes nav/header/footer/aside/form
    subtrees from the chosen candidate before emitting.

    Returns '' for pages with no content. Never raises on malformed
    input (error-as-value handled one level up, dispatch.py).
    """
    root = parse_html_stdlib(raw)
    main = select_main_node(root)
    if main is None:
        main = root
    return "\n\n".join(_block(main, aggressive))
