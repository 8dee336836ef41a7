"""Fast-tokenizer tier: the regex tokenizer must match the stdlib
html.parser tree semantics on every fixture page, and handle markup edge
cases (comments, raw-text elements, entities, self-closing, implicit
closes) identically."""

import pytest

from open_ocr_spark.fixtures import generate_pages
from open_ocr_spark.kernels.html_extract import (
    _emit_paragraphs,
    extract_main_text,
    select_main_node,
)
from open_ocr_spark.kernels.htmltree import parse_html, parse_html_stdlib


def _extract_with(parser, raw, aggressive=True):
    root = parser(raw)
    main = select_main_node(root) or root
    return "\n\n".join(_emit_paragraphs(main, strip_boilerplate=aggressive))


def test_tokenizer_matches_stdlib_on_all_fixtures():
    pages, _ = generate_pages(300)
    for p in pages:
        h = p["html"]
        if not h or h[:4] == b"%PDF":
            continue
        assert _extract_with(parse_html, h) == _extract_with(
            parse_html_stdlib, h
        ), p["url"]


CASES = [
    b"<body><!-- <p>not text</p> --><article><p>real</p></article></body>",
    b"<body><script>var a = '<p>fake</p>';</script><article><p>real</p></article></body>",
    b"<body><style>p::before{content:'<div>'}</style><article><p>real</p></article></body>",
    b"<body><article><p>one<br/>two</p><hr><p>three &amp; four</p></article></body>",
    b"<body><article><p>unclosed<p>second</article></body>",
    b"<body><ARTICLE><P>upper case</P></ARTICLE></body>",
    b"<body><article><p>a &lt;tag&gt; &#65; &nbsp;b</p></article></body>",
    b"<body><article><p>text</p><img src='x.png'><p>more</p></article></body>",
    b"<!DOCTYPE html><body><article><p>doc</p></article></body>",
    b"<body><article><p>stray</b></i> end tags</p></article></body>",
    b"<body><textarea><p>not content</p></textarea><article><p>yes</p></article></body>",
]


@pytest.mark.parametrize("html", CASES)
def test_tokenizer_edge_cases_match_stdlib(html):
    assert _extract_with(parse_html, html) == _extract_with(parse_html_stdlib, html)


def test_entities_unescaped():
    assert (
        extract_main_text(b"<body><article><p>a &amp; b &#8212; c</p></article></body>")
        == "a & b — c"
    )


def test_script_with_embedded_close_lookalike():
    html = b"<body><script>if(a</script1){}</script><article><p>ok</p></article></body>"
    # tolerant: whatever happens, no crash and deterministic output
    out1 = extract_main_text(html)
    out2 = extract_main_text(html)
    assert out1 == out2


def test_truncated_markup_no_raise():
    for frag in (b"<div", b"<div><p>half <", b"<!-- unclosed", b"<script>xx",
                 b"<![CDATA[zz", b"</closing-only>", b"<p>&brokenentity"):
        assert isinstance(extract_main_text(frag), str)


# --- differential oracle: the frozen pre-rewrite tokenizer ------------------
# The live tokenizer must build the SAME tree as frozen_htmltree.parse_html:
# same nodes and text runs in the same order, the same tlen/llen on every
# element, and the same candidate list; and the iterative paragraph walk
# must emit what the frozen recursive one does on that tree.

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

import frozen_htmltree  # noqa: E402


def _tree_sig(root):
    """Pre-order (tag, tlen, llen, n_children) / text entries, plus the
    pre-order index of each candidate (iterative: trees may be deep)."""
    out, index = [], {}
    stack = [root]
    while stack:
        node = stack.pop()
        if type(node) is str:
            out.append(node)
            continue
        index[id(node)] = len(out)
        out.append((node.tag, node.tlen, node.llen, len(node.children)))
        stack.extend(reversed(node.children))
    return out, [index[id(c)] for c in root.candidates]


def _assert_same_tree(raw):
    root = parse_html(raw)
    assert _tree_sig(root) == _tree_sig(frozen_htmltree.parse_html(raw)), raw
    main = select_main_node(root) or root
    for strip in (True, False):
        assert _emit_paragraphs(main, strip) == (
            frozen_htmltree._emit_paragraphs(main, strip)
        ), raw


_FRAGMENTS = [
    # unterminated / odd declarations, and `$` before a final newline
    "<!--", "-->", "<!-- c -->", "<!---->", "<!-->", "<![CDATA[", "]]>",
    "<![CDATA[x]]>", "<?", "<?xml v?>", "<!", "<!DOCTYPE html>", "\n",
    "\r\n",
    # raw-text and skipped elements (comments inside script, etc.)
    "<script>", "</script>", "</SCRIPT >", "<script/>", "<style>",
    "</style>", "<textarea>", "</textarea>", "<noscript>", "<template>",
    "<title>", "</title>", "<head>", "</head>", "<svg>", "</svg>",
    "<embed>", "</embed>", "<select>",
    # tag shapes
    "< /a >", "<br / >", "<br/>", "<a href=/>", "<a href='x'>", "</a>",
    "<A>", "</A>", "<P>", "<p>", "</p>", "<div>", "</div>", "<div/>",
    "<DIV class=x>", "<img src=x>", "<hr>", "<article>", "</article>",
    "<td>", "<section>", "<main>", "<body>", "</body>", "<nav>", "</nav>",
    "<footer>", "<b>", "</b>", "</i>", "<x:y>", "<a\t/　>",
    # text, entities, stray brackets
    "&amp;", "&lt;", "&#65;", "&nbsp;", "&brokenentity", "text",
    "two words", " ", "\t", "\x85", "　", "<", ">", "/", "<a ", "< ",
]
_MARKUP = st.lists(st.sampled_from(_FRAGMENTS), max_size=40).map("".join)


@given(_MARKUP)
@settings(max_examples=1500, deadline=None)
def test_tree_matches_frozen_oracle_on_fragments(s):
    _assert_same_tree(s)


@given(st.text(alphabet=st.sampled_from(list("<>/!?-[]ab sp=\"'&;#\n\r")),
               max_size=300))
@settings(max_examples=1000, deadline=None)
def test_tree_matches_frozen_oracle_on_taglike_text(s):
    _assert_same_tree(s)


@given(st.binary(max_size=600))
@settings(max_examples=300, deadline=None)
def test_tree_matches_frozen_oracle_on_bytes(raw):
    _assert_same_tree(raw)


_BENCH_PREFIX = (
    "<html><head><title>doc</title><script>q()</script></head><body>"
    '<nav><ul><li><a href="/">Home</a></li><li><a href="/a">A</a></li>'
    '<li><a href="/b">B</a></li></ul></nav><article><p>'
)
_BENCH_SUFFIX = (
    '</p></article><footer><a href="/x">x</a> <a href="/y">y</a>'
    "<p>(c) footer</p></footer></body></html>"
)


@given(st.lists(st.sampled_from("data spark table & the a".split()),
                min_size=1, max_size=100).map(" ".join))
@settings(max_examples=100, deadline=None)
def test_tree_matches_frozen_oracle_on_bench_shaped_pages(text):
    _assert_same_tree((_BENCH_PREFIX + text + _BENCH_SUFFIX).encode())


def test_tree_matches_frozen_oracle_on_fixture_corpus():
    pages, _ = generate_pages(600)
    for p in pages:
        if p["html"]:
            _assert_same_tree(p["html"])


@pytest.mark.parametrize("html", CASES + [
    b"<script><!--</script><p>after</p>",
    b"<script><!-- x --></script><p>after</p>-->",
    b"<style><![CDATA[</style><p>after</p>]]><p>more</p>",
    b"<p>x</p><script><!--</script><p>a</p><script><!--</script>\n",
    b"<p>end<!--\n", b"<p>end<![CDATA[\n", b"<p>x<!-- a > b\n",
    b"<p>x<a \n", b"<p>x</p", b"<div><p>a<br / >b< /p >c</div>",
    b"<p><script>x</script>after</p>", b"<script><!--</script>x",
    b"<p>a<!-->b", b"<p>a<!--->b", b"<p>a<![CDATA[]]>b<![CDATA[>c",
    b"<script><!--</script><p>a<!-- b > c",
    b"<script><!--</script><p>a</p><style>s</style>b<!--x-->c",
])
def test_tree_matches_frozen_oracle_on_edge_cases(html):
    _assert_same_tree(html)
