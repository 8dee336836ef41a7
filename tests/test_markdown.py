"""HTML → Markdown kernel (kernels/html_markdown.py): the "md" output
format of the extraction engine. Kernel unit tier (no Spark) — every
frozen-policy clause from the module docstring gets a test, plus the
dispatch-level output_format switch and totality on malformed bytes."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from open_ocr_spark.kernels.dispatch import extract_document
from open_ocr_spark.kernels.html_markdown import html_to_markdown


def _page(body: str) -> bytes:
    return (
        '<html><head><script>q()</script></head><body>'
        '<nav><ul><li><a href="/">Home</a></li><li><a href="/a">A</a></li>'
        '</ul></nav><article>' + body +
        '</article><footer><p>(c) footer</p></footer></body></html>'
    ).encode()


# --- block structure --------------------------------------------------------

def test_headings_atx():
    md = html_to_markdown(_page(
        "<h1>Title</h1><p>Body text here.</p><h2>Sub</h2><h3>Subsub</h3>"
    ))
    assert md == "# Title\n\nBody text here.\n\n## Sub\n\n### Subsub"


def test_paragraph_whitespace_collapsed():
    md = html_to_markdown(_page("<p>  a\n\t b   c </p>"))
    assert md == "a b c"


def test_pre_is_fenced_and_not_collapsed():
    md = html_to_markdown(_page(
        "<p>intro</p><pre><code>x = 1\n  y  =  2</code></pre>"
    ))
    assert md == "intro\n\n```\nx = 1\n  y  =  2\n```"


def test_blockquote_prefixes_every_line():
    md = html_to_markdown(_page(
        "<blockquote><p>one</p><p>two</p></blockquote>"
    ))
    assert md == "> one\n>\n> two"


def test_hr_rule():
    md = html_to_markdown(_page("<p>a</p><hr><p>b</p>"))
    assert md == "a\n\n---\n\nb"


def test_unordered_list():
    md = html_to_markdown(_page("<ul><li>one</li><li>two</li></ul>"))
    assert md == "- one\n- two"


def test_ordered_list_numbers_by_position():
    md = html_to_markdown(_page("<ol><li>first</li><li>second</li></ol>"))
    assert md == "1. first\n2. second"


def test_nested_list_indents_two_spaces():
    md = html_to_markdown(_page(
        "<ul><li>a<ul><li>a1</li><li>a2</li></ul></li><li>b</li></ul>"
    ))
    assert md == "- a\n  - a1\n  - a2\n- b"


def test_table_pipe_layout_with_separator():
    md = html_to_markdown(_page(
        "<table><tr><th>k</th><th>v</th></tr>"
        "<tr><td>id</td><td>7</td></tr></table>"
    ))
    assert md == "| k | v |\n| --- | --- |\n| id | 7 |"


def test_table_ragged_rows_padded_and_pipes_escaped():
    md = html_to_markdown(_page(
        "<table><tbody><tr><td>a|b</td><td>c</td></tr>"
        "<tr><td>solo</td></tr></tbody></table>"
    ))
    assert md == "| a\\|b | c |\n| --- | --- |\n| solo |  |"


# --- inline markup ----------------------------------------------------------

def test_emphasis_and_strong():
    md = html_to_markdown(_page(
        "<p>a <strong>bold</strong> and <em>soft</em> word</p>"
    ))
    assert md == "a **bold** and *soft* word"


def test_emphasis_boundary_whitespace_moves_outside_markers():
    md = html_to_markdown(_page("<p>a<strong> b </strong>c</p>"))
    assert md == "a **b** c"


def test_link_and_image():
    md = html_to_markdown(_page(
        '<p><a href="https://e.com/x">go</a> and '
        '<img src="/i.png" alt="pic"></p>'
    ))
    assert md == "[go](https://e.com/x) and ![pic](/i.png)"


def test_link_without_href_degrades_to_text():
    assert html_to_markdown(_page("<p><a>plain</a></p>")) == "plain"


def test_code_span_and_backtick_escape():
    md = html_to_markdown(_page("<p>use <code>f(x)</code> here</p>"))
    assert md == "use `f(x)` here"
    md = html_to_markdown(_page("<p><code>a ` b</code></p>"))
    assert md == "`` a ` b ``"


def test_text_metacharacters_escaped():
    md = html_to_markdown(_page("<p>lit *stars* and [brackets]_u_</p>"))
    assert md == "lit \\*stars\\* and \\[brackets\\]\\_u\\_"


# --- policy parity with the txt path ----------------------------------------

def test_boilerplate_stripped_aggressive():
    md = html_to_markdown(_page("<p>main</p><aside><p>ad</p></aside>"))
    assert md == "main"
    # bare page (no nav/footer changing candidate choice): non-aggressive
    # keeps the aside, same policy as the txt path
    bare = b"<body><article><p>main</p><aside><p>ad</p></aside></article></body>"
    assert html_to_markdown(bare, aggressive=False) == "main\n\nad"
    assert html_to_markdown(bare) == "main"


def test_nav_and_footer_outside_candidate_never_emitted():
    md = html_to_markdown(_page("<h1>T</h1><p>body</p>"))
    assert "Home" not in md and "footer" not in md


def test_empty_page_and_malformed_bytes_never_raise():
    assert html_to_markdown(b"") == ""
    assert html_to_markdown(b"<p>\xff\xfe<b>") != None  # noqa: E711
    assert html_to_markdown(b"<table><tr>") == ""
    assert html_to_markdown(b"</div></div><li>stray") == "stray"


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=400))
def test_totality_on_arbitrary_bytes(raw):
    out = html_to_markdown(raw)
    assert isinstance(out, str)


def test_deterministic_repeat():
    page = _page("<h1>t</h1><ul><li>a <em>x</em></li></ul><pre>c</pre>")
    assert html_to_markdown(page) == html_to_markdown(page)


# --- dispatch switch ---------------------------------------------------------

def test_dispatch_output_format_md():
    page = _page("<h1>Doc</h1><p>hello world</p>")
    text, status, err = extract_document(
        page, engine_args={"config_vars": {"output_format": "md"}}
    )
    assert status == "ok" and err == ""
    assert text == "# Doc\n\nhello world"
    # default format unchanged: flattened main text
    flat, status2, _ = extract_document(page)
    assert status2 == "ok" and flat == "Doc\n\nhello world"


def test_dispatch_md_composes_with_hocr_spans():
    page = _page("<h1>Doc</h1><p>hello</p>")
    text, status, _ = extract_document(
        page,
        engine_args={"config_vars": {"output_format": "md",
                                     "tessedit_create_hocr": "1"}},
    )
    assert status == "ok"
    assert '"text": "# Doc"' in text and '"text": "hello"' in text


# --- bounded depth -----------------------------------------------------------

_MD = {"config_vars": {"output_format": "md"}}


@pytest.mark.parametrize("page", [
    b"<font><b>" * 5000 + b"deep text",          # 10k inline elements
    b"<b> " * 10000 + b"deep text",
    b"<p><a href=x>" * 5000 + b"deep text",
    b"<div>" * 10000 + b"deep text",             # 10k block containers
])
def test_deep_nesting_extracts_ok_in_md(page):
    text, status, err = extract_document(page, engine_args=_MD)
    assert status == "ok", err
    assert "deep text" in text


# --- differential oracle: the frozen recursive renderer ----------------------
# The iterative renderer must emit byte-identical markdown to
# frozen_markdown on shallow pages, whose nesting the recursive one handles.

import frozen_markdown  # noqa: E402
from open_ocr_spark.fixtures import generate_pages  # noqa: E402

_OPEN = ["p", "div", "section", "article", "nav", "footer", "aside",
         "blockquote", "ul", "ol", "li", "h1", "h3", "pre", "code",
         'a href="/x y"', "a", "b", "strong", "em", "i", "s", "del", "span",
         "font", "br", 'img src="i.png" alt=" a  b "', "img", "table", "tr",
         "td", "th", "thead", "hr", "dd", "main"]
_TEXT = ["a", "bc d", " ", "  ", "\t", "\n", "\r\n", "\xa0", " ",
         "\x1c", "\x0b", "*", "_", "`", "[", "]", "\\", "|", "&amp;",
         "&nbsp;", " x ", "y\n"]
_fragment = st.lists(
    st.one_of(
        st.sampled_from(_OPEN).map(lambda t: f"<{t}>"),
        st.sampled_from(_OPEN).map(lambda t: f"</{t.split()[0]}>"),
        st.sampled_from(_TEXT),
    ),
    max_size=60,
).map("".join)


@given(_fragment, st.booleans())
@settings(max_examples=600, deadline=None)
def test_markdown_matches_frozen_recursive_renderer(body, aggressive):
    raw = _page(body)
    assert html_to_markdown(raw, aggressive) == \
        frozen_markdown.html_to_markdown(raw, aggressive)
    assert html_to_markdown(body, aggressive) == \
        frozen_markdown.html_to_markdown(body, aggressive)


def test_markdown_matches_frozen_renderer_on_fixture_pages():
    pages, _ = generate_pages(200)
    for p in pages:
        raw = p["html"]
        if raw[:1] == b"<":
            for aggressive in (True, False):
                assert html_to_markdown(raw, aggressive) == \
                    frozen_markdown.html_to_markdown(raw, aggressive)


@pytest.mark.parametrize("body", [
    '<p>y<a href="/x"> z </a>w</p>',          # link text loses its spaces
    '<p>y<a> z </a>w</p>',                      # no href: spaces stay
    '<p>y<a href="/x"> </a>w</p>',              # blank link text
    '<p>y<b> z </b>w</p>',                      # spaces move outside markers
    '<p>y<b><i> z</i> </b>w</p>',
    '<p>y<b> </b>w<b></b>v</p>',
    '<p><em>a<br>b</em><img src="s" alt="t">c<code>k`</code></p>',
    '<ul><li>a<b> b</b><ul><li><i>c </i>d</li></ul></li></ul>',
    '<blockquote><div><p>q <b>r</b></p><blockquote>s</blockquote></div>'
    '</blockquote>',
    '<table><tr><td><a href="/t"> c|d </a></td><th>e</th></tr></table>',
    '<div>x<div>y<nav>n</nav><p>z</p>w</div>v</div>',
])
def test_markdown_matches_frozen_renderer_on_edge_cases(body):
    for aggressive in (True, False):
        assert html_to_markdown(_page(body), aggressive) == \
            frozen_markdown.html_to_markdown(_page(body), aggressive)
