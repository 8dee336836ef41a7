"""Main-content extraction: the graft's recast of the reference's
extraction engine + preprocessor chain.

Reference parity (SURVEY.md §2.A):
- A10 TesseractEngine (/root/reference/tesseract_engine.go:98-128): here the
  "engine" parses the raw ``html`` bytes into a node tree and emits the main
  text, instead of exec'ing tesseract on a tmp file.
- A8 stroke-width-transform preprocessor
  (/root/reference/stroke_width_transform.go:15-68): recast as boilerplate
  strip via text-density + link-density scoring over the node tree
  (Arc90/Boilerpipe-style). The SWT ``dark_on_light`` flag ("1"/"0",
  default "1", stroke_width_transform.go:70-89) maps to the strip mode:
  "1" = aggressive (prune boilerplate containers from the chosen subtree),
  "0" = conservative (keep them).

All functions are deterministic, pure, stdlib-only: byte-identical output
per input bytes at any parallelism (SURVEY.md §7.3).
"""

from __future__ import annotations

from open_ocr_spark.kernels.htmltree import (
    BLOCK_TAGS,
    BOILERPLATE_TAGS,
    CANDIDATE_TAGS,
    Node,
    collapse_ws,
    parse_html,
)

# Score floor below which a candidate is never chosen over <body>.
_MIN_CANDIDATE_CHARS = 1


def _score_from_stats(total: int, link: int) -> float:
    """Text-density × (1 - link-density)² score. Higher = more main-ish.
    Deterministic: pure arithmetic on subtree character counts."""
    if total < _MIN_CANDIDATE_CHARS:
        return 0.0
    link_density = link / total
    return total * (1.0 - link_density) * (1.0 - link_density)


def select_main_node(root: Node) -> Node | None:
    """Pick the highest-scoring candidate subtree; first in document order
    wins ties (strict > when scanning in pre-order keeps it deterministic).

    A nested candidate must beat its ancestor's score to win, which biases
    toward the tightest subtree that still holds all the main text — the
    analog of the reference's single text region per document.

    Subtree text/link totals (node.tlen/llen) and the candidate list are
    built at parse time (root.candidates, document order) — no tree walk
    here at all, just a scan over the handful of candidate elements."""
    best = None
    best_score = 0.0
    candidates = root.candidates
    if candidates is None:  # subtree without the parse-time list
        candidates = (
            n for n in root.iter()
            if type(n) is not str and n.tag in CANDIDATE_TAGS
        )
    for node in candidates:
        s = _score_from_stats(node.tlen, node.llen)
        if s > best_score:
            best, best_score = node, s
    return best


def _emit_paragraphs(node: Node, strip_boilerplate: bool) -> list[str]:
    """Walk the subtree in document order, flushing the running text buffer
    at block-element boundaries. Each paragraph is whitespace-collapsed;
    empty paragraphs are dropped. Frozen output policy: paragraphs joined
    (by the caller) with exactly '\\n\\n'.

    Iterative, with an explicit stack, so nesting depth is bounded only by
    memory: a ``None`` entry marks a flush, pushed under a block
    element's children so that it runs when the block closes."""
    paragraphs: list[str] = []
    buf: list[str] = []
    stack: list = [None, node]  # the bottom None is the final flush
    while stack:
        cur = stack.pop()
        if type(cur) is str:  # text runs are plain strings in children
            buf.append(cur)
            continue
        if cur is not None:
            tag = cur.tag
            if strip_boilerplate and tag in BOILERPLATE_TAGS:
                pass  # pruned: flush, and drop its subtree
            elif tag in BLOCK_TAGS:
                stack.append(None)
                stack.extend(reversed(cur.children))
            else:
                if tag == "br":
                    buf.append(" ")
                stack.extend(reversed(cur.children))
                continue
        # a block boundary (or a pruned boilerplate subtree): flush
        if buf:
            text = collapse_ws("".join(buf))
            buf.clear()
            if text:
                paragraphs.append(text)
    return paragraphs


def extract_main_text(
    raw: bytes | str,
    aggressive: bool = True,
) -> str:
    """Extract the main content of an HTML page as normalized text.

    ``aggressive`` is the SWT dark_on_light recast: True (the reference's
    default "1") prunes nav/header/footer/aside/form subtrees from the
    chosen candidate before emitting.

    Returns '' for pages with no text. Never raises on malformed input
    (error-as-value handled one level up, dispatch.py).
    """
    root = parse_html(raw)
    main = select_main_node(root)
    if main is None:
        main = root
    paragraphs = _emit_paragraphs(main, strip_boilerplate=aggressive)
    return "\n\n".join(paragraphs)
