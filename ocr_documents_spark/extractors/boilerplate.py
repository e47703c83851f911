"""Main-content extraction from HTML: boilerplate strip via DOM heuristics.

The north-star charter for this engine covers "HTML boilerplate strip,
PDF/layout parse, DOM heuristics" over interleaved documents; the reference
app ingests PDFs/images only (backend/main.py:110-121 whitelists pdf/png/
jpg/jpeg), so this module is built from the published literature rather
than reference parity:

* Kohlschuetter, Fankhauser, Nejdl — "Boilerplate Detection using Shallow
  Text Features" (WSDM 2010): block-level segmentation, word count and
  link density as the dominant features.
* Pomikalek — jusText (2011): context-sensitive smoothing (short blocks
  inherit the classification of surrounding full blocks) and class/id
  hints for navigation chrome.

Everything is stdlib-only and deterministic, so the exact same functions
run (a) single-node as the pytest oracle and (b) inside Arrow-batched
pandas UDFs on executors (operators/main_content.py) — the same
shared-pure-function design the extraction pipeline uses for
span-sequence equality.

The parser is a *shallow* DOM tokenizer (regex tag stream + element
stack), not a spec-complete HTML5 tree builder: comments, script/style
raw text, entities, and well-formed nesting are handled; pathological
tag soup degrades gracefully (unmatched closes are ignored).
"""

from __future__ import annotations

import html as _html
import re
from typing import Dict, List, Optional, Tuple

# --- tunables (Kohlschuetter's decision-tree thresholds, simplified) ------
MAX_LINK_DENSITY = 1.0 / 3.0   # denser than this => navigation, not prose
MIN_CONTENT_WORDS = 8          # full block threshold (jusText length_high)

# tags whose open OR close terminates the current text block
_BLOCK_TAGS = frozenset("""
    address article aside blockquote body br caption dd div dl dt fieldset
    figcaption figure footer form h1 h2 h3 h4 h5 h6 head header hr html li
    main nav ol p pre section table tbody td tfoot th thead title tr ul
""".split())

# void elements never enter the element stack
_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta source track wbr".split())

# elements that are boilerplate *containers* by semantics alone
_HINT_TAGS = frozenset("nav header footer aside form".split())

# class/id vocabulary marking boilerplate chrome (jusText/readability-style)
_HINT_CLASS_TOKENS = frozenset("""
    ad ads advert advertisement banner breadcrumb breadcrumbs comment
    comments cookie footer header masthead menu modal nav navbar newsletter
    pager pagination popup promo related share sidebar social subscribe
    widget
""".split())

# positive containers (readability.js-style): text inside these is content
# even when the block is short, unless a negative hint or link density
# overrules — this is what keeps line-oriented documents (one <p> per
# printed line, e.g. OCR'd forms re-published as HTML) intact
_POSITIVE_TAGS = frozenset("article main".split())
_POSITIVE_CLASS_TOKENS = frozenset(
    "article content entry main post story".split())

_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_RAWTEXT_RE = re.compile(
    r"<(script|style|noscript|template)\b[^>]*>.*?</\1\s*>", re.S | re.I)
_DOCTYPE_RE = re.compile(r"<!DOCTYPE[^>]*>", re.I)
_TAG_SPLIT_RE = re.compile(r"(<[^>]+>)")
_TAG_PARSE_RE = re.compile(r"^<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9]*)(.*?)/?\s*>$",
                           re.S)
_ATTR_RE = re.compile(
    r"""(class|id)\s*=\s*("([^"]*)"|'([^']*)'|([^\s"'>]+))""", re.I)
_CLASS_TOKEN_RE = re.compile(r"[a-z0-9]+")
_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>", re.S | re.I)


def _container_hints(tag: str, attrs: str) -> Tuple[bool, bool]:
    """-> (negative_hint, positive_hint) for an opening element."""
    neg = tag in _HINT_TAGS
    pos = tag in _POSITIVE_TAGS
    if attrs and not (neg and pos):
        for m in _ATTR_RE.finditer(attrs):
            value = m.group(3) or m.group(4) or m.group(5) or ""
            for token in _CLASS_TOKEN_RE.findall(value.lower()):
                neg = neg or token in _HINT_CLASS_TOKENS
                pos = pos or token in _POSITIVE_CLASS_TOKENS
    return neg, pos


class Block:
    """One segmented text block with its shallow features."""

    __slots__ = ("text", "n_chars", "link_chars", "hinted", "positive")

    def __init__(self, text: str, link_chars: int, hinted: bool,
                 positive: bool = False):
        self.text = text
        self.n_chars = len(text)
        self.link_chars = min(link_chars, self.n_chars)
        self.hinted = hinted
        self.positive = positive

    @property
    def n_words(self) -> int:
        return len(self.text.split())

    @property
    def link_density(self) -> float:
        return self.link_chars / self.n_chars if self.n_chars else 0.0


def segment_blocks(raw_html: str) -> List[Block]:
    """Shallow-parse HTML into text blocks at block-level tag boundaries.

    Per block: whitespace-normalized text, characters contributed while
    inside an ``<a>`` element (the link-density numerator), and whether
    any of it was produced inside a hinted boilerplate container.
    """
    cleaned = _DOCTYPE_RE.sub(" ", raw_html)
    cleaned = _COMMENT_RE.sub(" ", cleaned)
    cleaned = _RAWTEXT_RE.sub(" ", cleaned)

    stack: List[Tuple[str, bool, bool, bool]] = []  # (tag, neg, pos, link)
    hint_depth = 0
    pos_depth = 0
    link_depth = 0
    in_title = 0
    parts: List[str] = []
    part_link = 0
    hinted = False
    positive = False
    blocks: List[Block] = []

    open_counts: dict = {}

    def flush() -> None:
        nonlocal parts, part_link, hinted, positive
        if not parts:       # flags are only ever set alongside a part
            return
        text = " ".join("".join(parts).split())
        if text:
            blocks.append(Block(text, part_link, hinted, positive))
        parts, part_link, hinted, positive = [], 0, False, False

    for token in _TAG_SPLIT_RE.split(cleaned):
        if not token:
            continue
        if token[0] != "<":
            if in_title:
                continue
            # unescape only when an entity can exist (the regex scan
            # inside html.unescape dominates clean-text token cost)
            text = _html.unescape(token) if "&" in token else token
            if text.strip():
                parts.append(text)
                if link_depth:
                    part_link += len(" ".join(text.split()))
                if hint_depth:
                    hinted = True
                if pos_depth:
                    positive = True
            elif parts:
                parts.append(" ")
            continue

        m = _TAG_PARSE_RE.match(token)
        if not m:           # malformed tag: treat as inert
            continue
        closing, tag, attrs = m.group(1) == "/", m.group(2).lower(), m.group(3)
        if tag in _BLOCK_TAGS:
            flush()
            if tag == "title":
                in_title = max(0, in_title + (-1 if closing else 1))
        if tag in _VOID_TAGS:
            continue
        if not closing:
            neg, pos = _container_hints(tag, attrs)
            is_link = tag == "a"
            stack.append((tag, neg, pos, is_link))
            open_counts[tag] = open_counts.get(tag, 0) + 1
            hint_depth += neg
            pos_depth += pos
            link_depth += is_link
        elif open_counts.get(tag, 0):
            while stack:
                popped_tag, was_neg, was_pos, was_link = stack.pop()
                open_counts[popped_tag] -= 1
                hint_depth -= was_neg
                pos_depth -= was_pos
                link_depth -= was_link
                if popped_tag == tag:
                    break
    flush()
    return blocks


def classify_blocks(blocks: List[Block]) -> List[bool]:
    """True = main content.  Precedence: negative hints and link density
    mark boilerplate; positive containers (readability-style <article>/
    <main>/.content) mark content regardless of length; long low-link
    blocks are content; remaining short blocks inherit the nearest decided
    neighbor (jusText context smoothing — forward pass first, then a
    backward pass for leading shorts; isolated shorts default to
    boilerplate, the conservative choice for chrome-only pages)."""
    decided: List[Optional[bool]] = []
    for b in blocks:
        if b.hinted or b.link_density > MAX_LINK_DENSITY:
            decided.append(False)
        elif b.positive or b.n_words >= MIN_CONTENT_WORDS:
            decided.append(True)
        else:
            decided.append(None)
    last: Optional[bool] = None
    for i, d in enumerate(decided):
        if d is None and last is not None:
            decided[i] = last
        else:
            last = decided[i]
    nxt: Optional[bool] = None
    for i in range(len(decided) - 1, -1, -1):
        if decided[i] is None and nxt is not None:
            decided[i] = nxt
        elif decided[i] is not None:
            nxt = decided[i]
    return [bool(d) for d in decided]


def page_title(raw_html: str) -> Optional[str]:
    m = _TITLE_RE.search(_COMMENT_RE.sub(" ", raw_html))
    if not m:
        return None
    title = " ".join(_html.unescape(m.group(1)).split())
    return title or None


def extract_main_content(raw_html: str) -> Dict[str, object]:
    """HTML -> main content + block census.

    ``main_text`` joins the content-classified blocks with single spaces
    (block-internal whitespace already normalized by segmentation), so a
    page synthesized from clean text round-trips to that exact text —
    the cross-engine oracle invariant q40 checks.
    """
    blocks = segment_blocks(raw_html or "")
    keep = classify_blocks(blocks)
    content = [b for b, k in zip(blocks, keep) if k]
    boiler_chars = sum(b.n_chars for b, k in zip(blocks, keep) if not k)
    total_chars = sum(b.n_chars for b in blocks)
    return {
        "main_text": " ".join(b.text for b in content),
        # one entry per content block, in DOM order — the extraction
        # pipeline's html-span recovery joins these with newlines so
        # line-oriented layouts (one <p> per printed line) survive intact
        "content_blocks": [b.text for b in content],
        "title": page_title(raw_html or ""),
        "n_blocks": len(blocks),
        "n_content_blocks": len(content),
        "n_boilerplate_blocks": len(blocks) - len(content),
        "boilerplate_ratio": (boiler_chars / total_chars) if total_chars else 0.0,
    }


def html_to_page_text(raw_html: str) -> str:
    """html span -> recovered page text: content blocks joined with
    newlines, so the line-oriented extractors (MRZ, label lookups) see
    the same line structure a text span would carry."""
    return "\n".join(extract_main_content(raw_html)["content_blocks"])


# --- deterministic page synthesis (fixtures + driver query input) ---------

# paragraphing used by synthesize_page: CHUNK-word paragraphs; a tail
# shorter than MIN_TAIL merges into the previous paragraph, so every
# emitted block has >= MIN_TAIL (>= MIN_CONTENT_WORDS) words and
# classifies as content on word count alone (q40's SQL twin mirrors
# this arithmetic exactly)
CHUNK_WORDS = 12
MIN_TAIL_WORDS = MIN_CONTENT_WORDS

_LINK_VOCAB = ("home archive topics authors about contact press jobs help "
               "search trending popular latest editors picks").split()


def chunk_paragraphs(words: List[str]) -> List[List[str]]:
    chunks = [words[i:i + CHUNK_WORDS]
              for i in range(0, len(words), CHUNK_WORDS)]
    if len(chunks) > 1 and len(chunks[-1]) < MIN_TAIL_WORDS:
        chunks[-2].extend(chunks.pop())
    return chunks


def expected_content_blocks(n_words: int) -> int:
    """Paragraph count for an n-word document (the SQL-expressible twin)."""
    if n_words <= CHUNK_WORDS:
        return 1
    full, rem = divmod(n_words, CHUNK_WORDS)
    return full + (1 if rem >= MIN_TAIL_WORDS else 0)


def _links(seed: int, count: int) -> str:
    return "".join(
        f'<li><a href="/{_LINK_VOCAB[(seed + i) % len(_LINK_VOCAB)]}">'
        f"{_LINK_VOCAB[(seed + i) % len(_LINK_VOCAB)].title()}</a></li>"
        for i in range(count))


def synthesize_page(doc_id: int, text: str, lang: str = "en") -> str:
    """Wrap clean text in a deterministic full-page template: site header
    with nav links, an inline advert between the first two paragraphs,
    a link-heavy related-articles sidebar, a comments stub, scripts,
    styles, comments, and a footer.  Variation (nav width, advert and
    comment presence, sidebar length) is keyed on doc_id so every page
    differs but nothing is random."""
    did = int(doc_id)
    paragraphs = ["<p>" + _html.escape(" ".join(w)) + "</p>"
                  for w in chunk_paragraphs(text.split())]
    if len(paragraphs) > 1 and did % 3 == 0:
        paragraphs.insert(1, (
            '<div class="ad-banner"><a href="/sponsor">Sponsored: click '
            "now for the best deals today</a></div>"))
    comments = ""
    if did % 2 == 0:
        comments = ('<div class="comments"><h3>Comments</h3>'
                    "<p>first post</p><p>nice read thanks</p></div>")
    return (
        "<!DOCTYPE html>"
        f'<html lang="{lang}"><head>'
        f"<title>Document {did} &mdash; Example Site</title>"
        "<style>body { margin: 0; } .ad-banner { color: red; }</style>"
        '<script type="text/javascript">var tracker = "not content";'
        "function f(a, b) { return a < b; }</script>"
        "</head><body>"
        "<!-- rendered by the fixture synthesizer -->"
        '<header class="site-header"><a href="/">Example Site</a>'
        f"<nav><ul>{_links(did, 3 + did % 5)}</ul></nav></header>"
        '<main class="article-body">'
        + "".join(paragraphs) +
        "</main>"
        f'<aside class="related"><h2>Related</h2>'
        f"<ul>{_links(did * 7 + 1, 2 + did % 4)}</ul></aside>"
        + comments +
        '<footer><p>&copy; 2026 Example Site &middot; '
        '<a href="/terms">Terms</a> <a href="/privacy">Privacy</a></p>'
        "</footer></body></html>")
