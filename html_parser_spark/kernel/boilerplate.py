"""Boilerplate stripping via DOM heuristics (SURVEY.md §2.6 O4).

Not present in the reference (its DOM is the contract; what to KEEP is
the graft extension mandated by the north rule: "stripping boilerplate
via DOM heuristics (tag/link-density, text-block scoring)").

Approach — classic Boilerpipe/jusText-style block scoring from the
public literature (Kohlschütter et al., "Boilerplate Detection using
Shallow Text Features", WSDM 2010; Pomikálek, jusText, 2011):

  1. Hard-prune subtrees that are never content: script/style/noscript/
     template/nav/header/footer/aside/iframe/form/button/select plus
     comments and elements whose class/id look navigational.
  2. Segment the DOM into text BLOCKS at block-level element boundaries.
  3. Score each block:
       link_density   = chars under <a> / total chars
       text_density   = chars / number of enclosing tags in the block
       stopword_ratio = stopword tokens / tokens
  4. Keep blocks that look like prose: long enough, low link density,
     some stopwords; short blocks are kept only when adjacent to kept
     blocks (context smoothing, as in jusText's "near-good").

Deterministic, pure-Python over the already-built tree — OFF by default
so reference-equality tests are unaffected. The block walk is iterative
(an explicit stack, no recursion): a recursive closure refers to itself
through a cell, and that cycle would keep all of a document's blocks
alive until the next cyclic collection.
"""

from __future__ import annotations

from .tree import COMMENT, ELEMENT, TEXT, Node

_PRUNE_TAGS = frozenset(
    ("script", "style", "noscript", "template", "nav", "header", "footer",
     "aside", "iframe", "form", "button", "select", "option", "object",
     "applet", "embed", "svg", "math", "head", "title")
)

_NAV_HINTS = (
    "nav", "menu", "sidebar", "footer", "header", "breadcrumb", "banner",
    "advert", "ad-", "-ad", "promo", "share", "social", "comment",
    "related", "cookie", "popup", "subscribe",
)

_BLOCK_TAGS = frozenset(
    ("p", "div", "section", "article", "main", "blockquote", "pre", "li",
     "dd", "dt", "td", "th", "caption", "h1", "h2", "h3", "h4", "h5", "h6",
     "figcaption", "summary", "body", "html")
)

_STOPWORDS = frozenset(
    """a an and are as at be but by for from has have i in is it its of on
    or that the this to was were will with you your we they he she not no
    if then than so do does did can could would should""".split()
)

MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 0.33
MIN_STOPWORD_RATIO = 0.04
NEAR_GOOD_MIN_CHARS = 8


class _Block:
    __slots__ = ("texts", "n_chars", "link_chars", "_text")

    def __init__(self):
        self.texts: list = []   # (data, path)
        self.n_chars = 0
        self.link_chars = 0
        self._text = None

    def add(self, data: str, path: str, in_link: bool):
        self.texts.append((data, path))
        self.n_chars += len(data)
        if in_link:
            self.link_chars += len(data)

    @property
    def text(self) -> str:
        # joined once: a block is complete before anything reads it
        if self._text is None:
            self._text = "".join(d for d, _ in self.texts)
        return self._text


def _looks_navigational(node: Node) -> bool:
    for aname, aval in node.attrs:
        if aname in ("class", "id", "role") and aval:
            low = aval.lower()
            if any(h in low for h in _NAV_HINTS):
                return True
    return False


# stack entry that closes a block element once its subtree is walked
_CLOSE_BLOCK = (None, "", False)


def _collect_blocks(root: Node):
    """Pre-order walk with an explicit stack of (node, path, in_link).
    A block element flushes the current block on entry, and pushes
    _CLOSE_BLOCK beneath its children to flush again on exit."""
    blocks: list = []
    cur = _Block()
    stack = [(root, "", False)]
    while stack:
        node, path, in_link = stack.pop()
        if node is None:
            if cur.texts:
                blocks.append(cur)
                cur = _Block()
            continue
        t = node.type
        if t == TEXT:
            if node.data:
                cur.add(node.data, path, in_link)
            continue
        if t == COMMENT:
            continue
        if t == ELEMENT:
            name = node.name or ""
            if name in _PRUNE_TAGS or _looks_navigational(node):
                continue
            if name in _BLOCK_TAGS:
                if cur.texts:
                    blocks.append(cur)
                    cur = _Block()
                stack.append(_CLOSE_BLOCK)
            path = f"{path}/{name}" if path else name
            in_link = in_link or name == "a"
        # DOCUMENT / DOCTYPE children keep the parent's path
        stack.extend([(c, path, in_link) for c in reversed(node.children)])
    if cur.texts:
        blocks.append(cur)
    return blocks


def _score(block: _Block) -> bool:
    stripped = block.text.strip()
    if not stripped:
        return False
    if block.link_chars / max(block.n_chars, 1) > MAX_LINK_DENSITY:
        return False
    n = len(stripped)
    if n >= MIN_BLOCK_CHARS:
        return True
    if n < NEAR_GOOD_MIN_CHARS:
        return False
    # short block: needs prose signal (the only place the ratio decides)
    tokens = stripped.split()
    stop = sum(1 for t in tokens if t.lower().strip(".,!?;:'\"()") in _STOPWORDS)
    return stop / len(tokens) >= MIN_STOPWORD_RATIO


def strip_boilerplate(root: Node):
    """Returns (main_text, spans, n_blocks_kept, n_blocks_total).

    spans: [{"start","end","path"}] offsets into the returned text, one
    per contributing TEXT node, mirroring extract_text_with_spans.
    Context smoothing: a short rejected block sandwiched between two
    kept blocks is kept (jusText near-good rule)."""
    blocks = _collect_blocks(root)
    keep = [_score(b) for b in blocks]
    # smoothing pass
    for i, b in enumerate(blocks):
        if keep[i]:
            continue
        if (
            0 < i < len(blocks) - 1
            and keep[i - 1]
            and keep[i + 1]
            and len(b.text.strip()) >= NEAR_GOOD_MIN_CHARS
            and (b.link_chars / max(b.n_chars, 1)) <= MAX_LINK_DENSITY
        ):
            keep[i] = True

    parts: list = []
    spans: list = []
    pos = 0
    kept = 0
    first = True
    for i, b in enumerate(blocks):
        if not keep[i]:
            continue
        kept += 1
        if not first:
            parts.append("\n")
            pos += 1
        first = False
        for data, path in b.texts:
            end = pos + len(data)
            spans.append({"start": pos, "end": end, "path": path})
            parts.append(data)
            pos = end
    return "".join(parts), spans, kept, len(blocks)
