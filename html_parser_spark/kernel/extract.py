"""Text extraction with character-span offsets (SURVEY.md §2.6 O3).

Not present as such in the reference — the DOM's TEXT nodes in document
order ARE the extracted text (derived operator over include/tree.h:26-40
traversal order). Produces the concatenated text plus per-TEXT-node
(start, end, path) spans satisfying the north rule's "extracted text
plus character-span offsets per turn".
"""

from __future__ import annotations

from .tree import ELEMENT, TEXT, Node

def extract_text_with_spans(root: Node):
    """In-order traversal concatenating TEXT node data.

    Returns (text, spans) where spans is a list of dicts:
      {"start": int, "end": int, "path": "html/body/p"}
    offsets are Python-character (code point) offsets into the returned
    text.
    """
    parts: list = []
    spans: list = []
    pos = 0
    # iterative DFS preserving document order
    stack = [(root, "")]
    while stack:
        node, path = stack.pop()
        if node.type == TEXT:
            data = node.data or ""
            if data:
                end = pos + len(data)
                spans.append({"start": pos, "end": end, "path": path})
                parts.append(data)
                pos = end
            continue
        if node.type == ELEMENT:
            name = node.name or ""
            child_path = f"{path}/{name}" if path else name
        else:
            child_path = path
        for child in reversed(node.children):
            stack.append((child, child_path))
    return "".join(parts), spans


def count_nodes(root: Node) -> int:
    n = 0
    stack = [root]
    while stack:
        node = stack.pop()
        n += 1
        stack.extend(node.children)
    return n


def collect_links(root: Node) -> list:
    """Anchor extraction for link-graph construction (web-pipeline op,
    no reference counterpart — a derived operator over the same DOM
    traversal order as extract_text_with_spans): document-order list of
    (href, anchor_text) for every HTML-namespace <a> element carrying
    an href attribute.  anchor_text is the concatenation of the TEXT
    nodes in the element's subtree in document order (same data the
    span walk yields, scoped to the anchor).  Elements without href
    (named anchors) are skipped; the parser's duplicate-attribute drop
    means at most one href per element."""
    from .tree import NS_HTML

    out: list = []
    stack = [root]
    while stack:
        node = stack.pop()
        if node.type == ELEMENT and node.name == "a" and node.ns == NS_HTML:
            href = None
            for an, av in node.attrs:
                if an == "href":
                    href = av
                    break
            if href is not None:
                parts: list = []
                sub = list(reversed(node.children))
                while sub:
                    sn = sub.pop()
                    if sn.type == TEXT and sn.data:
                        parts.append(sn.data)
                    sub.extend(reversed(sn.children))
                out.append((href, "".join(parts)))
        for child in reversed(node.children):
            stack.append(child)
    return out
