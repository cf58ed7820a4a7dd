"""DOM node, ASCII dump, and HTML serialization.

Behavioral parity targets (citations into /root/reference):
  - node model: include/tree.h:26-40 (5 node types, 3 namespaces,
    first-child/next-sibling ordering; here a children list).
  - ASCII dump format: src/tree.c:163-217 (branch glyphs, (svg)/(math)
    namespace tags, name=/data= fields with only \\n and \\r escaped,
    [attrs] block, form="<id>" back-reference, DOCUMENT encoding line).
  - HTML serialization: src/tree.c:325-447 (void elements, raw
    script/style text, &<> text escaping, &" attr escaping, template
    <content> unwrap, childless-foreign " />" rewrite).
"""

from __future__ import annotations

# node types
DOCUMENT = 0
DOCTYPE = 1
ELEMENT = 2
TEXT = 3
COMMENT = 4

# namespaces
NS_HTML = 0
NS_SVG = 1
NS_MATHML = 2

_TYPE_NAMES = {
    DOCUMENT: "DOCUMENT",
    DOCTYPE: "DOCTYPE",
    ELEMENT: "ELEMENT",
    TEXT: "TEXT",
    COMMENT: "COMMENT",
}


class Node:
    __slots__ = (
        "type",
        "ns",
        "name",
        "data",
        "attrs",
        "parent",
        "children",
        "form_owner",
        "encoding",
        "in_stack",
    )

    def __init__(self, ntype, name=None, data=None, ns=NS_HTML):
        self.type = ntype
        self.ns = ns
        self.name = name
        self.data = data
        self.attrs = []  # list of (name, value) pairs, insertion order
        self.parent = None
        self.children = []
        self.form_owner = None
        self.encoding = None
        # True iff this node is currently ON the builder's open-elements
        # stack (each element appears there at most once). Maintained by
        # every stack mutation in treebuilder.py so formatting-list
        # reconstruction gets O(1) membership instead of an O(depth)
        # id()-set rebuild per token.
        self.in_stack = False

    # -- tree mutation (mirrors node_append_child / node_insert_before /
    #    node_remove_child / node_reparent_children, src/tree.c:42-115) --

    def append_child(self, child):
        child.parent = self
        self.children.append(child)

    def insert_before(self, child, ref):
        child.parent = self
        if ref is None or not self.children:
            self.children.append(child)
            return
        try:
            idx = self.children.index(ref)
        except ValueError:
            self.children.append(child)
            return
        self.children.insert(idx, child)

    def remove_child(self, child):
        try:
            self.children.remove(child)
        except ValueError:
            return
        child.parent = None

    def reparent_children_to(self, dst):
        if not self.children:
            return
        for c in self.children:
            c.parent = dst
        dst.children.extend(self.children)
        self.children = []

    def clone_shallow(self):
        # clone_element_shallow, src/tree_builder.c:1238-1254
        n = Node(ELEMENT, self.name, None, self.ns)
        n.attrs = list(self.attrs)
        return n


def release(root: Node) -> None:
    """Cut every back-reference under `root` (``parent``, ``form_owner``)
    so the tree is acyclic and reference counting frees it as soon as
    the caller drops it, instead of leaving it to a gen-2 cyclic
    collection. The tree stays walkable through ``children``; only
    parent lookups and the dump's form="..." field are lost. Iterative:
    no recursion limit applies, however deep the tree."""
    if root is None:
        return
    stack = [root]
    pop, extend = stack.pop, stack.extend
    while stack:
        n = pop()
        n.parent = None
        n.form_owner = None
        extend(n.children)


def _escape_dump(s: str) -> str:
    # print_escaped, src/tree.c:154-161 — only \n and \r are escaped
    if "\n" in s or "\r" in s:
        return s.replace("\n", "\\n").replace("\r", "\\r")
    return s


def _dump_node(n: Node, prefix: str, is_last: bool, out: list) -> None:
    branch = "\\-- " if is_last else "|-- "
    parts = [prefix, branch, _TYPE_NAMES.get(n.type, "UNKNOWN")]
    if n.ns == NS_SVG:
        parts.append("(svg)")
    elif n.ns == NS_MATHML:
        parts.append("(math)")
    if n.name is not None:
        parts.append(' name="%s"' % n.name)
    if n.data is not None:
        parts.append(' data="%s"' % _escape_dump(n.data))
    if n.attrs:
        attr_bits = []
        for aname, aval in n.attrs:
            attr_bits.append('%s="%s"' % (aname or "", aval or ""))
        parts.append(" [" + " ".join(attr_bits) + "]")
    if n.form_owner is not None and n.form_owner.attrs:
        for aname, aval in n.form_owner.attrs:
            if aname == "id":
                parts.append(' form="%s"' % (aval or ""))
                break
    out.append("".join(parts))
    # C builds next_prefix with snprintf into a 512-byte buffer
    # (src/tree.c:164,197): at ~128 nesting levels the prefix saturates
    # at 511 chars. Reproduced for byte equality on deep trees.
    next_prefix = (prefix + ("    " if is_last else "|   "))[:511]
    kids = n.children
    last_i = len(kids) - 1
    for i, child in enumerate(kids):
        _dump_node(child, next_prefix, i == last_i, out)


def dump_ascii(root: Node, title: str | None = None) -> str:
    """ASCII tree dump — verbatim match of tree_dump_ascii output
    (src/tree.c:204-217) including the trailing newline of each line.
    Returns the full text WITHOUT a trailing newline on the last line
    being stripped — every line ends with \\n exactly as printf'd."""
    if root is None:
        return ""
    out = []
    if title:
        out.append(title)
    head = _TYPE_NAMES.get(root.type, "UNKNOWN")
    if root.encoding:
        head += ' encoding="%s"' % root.encoding
    out.append(head)
    kids = root.children
    last_i = len(kids) - 1
    for i, child in enumerate(kids):
        _dump_node(child, "", i == last_i, out)
    return "\n".join(out) + "\n"


# ---------------------------------------------------------------------------
# HTML serialization (src/tree.c:219-447)
# ---------------------------------------------------------------------------

_VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
_RAW_TEXT = frozenset(("script", "style"))
_RCDATA_EL = frozenset(("textarea", "title"))


def _esc_text(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _esc_attr(s: str) -> str:
    return s.replace("&", "&amp;").replace('"', "&quot;")


def _serialize_node(n: Node, out: list, parent_name) -> None:
    t = n.type
    if t == DOCUMENT:
        for child in n.children:
            _serialize_node(child, out, None)
    elif t == DOCTYPE:
        out.append("<!DOCTYPE ")
        out.append(n.name if n.name else "html")
        out.append(">")
    elif t == ELEMENT:
        out.append("<")
        out.append(n.name or "")
        for aname, aval in n.attrs:
            out.append(" ")
            out.append(aname or "")
            out.append('="')
            if aval:
                out.append(_esc_attr(aval))
            out.append('"')
        out.append(">")
        if n.name == "template":
            for child in n.children:
                if child.type == ELEMENT and child.name == "content":
                    for gc in child.children:
                        _serialize_node(gc, out, n.name)
                else:
                    _serialize_node(child, out, n.name)
        else:
            is_raw = n.name in _RAW_TEXT
            is_rc = n.name in _RCDATA_EL
            for child in n.children:
                if child.type == TEXT and (is_raw or is_rc):
                    data = child.data or ""
                    out.append(data if is_raw else _esc_text(data))
                else:
                    _serialize_node(child, out, n.name)
        if n.ns != NS_HTML and not n.children:
            # childless foreign element: rewrite trailing '>' to ' />'
            # (src/tree.c:402-409)
            if out and out[-1].endswith(">"):
                out[-1] = out[-1][:-1]
                out.append(" />")
        elif n.name not in _VOID_ELEMENTS:
            out.append("</")
            out.append(n.name or "")
            out.append(">")
    elif t == TEXT:
        data = n.data or ""
        if parent_name in _RAW_TEXT:
            out.append(data)
        else:
            out.append(_esc_text(data))
    elif t == COMMENT:
        out.append("<!--")
        out.append(n.data or "")
        out.append("-->")


def serialize_html(root: Node) -> str:
    if root is None:
        return ""
    out: list = []
    _serialize_node(root, out, None)
    return "".join(out)
