"""WHATWG HTML5 tree construction — behavioral clone of the reference.

Parity targets (citations into /root/reference/src/tree_builder.c):
  - document loop: build_tree_from_input (2927-3918)
  - fragment loop: build_fragment_from_input (3920-4699)
  - IN_BODY start-tag dispatchers: handle_in_body_start (1513-1659),
    fragment variant (1063-1172) — the two differ in check ORDER and
    in ensure_body/merge_attrs behavior; both are mirrored separately.
  - auto-close rules: body_autoclose_on_start (1471-1511)
  - scope queries (394-488), implied end tags (490-545)
  - active formatting list + Noah's Ark with ORDER-SENSITIVE attr
    compare (547-590, 372-383 — a reference deviation from the spec's
    set-compare; kept)
  - adoption agency (775-954)
  - template machinery (592-693, 1680-1785)
  - foreign content (1826-1976 + src/foreign.c)
  - quirks determination (1349-1469)
  - EOF rules (3127-3190), table text (3005-3025), foster parenting
    (991-1018)

Known reference deviations (FIXTURES.md §5) intentionally reproduced:
  * <tr> directly in document-mode IN_TABLE gets NO implicit tbody
    (3351-3359), while fragment table context DOES imply tbody (4266).
  * whitespace-only character runs never create TEXT nodes (3824).
  * document-mode IN_BODY inserts stray td/th/tr generically, while
    the fragment dispatcher ignores them (1069-1073).
"""

from __future__ import annotations

from .fastscan import make_feed as _fast_feed
from .foreign import (
    BREAKOUT_TAGS,
    font_has_breakout_attr,
    is_html_integration_point,
    is_mathml_text_integration_point,
    is_scoping_element_ns,
    is_special_element_ns,
    mathml_adjust_attr_name,
    svg_adjust_attr_name,
    svg_adjust_element_name,
)
from .tokenizer import (
    DATA,
    RAWTEXT,
    RCDATA,
    _RAWTEXT_TAGS,
    _RCDATA_TAGS,
    ascii_lower,
    refuse_bytes,
    SCRIPT_DATA,
    TOKEN_CHARACTER,
    TOKEN_COMMENT,
    TOKEN_DOCTYPE,
    TOKEN_END_TAG,
    TOKEN_EOF,
    TOKEN_START_TAG,
    Token,
    Tokenizer,
)
from .tree import (
    COMMENT,
    DOCTYPE,
    DOCUMENT,
    ELEMENT,
    NS_HTML,
    NS_MATHML,
    NS_SVG,
    TEXT,
    Node,
    release,
)

STACK_MAX = 256
FMT_MAX = 64
TEMPLATE_MODE_MAX = 64

# insertion modes
(INITIAL, BEFORE_HTML, IN_HEAD, IN_HEAD_NOSCRIPT, IN_BODY, IN_TABLE,
 IN_TABLE_TEXT, IN_ROW, IN_CELL, IN_TABLE_BODY, IN_CAPTION, IN_SELECT,
 IN_SELECT_IN_TABLE, IN_TEMPLATE, MODE_TEXT, AFTER_BODY,
 AFTER_AFTER_BODY) = range(17)

# doc modes
DOC_NO_QUIRKS, DOC_LIMITED_QUIRKS, DOC_QUIRKS = range(3)

_TABLE_MODES = frozenset((IN_TABLE, IN_TABLE_TEXT, IN_TABLE_BODY, IN_ROW, IN_CELL))
# modes whose tokens _pre_switch intercepts; outside these (and
# outside foreign content) _pre_switch is a read-only no-op, so the
# dispatchers skip the call entirely on the hot path
_PRE_SWITCH_MODES = frozenset((IN_TEMPLATE, IN_TABLE_TEXT, MODE_TEXT,
                               IN_HEAD_NOSCRIPT))

FMT_TAGS = frozenset(
    ("a", "b", "big", "code", "em", "font", "i", "nobr", "s", "small",
     "strike", "strong", "tt", "u")
)
MARKER = "__marker__"

_EOF_EXPECTED = frozenset(
    ("dd", "dt", "li", "optgroup", "option", "p", "rb", "rp", "rt", "rtc",
     "tbody", "td", "tfoot", "th", "thead", "tr", "body", "html")
)

_IMPLIED_END = frozenset(
    ("dd", "dt", "li", "optgroup", "option", "p", "rb", "rp", "rt", "rtc")
)
_IMPLIED_END_THOROUGH = _IMPLIED_END | frozenset(
    ("caption", "colgroup", "tbody", "td", "tfoot", "th", "thead", "tr")
)

_SCOPING = frozenset(
    ("applet", "caption", "html", "table", "td", "th", "marquee", "object",
     "template")
)
_LIST_ITEM_SCOPING = _SCOPING | frozenset(("ol", "ul"))
_BUTTON_SCOPING = _SCOPING | frozenset(("button",))
_TABLE_SCOPING = frozenset(("html", "table", "template"))

_HEAD_ELEMENTS = frozenset(
    ("base", "link", "meta", "style", "noscript", "template", "title", "script")
)
_HEAD_NOSCRIPT_ELEMENTS = frozenset(
    ("basefont", "bgsound", "link", "meta", "noframes", "style")
)
_TEMPLATE_HEAD_ELEMENTS = frozenset(
    ("base", "basefont", "bgsound", "link", "meta", "noframes", "noscript",
     "script", "style", "template", "title")
)
_VOID_ELEMENTS = frozenset(
    ("area", "base", "br", "col", "embed", "hr", "img", "input", "link",
     "meta", "param", "source", "track", "wbr")
)
_FORM_ASSOCIATED = frozenset(
    ("input", "button", "select", "textarea", "fieldset", "output", "object",
     "img")
)
_TABLE_ELEMENTS = frozenset(
    ("table", "tbody", "thead", "tfoot", "tr", "td", "th", "caption",
     "colgroup", "col")
)
_TABLE_SECTIONS = frozenset(("tbody", "thead", "tfoot"))
_CELLS = frozenset(("td", "th"))
_FOSTER_TARGETS = frozenset(("table", "tbody", "tfoot", "thead", "tr"))
_BODY_IGNORED_START = frozenset(
    ("caption", "col", "colgroup", "frame", "head", "tbody", "td", "tfoot",
     "th", "thead", "tr")
)
_BLOCK_LIKE = frozenset(
    ("address", "article", "aside", "blockquote", "div", "dl", "fieldset",
     "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr",
     "main", "nav", "ol", "p", "plaintext", "pre", "section", "table", "ul")
)
_HEADINGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))
# every tag that can trigger ANY action inside _body_autoclose; a name
# outside this set makes that whole call a no-op, so the generic-start
# fast path can skip the call (and its 8 membership checks) entirely
_AUTOCLOSE_TRIGGER = (
    frozenset(("p", "li", "dt", "dd", "tr"))
    | _BLOCK_LIKE | _TABLE_SECTIONS | _CELLS
)
# every name with a dedicated branch in _end_tag_document; any other
# end tag can only reach the shared adoption-agency/in-scope tail
_END_SPECIAL = frozenset((
    "template", "head", "body", "form", "p", "li", "dd", "dt", "table",
    "tr", "caption", "select", "applet", "marquee", "object", "html",
)) | _CELLS | _TABLE_SECTIONS
# tags with a dedicated branch in _in_body_start_document; anything
# else takes its generic fast path
_IN_BODY_SPECIAL = frozenset((
    "html", "body", "select", "table", "svg", "math",
    "applet", "marquee", "object", "template", "form",
)) | _HEADINGS
_SELECT_CHILDREN = frozenset(("option", "optgroup"))
_WS_STR = " \n\t\r\f"

# quirks-mode public-id prefixes (determine_doc_mode, 1349-1448)
_QUIRKS_PUBLIC_PREFIXES = (
    "+//silmaril//dtd html pro v0r11 19970101//",
    "-//advasoft ltd//dtd html 3.0 aswedit + extensions//",
    "-//as//dtd html 3.0 aswedit + extensions//",
    "-//ietf//dtd html 2.0 level 1//",
    "-//ietf//dtd html 2.0 level 2//",
    "-//ietf//dtd html 2.0 strict level 1//",
    "-//ietf//dtd html 2.0 strict level 2//",
    "-//ietf//dtd html 2.0 strict//",
    "-//ietf//dtd html 2.0//",
    "-//ietf//dtd html 2.1e//",
    "-//ietf//dtd html 3.0//",
    "-//ietf//dtd html 3.2 final//",
    "-//ietf//dtd html 3.2//",
    "-//ietf//dtd html 3//",
    "-//ietf//dtd html level 0//",
    "-//ietf//dtd html level 1//",
    "-//ietf//dtd html level 2//",
    "-//ietf//dtd html level 3//",
    "-//ietf//dtd html strict level 0//",
    "-//ietf//dtd html strict level 1//",
    "-//ietf//dtd html strict level 2//",
    "-//ietf//dtd html strict level 3//",
    "-//ietf//dtd html strict//",
    "-//ietf//dtd html//",
    "-//metrius//dtd metrius presentational//",
    "-//microsoft//dtd internet explorer 2.0 html strict//",
    "-//microsoft//dtd internet explorer 2.0 html//",
    "-//microsoft//dtd internet explorer 2.0 tables//",
    "-//microsoft//dtd internet explorer 3.0 html strict//",
    "-//microsoft//dtd internet explorer 3.0 html//",
    "-//microsoft//dtd internet explorer 3.0 tables//",
    "-//netscape comm. corp.//dtd html//",
    "-//netscape comm. corp.//dtd strict html//",
    "-//o'reilly and associates//dtd html 2.0//",
    "-//o'reilly and associates//dtd html extended 1.0//",
    "-//o'reilly and associates//dtd html extended relaxed 1.0//",
    "-//sq//dtd html 2.0 hotmetal + extensions//",
    "-//softquad software//dtd hotmetal pro 6.0::19990601::extensions to html 4.0//",
    "-//softquad//dtd hotmetal pro 4.0::19971010::extensions to html 4.0//",
    "-//spyglass//dtd html 2.0 extended//",
    "-//sun microsystems corp.//dtd hotjava html//",
    "-//sun microsystems corp.//dtd hotjava strict html//",
    "-//w3c//dtd html 3 1995-03-24//",
    "-//w3c//dtd html 3.2 draft//",
    "-//w3c//dtd html 3.2 final//",
    "-//w3c//dtd html 3.2//",
    "-//w3c//dtd html 3.2s draft//",
    "-//w3c//dtd html 4.0 frameset//",
    "-//w3c//dtd html 4.0 transitional//",
    "-//w3c//dtd html experimental 19960712//",
    "-//w3c//dtd html experimental 970421//",
    "-//w3c//dtd w3 html//",
    "-//w3o//dtd w3 html 3.0//",
    "-//webtechs//dtd mozilla html 2.0//",
    "-//webtechs//dtd mozilla html//",
)
_QUIRKS_PUBLIC_PREFIXES_MISSING_SYSTEM = (
    "-//w3c//dtd html 4.01 frameset//",
    "-//w3c//dtd html 4.01 transitional//",
)
_LIMITED_QUIRKS_PUBLIC_PREFIXES = (
    "-//w3c//dtd xhtml 1.0 frameset//",
    "-//w3c//dtd xhtml 1.0 transitional//",
)

_RCDATA_FRAGMENT_MODES = {
    "table": IN_TABLE,
    "tbody": IN_TABLE_BODY,
    "thead": IN_TABLE_BODY,
    "tfoot": IN_TABLE_BODY,
    "tr": IN_ROW,
    "td": IN_CELL,
    "th": IN_CELL,
    "caption": IN_CAPTION,
    "select": IN_SELECT,
    "head": IN_HEAD,
}


def determine_doc_mode(t) -> int:
    # determine_doc_mode, src/tree_builder.c:1450-1469; tokenizer already
    # lowercased the ids, so startswith/== is the ci compare.
    if t is None or t.type != TOKEN_DOCTYPE:
        return DOC_NO_QUIRKS
    if t.force_quirks:
        return DOC_QUIRKS
    if not t.name or t.name != "html":
        return DOC_QUIRKS
    pid, sid = t.public_id, t.system_id
    if pid == "-//w3o//dtd w3 html strict 3.0//en//":
        return DOC_QUIRKS
    if pid == "-/w3c/dtd html 4.0 transitional/en":
        return DOC_QUIRKS
    if pid == "html":
        return DOC_QUIRKS
    if sid == "http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd":
        return DOC_QUIRKS
    if pid is not None:
        if pid.startswith(_QUIRKS_PUBLIC_PREFIXES):
            return DOC_QUIRKS
        if sid is None and pid.startswith(_QUIRKS_PUBLIC_PREFIXES_MISSING_SYSTEM):
            return DOC_QUIRKS
        if pid.startswith(_LIMITED_QUIRKS_PUBLIC_PREFIXES):
            return DOC_LIMITED_QUIRKS
        if sid is not None and pid.startswith(_QUIRKS_PUBLIC_PREFIXES_MISSING_SYSTEM):
            return DOC_LIMITED_QUIRKS
    return DOC_NO_QUIRKS


# dispatch outcomes for the inner reprocess loop
_BREAK = 0       # C `break` out of while(reprocess) before the switch
_CHECK = 1       # normal switch exit -> run the MODE_TEXT entry check
_REPROCESS = 2   # C `reprocess = 1; continue`
_STOP = 3        # C `goto stop_parsing`


class TreeBuilder:
    def __init__(self, encoding=None, confidence=2, errors=None):
        self.doc = Node(DOCUMENT)
        if encoding:
            self.doc.encoding = encoding
        self.confidence = confidence  # 0=CERTAIN 1=TENTATIVE 2=IRRELEVANT
        self.st: list = []
        self.fmt: list = []  # entries: [tag_name_or_MARKER, Node|None]
        self.mode = INITIAL
        self.original_mode = INITIAL
        self.dmode = DOC_NO_QUIRKS
        self.html = None
        self.head = None
        self.body = None
        self.template_modes: list = []
        self.seen_template = False  # monotonic; see _push
        self.table_text: list = []
        self.table_text_non_ws = False
        self.form_ptr = None
        self.errors = errors if errors is not None else []
        self.tz = None
        self.change_encoding = None
        self.context = None  # fragment context element
        # True only under build_document_from_tokens: the reference's
        # from-tokens dispatcher respects self_closing on the in-table
        # <form> push (src/tree_builder.c:2427) where the full parser
        # pushes unconditionally (src/tree_builder.c:3305) — the ONE
        # self_closing divergence between the two C dispatchers
        # (verified by a line-by-line diff of both ranges)
        self.from_tokens = False

    # -- error --
    def _err(self, msg):
        self.errors.append(msg)

    # -- stack helpers --
    def _push(self, n):
        if n is not None and len(self.st) < STACK_MAX:
            self.st.append(n)
            n.in_stack = True
            if n.name == "template":
                # monotonic: typical documents never push a template,
                # so _in_template_context can skip its per-tag stack
                # scan entirely (the AAA st.insert only re-inserts
                # FMT_TAGS clones, never a template, so every template
                # reaches the stack through here)
                self.seen_template = True

    def _top(self):
        return self.st[-1] if self.st else None

    def _current(self):
        return self.st[-1] if self.st else self.doc

    def _pop_until(self, name):
        st = self.st
        while st:
            n = st.pop()
            n.in_stack = False
            if n.name == name:
                return

    def _pop_until_any(self, a, b):
        st = self.st
        while st:
            n = st.pop()
            n.in_stack = False
            if n.name == a or n.name == b:
                return

    def _has_open(self, name):
        for n in reversed(self.st):
            if n.name == name:
                return True
        return False

    def _has_open_table_section(self):
        return (
            self._has_open("thead") or self._has_open("tbody")
            or self._has_open("tfoot")
        )

    def _has_open_heading(self):
        for n in reversed(self.st):
            if n.name in _HEADINGS:
                return True
        return False

    def _pop_until_heading(self):
        st = self.st
        while st:
            n = st.pop()
            n.in_stack = False
            if n.name in _HEADINGS:
                return

    def _in_template_context(self):
        if not self.seen_template:
            return False
        return self._has_open("template")

    def _stack_has_table_element(self):
        for n in reversed(self.st):
            if n.name in _TABLE_ELEMENTS:
                return True
        return False

    # -- scope queries (src/tree_builder.c:430-488) --
    def _in_scope(self, name):
        for n in reversed(self.st):
            if n.name is None:
                continue
            if n.ns == NS_HTML and n.name == name:
                return True
            if is_scoping_element_ns(n.name, n.ns):
                return False
        return False

    def _in_list_item_scope(self, name):
        for n in reversed(self.st):
            if n.name is None:
                continue
            if n.ns == NS_HTML and n.name == name:
                return True
            if n.ns != NS_HTML and is_scoping_element_ns(n.name, n.ns):
                return False
            if n.name in _LIST_ITEM_SCOPING:
                return False
        return False

    def _in_button_scope(self, name):
        for n in reversed(self.st):
            if n.name is None:
                continue
            if n.ns == NS_HTML and n.name == name:
                return True
            if n.ns != NS_HTML and is_scoping_element_ns(n.name, n.ns):
                return False
            if n.name in _BUTTON_SCOPING:
                return False
        return False

    def _in_table_scope(self, name):
        for n in reversed(self.st):
            if n.name is None:
                continue
            if n.ns == NS_HTML and n.name == name:
                return True
            if n.ns != NS_HTML and is_scoping_element_ns(n.name, n.ns):
                return False
            if n.name in _TABLE_SCOPING:
                return False
        return False

    def _in_select_scope(self, name):
        for n in reversed(self.st):
            if n.name is None:
                continue
            if n.name == name:
                return True
            if n.name != "optgroup" and n.name != "option":
                return False
        return False

    # -- implied end tags (505-545) --
    def _generate_implied_end_tags(self, except_name=None):
        st = self.st
        while st:
            top = st[-1]
            if top.name is None or top.name not in _IMPLIED_END:
                break
            if except_name is not None and top.name == except_name:
                break
            st.pop().in_stack = False

    def _generate_implied_thoroughly(self):
        st = self.st
        while st:
            top = st[-1]
            if top.name is None or top.name not in _IMPLIED_END_THOROUGH:
                break
            st.pop().in_stack = False

    # -- active formatting list (547-590) --
    def _fmt_push(self, tag, element):
        fl = self.fmt
        count_same = 0
        earliest = 0
        el_attrs = element.attrs
        for i, e in enumerate(fl):
            # order-sensitive attr compare (attrs_equal, 372-383)
            if e[0] == tag:
                eel = e[1]
                if eel is not None and eel.attrs == el_attrs:
                    if count_same == 0:
                        earliest = i
                    count_same += 1
                    if count_same >= 3:
                        # further matches can't change the outcome:
                        # earliest is fixed and exactly one entry is
                        # removed, same as the reference's full scan
                        del fl[earliest]
                        break
        if len(fl) < FMT_MAX:
            fl.append([tag, element])

    def _fmt_push_marker(self):
        if len(self.fmt) < FMT_MAX:
            self.fmt.append([MARKER, None])

    def _fmt_clear_to_marker(self):
        fl = self.fmt
        while fl:
            entry = fl.pop()
            if entry[0] is MARKER:
                return

    def _fmt_find_last(self, tag):
        fl = self.fmt
        for i in range(len(fl) - 1, -1, -1):
            if fl[i][0] is MARKER:
                return -1
            if fl[i][0] == tag:
                return i
        return -1

    def _fmt_index_of_element(self, element):
        for i, (_, eel) in enumerate(self.fmt):
            if eel is element:
                return i
        return -1

    def _reconstruct_formatting(self, parent):
        # reconstruct_active_formatting (731-767). Stack membership via
        # the node's in_stack flag (maintained by every stack mutation):
        # O(|fl| + clones) per call, no per-token O(depth) stack scan.
        fl = self.fmt
        if not fl:
            return
        last_tag, last_el = fl[-1]
        if last_tag is MARKER:
            return
        if last_el is not None and last_el.in_stack:
            return
        first = 0
        for i in range(len(fl) - 1, 0, -1):
            etag, eel = fl[i - 1]
            if etag is MARKER or (eel is not None and eel.in_stack):
                first = i
                break
        for i in range(first, len(fl)):
            etag, eel = fl[i]
            if etag is MARKER or eel is None:
                continue
            n = eel.clone_shallow()
            parent.append_child(n)
            self._push(n)
            fl[i][1] = n
            parent = n

    # -- foster parenting (991-1018) --
    def _find_open_table(self):
        for n in reversed(self.st):
            if n.name == "table":
                return n
        return None

    def _foster_parent(self):
        table = self._find_open_table()
        if table is not None and table.parent is not None:
            return table.parent, table
        return self._current(), table

    def _foster_insert(self, child):
        parent, table = self._foster_parent()
        if table is not None and parent is table.parent:
            parent.insert_before(child, table)
        else:
            parent.append_child(child)

    # -- reset insertion mode (624-645) --
    def _reset_insertion_mode(self):
        if not self.st:
            return IN_BODY
        has_table = self._stack_has_table_element()
        for n in reversed(self.st):
            name = n.name
            if name is None:
                continue
            if name == "select":
                return IN_SELECT_IN_TABLE if has_table else IN_SELECT
            if name == "td" or name == "th":
                return IN_CELL
            if name == "tr":
                return IN_ROW
            if name in _TABLE_SECTIONS:
                return IN_TABLE_BODY
            if name == "caption":
                return IN_CAPTION
            if name == "table":
                return IN_TABLE
            if name == "head":
                return IN_HEAD
            if name == "body":
                return IN_BODY
            if name == "html":
                return IN_BODY
        return IN_BODY

    # -- template machinery (647-693) --
    def _create_template_element(self, attrs):
        tmpl = Node(ELEMENT, "template")
        tmpl.attrs = list(attrs)
        content = Node(ELEMENT, "content")
        tmpl.append_child(content)
        return tmpl

    def _open_template(self, tmpl, self_closing):
        if self_closing:
            return
        self._push(tmpl)
        if tmpl.children:
            self._push(tmpl.children[0])
        self._fmt_push_marker()
        if len(self.template_modes) < TEMPLATE_MODE_MAX:
            self.template_modes.append(IN_TEMPLATE)
        self.mode = IN_TEMPLATE

    def _close_template(self):
        self._generate_implied_thoroughly()
        top = self._top()
        if top is None or top.name != "template":
            self._err("unexpected-element-before-template")
        self._pop_until("template")
        self._fmt_clear_to_marker()
        if self.template_modes:
            self.template_modes.pop()
        self.mode = self._reset_insertion_mode()

    def _template_mode_replace(self, mode):
        # template_mode_replace (607-613)
        tm = self.template_modes
        if tm:
            tm.pop()
        if len(tm) < TEMPLATE_MODE_MAX:
            tm.append(mode)

    # -- misc --
    def _attach(self, n, attrs):
        n.attrs = list(attrs)

    def _attach_svg(self, n, attrs):
        n.attrs = [(svg_adjust_attr_name(a), v) for a, v in attrs]

    def _merge_attrs(self, n, attrs):
        # merge_attrs (33-55)
        existing = {a for a, _ in n.attrs}
        for a, v in attrs:
            if a is not None and a not in existing:
                n.attrs.append((a, v))
                existing.add(a)

    def _ensure_html(self):
        if self.html is None:
            self.html = Node(ELEMENT, "html")
            self.doc.append_child(self.html)
            self._push(self.html)
        return self.html

    def _ensure_body(self):
        self._ensure_html()
        body = self.body
        if body is not None:
            st = self.st
            # when open, body is almost always st[1] (html, body, ...)
            if len(st) >= 2 and st[1] is body:
                return body
            for x in st:
                if x is body:
                    return body
            self._push(body)
            return body
        self.body = Node(ELEMENT, "body")
        self.html.append_child(self.body)
        self._push(self.body)
        return self.body

    def _close_head(self):
        if self.head is not None:
            self._pop_until("head")
            self.head = None
        self.mode = IN_BODY

    def _close_cell(self):
        if not self._has_open("td") and not self._has_open("th"):
            return
        self._pop_until_any("td", "th")
        self._fmt_clear_to_marker()

    def _set_form_owner(self, n, name):
        if (
            name in _FORM_ASSOCIATED
            and self.form_ptr is not None
            and not self._in_template_context()
        ):
            n.form_owner = self.form_ptr

    # ------------------------------------------------------------------
    # Adoption Agency Algorithm (775-954)
    # ------------------------------------------------------------------
    def adoption_agency(self, tag_name):
        if tag_name not in FMT_TAGS:
            return False
        st, fl = self.st, self.fmt

        cur = self._top()
        if (
            cur is not None
            and cur.name == tag_name
            and self._fmt_index_of_element(cur) < 0
        ):
            self._generate_implied_thoroughly()
            cur = self._top()
            if cur is None or cur.name != tag_name:
                self._err("aaa-implied-mismatch")
            if cur is not None and cur.name == tag_name:
                st.pop().in_stack = False
            return True

        for _outer in range(8):
            fmt_idx = self._fmt_find_last(tag_name)
            if fmt_idx < 0:
                return False
            formatting_element = fl[fmt_idx][1]

            fe_stack_idx = -1
            if formatting_element is not None and \
                    formatting_element.in_stack:
                # backward scan: in the well-nested common case the
                # formatting element sits at/near the stack top
                for i in range(len(st) - 1, -1, -1):
                    if st[i] is formatting_element:
                        fe_stack_idx = i
                        break
            if fe_stack_idx < 0:
                del fl[fmt_idx]
                return True

            if not self._in_scope(tag_name):
                self._err("adoption-agency-1.1")
                return True

            furthest_block = None
            for i in range(fe_stack_idx + 1, len(st)):
                x = st[i]
                if x.name is not None and is_special_element_ns(x.name, x.ns):
                    furthest_block = x
                    break

            if furthest_block is None:
                while st:
                    popped = st.pop()
                    popped.in_stack = False
                    if popped is formatting_element:
                        break
                del fl[fmt_idx]
                return True

            common_ancestor = st[fe_stack_idx - 1] if fe_stack_idx > 0 else self.doc
            bookmark = fmt_idx

            inner_node = furthest_block
            last_node = furthest_block

            for inner in range(1, 9):
                node_si = -1
                for i, x in enumerate(st):
                    if x is inner_node:
                        node_si = i
                        break
                if node_si <= 0:
                    break
                inner_node = st[node_si - 1]
                if inner_node is formatting_element:
                    break
                node_fi = self._fmt_index_of_element(inner_node)
                if inner > 3 and node_fi >= 0:
                    del fl[node_fi]
                    if node_fi < bookmark:
                        bookmark -= 1
                    fmt_idx = self._fmt_index_of_element(formatting_element)
                    node_fi = -1
                if node_fi < 0:
                    st[node_si - 1].in_stack = False
                    del st[node_si - 1]
                    continue

                replacement = inner_node.clone_shallow()
                fl[node_fi][1] = replacement
                for i, x in enumerate(st):
                    if x is inner_node:
                        x.in_stack = False
                        replacement.in_stack = True
                        st[i] = replacement
                        break
                inner_node.reparent_children_to(replacement)
                if inner_node.parent is not None:
                    p = inner_node.parent
                    p.insert_before(replacement, inner_node)
                    p.remove_child(inner_node)
                inner_node = replacement

                if last_node is furthest_block:
                    bookmark = node_fi + 1

                if last_node.parent is not None:
                    last_node.parent.remove_child(last_node)
                inner_node.append_child(last_node)
                last_node = inner_node

            if last_node.parent is not None:
                last_node.parent.remove_child(last_node)
            if (
                common_ancestor.name is not None
                and common_ancestor.name in _FOSTER_TARGETS
            ):
                self._foster_insert(last_node)
            else:
                common_ancestor.append_child(last_node)

            # Step 4p: replacement for the formatting element
            new_element = formatting_element.clone_shallow()

            # Step 4q: move all children of furthest_block to new_element
            furthest_block.reparent_children_to(new_element)

            # Step 4r: append new_element to furthest_block
            furthest_block.append_child(new_element)

            # Step 4s: update formatting list
            fmt_idx = self._fmt_index_of_element(formatting_element)
            if fmt_idx >= 0:
                del fl[fmt_idx]
                if fmt_idx < bookmark and bookmark > 0:
                    bookmark -= 1
            if bookmark > len(fl):
                bookmark = len(fl)
            if len(fl) < FMT_MAX:
                fl.insert(bookmark, [tag_name, new_element])

            # Step 4t: update open-element stack
            fe_si = -1
            for i, x in enumerate(st):
                if x is formatting_element:
                    fe_si = i
                    break
            if fe_si >= 0:
                st[fe_si].in_stack = False
                del st[fe_si]
            fb_si = -1
            for i, x in enumerate(st):
                if x is furthest_block:
                    fb_si = i
                    break
            if fb_si >= 0 and len(st) < STACK_MAX:
                st.insert(fb_si + 1, new_element)
                new_element.in_stack = True
        return True

    # ------------------------------------------------------------------
    # Foreign content (process_in_foreign_content, 1826-1976)
    # Returns (consumed, reprocess).
    # ------------------------------------------------------------------
    def _process_foreign(self, t):
        acn = self._top()
        if acn is None or acn.ns == NS_HTML:
            return False, False

        ttype = t.type
        name = t.name
        if acn.ns == NS_MATHML and is_mathml_text_integration_point(acn.name):
            if (
                ttype == TOKEN_START_TAG
                and name is not None
                and name not in ("mglyph", "malignmark", "svg", "math")
            ):
                return False, False
            if ttype == TOKEN_CHARACTER:
                return False, False

        if is_html_integration_point(acn.name, acn.ns, acn.attrs):
            if ttype == TOKEN_START_TAG or ttype == TOKEN_CHARACTER:
                return False, False

        if ttype == TOKEN_CHARACTER:
            if t.data:
                self._current().append_child(Node(TEXT, None, t.data))
            return True, False

        if ttype == TOKEN_COMMENT:
            self._current().append_child(Node(COMMENT, None, t.data or ""))
            return True, False

        if ttype == TOKEN_START_TAG:
            if name in BREAKOUT_TAGS or (
                name == "font" and font_has_breakout_attr(t.attrs)
            ):
                st = self.st
                while st:
                    top = st[-1]
                    if top.ns == NS_HTML:
                        break
                    if top.ns == NS_MATHML and is_mathml_text_integration_point(
                        top.name
                    ):
                        break
                    if is_html_integration_point(top.name, top.ns, top.attrs):
                        break
                    st.pop().in_stack = False
                return True, True

            target_ns = acn.ns
            adjusted_name = name
            if target_ns == NS_SVG:
                adjusted_name = svg_adjust_element_name(name)
            n = Node(ELEMENT, adjusted_name, None, target_ns)
            if t.attrs:
                if target_ns == NS_SVG:
                    n.attrs = [(svg_adjust_attr_name(a), v) for a, v in t.attrs]
                elif target_ns == NS_MATHML:
                    n.attrs = [(mathml_adjust_attr_name(a), v) for a, v in t.attrs]
                else:
                    n.attrs = list(t.attrs)
            self._current().append_child(n)
            if not t.self_closing:
                self._push(n)
            return True, False

        if ttype == TOKEN_END_TAG:
            if name is None:
                return True, False
            st = self.st
            lowered = ascii_lower(name)
            for i in range(len(st), 0, -1):
                entry = st[i - 1]
                if entry.name is None:
                    continue
                if entry.ns == NS_SVG:
                    match = ascii_lower(entry.name) == lowered
                else:
                    match = entry.name == name
                if match:
                    for x in st[i - 1:]:
                        x.in_stack = False
                    del st[i - 1:]
                    return True, False
                if entry.ns == NS_HTML:
                    return False, False
            return True, False

        return False, False

    # ------------------------------------------------------------------
    # IN_TEMPLATE mode (handle_in_template_mode, 1680-1785)
    # Returns (handled, reprocess).
    # ------------------------------------------------------------------
    def _handle_in_template(self, t):
        ttype = t.type
        if ttype == TOKEN_CHARACTER:
            if t.data:
                if not t.data.strip(_WS_STR):
                    return True, False
                self._template_mode_replace(IN_BODY)
                self.mode = IN_BODY
                return True, True
            return True, False

        if ttype == TOKEN_COMMENT:
            self._current().append_child(Node(COMMENT, None, t.data or ""))
            return True, False

        if ttype == TOKEN_DOCTYPE:
            self._err("stray-doctype")
            return True, False

        if ttype == TOKEN_END_TAG:
            if t.name == "template" and self._has_open("template"):
                self._close_template()
            return True, False

        if ttype == TOKEN_START_TAG:
            name = t.name
            if name is not None and name in _TEMPLATE_HEAD_ELEMENTS:
                parent = self._current()
                if name == "template":
                    tmpl = self._create_template_element(t.attrs)
                    parent.append_child(tmpl)
                    self._open_template(tmpl, t.self_closing)
                else:
                    n = Node(ELEMENT, name or "")
                    self._attach(n, t.attrs)
                    parent.append_child(n)
                    if not t.self_closing and name not in _VOID_ELEMENTS:
                        self._push(n)
                return True, False
            if name is not None:
                if name in ("caption", "colgroup", "tbody", "tfoot", "thead",
                            "table", "col"):
                    self._template_mode_replace(IN_TABLE)
                    self.mode = IN_TABLE
                    return True, True
                if name == "tr":
                    self._template_mode_replace(IN_TABLE_BODY)
                    self.mode = IN_TABLE_BODY
                    return True, True
                if name in _CELLS:
                    self._template_mode_replace(IN_ROW)
                    self.mode = IN_ROW
                    return True, True
                if name == "select":
                    self._template_mode_replace(IN_SELECT)
                    self.mode = IN_SELECT
                    return True, True
            self._template_mode_replace(IN_BODY)
            self.mode = IN_BODY
            return True, True

        if ttype == TOKEN_EOF:
            if not self._has_open("template"):
                return False, False
            self._err("eof-in-template")
            self._close_template()
            return True, True

        return False, False

    # ------------------------------------------------------------------
    # body_autoclose_on_start (1471-1511)
    # ------------------------------------------------------------------
    def _body_autoclose(self, name):
        if name is None:
            return
        if (name == "p" or name in _BLOCK_LIKE) and self._in_button_scope("p"):
            self._generate_implied_end_tags("p")
            self._pop_until("p")
        if name == "li" and self._in_list_item_scope("li"):
            self._generate_implied_end_tags("li")
            self._pop_until("li")
        if name == "dt" or name == "dd":
            if self._in_scope("dd"):
                self._generate_implied_end_tags("dd")
                self._pop_until("dd")
            if self._in_scope("dt"):
                self._generate_implied_end_tags("dt")
                self._pop_until("dt")
        if name in _TABLE_SECTIONS and (
            self._has_open("thead") or self._has_open("tbody")
            or self._has_open("tfoot")
        ):
            self._pop_until("thead")
            self._pop_until("tbody")
            self._pop_until("tfoot")
        if name == "tr" and self._has_open("tr"):
            self._pop_until("tr")
        if name in _CELLS and (self._has_open("td") or self._has_open("th")):
            self._pop_until_any("td", "th")

    # ------------------------------------------------------------------
    # handle_in_body_start — DOCUMENT variant (1513-1659)
    # ------------------------------------------------------------------
    def _in_body_start_document(self, t):
        name = t.name
        self_closing = t.self_closing
        attrs = t.attrs
        if name not in _IN_BODY_SPECIAL:
            # fast path: generic element insertion (identical to the
            # tail below — the special-tag chain can't apply).
            # in_template MUST be read at entry, as the slow path does:
            # _body_autoclose can pop the template content wrapper, and
            # reading it afterwards would re-ensure <body> where the
            # reference inserts at document level (found by fuzz seed
            # 10026: "<tbody><template ><thead").
            # inline _in_template_context (seen_template is monotonic
            # and almost always False)
            in_template = (self.seen_template
                           and self._has_open("template"))
            is_fmt = name in FMT_TAGS
            st = self.st
            if is_fmt and self.fmt:
                self._reconstruct_formatting(st[-1] if st else self.doc)
            if name in _AUTOCLOSE_TRIGGER:
                self._body_autoclose(name)
            if not in_template:
                # inline _ensure_body's open-body fast case (body is
                # almost always st[1]: html, body, ...)
                body = self.body
                if body is None or len(st) < 2 or st[1] is not body:
                    self._ensure_body()
            n = Node(ELEMENT, name or "")
            n.attrs = list(attrs)
            cur = st[-1] if st else self.doc
            n.parent = cur
            cur.children.append(n)
            if not self_closing and name not in _VOID_ELEMENTS:
                # inline _push; a generic name is never "template"
                # (template is in _IN_BODY_SPECIAL), so no
                # seen_template update is needed here
                if len(st) < STACK_MAX:
                    st.append(n)
                    n.in_stack = True
                if is_fmt:
                    self._fmt_push(name, n)
            if name in _FORM_ASSOCIATED:
                self._set_form_owner(n, name)
            return
        in_template = self._in_template_context()
        is_fmt = name in FMT_TAGS
        if is_fmt:
            self._reconstruct_formatting(self._current())
        if name == "html":
            self._err("unexpected-start-tag")
            if not in_template and self.html is not None:
                self._merge_attrs(self.html, attrs)
            return
        if name in _HEADINGS:
            if self._has_open_heading():
                self._err("unexpected-start-tag")
                self._pop_until_heading()
        if name == "body":
            self._err("unexpected-start-tag")
            if not in_template:
                self._ensure_body()
                if (
                    self.body is not None
                    and len(self.st) >= 2
                    and self.st[1].name == "body"
                ):
                    self._merge_attrs(self.body, attrs)
            return
        if name == "select":
            if not in_template:
                self._ensure_body()
            n = Node(ELEMENT, "select")
            self._attach(n, attrs)
            self._current().append_child(n)
            self._push(n)
            self.mode = IN_SELECT
            return
        if name == "table":
            if self.dmode != DOC_QUIRKS and self._in_button_scope("p"):
                self._pop_until("p")
            if not in_template:
                self._ensure_body()
            n = Node(ELEMENT, "table")
            self._attach(n, attrs)
            self._current().append_child(n)
            self._push(n)
            self.mode = IN_TABLE
            return
        if name == "svg":
            self._reconstruct_formatting(self._current())
            if not in_template:
                self._ensure_body()
            n = Node(ELEMENT, "svg", None, NS_SVG)
            self._attach_svg(n, attrs)
            self._current().append_child(n)
            if not self_closing:
                self._push(n)
            return
        if name == "math":
            self._reconstruct_formatting(self._current())
            if not in_template:
                self._ensure_body()
            n = Node(ELEMENT, "math", None, NS_MATHML)
            self._attach(n, attrs)
            self._current().append_child(n)
            if not self_closing:
                self._push(n)
            return
        if name in ("applet", "marquee", "object"):
            if not in_template:
                self._ensure_body()
            n = Node(ELEMENT, name)
            self._attach(n, attrs)
            self._current().append_child(n)
            self._fmt_push_marker()
            if not self_closing:
                self._push(n)
            return
        if name == "template":
            if not in_template:
                self._ensure_body()
            tmpl = self._create_template_element(attrs)
            self._current().append_child(tmpl)
            self._open_template(tmpl, self_closing)
            return
        if name == "form":
            if self.form_ptr is not None and not in_template:
                self._err("unexpected-start-tag")
                return
            if self._in_button_scope("p"):
                self._pop_until("p")
            if not in_template:
                self._ensure_body()
            n = Node(ELEMENT, "form")
            self._attach(n, attrs)
            self._current().append_child(n)
            if not in_template:
                self.form_ptr = n
            if not self_closing:
                self._push(n)
            return
        self._body_autoclose(name)
        if not in_template:
            self._ensure_body()
        n = Node(ELEMENT, name or "")
        self._attach(n, attrs)
        self._current().append_child(n)
        if not self_closing and name not in _VOID_ELEMENTS:
            self._push(n)
            if is_fmt:
                self._fmt_push(name, n)
        self._set_form_owner(n, name)

    # ------------------------------------------------------------------
    # handle_in_body_start_fragment (1063-1172)
    # ------------------------------------------------------------------
    def _in_body_start_fragment(self, t):
        name = t.name
        self_closing = t.self_closing
        attrs = t.attrs
        if name in _BODY_IGNORED_START:
            self._err("unexpected-start-tag")
            return
        if name in _HEADINGS and self._has_open_heading():
            self._err("unexpected-start-tag")
            self._pop_until_heading()
        if name in ("applet", "marquee", "object"):
            n = Node(ELEMENT, name)
            self._attach(n, attrs)
            self._current().append_child(n)
            self._fmt_push_marker()
            if not self_closing:
                self._push(n)
            return
        if name == "table":
            if self._in_button_scope("p"):
                self._pop_until("p")
            n = Node(ELEMENT, "table")
            self._attach(n, attrs)
            self._current().append_child(n)
            self._push(n)
            self.mode = IN_TABLE
            return
        if name == "select":
            n = Node(ELEMENT, "select")
            self._attach(n, attrs)
            self._current().append_child(n)
            self._push(n)
            self.mode = IN_SELECT
            return
        if name == "svg":
            self._reconstruct_formatting(self._current())
            n = Node(ELEMENT, "svg", None, NS_SVG)
            self._attach_svg(n, attrs)
            self._current().append_child(n)
            if not self_closing:
                self._push(n)
            return
        if name == "math":
            self._reconstruct_formatting(self._current())
            n = Node(ELEMENT, "math", None, NS_MATHML)
            self._attach(n, attrs)
            self._current().append_child(n)
            if not self_closing:
                self._push(n)
            return
        if name == "template":
            tmpl = self._create_template_element(attrs)
            self._current().append_child(tmpl)
            self._open_template(tmpl, self_closing)
            return
        if name == "form":
            if self.form_ptr is not None and not self._in_template_context():
                self._err("unexpected-start-tag")
                return
            if self._in_button_scope("p"):
                self._pop_until("p")
            n = Node(ELEMENT, "form")
            self._attach(n, attrs)
            self._current().append_child(n)
            if not self._in_template_context():
                self.form_ptr = n
            if not self_closing:
                self._push(n)
            return
        is_fmt = name in FMT_TAGS
        if is_fmt:
            self._reconstruct_formatting(self._current())
        self._body_autoclose(name)
        n = Node(ELEMENT, name or "")
        self._attach(n, attrs)
        self._current().append_child(n)
        if not self_closing and name not in _VOID_ELEMENTS:
            self._push(n)
            if is_fmt:
                self._fmt_push(name, n)
        self._set_form_owner(n, name)

    # ------------------------------------------------------------------
    # Shared pre-switch blocks (both loops): foreign, template, table
    # text, MODE_TEXT, noscript. Return action or None to fall through.
    # ------------------------------------------------------------------
    def _pre_switch(self, t):
        # foreign content (2973-2994 / 3979-3999)
        st = self.st
        acn = st[-1] if st else None
        if acn is not None and acn.ns != NS_HTML:
            consumed, fc_reprocess = self._process_foreign(t)
            if consumed:
                if (
                    t.type == TOKEN_START_TAG
                    and t.name is not None
                    and acn.ns == NS_SVG
                    and t.name == "title"
                    and not fc_reprocess
                ):
                    # undo the tokenizer's RCDATA switch for SVG <title>
                    # (2981-2989)
                    self.tz.state = 0  # DATA
                    self.tz.raw_tag = ""
                return _REPROCESS if fc_reprocess else _BREAK

        mode = self.mode
        if mode == IN_TEMPLATE:
            handled, reprocess = self._handle_in_template(t)
            if handled:
                return _REPROCESS if reprocess else _BREAK

        if mode == IN_TABLE_TEXT:
            if t.type == TOKEN_CHARACTER and t.data:
                self.table_text.append(t.data)
                if t.data.strip(_WS_STR):
                    self.table_text_non_ws = True
                return _BREAK
            if self.table_text:
                data = refuse_bytes("".join(self.table_text))
                text = Node(TEXT, None, data)
                if self.table_text_non_ws:
                    self._err("foster-parenting")
                    self._foster_insert(text)
                else:
                    self._current().append_child(text)
            self.table_text = []
            self.table_text_non_ws = False
            self.mode = IN_TABLE
            return _REPROCESS

        if self.mode == MODE_TEXT:
            if t.type == TOKEN_CHARACTER:
                if t.data:
                    self._current().append_child(Node(TEXT, None, t.data))
                return _BREAK
            if t.type == TOKEN_END_TAG:
                if self.st:
                    self.st.pop().in_stack = False
                self.mode = self.original_mode
                return _BREAK
            if t.type == TOKEN_EOF:
                self._err("eof-in-text")
                if self.st:
                    self.st.pop().in_stack = False
                self.mode = self.original_mode
                return _REPROCESS
            return _BREAK

        if self.mode == IN_HEAD_NOSCRIPT:
            return self._noscript_mode(t)

        return None

    def _noscript_mode(self, t):
        # (3051-3125 / 4056-4130)
        ttype = t.type
        if ttype == TOKEN_DOCTYPE:
            self._err("stray-doctype-in-head-noscript")
            return _BREAK
        if ttype == TOKEN_COMMENT:
            self._current().append_child(Node(COMMENT, None, t.data or ""))
            return _BREAK
        if ttype == TOKEN_CHARACTER:
            if t.data is not None and not t.data.strip(_WS_STR):
                return _BREAK
            self._err("char-in-head-noscript")
            if self.st:
                self.st.pop().in_stack = False
            self.mode = IN_HEAD
            return _REPROCESS
        if ttype == TOKEN_START_TAG:
            name = t.name
            if name == "html":
                self._err("unexpected-start-tag")
                return _BREAK
            if name in _HEAD_NOSCRIPT_ELEMENTS:
                n = Node(ELEMENT, name)
                self._attach(n, t.attrs)
                self._current().append_child(n)
                if (
                    not t.self_closing
                    and name not in _VOID_ELEMENTS
                    and name != "basefont"
                    and name != "bgsound"
                ):
                    self._push(n)
                if self.tz.state in (RCDATA, RAWTEXT, SCRIPT_DATA):
                    self.original_mode = self.mode
                    self.mode = MODE_TEXT
                return _BREAK
            if name in ("head", "noscript"):
                self._err("unexpected-start-tag-in-head-noscript")
                return _BREAK
            self._err("unexpected-start-tag-in-head-noscript")
            if self.st:
                self.st.pop().in_stack = False
            self.mode = IN_HEAD
            return _REPROCESS
        if ttype == TOKEN_END_TAG:
            if t.name == "noscript":
                if self.st:
                    self.st.pop().in_stack = False
                self.mode = IN_HEAD
                return _BREAK
            if t.name == "br":
                self._err("end-tag-br-in-head-noscript")
                if self.st:
                    self.st.pop().in_stack = False
                self.mode = IN_HEAD
                return _REPROCESS
            self._err("unexpected-end-tag-in-head-noscript")
            return _BREAK
        if ttype == TOKEN_EOF:
            self._err("eof-in-head-noscript")
            if self.st:
                self.st.pop().in_stack = False
            self.mode = IN_HEAD
            return _REPROCESS
        return _BREAK

    # ------------------------------------------------------------------
    # Document-mode token dispatch (build_tree_from_input body)
    # ------------------------------------------------------------------
    def _dispatch_document(self, t):
        # inline the _pre_switch no-op condition (same reads, same
        # order as its entry checks: stack top's ns, then mode —
        # nothing runs in between, so parity holds by construction)
        st = self.st
        if ((not st or st[-1].ns == NS_HTML)
                and self.mode not in _PRE_SWITCH_MODES):
            act = None
        else:
            act = self._pre_switch(t)
        if act is not None:
            return act

        # hot-path dispatch first (token types are exclusive, so the
        # check order is semantics-free; EOF/DOCTYPE happen once/doc)
        ttype = t.type
        if ttype == TOKEN_START_TAG:
            if self.mode == IN_BODY:
                # steady-state shortcut: _start_tag_document's chain for
                # mode==IN_BODY (INITIAL/BEFORE_HTML/IN_HEAD misses,
                # _TABLE_MODES miss) reduces to exactly this pair
                self._in_body_start_document(t)
                return _CHECK
            return self._start_tag_document(t)
        if ttype == TOKEN_CHARACTER:
            return self._character_document(t)
        if ttype == TOKEN_END_TAG:
            return self._end_tag_document(t)
        if ttype == TOKEN_COMMENT:
            self._current().append_child(Node(COMMENT, None, t.data or ""))
            return _CHECK

        mode = self.mode
        # EOF handling (3127-3190)
        if ttype == TOKEN_EOF:
            if mode == INITIAL:
                self._err("eof-before-doctype")
                self.dmode = DOC_QUIRKS
                self.mode = BEFORE_HTML
                return _REPROCESS
            if mode == BEFORE_HTML:
                self._ensure_body()
                self.mode = IN_BODY
                return _REPROCESS
            if mode == IN_HEAD:
                self._close_head()
                return _REPROCESS
            if mode == IN_TEMPLATE:
                return _STOP
            if mode in (IN_BODY, IN_CAPTION, IN_CELL, IN_ROW, IN_TABLE_BODY):
                if self.template_modes:
                    self.mode = IN_TEMPLATE
                    return _REPROCESS
                for sn in self.st:
                    if sn.name is not None and sn.name not in _EOF_EXPECTED:
                        self._err("eof-with-open-elements")
                        break
                return _STOP
            if mode in (IN_TABLE, IN_SELECT, IN_SELECT_IN_TABLE):
                if self.template_modes:
                    self.mode = IN_TEMPLATE
                    return _REPROCESS
                cur = self._current()
                if cur is not None and cur.name is not None and cur.name != "html":
                    self._err("eof-in-table")
                return _STOP
            return _STOP

        if ttype == TOKEN_DOCTYPE:
            if self.mode != INITIAL:
                self._err("stray-doctype")
                return _CHECK
            n = Node(DOCTYPE, t.name if t.name is not None else "")
            self.doc.append_child(n)
            self.dmode = determine_doc_mode(t)
            self.mode = BEFORE_HTML
            return _CHECK

        return _STOP

    def _start_tag_document(self, t):
        name = t.name
        if self.mode == INITIAL:
            self._err("missing-doctype")
            self.dmode = DOC_QUIRKS
            self.mode = BEFORE_HTML
        if self.mode == BEFORE_HTML:
            if name == "html":
                self._ensure_html()
                self._attach(self.html, t.attrs)
                self.mode = IN_HEAD
                return _CHECK
            self._ensure_html()
            if name == "head":
                self.head = Node(ELEMENT, "head")
                self._attach(self.head, t.attrs)
                self.html.append_child(self.head)
                self._push(self.head)
                self.mode = IN_HEAD
                return _CHECK
            self._ensure_body()
            self.mode = IN_BODY
            return _REPROCESS
        if self.mode == IN_HEAD:
            if name == "head":
                if self.head is None:
                    self.head = Node(ELEMENT, "head")
                    self._attach(self.head, t.attrs)
                    self._ensure_html().append_child(self.head)
                    self._push(self.head)
                else:
                    self._err("unexpected-start-tag")
                return _CHECK
            if name == "body":
                self._close_head()
                self._ensure_body()
                return _CHECK
            if name == "template":
                tmpl = self._create_template_element(t.attrs)
                self._current().append_child(tmpl)
                self._open_template(tmpl, t.self_closing)
                return _CHECK
            if name == "noscript":
                n = Node(ELEMENT, "noscript")
                self._attach(n, t.attrs)
                self._current().append_child(n)
                self._push(n)
                self.mode = IN_HEAD_NOSCRIPT
                return _CHECK
            if name not in _HEAD_ELEMENTS:
                self._close_head()
                return _REPROCESS
            # head elements fall through to the generic IN_HEAD insert below
        if self.mode in _TABLE_MODES:
            cur = self._current()
            if cur is not None and cur.name is not None and cur.name not in _TABLE_ELEMENTS:
                self._in_body_start_document(t)
                return _CHECK
        if self.mode == IN_BODY:
            self._in_body_start_document(t)
            return _CHECK
        if self.mode == IN_TABLE:
            return self._start_tag_in_table_document(t)
        elif self.mode == IN_HEAD:
            n = Node(ELEMENT, name or "")
            self._attach(n, t.attrs)
            self._current().append_child(n)
            if not t.self_closing and name not in _VOID_ELEMENTS:
                self._push(n)
            # WHATWG §13.2.3.5: change the encoding (3430-3441)
            if (
                name == "meta"
                and self.confidence == 1  # TENTATIVE
                and self.want_change_encoding
            ):
                meta_enc = self._extract_meta_charset(t.attrs)
                if meta_enc is not None and meta_enc != (self.doc.encoding or None):
                    self.change_encoding = meta_enc
                    return _STOP
            return _CHECK
        elif self.mode == IN_TABLE_BODY:
            if name in _TABLE_SECTIONS:
                if self._has_open_table_section():
                    self._pop_until("thead")
                    self._pop_until("tbody")
                    self._pop_until("tfoot")
                self.mode = IN_TABLE
                return _REPROCESS
            if name == "tr":
                n = Node(ELEMENT, "tr")
                self._attach(n, t.attrs)
                self._current().append_child(n)
                self._push(n)
                self.mode = IN_ROW
                return _CHECK
            if name in _CELLS:
                parent = self._current()
                tr = Node(ELEMENT, "tr")
                parent.append_child(tr)
                self._push(tr)
                cell = Node(ELEMENT, name)
                self._attach(cell, t.attrs)
                tr.append_child(cell)
                self._push(cell)
                self._fmt_push_marker()
                self.mode = IN_CELL
                return _CHECK
            if name not in _TABLE_ELEMENTS:
                return self._foster_start_tag(t)
        elif self.mode == IN_ROW:
            if name in _CELLS:
                n = Node(ELEMENT, name)
                self._attach(n, t.attrs)
                self._current().append_child(n)
                self._push(n)
                self._fmt_push_marker()
                self.mode = IN_CELL
                return _CHECK
            if name in _TABLE_SECTIONS:
                if self._has_open("tr"):
                    self._pop_until("tr")
                self.mode = IN_TABLE_BODY
                return _REPROCESS
            if name not in _TABLE_ELEMENTS:
                return self._foster_start_tag(t)
        elif self.mode == IN_CELL:
            if name == "select":
                n = Node(ELEMENT, "select")
                self._attach(n, t.attrs)
                self._current().append_child(n)
                self._push(n)
                self.mode = IN_SELECT_IN_TABLE
                return _CHECK
            if name in _CELLS:
                self._close_cell()
                self.mode = IN_ROW
                return _REPROCESS
            if name == "tr" or name in _TABLE_SECTIONS:
                self._close_cell()
                self.mode = IN_TABLE_BODY
                return _REPROCESS
            self._in_body_start_document(t)
        elif self.mode == IN_CAPTION:
            if name == "table" or name == "tr" or name in _TABLE_SECTIONS:
                self._pop_until("caption")
                self.mode = IN_TABLE
                return _REPROCESS
            if name == "template":
                tmpl = self._create_template_element(t.attrs)
                self._current().append_child(tmpl)
                self._open_template(tmpl, t.self_closing)
                return _CHECK
            n = Node(ELEMENT, name or "")
            self._attach(n, t.attrs)
            self._current().append_child(n)
            if not t.self_closing and name not in _VOID_ELEMENTS:
                self._push(n)
            return _CHECK
        elif self.mode in (IN_SELECT, IN_SELECT_IN_TABLE):
            if name == "select":
                self._err("unexpected-start-tag")
                if not self._in_select_scope("select"):
                    return _CHECK
                self._pop_until("select")
                self.mode = self._reset_insertion_mode()
                return _CHECK
            if name == "option" and self._has_open("option"):
                self._pop_until("option")
            if name == "optgroup" and self._has_open("optgroup"):
                if self._has_open("option"):
                    self._pop_until("option")
                self._pop_until("optgroup")
            if name in _SELECT_CHILDREN:
                n = Node(ELEMENT, name)
                self._attach(n, t.attrs)
                self._current().append_child(n)
                if not t.self_closing and name not in _VOID_ELEMENTS:
                    self._push(n)
                return _CHECK
            if self.mode == IN_SELECT_IN_TABLE and name in _TABLE_ELEMENTS:
                self._err("unexpected-start-tag-in-select")
                if not self._in_select_scope("select"):
                    return _CHECK
                self._pop_until("select")
                self.mode = self._reset_insertion_mode()
                return _REPROCESS
            n = Node(ELEMENT, name or "")
            self._attach(n, t.attrs)
            self._current().append_child(n)
            if not t.self_closing and name not in _VOID_ELEMENTS:
                self._push(n)
        return _CHECK

    def _start_tag_in_table_document(self, t):
        # (3286-3421)
        name = t.name
        if name == "form":
            if self.form_ptr is not None and not self._in_template_context():
                self._err("unexpected-start-tag")
                return _CHECK
            self._err("foster-parenting")
            parent, table = self._foster_parent()
            n = Node(ELEMENT, "form")
            self._attach(n, t.attrs)
            if table is not None and parent is table.parent:
                parent.insert_before(n, table)
            else:
                parent.append_child(n)
            if not self._in_template_context():
                self.form_ptr = n
            if not (self.from_tokens and t.self_closing):
                # from-tokens C skips the push for <form/>
                # (src/tree_builder.c:2427); the full parser never
                # checks self_closing here (3305)
                self._push(n)
            return _CHECK
        if name == "caption":
            n = Node(ELEMENT, "caption")
            self._attach(n, t.attrs)
            self._current().append_child(n)
            self._push(n)
            self._fmt_push_marker()
            self.mode = IN_CAPTION
            return _CHECK
        if name == "colgroup":
            n = Node(ELEMENT, "colgroup")
            self._attach(n, t.attrs)
            self._current().append_child(n)
            self._push(n)
            return _CHECK
        if name == "col":
            n = Node(ELEMENT, "col")
            self._attach(n, t.attrs)
            self._current().append_child(n)
            return _CHECK
        if name == "select":
            n = Node(ELEMENT, "select")
            self._attach(n, t.attrs)
            self._current().append_child(n)
            self._push(n)
            self.mode = IN_SELECT_IN_TABLE
            return _CHECK
        if name in _TABLE_SECTIONS:
            n = Node(ELEMENT, name)
            self._attach(n, t.attrs)
            self._current().append_child(n)
            self._push(n)
            self.mode = IN_TABLE_BODY
            return _CHECK
        if name == "tr":
            # reference deviation: NO implicit tbody in document mode
            n = Node(ELEMENT, "tr")
            self._attach(n, t.attrs)
            self._current().append_child(n)
            self._push(n)
            self.mode = IN_ROW
            return _CHECK
        if name in _CELLS:
            n = Node(ELEMENT, name)
            self._attach(n, t.attrs)
            self._current().append_child(n)
            self._push(n)
            self._fmt_push_marker()
            self.mode = IN_CELL
            return _CHECK
        if name == "input":
            tv = None
            for a, v in t.attrs:
                if a == "type":
                    tv = v
                    break
            if tv is not None and ascii_lower(tv) == "hidden":
                self._err("unexpected-start-tag-in-table")
                n = Node(ELEMENT, "input")
                self._attach(n, t.attrs)
                self._current().append_child(n)
                if not self._in_template_context() and self.form_ptr is not None:
                    n.form_owner = self.form_ptr
                return _CHECK
        if name not in _TABLE_ELEMENTS:
            return self._foster_start_tag(t)
        return _CHECK

    def _foster_start_tag(self, t):
        # shared foster-parented generic start tag (3385-3421 etc.)
        name = t.name
        if name == "template":
            parent, table = self._foster_parent()
            tmpl = self._create_template_element(t.attrs)
            if table is not None and parent is table.parent:
                parent.insert_before(tmpl, table)
            else:
                parent.append_child(tmpl)
            self._open_template(tmpl, t.self_closing)
            return _CHECK
        is_fmt = name in FMT_TAGS
        parent, table = self._foster_parent()
        if is_fmt:
            self._reconstruct_formatting(parent)
        n = Node(ELEMENT, name or "")
        self._attach(n, t.attrs)
        if table is not None and parent is table.parent:
            parent.insert_before(n, table)
        else:
            parent.append_child(n)
        if not t.self_closing and name not in _VOID_ELEMENTS:
            self._push(n)
            if is_fmt:
                self._fmt_push(name, n)
        self._set_form_owner(n, name)
        return _CHECK

    def _end_tag_document(self, t):
        # (3663-3816)
        name = t.name
        mode = self.mode
        if name not in _END_SPECIAL:
            # fast path: a generic end tag can only hit the shared
            # tail below (identical code, the special chain can't fire).
            # FMT_TAGS pre-check mirrors adoption_agency's first guard
            # (it returns False immediately for non-fmt names), saving
            # the call for every generic non-formatting end tag
            if mode in (IN_BODY, IN_CELL, IN_TABLE, IN_TABLE_BODY, IN_ROW,
                        IN_CAPTION):
                if name in FMT_TAGS and self.adoption_agency(name):
                    return _CHECK
            if name is not None and not self._in_scope(name):
                self._err("unexpected-end-tag")
                return _CHECK
            self._pop_until(name)
            return _CHECK
        if name == "template" and self._has_open("template"):
            self._close_template()
            return _CHECK
        if name == "head" and mode == IN_HEAD:
            self._close_head()
            return _CHECK
        if name == "body" and mode == IN_BODY:
            self._generate_implied_end_tags()
            cur = self._top()
            if cur is None or cur.name != "body":
                self._err("end-tag-with-unclosed-elements")
            self._pop_until("body")
            self.mode = AFTER_BODY
            return _CHECK
        if name == "form" and mode == IN_BODY:
            return self._end_tag_form()
        if name == "p" and mode == IN_BODY:
            if not self._in_button_scope("p"):
                self._err("unexpected-end-tag")
                self._current().append_child(Node(ELEMENT, "p"))
                return _CHECK
            self._generate_implied_end_tags("p")
            self._pop_until("p")
            return _CHECK
        if name == "li" and mode == IN_BODY:
            if not self._in_list_item_scope("li"):
                self._err("unexpected-end-tag")
                return _CHECK
            self._generate_implied_end_tags("li")
            self._pop_until("li")
            return _CHECK
        if name in ("dd", "dt") and mode == IN_BODY:
            if not self._in_scope(name):
                self._err("unexpected-end-tag")
                return _CHECK
            self._generate_implied_end_tags(name)
            self._pop_until(name)
            return _CHECK
        if name == "table":
            if not self._in_table_scope("table"):
                return _CHECK
            if mode == IN_CELL:
                self._fmt_clear_to_marker()
            self._pop_until("table")
            self.mode = IN_BODY
            return _CHECK
        if name == "tr" and mode == IN_ROW and self._in_table_scope("tr"):
            self._pop_until("tr")
            self.mode = (
                IN_TABLE_BODY if self._has_open_table_section() else IN_TABLE
            )
            return _CHECK
        if name in _CELLS and mode == IN_CELL and self._in_table_scope(name):
            self._pop_until(name)
            self._fmt_clear_to_marker()
            self.mode = IN_ROW
            return _CHECK
        if (
            name in _TABLE_SECTIONS
            and mode == IN_CELL
            and self._in_table_scope(name)
        ):
            self._close_cell()
            self._pop_until(name)
            self.mode = IN_TABLE
            return _CHECK
        if (
            name in _TABLE_SECTIONS
            and mode in (IN_TABLE, IN_TABLE_BODY)
            and self._in_table_scope(name)
        ):
            self._pop_until(name)
            self.mode = IN_TABLE
            return _CHECK
        if (
            name == "caption"
            and mode == IN_CAPTION
            and self._in_table_scope("caption")
        ):
            self._pop_until("caption")
            self._fmt_clear_to_marker()
            self.mode = IN_TABLE
            return _CHECK
        if name == "select" and mode in (IN_SELECT, IN_SELECT_IN_TABLE):
            if not self._in_select_scope("select"):
                self._err("unexpected-end-tag")
                return _CHECK
            self._pop_until("select")
            self.mode = self._reset_insertion_mode()
            return _CHECK
        if name in ("applet", "marquee", "object"):
            if not self._in_scope(name):
                return _CHECK
            self._generate_implied_end_tags()
            self._pop_until(name)
            self._fmt_clear_to_marker()
            return _CHECK
        if name == "html":
            self._pop_until("html")
            if self.mode == AFTER_BODY:
                self.mode = AFTER_AFTER_BODY
            return _CHECK
        if self.mode in (IN_BODY, IN_CELL, IN_TABLE, IN_TABLE_BODY, IN_ROW,
                         IN_CAPTION):
            # FMT_TAGS pre-check == adoption_agency's first guard
            if name in FMT_TAGS and self.adoption_agency(name):
                return _CHECK
        if name is not None and not self._in_scope(name):
            self._err("unexpected-end-tag")
            return _CHECK
        self._pop_until(name)
        return _CHECK

    def _end_tag_form(self):
        # </form> in body (3683-3707); shared verbatim by the fragment
        # loop (4491-4514)
        if not self._in_template_context():
            node_ptr = self.form_ptr
            self.form_ptr = None
            if node_ptr is None or not self._in_scope("form"):
                self._err("unexpected-end-tag")
                if node_ptr is None:
                    return _CHECK
                if not self._in_scope("form"):
                    return _CHECK
            self._generate_implied_end_tags()
            for i, x in enumerate(self.st):
                if x is node_ptr:
                    x.in_stack = False
                    del self.st[i]
                    break
        else:
            if not self._in_scope("form"):
                self._err("unexpected-end-tag")
            else:
                self._generate_implied_end_tags()
                self._pop_until("form")
        return _CHECK

    def _character_document(self, t):
        # (3822-3885)
        data = t.data
        if not data:
            return _CHECK
        non_ws = data.strip(_WS_STR)
        if non_ws and self.mode == IN_BODY:
            # fast path: non-whitespace text in body (the dominant
            # shape) — identical to the fall-through below
            st = self.st
            if self.fmt:
                self._reconstruct_formatting(st[-1] if st else self.doc)
            n = Node(TEXT, None, data)
            cur = st[-1] if st else self.doc
            n.parent = cur
            cur.children.append(n)
            return _CHECK
        if not non_ws:
            if self.mode == IN_BODY:
                # same inlining as _in_body_start_document's fast path:
                # _in_template_context via the monotonic seen_template
                # flag, _ensure_body's body-is-st[1] fast case, and the
                # fmt-empty reconstruct guard (reconstruct returns
                # immediately when fl is empty; _current() is never
                # None — it falls back to self.doc)
                st = self.st
                if not (self.seen_template and self._has_open("template")):
                    body = self.body
                    if body is None or len(st) < 2 or st[1] is not body:
                        self._ensure_body()
                if self.fmt:
                    self._reconstruct_formatting(st[-1] if st else self.doc)
            return _CHECK
        if self.mode in (AFTER_BODY, AFTER_AFTER_BODY):
            self._err("unexpected-token-after-body")
            self.mode = IN_BODY
        if self.mode == IN_HEAD:
            if self.head is None:
                self.head = Node(ELEMENT, "head")
                self._ensure_html().append_child(self.head)
                self._push(self.head)
            self._current().append_child(Node(TEXT, None, data))
            return _CHECK
        if self.mode == IN_TABLE:
            self.mode = IN_TABLE_TEXT
            self.table_text.append(data)
            if data.strip(_WS_STR):
                self.table_text_non_ws = True
            return _CHECK
        if self.mode in _TABLE_MODES:
            cur = self._current()
            if self.mode == IN_CELL or (
                cur is not None
                and cur.name is not None
                and cur.name not in _TABLE_ELEMENTS
            ):
                cur.append_child(Node(TEXT, None, data))
                return _CHECK
            self._foster_insert(Node(TEXT, None, data))
            return _CHECK
        if self.mode == INITIAL:
            self._err("missing-doctype")
            self.dmode = DOC_QUIRKS
            self.mode = BEFORE_HTML
        if self.mode in (INITIAL, BEFORE_HTML):
            self._ensure_body()
            self.mode = IN_BODY
        if self.mode == IN_BODY:
            self._reconstruct_formatting(self._current())
        self._current().append_child(Node(TEXT, None, data))
        return _CHECK

    # ------------------------------------------------------------------
    # Fragment-mode token dispatch (build_fragment_from_input body)
    # ------------------------------------------------------------------
    def _dispatch_fragment(self, t):
        # same inline no-op guard as _dispatch_document
        st = self.st
        if ((not st or st[-1].ns == NS_HTML)
                and self.mode not in _PRE_SWITCH_MODES):
            act = None
        else:
            act = self._pre_switch(t)
        if act is not None:
            return act

        # hot-path dispatch first (token types are exclusive, so the
        # check order is semantics-free; EOF happens once per fragment)
        ttype = t.type
        if ttype == TOKEN_START_TAG:
            return self._start_tag_fragment(t)
        if ttype == TOKEN_CHARACTER:
            return self._character_fragment(t)
        if ttype == TOKEN_END_TAG:
            return self._end_tag_fragment(t)
        if ttype == TOKEN_COMMENT:
            self._current().append_child(Node(COMMENT, None, t.data or ""))
            return _CHECK

        mode = self.mode
        if ttype == TOKEN_EOF:
            # (4132-4178)
            if mode == IN_TEMPLATE:
                return _STOP
            if mode in (IN_BODY, IN_CAPTION, IN_CELL, IN_ROW, IN_TABLE_BODY):
                if self.template_modes:
                    self.mode = IN_TEMPLATE
                    return _REPROCESS
                for sn in self.st:
                    if sn.name is not None and sn.name not in _EOF_EXPECTED:
                        self._err("eof-with-open-elements")
                        break
                return _STOP
            if mode in (IN_TABLE, IN_SELECT, IN_SELECT_IN_TABLE):
                if self.template_modes:
                    self.mode = IN_TEMPLATE
                    return _REPROCESS
                cur = self._current()
                if cur is not None and cur.name is not None and cur.name != "html":
                    self._err("eof-in-table")
                return _STOP
            return _STOP

        # NOTE: a DOCTYPE token in the fragment loop falls into the C
        # switch's default -> goto stop_parsing (4646-4648). Reproduced.
        return _STOP

    def _start_tag_fragment(self, t):
        name = t.name
        if self.mode == IN_HEAD:
            # (4182-4206) — note: plain head elements are NOT inserted by
            # the fragment loop (no generic IN_HEAD branch below); only
            # template/noscript/non-head-element are handled.
            if name == "template":
                tmpl = self._create_template_element(t.attrs)
                self._current().append_child(tmpl)
                self._open_template(tmpl, t.self_closing)
                return _CHECK
            if name == "noscript":
                n = Node(ELEMENT, "noscript")
                self._attach(n, t.attrs)
                self._current().append_child(n)
                self._push(n)
                self.mode = IN_HEAD_NOSCRIPT
                return _CHECK
            if name is not None and name not in _HEAD_ELEMENTS:
                self.mode = IN_BODY
                return _REPROCESS
        if self.mode in _TABLE_MODES:
            cur = self._current()
            if cur is not None and cur.name is not None and cur.name not in _TABLE_ELEMENTS:
                self._in_body_start_fragment(t)
                return _CHECK
        if self.mode == IN_BODY:
            self._in_body_start_fragment(t)
            return _CHECK
        if self.mode == IN_TABLE:
            # (4222-4316)
            if name == "caption":
                n = Node(ELEMENT, "caption")
                self._attach(n, t.attrs)
                self._current().append_child(n)
                self._push(n)
                self._fmt_push_marker()
                self.mode = IN_CAPTION
                return _CHECK
            if name == "colgroup":
                n = Node(ELEMENT, "colgroup")
                self._attach(n, t.attrs)
                self._current().append_child(n)
                self._push(n)
                return _CHECK
            if name == "col":
                n = Node(ELEMENT, "col")
                self._attach(n, t.attrs)
                self._current().append_child(n)
                return _CHECK
            if name == "select":
                n = Node(ELEMENT, "select")
                self._attach(n, t.attrs)
                self._current().append_child(n)
                self._push(n)
                self.mode = IN_SELECT_IN_TABLE
                return _CHECK
            if name in _TABLE_SECTIONS:
                n = Node(ELEMENT, name)
                self._attach(n, t.attrs)
                self._current().append_child(n)
                self._push(n)
                self.mode = IN_TABLE_BODY
                return _CHECK
            if name == "tr" or name in _CELLS:
                # fragment mode DOES synthesize the implicit tbody
                n = Node(ELEMENT, "tbody")
                self._current().append_child(n)
                self._push(n)
                self.mode = IN_TABLE_BODY
                return _REPROCESS
            if name == "input":
                tv = None
                for a, v in t.attrs:
                    if a == "type":
                        tv = v
                        break
                if tv is not None and ascii_lower(tv) == "hidden":
                    self._err("unexpected-start-tag-in-table")
                    n = Node(ELEMENT, "input")
                    self._attach(n, t.attrs)
                    self._current().append_child(n)
                    if not self._in_template_context() and self.form_ptr is not None:
                        n.form_owner = self.form_ptr
                    return _CHECK
            if name not in _TABLE_ELEMENTS:
                return self._foster_start_tag_fragment(t)
        elif self.mode == IN_TABLE_BODY:
            if name == "tr":
                n = Node(ELEMENT, "tr")
                self._attach(n, t.attrs)
                self._current().append_child(n)
                self._push(n)
                self.mode = IN_ROW
                return _CHECK
            if name in _CELLS:
                parent = self._current()
                tr = Node(ELEMENT, "tr")
                parent.append_child(tr)
                self._push(tr)
                cell = Node(ELEMENT, name)
                self._attach(cell, t.attrs)
                tr.append_child(cell)
                self._push(cell)
                self._fmt_push_marker()
                self.mode = IN_CELL
                return _CHECK
            if name not in _TABLE_ELEMENTS:
                return self._foster_start_tag_fragment(t)
        elif self.mode == IN_ROW:
            if name in _CELLS:
                n = Node(ELEMENT, name)
                self._attach(n, t.attrs)
                self._current().append_child(n)
                self._push(n)
                self._fmt_push_marker()
                self.mode = IN_CELL
                return _CHECK
            if name not in _TABLE_ELEMENTS:
                return self._foster_start_tag_fragment(t)
        elif self.mode == IN_CELL:
            if name in _CELLS:
                self._close_cell()
                self.mode = IN_ROW
                return _REPROCESS
            if name == "select":
                n = Node(ELEMENT, "select")
                self._attach(n, t.attrs)
                self._current().append_child(n)
                self._push(n)
                self.mode = IN_SELECT_IN_TABLE
                return _CHECK
            self._in_body_start_fragment(t)
        elif self.mode == IN_CAPTION:
            if name == "table":
                self._pop_until("caption")
                self.mode = IN_TABLE
                return _REPROCESS
            if name == "template":
                tmpl = self._create_template_element(t.attrs)
                self._current().append_child(tmpl)
                self._open_template(tmpl, t.self_closing)
                return _CHECK
            n = Node(ELEMENT, name or "")
            self._attach(n, t.attrs)
            self._current().append_child(n)
            if not t.self_closing and name not in _VOID_ELEMENTS:
                self._push(n)
            return _CHECK
        elif self.mode in (IN_SELECT, IN_SELECT_IN_TABLE):
            if name == "select":
                self._err("unexpected-start-tag")
                if not self._in_select_scope("select"):
                    return _CHECK
                self._pop_until("select")
                self.mode = self._reset_insertion_mode()
                return _CHECK
            if name == "option" and self._has_open("option"):
                self._pop_until("option")
            if name == "optgroup" and self._has_open("optgroup"):
                if self._has_open("option"):
                    self._pop_until("option")
                self._pop_until("optgroup")
            if name in _SELECT_CHILDREN:
                n = Node(ELEMENT, name)
                self._attach(n, t.attrs)
                self._current().append_child(n)
                if not t.self_closing and name not in _VOID_ELEMENTS:
                    self._push(n)
                return _CHECK
            n = Node(ELEMENT, name or "")
            self._attach(n, t.attrs)
            self._current().append_child(n)
            if not t.self_closing and name not in _VOID_ELEMENTS:
                self._push(n)
        return _CHECK

    def _foster_start_tag_fragment(self, t):
        # fragment loops foster via foster_insert (no reconstruct, no
        # formatting push — 4291-4315, 4340-4364, 4377-4401)
        name = t.name
        if name == "template":
            parent, table = self._foster_parent()
            tmpl = self._create_template_element(t.attrs)
            if table is not None and parent is table.parent:
                parent.insert_before(tmpl, table)
            else:
                parent.append_child(tmpl)
            self._open_template(tmpl, t.self_closing)
            return _CHECK
        n = Node(ELEMENT, name or "")
        self._attach(n, t.attrs)
        self._foster_insert(n)
        if not t.self_closing and name not in _VOID_ELEMENTS:
            self._push(n)
        self._set_form_owner(n, name)
        return _CHECK

    def _end_tag_fragment(self, t):
        # (4484-4602)
        name = t.name
        mode = self.mode
        if name == "template" and self._has_open("template"):
            self._close_template()
            return _CHECK
        if name == "form" and mode == IN_BODY:
            return self._end_tag_form()
        if name == "p" and mode == IN_BODY:
            if not self._in_button_scope("p"):
                self._err("unexpected-end-tag")
                self._current().append_child(Node(ELEMENT, "p"))
                return _CHECK
            self._generate_implied_end_tags("p")
            self._pop_until("p")
            return _CHECK
        if name == "li" and mode == IN_BODY:
            if not self._in_list_item_scope("li"):
                self._err("unexpected-end-tag")
                return _CHECK
            self._generate_implied_end_tags("li")
            self._pop_until("li")
            return _CHECK
        if name in ("dd", "dt") and mode == IN_BODY:
            if not self._in_scope(name):
                self._err("unexpected-end-tag")
                return _CHECK
            self._generate_implied_end_tags(name)
            self._pop_until(name)
            return _CHECK
        if name == "table" and self._in_table_scope("table"):
            if mode == IN_CELL:
                self._fmt_clear_to_marker()
            self._pop_until("table")
            self.mode = IN_BODY
            return _CHECK
        if name in _CELLS and mode == IN_CELL and self._in_table_scope(name):
            self._pop_until(name)
            self._fmt_clear_to_marker()
            self.mode = IN_ROW
            return _CHECK
        if name == "tr" and mode == IN_ROW and self._in_table_scope("tr"):
            self._pop_until("tr")
            self.mode = (
                IN_TABLE_BODY
                if (self._has_open("tbody") or self._has_open("thead")
                    or self._has_open("tfoot"))
                else IN_TABLE
            )
            return _CHECK
        if (
            name in _TABLE_SECTIONS
            and mode == IN_TABLE_BODY
            and self._in_table_scope(name)
        ):
            self._pop_until(name)
            self.mode = IN_TABLE
            return _CHECK
        if (
            name == "caption"
            and mode == IN_CAPTION
            and self._in_table_scope("caption")
        ):
            self._pop_until("caption")
            self._fmt_clear_to_marker()
            self.mode = IN_TABLE
            return _CHECK
        if name == "select" and mode in (IN_SELECT, IN_SELECT_IN_TABLE):
            if not self._in_select_scope("select"):
                self._err("unexpected-end-tag")
                return _CHECK
            self._pop_until("select")
            self.mode = self._reset_insertion_mode()
            return _CHECK
        if mode in (IN_BODY, IN_CELL, IN_TABLE, IN_TABLE_BODY, IN_ROW,
                    IN_CAPTION):
            # FMT_TAGS pre-check == adoption_agency's first guard
            if name in FMT_TAGS and self.adoption_agency(name):
                return _CHECK
        if name is not None and not self._in_scope(name):
            self._err("unexpected-end-tag")
            return _CHECK
        self._pop_until(name)
        return _CHECK

    def _character_fragment(self, t):
        # (4608-4645)
        data = t.data
        if not data:
            return _CHECK
        if not data.strip(_WS_STR):
            if self.mode == IN_BODY:
                parent = self._current()
                if parent is not None:
                    self._reconstruct_formatting(parent)
            return _CHECK
        if self.mode == IN_TABLE:
            self.mode = IN_TABLE_TEXT
            self.table_text.append(data)
            if data.strip(_WS_STR):
                self.table_text_non_ws = True
            return _CHECK
        if self.mode in _TABLE_MODES:
            cur = self._current()
            if self.mode == IN_CELL or (
                cur is not None
                and cur.name is not None
                and cur.name not in _TABLE_ELEMENTS
            ):
                cur.append_child(Node(TEXT, None, data))
                return _CHECK
            self._foster_insert(Node(TEXT, None, data))
            return _CHECK
        if self.mode == IN_BODY:
            self._reconstruct_formatting(self._current())
        self._current().append_child(Node(TEXT, None, data))
        return _CHECK

    # ------------------------------------------------------------------
    # <meta> charset extraction (extract_meta_charset, 73-113)
    # ------------------------------------------------------------------
    def _extract_meta_charset(self, attrs):
        from .encoding import resolve_label

        for a, v in attrs:
            if a is not None and ascii_lower(a) == "charset" and v is not None:
                return resolve_label(v)
        http_equiv = None
        content = None
        for a, v in attrs:
            if a is None:
                continue
            al = ascii_lower(a)
            if al == "http-equiv":
                http_equiv = v
            if al == "content":
                content = v
        if (
            http_equiv is not None
            and content is not None
            and ascii_lower(http_equiv) == "content-type"
        ):
            low = ascii_lower(content)
            idx = low.find("charset=")
            if idx < 0:
                return None
            p = idx + 8
            quote = None
            if p < len(content) and content[p] in ('"', "'"):
                quote = content[p]
                p += 1
            start = p
            while p < len(content):
                c = content[p]
                if c == ";" or c == " " or (quote is not None and c == quote):
                    break
                p += 1
            label = content[start:p]
            if 0 < len(label) < 128:
                return resolve_label(label)
            return None
        return None

    # ------------------------------------------------------------------
    # Drive loops
    # ------------------------------------------------------------------
    def _run(self, dispatch):
        tz = self.tz
        st = self.st  # never rebound (only cleared), so safe to bind
        tz_next = tz.next
        raw_states = (RCDATA, RAWTEXT, SCRIPT_DATA)
        # allow_cdata is read ONLY by the real Tokenizer's CDATA branch
        # (tokenizer.py:1200); the pre-tokenized feeds (C FastFeed,
        # _TokenFeed) never consult it, so the per-token maintenance —
        # including the st[-1] probe that feeds it — is dead weight for
        # them and skipped wholesale (parity: a write nobody reads)
        live_tz = isinstance(tz, Tokenizer)
        while True:
            if live_tz:
                top = st[-1] if st else None
                tz.allow_cdata = top is not None and top.ns != NS_HTML
            t = tz_next()
            act = dispatch(t)
            while act == _REPROCESS:
                act = dispatch(t)
            if act == _CHECK:
                # MODE_TEXT entry after a start tag (3892-3897 / 4651-4656)
                if (
                    t.type == TOKEN_START_TAG
                    and self.mode != MODE_TEXT
                    and tz.state in raw_states
                ):
                    self.original_mode = self.mode
                    self.mode = MODE_TEXT
            elif act == _STOP:
                return

    def _flush_table_text_at_stop(self):
        if self.mode == IN_TABLE_TEXT and self.table_text:
            data = refuse_bytes("".join(self.table_text))
            text = Node(TEXT, None, data)
            if self.table_text_non_ws:
                self._foster_insert(text)
            else:
                self._current().append_child(text)
            self.table_text = []
            self.table_text_non_ws = False


class _TokenFeed:
    """Stand-in tokenizer for the pre-tokenized build API
    (build_tree_from_tokens, src/tree_builder.c:1978-2925). The C
    from-tokens builder is the document dispatcher with every
    tokenizer-STATE check replaced by the name check
    triggers_text_mode(t->name) (src/tree_builder.c:227-237, applied
    at 2112 and 2913). This feed reproduces that exactly without
    duplicating the dispatcher: next() sets `state` to the raw state
    the REAL tokenizer would have self-switched into for that start
    tag's name — the same 8-tag set triggers_text_mode matches — so
    the existing _run/_dispatch_document state reads behave per the C
    from-tokens rules. Builder feedback writes (allow_cdata, the SVG
    <title> state undo) land on instance attrs and are inert, which
    is the from-tokens contract: tokens are already made, feedback
    paths cannot retokenize (the reference documents the same caveat
    — spec parity holds exactly when those paths don't trigger)."""

    __slots__ = ("_tokens", "_i", "state", "raw_tag", "allow_cdata",
                 "errors", "skipped")

    def __init__(self, tokens, errors):
        self._tokens = tokens
        self._i = 0
        self.state = DATA
        self.raw_tag = ""
        self.allow_cdata = False
        self.errors = errors
        self.skipped: list = []

    def next(self):
        if self._i < len(self._tokens):
            t = self._tokens[self._i]
            self._i += 1
        else:
            t = Token()  # Token() defaults to TOKEN_EOF
        if t.type == TOKEN_START_TAG and t.name is not None:
            if t.name in _RCDATA_TAGS:
                self.state = RCDATA
            elif t.name in _RAWTEXT_TAGS:
                self.state = RAWTEXT
            elif t.name == "script":
                self.state = SCRIPT_DATA
            else:
                self.state = DATA
        else:
            self.state = DATA
        return t


def tokenize_all(input_text):
    """Standalone tokenization to a flat token list (the input side of
    build_tree_from_tokens; mirrors driving tokenizer_next in a loop
    with no tree builder attached — allow_cdata stays 0, but the
    tokenizer's own raw-state self-switching at tag-emit still
    applies). Includes the trailing EOF token like the C array form."""
    tz = Tokenizer(input_text)
    out = []
    while True:
        t = tz.next()
        out.append(t)
        if t.type == TOKEN_EOF:
            return out


def build_document_from_tokens(tokens):
    """build_tree_from_tokens (include/tree_builder.h:8, impl
    src/tree_builder.c:1978-2925): build a DOCUMENT from a pre-made
    token array. No encoding is stamped on the document and no
    §13.2.3.5 re-encode handshake can occur (there is no input to
    re-decode); tokenizer<->builder feedback (foreign-content CDATA
    gating, SVG-title RCDATA undo) cannot retokenize — parity with
    the full parser holds exactly when those paths don't trigger,
    the same caveat the reference's API carries. Returns
    (doc, errors)."""
    tb = TreeBuilder()
    tb.want_change_encoding = False
    tb.from_tokens = True
    tb.tz = _TokenFeed(list(tokens), tb.errors)
    tb._run(tb._dispatch_document)
    tb.st.clear()
    tb._flush_table_text_at_stop()
    return tb.doc, tb.errors


def build_document(input_text, encoding=None, confidence=2, errors=None,
                   want_change_encoding=False):
    """build_tree_from_input (2927-3918). Returns (doc, change_encoding).
    change_encoding is non-None (and doc is None) when a tentative-
    confidence parse met a <meta> naming a different charset (§13.2.3.5)."""
    tb = TreeBuilder(encoding, confidence, errors)
    tb.want_change_encoding = want_change_encoding
    # share ONE error list between tokenizer and tree builder so the
    # combined texts keep the reference's chronological stderr order.
    # The C fast-scan feed is token-identical on its accepted subset
    # (kernel/_fastscan.c header; differential-tested) and returns None
    # otherwise — behavior never depends on which path runs.
    tz = _fast_feed(input_text, tb.errors)
    tb.tz = tz if tz is not None else Tokenizer(
        input_text, errors=tb.errors, reuse_token=True)
    tb._run(tb._dispatch_document)
    if tb.change_encoding is not None:
        # the abandoned first-pass tree is unreachable for the caller:
        # cut its cycles so reference counting frees it
        release(tb.doc)
        return None, tb.change_encoding, tb.tz.errors
    tb.st.clear()
    tb._flush_table_text_at_stop()
    return tb.doc, None, tb.tz.errors


def build_fragment(input_text, context_tag, encoding=None, confidence=2,
                   errors=None):
    """build_fragment_from_input (3920-4699)."""
    tb = TreeBuilder(encoding, confidence, errors)
    tb.want_change_encoding = False
    tb.mode = IN_BODY
    tb.original_mode = IN_BODY
    context = None
    if context_tag:
        if context_tag == "template":
            context = tb._create_template_element([])
            tb._open_template(context, False)
        else:
            context = Node(ELEMENT, context_tag)
            tb._push(context)
            tb.mode = _RCDATA_FRAGMENT_MODES.get(context_tag, IN_BODY)
    tb.context = context
    tz = _fast_feed(input_text, tb.errors, context_tag)
    tb.tz = tz if tz is not None else Tokenizer(
        input_text, context_tag, errors=tb.errors, reuse_token=True)
    tb._run(tb._dispatch_fragment)
    tb.st.clear()
    doc = tb.doc
    if context is not None:
        # adopt context children into the DOCUMENT (4665-4686)
        adopt = context
        if (
            context.name == "template"
            and context.children
            and context.children[0].name == "content"
        ):
            adopt = context.children[0]
        for child in adopt.children:
            child.parent = doc
        doc.children = adopt.children
        adopt.children = []
        # a template context keeps its <content> child: cut that cycle
        release(context)
    tb._flush_table_text_at_stop()
    return doc, tb.tz.errors
