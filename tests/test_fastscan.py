"""Differential + contract tests for the optional C fast-scan tokenizer
(kernel/_fastscan.c via kernel/fastscan.py).

The accelerator is all-or-nothing: make_feed() returns None (-> pure
Python tokenizer) unless the document is in the provably
token-identical subset.  These tests pin that contract three ways:
  1. token-level differential vs the Python Tokenizer on every fixture
     the scanner accepts (type, name, data, attrs, self_closing,
     doctype fields, AND the post-token state the tree builder reads);
  2. tree-level differential (dump + serialize + error texts) with the
     scanner forced on vs off, over fixtures and a generated
     well-formed corpus that exercises the accepted grammar;
  3. explicit accept/bail spot-checks for the machine quirks the C
     replicates (AFTER_ATTR_NAME no-reset, unquoted '/' retention,
     quote-adjacent attrs, duplicate-attr drop, raw elements, literal
     '<') and for every bail class (charrefs, foreign content,
     malformed tags, script escapes, doctype ids, CDATA...).
"""

from __future__ import annotations

import glob
import random

import pytest

from html_parser_spark.kernel import fastscan
from html_parser_spark.kernel.api import parse_document, parse_fragment
from html_parser_spark.kernel.tokenizer import (
    TOKEN_EOF, Tokenizer, replace_nulls,
)
from html_parser_spark.kernel.tree import dump_ascii, serialize_html

pytestmark = pytest.mark.skipif(
    fastscan._load() is None,
    reason="fast-scan extension unavailable (no C toolchain)",
)

FIXTURES = sorted(glob.glob("/root/reference/tests/*.html")) + sorted(
    glob.glob("tests/fixtures/*.html")
)


def _drain(feed_like):
    out = []
    while True:
        t = feed_like.next()
        out.append((
            t.type, t.name, t.data, list(t.attrs), bool(t.self_closing),
            t.public_id, t.system_id, bool(t.force_quirks),
            feed_like.state,
        ))
        if t.type == TOKEN_EOF:
            break
    return out


def _read_text(fp):
    raw = open(fp, "rb").read()
    try:
        text = raw.decode("utf-8")
    except UnicodeDecodeError:
        text = raw.decode("utf-8", "surrogateescape")
    return replace_nulls(text)


def _tree_snapshot(raw, frag):
    r = parse_fragment(raw, "div") if frag else parse_document(raw)
    return (dump_ascii(r.doc), serialize_html(r.doc), list(r.errors))


def _with_fastscan_disabled(fn):
    saved = fastscan._mod
    fastscan._mod = None
    fastscan._tried = True
    try:
        return fn()
    finally:
        fastscan._mod = saved


# ---------------------------------------------------------------------
# 1. token differential over the fixture corpus
# ---------------------------------------------------------------------

def test_token_differential_fixtures():
    accepted = 0
    for fp in FIXTURES:
        text = _read_text(fp)
        errs_fast: list = []
        feed = fastscan.make_feed(text, errs_fast)
        if feed is None:
            continue
        accepted += 1
        errs_py: list = []
        tz = Tokenizer(text, errors=errs_py)
        assert _drain(feed) == _drain(tz), fp
        # errors — unpositioned charref-decode AND positioned
        # tokenizer errors (bogus comment, invalid/garbage end tags) —
        # must match the Python machine exactly, including the stale
        # raw-scan position semantics (skipped-range parity below)
        assert errs_fast == errs_py, fp
        assert list(feed.skipped) == list(tz.skipped), fp
    # the corpus contains plenty of well-formed documents
    assert accepted >= 40, f"only {accepted} fixtures accepted"


# ---------------------------------------------------------------------
# 2. tree differential, fixtures + generated well-formed corpus
# ---------------------------------------------------------------------

def test_tree_differential_fixtures():
    for fp in FIXTURES:
        raw = open(fp, "rb").read()
        for frag in (False, True):
            on = _tree_snapshot(raw, frag)
            off = _with_fastscan_disabled(
                lambda: _tree_snapshot(raw, frag))
            assert on == off, (fp, frag)


def _gen_wellformed(rng: random.Random) -> str:
    """Random document inside (mostly) the accepted grammar, biased at
    the quirky edges: valueless attrs, unquoted values with '/',
    quote-adjacent attrs, duplicate attrs, raw elements with '<' in
    their bodies, self-closing raw tags, literal '<' in text."""
    tags = ["div", "span", "p", "b", "i", "ul", "li", "table", "tr",
            "td", "em", "strong", "a", "h1", "section", "DIV", "B"]
    raws = ["script", "style", "title", "textarea", "xmp"]
    parts = ["<!DOCTYPE html><html><body>"]
    depth = 0
    for _ in range(rng.randrange(4, 40)):
        roll = rng.random()
        if roll < 0.35:
            t = rng.choice(tags)
            attrs = ""
            for _ in range(rng.randrange(0, 3)):
                a = rng.choice(["class", "id", "data-x", "x", "CLASS"])
                style = rng.random()
                if style < 0.3:
                    attrs += f' {a}="v{rng.randrange(9)}"'
                elif style < 0.4:
                    attrs += rng.choice([
                        f' {a}="a&amp;b"', f" {a}='&#39;q'",
                        f" {a}='x&y'", f' {a}="&copy"',
                    ])
                elif style < 0.6:
                    attrs += f" {a}='w w'"
                elif style < 0.8:
                    attrs += f" {a}=u{rng.randrange(9)}/x"
                else:
                    attrs += f" {a}"
                    break  # valueless must stay trailing-ish
            parts.append(f"<{t}{attrs}>")
            depth += 1
        elif roll < 0.6 and depth:
            parts.append(f"</{rng.choice(tags)}>")
            depth -= 1
        elif roll < 0.75:
            parts.append(rng.choice([
                "text", "a < b", "  ", "\n\t", "x>y", "中文字",
                "<", "1 << 2", "a & b", "x&", "&; ", "1 && 2",
                "&amp;", "R&D", "&#65; &lt; &#x41;", "&nbsp;x",
                "&notit;", "&#151;", "&bull; item", "&qz nope",
                "fish &amp chips", "line1\r\nline2", "a\rb", "\r\n",
            ]))
        elif roll < 0.8:
            parts.append(f"<!--c{rng.randrange(99)}-->")
        elif roll < 0.88:
            # foreign content: accepted as plain tokens (sticky flag);
            # raw-trigger tags may still follow from the raws branch
            # below, in which case the WHOLE doc bails — the tree
            # differential then exercises the fallback path instead
            root = rng.choice(["svg", "math", "SVG", "Math"])
            inner = []
            for _ in range(rng.randrange(0, 4)):
                ft = rng.choice([
                    "circle", "rect", "path", "mi", "mo", "mrow",
                    "text", "desc", "annotation-xml", "foreignObject",
                    "clipPath", "mGlyph",
                ])
                fa = rng.choice([
                    "", ' r="1"', " viewBox='0 0 8 8'",
                    ' xlink:href="#a"', " definitionURL=u",
                    ' encoding="text/html"', " color=red",
                ])
                if rng.random() < 0.4:
                    inner.append(f"<{ft}{fa}/>")
                else:
                    body = rng.choice([
                        "", "x", "a &amp; b", "&lt;q&gt;", "1 < 2",
                        "<p>html island</p>", "t&#65;il",
                    ])
                    inner.append(f"<{ft}{fa}>{body}</{ft}>")
            close = "" if rng.random() < 0.15 else f"</{root}>"
            parts.append(f"<{root}>{''.join(inner)}{close}")
        else:
            r = rng.choice(raws)
            body = rng.choice([
                "", "var x = 1 < 2;", "a</scr+b", "p { color: red }",
                "doc.write('<tr><td>x</td></tr>')", "</ nope>",
                "<!-- var y = 3; -->", "<!-- a < b --> tail",
                "<!-- w('</q>') -->", "<!--<script>bail</script>-->",
            ])
            close = "" if rng.random() < 0.1 else f"</{r}>"
            parts.append(f"<{r}>{body}{close}")
    parts.append("</body></html>")
    return "".join(parts)


def test_tree_differential_generated():
    rng = random.Random(20260817)
    accepted = 0
    for _ in range(400):
        doc = _gen_wellformed(rng)
        feed = fastscan.make_feed(doc, [])
        if feed is not None:
            accepted += 1
            errs_py: list = []
            tz = Tokenizer(doc, errors=errs_py)
            errs_fast: list = []
            feed2 = fastscan.make_feed(doc, errs_fast)
            assert _drain(feed2) == _drain(tz), doc
            assert errs_fast == errs_py, doc
        on = _tree_snapshot(doc, False)
        off = _with_fastscan_disabled(lambda: _tree_snapshot(doc, False))
        assert on == off, doc
    # foreign+raw combinations bail by design (sticky flag), so the
    # acceptance floor is lower than the pre-foreign generator's 200;
    # the bailed docs still run the tree differential via fallback
    assert accepted >= 150, f"generator drifted out of subset: {accepted}"


# ---------------------------------------------------------------------
# 3. machine-quirk acceptance + bail classes
# ---------------------------------------------------------------------

def _tokens(doc):
    feed = fastscan.make_feed(doc, [])
    assert feed is not None, f"unexpected bail: {fastscan.bail_reason()}"
    return _drain(feed)


def _expect_bail(doc, context=None):
    assert fastscan.make_feed(doc, [], context) is None, doc


def test_quirk_after_attr_name_no_reset():
    # <a x y> -> attrs ("x",""), ("xy","") — the no-reset deviation
    toks = _tokens("<a x y>")
    assert toks[0][3] == [("x", ""), ("xy", "")]
    py = Tokenizer("<a x y>", errors=[])
    assert _drain(fastscan.make_feed("<a x y>", [])) == _drain(py)


def test_quirk_unquoted_value_keeps_slash():
    toks = _tokens("<a href=foo/>")
    assert toks[0][3] == [("href", "foo/")]
    assert toks[0][4] is False  # NOT self-closing


def test_quirk_quote_adjacent_attrs():
    toks = _tokens('<a x="1"y="2">')
    assert toks[0][3] == [("x", "1"), ("y", "2")]


def test_quirk_duplicate_attr_dropped():
    toks = _tokens('<a id="1" id="2">')
    assert toks[0][3] == [("id", "1")]


def test_quirk_literal_lt():
    toks = _tokens("a < b")
    datas = [t[2] for t in toks if t[0] == 4]
    assert datas == ["a ", "<", " b"]


def test_quirk_selfclosing_raw_still_raw():
    # <script/> enters SCRIPT_DATA regardless of self_closing
    toks = _tokens("<script/>var x;</script>")
    assert toks[0][0] == 1 and toks[0][4] is True and toks[0][8] == 3
    assert toks[1][2] == "var x;"


def test_quirk_raw_body_single_token():
    toks = _tokens("<script>if (a<b) { w('<tr>') }</script>")
    assert toks[1][0] == 4
    assert toks[1][2] == "if (a<b) { w('<tr>') }"


def test_quirk_rcdata_near_terminator():
    toks = _tokens("<title>x</titl></title>")
    assert toks[1][2] == "x</titl>"


def test_doctype_simple():
    toks = _tokens("<!DOCTYPE html><p>x</p>")
    assert toks[0][0] == 0 and toks[0][1] == "html"
    assert toks[0][5] is None and toks[0][6] is None and not toks[0][7]
    # garbage before '>' is silently skipped (no PUBLIC/SYSTEM at the
    # post-name position)
    toks = _tokens("<!doctype HTML weird garbage><p>x</p>")
    assert toks[0][1] == "html"


def test_comment_dash_acceptance():
    # comments with "--" runs are error-free and ACCEPTED (r7): token
    # data is text up to the FIRST "-->", trailing run dashes become
    # data ("a----" + ">" -> "a--"), "--!" not followed by '>' is
    # data, and a tail "<!" straddling the terminator closes silently
    for doc, data in [
        ("<!-- a -- b -->", " a -- b "),
        ("<!--a--->", "a-"),
        ("<!--a---->", "a--"),
        ("<!--a--!b-->", "a--!b"),
        ("<!--a--!-->", "a--!"),
        ("<!--a<!-->", "a<!"),
        ("<!--<<<-->", "<<<"),
        ("<!--[if lt IE 9]>x<![endif]-->", "[if lt IE 9]>x<![endif]"),
    ]:
        toks = _tokens(doc)
        assert toks[0][0] == 3 and toks[0][2] == data, (doc, toks[0])
        py = Tokenizer(doc, errors=(perr := []))
        assert _drain(fastscan.make_feed(doc, [])) == _drain(py), doc
        assert perr == [], (doc, perr)


def test_bail_classes():
    # every CR tag shape is now in-subset (data/ws verbatim like the
    # kernel; the ERROR shapes ride the positioned-error mirrors)
    # foreign content is accepted UNTIL a raw-trigger tag appears after
    # the first <svg>/<math> (sticky — even after </svg> closes)
    _expect_bail("<svg><title>t</title></svg>")    # svg-title undo path
    _expect_bail("<svg></svg><title>t</title>")    # sticky after close
    _expect_bail("<math><ms/></math><style>a{}</style>")
    _expect_bail("<svg><foreignObject><script>x</script></foreignObject>")
    # <plaintext> is now ACCEPTED (tokenizer-level switch, remainder =
    # one CHARACTER token; differential + tree tests below)
    # <![CDATA[ / <!x / </3 / "</div >" are now ACCEPTED with exact
    # positioned errors (test_positioned_error_classes below); CDATA
    # stays out only where allow_cdata could be live:
    _expect_bail("<svg><![CDATA[x]]></svg>")       # feedback-coupled
    _expect_bail("x<![CDATA[y]]>", context="div")  # any fragment ctx
    # the attribute machine now runs the exact error mirror: '=' before
    # name, missing value, '/' not before '>', bad name chars
    # (per-BYTE errors), EOF inside a tag — all ACCEPTED
    # (test_attr_error_shapes below); remaining bails are feedback
    # coupling, NULs/surrogates, and charref shapes the decode
    # delegation refuses
    # script data runs the full 18-state DFA mirror now — escaped AND
    # double-escaped bodies are in-subset (parity tests below); no
    # script-body shape bails anymore
    # comment ERROR shapes (abrupt close, EOF, "--!>", nested "<!--")
    # are now ACCEPTED through the exact 10-state comment machine in C
    # (parse_comment_full) with positioned errors — exhaustively
    # differentially tested (101k ≤7-char bodies over {-,!,>,<,a}, 0
    # mismatches); no comment shape bails anymore
    # DOCTYPE error shapes (missing name / missing id quote / missing
    # closing quote) are now ACCEPTED with positioned errors and
    # force_quirks parity (test_doctype_error_shapes below)
    _expect_bail("x", context="title")             # raw fragment context
    _expect_bail("x", context="SCRIPT")


def test_attr_error_shapes():
    """The start-tag attribute machine's error paths are mirrored
    exactly: '=' before a name (recoverable, repeats), missing value
    at '>', per-BYTE bad-name-char errors with a frozen (line, col),
    "unexpected '/' in start tag" ending the tag UNconsumed, silent
    EOF recoveries (token still emitted; unclosed quoted values drop
    the attr and never decode)."""
    docs = [
        "<a =x>t", "<a ==x>t", "<a x=>u", "<a x/ y>v", '<a x"y">w',
        '<a "q"=v>', "<div", "<div ", "<div x", "<a x=",
        '<a x="unclosed', "<a x='u", "<a x=u", "<a x/ >", "<a /b>c",
        "<a b=c d=>", "<a =>", "<a = =>", "<a é=1>x", '<a Ø"µ">y',
        "<a x/", '<a x="v"y=2>z', '<p class="a" "b">t</p>',
        "<a x=y z", '<a x="1" y/ z>tail', "<script x=</script>q",
    ]
    for doc in docs:
        errs_fast: list = []
        feed = fastscan.make_feed(doc, errs_fast)
        assert feed is not None, (doc, fastscan.bail_reason())
        errs_py: list = []
        tz = Tokenizer(doc, errors=errs_py)
        assert _drain(feed) == _drain(tz), doc
        assert errs_fast == errs_py, doc
        raw = doc.encode("utf-8")
        for frag in (False, True):
            on = _tree_snapshot(raw, frag)
            off = _with_fastscan_disabled(
                lambda: _tree_snapshot(raw, frag))
            assert on == off, (doc, frag)


def test_doctype_error_shapes():
    """DOCTYPE error shapes emit the exact positioned error, set
    force_quirks on the token (quirks-mode trees downstream), and
    capture partial ids to EOF lowered, like _parse_doctype."""
    docs = [
        "<!DOCTYPE><p>x",
        "<!DOCTYPE >t",
        "<!DOCTYPE html PUBLIC><table><td>q",   # quirks: no p-in-table
        "<!DOCTYPE html PUBLIC 'unclosed",
        "<!DOCTYPE html SYSTEM >x",
        '<!DOCTYPE html PUBLIC "a" "unclosed2>rest',
        "<!DOCTYPE html PUBLIC foo>y",
        "<!DOCTYPE",
        "<!DOCTYPE\nhtml\nSYSTEM>q",            # position after newlines
    ]
    for doc in docs:
        errs_fast: list = []
        feed = fastscan.make_feed(doc, errs_fast)
        assert feed is not None, (doc, fastscan.bail_reason())
        errs_py: list = []
        tz = Tokenizer(doc, errors=errs_py)
        assert _drain(feed) == _drain(tz), doc
        assert errs_fast == errs_py and errs_py, doc
        raw = doc.encode("utf-8")
        on = _tree_snapshot(raw, False)
        off = _with_fastscan_disabled(lambda: _tree_snapshot(raw, False))
        assert on == off, doc


def test_positioned_error_classes():
    """Round-7 widening: the scanner now ACCEPTS three error-emitting
    classes — bogus markup declarations ("<!x", "<?", "<![CDATA[" with
    allow_cdata provably false), the literal-'<' invalid end tag
    ("</" + non-alpha), and end tags with trailing garbage/attributes
    — emitting the exact positioned "line=N col=M: msg" strings at
    pull time.  Positions count UTF-8 BYTES with '\\n' resetting col,
    and bytes inside raw-scan ranges are excluded (the reference's
    deliberately stale semantics; skipped-range parity asserted)."""
    docs = [
        "<?php echo 1; ?><p>x</p>",
        "<!x y><b>q</b>",
        "<![CDATA[q]]>tail",            # allow_cdata false -> bogus
        "</><p>a",
        "</3>text",
        "</ x>more",
        "</",                            # EOF right after "</"
        "</div >after",
        '</div foo="1">b',
        "</div",                         # EOF in end-tag name: silent
        "<p>a</p\r>t",                  # CR is garbage in an end tag
        "line1\ntext</3>after",          # col resets at newline
        "<p>héllo</3>x",            # 2-byte char widens col
        "<title>x</title></3>z",         # stale across RCDATA scan
        "<script>a</script></3>z",       # stale across script scan
        "<!doctype html><p>x<!bogus>y<?pi?></q>",
    ]
    for doc in docs:
        errs_fast: list = []
        feed = fastscan.make_feed(doc, errs_fast)
        assert feed is not None, (doc, fastscan.bail_reason())
        errs_py: list = []
        tz = Tokenizer(doc, errors=errs_py)
        assert _drain(feed) == _drain(tz), doc
        assert errs_fast == errs_py, doc
        # where the Python machine positions an error, the C string is
        # byte-identical ("<?" is the error-FREE literal-'<' deviation
        # and "</div" at EOF is silent — those legitimately emit none)
        if errs_py:
            assert errs_fast == errs_py and all(
                e == p for e, p in zip(errs_fast, errs_py)), doc
        assert list(feed.skipped) == list(tz.skipped), doc
        raw = doc.encode("utf-8")
        for frag in (False, True):
            on = _tree_snapshot(raw, frag)
            off = _with_fastscan_disabled(
                lambda: _tree_snapshot(raw, frag))
            assert on == off, (doc, frag)


def test_doctype_ids_accepted_and_tree_equal():
    """Well-formed PUBLIC/SYSTEM doctypes are in the subset; the ids
    must surface on the token (ASCII-lowered, like _parse_doctype)
    and drive the builder's quirks-mode decision identically."""
    docs = [
        '<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Transitional//EN"'
        ' "http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd">'
        "<html><body><p>x<table><td>y</table>",
        # quirks-triggering public id prefix (HTML 4.01 Transitional
        # without system id -> limited quirks / quirks per the tables)
        "<!DOCTYPE HTML PUBLIC '-//W3C//DTD HTML 4.01 Transitional//EN'>"
        "<p>q<table><td>z</table>",
        "<!DOCTYPE html SYSTEM 'about:legacy-compat'><p>s",
        '<!DOCTYPE html PUBLIC "-//A//B//EN" junk trailing><i>t',
        '<!doctype html public "MiXeD CaSe Id"\'second\'><b>u',
        '<!DOCTYPE html PUBLIC "a"',  # EOF after closed id, no '>'
    ]
    for doc in docs:
        feed = fastscan.make_feed(doc, [])
        assert feed is not None, (doc, fastscan.bail_reason())
        errs_py: list = []
        tz = Tokenizer(doc, errors=errs_py)
        errs_fast: list = []
        feed2 = fastscan.make_feed(doc, errs_fast)
        assert _drain(feed2) == _drain(tz), doc
        assert errs_fast == errs_py, doc
        raw = doc.encode("utf-8")
        on = _tree_snapshot(raw, False)
        off = _with_fastscan_disabled(lambda: _tree_snapshot(raw, False))
        assert on == off, doc


def test_escaped_script_accepted_and_tree_equal():
    """Script bodies run the exact 18-state script-data DFA mirror
    (_fastscan.c script_end_scan): escaped AND double-escaped bodies
    are in-subset — a "</script>" inside a DOUBLE-escaped region stays
    body text (the classic "<!--<script>...</script>-->" pattern), and
    the classic early-termination trap (a quoted "</script>" inside a
    merely-escaped comment ENDS the element) also matches."""
    docs = [
        "<script><!-- var x = 1; --></script><p>a",
        "<script><!-- if (a<b) { f(); } --></script>b",
        "<script><!-- x --> y <!-- z --></script>c",
        "<script><!--</script>after",
        "<script><!-- w('</script>') --></script>trap",
        "<script><!-- unterminated",
        "<script><!-x<script>inert</script>h",
        # double-escape family (inner ci "<script" after "<!--"):
        # inner </script> flips back to ESCAPED, body continues
        "<script><!--<script>x</script>--></script>tail",
        "<script><!--<SCRIPT y</script>",           # EOF double-escaped
        "<script><!--<script>x</script>y</script>-->z</script>t",
        "<script><!--<script a>--x</script>rest</script>after",
        "<script><!--<script></scripty></script></script>",
        "<script><!--<script>--></script>done",     # --> exits to data
        "<script><!--<script></script",             # EOF mid end-name
        "<script>",                                 # EOF, empty raw body
    ]
    for doc in docs:
        feed = fastscan.make_feed(doc, [])
        assert feed is not None, (doc, fastscan.bail_reason())
        errs_py: list = []
        tz = Tokenizer(doc, errors=errs_py)
        errs_fast: list = []
        feed2 = fastscan.make_feed(doc, errs_fast)
        assert _drain(feed2) == _drain(tz), doc
        assert errs_fast == errs_py, doc
        raw = doc.encode("utf-8")
        for frag in (False, True):
            on = _tree_snapshot(raw, frag)
            off = _with_fastscan_disabled(
                lambda: _tree_snapshot(raw, frag))
            assert on == off, (doc, frag)


def test_foreign_content_accepted_and_tree_equal():
    """<svg>/<math> docs without raw-trigger tags are in the subset;
    the full parse (C feed -> Python tree builder, incl. namespace
    handling, attribute adjustment, breakout, integration points) must
    equal the pure-Python path byte-for-byte."""
    docs = [
        "<p><svg><circle r='1'/><text>hi &amp; bye</text></svg><i>t</i>",
        "<math><mi>x</mi><mo>+</mo><annotation-xml encoding='text/html'>"
        "<p>island</p></annotation-xml></math>",
        "<svg><foreignObject><div><b>html</b> inside</div>"
        "</foreignObject><path d='M0 0'/></svg>",
        "<svg viewBox='0 0 4 4'><clipPath clipPathUnits='a'/>"
        "<desc>1 < 2 &lt; 3</desc></svg>after",
        # breakout: <font color> exits foreign content builder-side
        "<svg><font color=red>breakout</font></svg>tail",
        # unclosed foreign at EOF
        "<math><mrow><mi>q</mi>",
        # foreign re-entry + mixed case + namespaced attr
        "<SVG xlink:href='#a'><rect/></SVG><p>x<Math><mn>7</mn></Math>",
        # self-closing root: builder never enters foreign, flag sticky
        "<svg/><div>plain</div>",
    ]
    for doc in docs:
        feed = fastscan.make_feed(doc, [])
        assert feed is not None, (doc, fastscan.bail_reason())
        errs_py: list = []
        tz = Tokenizer(doc, errors=errs_py)
        errs_fast: list = []
        feed2 = fastscan.make_feed(doc, errs_fast)
        assert _drain(feed2) == _drain(tz), doc
        assert errs_fast == errs_py, doc
        raw = doc.encode("utf-8")
        for frag in (False, True):
            on = _tree_snapshot(raw, frag)
            off = _with_fastscan_disabled(
                lambda: _tree_snapshot(raw, frag))
            assert on == off, (doc, frag)


def test_foreign_fragment_contexts_tree_equal():
    """Fragment parses with svg/math CONTEXT tags: the context root is
    created as an HTML-namespace element (treebuilder fragment setup),
    so the scanner's DATA-state start assumption holds; trees must
    match with the accelerator on and off."""
    for ctx in ("svg", "math", "mi", "foreignObject", "annotation-xml"):
        for doc in ("<circle r='1'/>text", "<svg><rect/></svg>",
                    "<b>bold</b> &amp; plain"):
            raw = doc.encode("utf-8")
            on = (dump_ascii(parse_fragment(raw, ctx).doc),
                  list(parse_fragment(raw, ctx).errors))
            off = _with_fastscan_disabled(lambda: (
                dump_ascii(parse_fragment(raw, ctx).doc),
                list(parse_fragment(raw, ctx).errors)))
            assert on == off, (ctx, doc)


def test_shared_empty_attrs_never_mutated():
    # the feed hands one shared [] to every attr-less token; a full
    # parse through the builder must leave it empty
    doc = "<!DOCTYPE html><p>x<b>y</b></p><table><tr><td>z</td></tr></table>"
    r = parse_document(doc)
    assert r.doc is not None
    mod = fastscan._load()
    feed = mod.make_feed(doc, [])
    t = feed.next()
    while t.type != TOKEN_EOF:
        if t.type != 1:
            assert list(t.attrs) == []
        t = feed.next()


def test_errors_list_is_shared_and_untouched():
    errs: list = []
    feed = fastscan.make_feed("<p>x</p>", errs)
    assert feed is not None
    assert feed.errors is errs
    _drain(feed)
    assert errs == []


# ---------------------------------------------------------------------
# 4. interleaved-instance cache-bleed smoke (pins in-suite the property
#    the differential fuzzer's interleave campaign checked)
# ---------------------------------------------------------------------

def test_interleaved_instances_no_cache_bleed():
    # advance 8 live feeds (fastscan + Python mixed) round-robin; every
    # stream must equal a fresh solo tokenizer's — the shared scratch
    # token, _LOWER_CACHE, and the shared empty-attrs list must not
    # leak state across live instances
    rng = random.Random(20260817)
    texts = [_gen_wellformed(rng) for _ in range(8)]
    want = []
    for t in texts:
        tz = Tokenizer(t, errors=[])
        want.append(_drain(tz))
    feeds = []
    for i, t in enumerate(texts):
        f = fastscan.make_feed(t, []) if i % 2 == 0 else None
        if f is None:
            f = Tokenizer(t, errors=[], reuse_token=True)
        feeds.append(f)
    streams = [[] for _ in texts]
    live = list(range(len(texts)))
    while live:
        for i in list(live):
            f = feeds[i]
            t = f.next()
            streams[i].append((
                t.type, t.name, t.data, list(t.attrs),
                bool(t.self_closing), t.public_id, t.system_id,
                bool(t.force_quirks), f.state,
            ))
            if t.type == TOKEN_EOF:
                live.remove(i)
    for i in range(len(texts)):
        assert streams[i] == want[i], texts[i][:200]


# ---------------------------------------------------------------------
# 5. charref delegation: the scanner hands '&'-bearing regions to the
#    Python kernel's decode_character_references, so decoded text AND
#    error strings are identical by construction; errors surface at
#    token-production time (pull), preserving interleaving with
#    builder-side errors
# ---------------------------------------------------------------------

def test_charref_decode_parity():
    cases = [
        "a &amp; b", "&amp", "&#65;&#x41;", "&notit;", "&qz x",
        "<p a='&amp;1' b=x&amp;y>t&lt;u</p>",
        "<title>&amp; &#9731;</title>",
        "a &#0; b", "&#xD801;", "&#151;", "x &bull; y",
        "&CounterClockwiseContourIntegral; ok", "&#x110000;",
        "&#xfdd0;", "pre &amp post", "<p title='&quot;q&quot;'>x</p>",
        "<textarea>&lt;raw&gt;</textarea>",
    ]
    for s in cases:
        errs_f: list = []
        feed = fastscan.make_feed(s, errs_f)
        assert feed is not None, (s, fastscan.bail_reason())
        errs_p: list = []
        tz = Tokenizer(s, errors=errs_p)
        assert _drain(feed) == _drain(tz), s
        assert errs_f == errs_p, s


def test_charref_error_interleaving_with_builder_errors():
    # charref errors are appended when the token is PULLED, so the
    # combined error list (builder + tokenizer) keeps the reference's
    # chronological order through a full parse
    doc = "<table>&#0;x</table>&#xD801;"
    on = _tree_snapshot(doc, False)
    off = _with_fastscan_disabled(lambda: _tree_snapshot(doc, False))
    assert on == off
    assert "null-character-reference" in on[2]


def test_charref_full_parse_golden_shapes():
    docs = [
        "<!DOCTYPE html><p>Fish &amp; Chips &copy; 2024</p>",
        "<!DOCTYPE html><a href='?a=1&amp;b=2'>x&nbsp;y</a>",
        "<!DOCTYPE html><title>A &lt; B</title><p>&#x1F600;</p>",
        "<ul><li>&bull; one<li>&bull; two</ul>",
    ]
    for doc in docs:
        on = _tree_snapshot(doc, False)
        off = _with_fastscan_disabled(lambda: _tree_snapshot(doc, False))
        assert on == off, doc
        assert fastscan.make_feed(doc, []) is not None, doc


def test_interleaved_positioned_errors_stay_per_feed():
    """Two live feeds over different error-bearing documents, advanced
    alternately: each shared errors list receives exactly its own
    document's positioned errors, in its own order (pending errors are
    per-scan state, surfaced at pull time on the owning feed)."""
    d1 = "<!x one><p>a</p></3>t"
    d2 = '<a =q><a b=>done</div >'
    e1: list = []
    e2: list = []
    f1 = fastscan.make_feed(d1, e1)
    f2 = fastscan.make_feed(d2, e2)
    assert f1 is not None and f2 is not None
    t1 = t2 = None
    while not (t1 is not None and t1.type == TOKEN_EOF
               and t2 is not None and t2.type == TOKEN_EOF):
        if t1 is None or t1.type != TOKEN_EOF:
            t1 = f1.next()
        if t2 is None or t2.type != TOKEN_EOF:
            t2 = f2.next()
    p1: list = []
    p2: list = []
    _drain(Tokenizer(d1, errors=p1))
    _drain(Tokenizer(d2, errors=p2))
    assert e1 == p1 and e2 == p2
    assert p1 and p2  # both documents genuinely error
