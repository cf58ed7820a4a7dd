"""Unit tests for kernel components (tokenizer, charrefs, encoding,
extraction, fast path). Complements the golden byte-equality suite."""

import pytest

from html_parser_spark.kernel import encoding as enc
from html_parser_spark.kernel.api import parse_document, parse_fragment
from html_parser_spark.kernel.charref import decode_character_references
from html_parser_spark.kernel.tokenizer import (
    TOKEN_CHARACTER, TOKEN_END_TAG, TOKEN_EOF, TOKEN_START_TAG, Tokenizer,
    replace_nulls,
)
from html_parser_spark.spark.udfs import fast_extract, parse_turn


def _tokens(text, context=None):
    tz = Tokenizer(text, context)
    out = []
    while True:
        t = tz.next()
        out.append(t)
        if t.type == TOKEN_EOF:
            return out, tz


class TestPreprocess:
    def test_crlf_and_nul(self):
        assert replace_nulls("a\r\nb\rc\x00d") == "a\nb\nc�d"

    def test_lone_cr_fast_path_kept(self):
        # reference fast path: no CRLF, no NUL -> unchanged (bug-compat)
        assert replace_nulls("a\rb") == "a\rb"

    def test_empty(self):
        assert replace_nulls("") == ""


class TestCharrefs:
    def test_named_longest_match(self):
        assert decode_character_references("&notin;", False, []) == "∉"

    def test_legacy_no_semicolon(self):
        assert decode_character_references("&amp x", False, []) == "& x"

    def test_legacy_blocked_by_alnum(self):
        assert decode_character_references("&ampx", False, []) == "&ampx"

    def test_attr_equals_blocks(self):
        assert decode_character_references("&amp=", True, []) == "&amp="
        assert decode_character_references("&amp=", False, []) == "&="

    def test_numeric_corrections(self):
        errs = []
        assert decode_character_references("&#0;", False, errs) == "�"
        assert decode_character_references("&#xD800;", False, errs) == "�"
        assert decode_character_references("&#x80;", False, errs) == "€"
        assert decode_character_references("&#xFDD0;", False, errs) == "﷐"

    def test_numeric_no_semicolon(self):
        assert decode_character_references("&#65 x", False, []) == "A x"

    def test_bare_hash(self):
        assert decode_character_references("&#x;", False, []) == "&#x;"

    def test_newline_entity_excluded(self):
        # the reference's TSV loader drops the NewLine entity
        assert decode_character_references("&NewLine;", False, []) == "&NewLine;"


class TestTokenizer:
    def test_coalesced_text_run(self):
        toks, _ = _tokens("hello world")
        assert toks[0].type == TOKEN_CHARACTER and toks[0].data == "hello world"

    def test_end_tag_nonalpha_literal_lt(self):
        toks, tz = _tokens("</ x>")
        assert toks[0].type == TOKEN_CHARACTER and toks[0].data == "<"
        assert tz.errors  # invalid end tag

    def test_duplicate_attr_dropped(self):
        toks, _ = _tokens("<a x=1 x=2>")
        assert toks[0].attrs == [("x", "1")]

    def test_attr_name_buffer_quirk(self):
        # AFTER_ATTR_NAME does not reset the name buffer (C quirk)
        toks, _ = _tokens("<a face class=1>")
        assert toks[0].attrs == [("face", ""), ("faceclass", "1")]

    def test_script_double_escape(self):
        text = "<script><!--<script>a</script>b--></script>"
        toks, _ = _tokens(text)
        assert toks[0].type == TOKEN_START_TAG
        assert toks[1].type == TOKEN_CHARACTER
        assert toks[1].data == "<!--<script>a</script>b-->"
        assert toks[2].type == TOKEN_END_TAG

    def test_comment_edges(self):
        for text, want in [
            ("<!-->", ""),
            ("<!--->", ""),
            ("<!-- a --!>", " a "),
            ("<!-- -- -->", " -- "),
        ]:
            toks, _ = _tokens(text)
            assert toks[0].data == want, text

    def test_plaintext_never_exits(self):
        toks, _ = _tokens("<plaintext>a</plaintext>b")
        assert toks[1].data == "a</plaintext>b"

    def test_rcdata_decodes_refs(self):
        toks, _ = _tokens("<title>a &amp; b</title>")
        assert toks[1].data == "a & b"

    def test_rawtext_keeps_refs(self):
        toks, _ = _tokens("<style>a &amp; b</style>")
        assert toks[1].data == "a &amp; b"


class TestEncoding:
    def test_bom_precedence(self):
        r = enc.sniff_and_convert("﻿hi".encode("utf-8"))
        assert r.encoding == "UTF-8" and r.confidence == enc.CONF_CERTAIN
        assert r.text == "hi"

    def test_utf16le(self):
        r = enc.sniff_and_convert(b"\xff\xfeh\x00i\x00")
        assert r.encoding == "UTF-16LE" and r.text == "hi"

    def test_utf16_odd_trailing_byte(self):
        r = enc.sniff_and_convert(b"\xff\xfeh\x00i")
        assert r.text == "h�"

    def test_meta_prescan(self):
        raw = b"<html><meta charset='windows-1252'>\x93"
        r = enc.sniff_and_convert(raw)
        assert r.encoding == "windows-1252"
        assert r.text.endswith("“")

    def test_meta_prescan_limit_1024(self):
        raw = b" " * 1024 + b"<meta charset='windows-1252'>"
        r = enc.sniff_and_convert(raw)
        assert r.encoding == "UTF-8"

    def test_label_resolution(self):
        assert enc.resolve_label(" LATIN1 ") == "windows-1252"
        assert enc.resolve_label("unknown-enc") is None

    def test_reencode_on_late_meta(self):
        # meta past the prescan window triggers §13.2.3.5 re-parse
        raw = b"<html>" + b"<!-- " + b"x" * 1100 + b" -->" + \
            b"<head><meta charset=windows-1252></head>\x93"
        res = parse_document(raw)
        assert res.encoding == "windows-1252"
        text, _ = res.extract_text()
        assert "“" in text

    def test_x_user_defined(self):
        r = enc.sniff_and_convert(b"a\xff", "x-user-defined")
        assert r.text == "a"

    def test_iso2022jp(self):
        # the reference's output-flag security rule emits U+FFFD on the
        # escape-back-to-ASCII transition after emitted kanji — verified
        # against the C binary on these exact bytes
        raw = b"\x1b$B$3$s$K$A$O\x1b(B"
        r = enc.sniff_and_convert(raw, "iso-2022-jp")
        assert r.text == "こんにちは�"


class TestExtraction:
    def test_spans_offsets(self):
        res = parse_fragment("<p>ab</p><p>cd</p>", "div")
        text, spans = res.extract_text()
        assert text == "abcd"
        assert [(s["start"], s["end"], s["path"]) for s in spans] == [
            (0, 2, "p"), (2, 4, "p"),
        ]

    def test_whitespace_only_dropped(self):
        res = parse_fragment("<p>  </p>", "div")
        text, spans = res.extract_text()
        assert text == "" and spans == []

    def test_document_paths(self):
        res = parse_document("<!DOCTYPE html><p>hi</p>")
        text, spans = res.extract_text()
        assert text == "hi"
        assert spans[0]["path"] == "html/body/p"


@pytest.mark.parametrize("mode,context", [
    ("fragment", "div"), ("fragment", "td"), ("fragment", "select"),
    ("fragment", "template"), ("fragment", "title"), ("document", "div"),
])
def test_fast_path_equivalence(mode, context):
    samples = ["", " ", "  \n\t ", "hello", "hi &amp; x", "&#32;", "&#9;",
               "a\x00b", "\r\nx", "x\r", "&bogus; &not x", "&#xD800;done",
               "word " * 30]
    for s in samples:
        fast = fast_extract(s, mode, context)
        full = parse_document(s) if mode == "document" else \
            parse_fragment(s, context)
        ext, spans = full.extract_text()
        want = (ext, spans, full.error_count, full.node_count,
                full.encoding or "UTF-8", full.errors)
        assert fast == want, (mode, context, s)


def test_parse_turn_raw_context_uses_full_parser():
    # script context: charrefs must NOT decode
    ext, spans, errs, nodes, _, _ = parse_turn(
        "a &amp; b", "fragment", "script")
    assert ext == "a &amp; b"


def _turn_batches():
    """Arrow batches of transcript turns: hand-written rows (NULL text,
    a turn with several links, markup-free turns), an empty batch, a
    batch without any link, then generated turns in small batches."""
    import datetime

    import pyarrow as pa

    from html_parser_spark.spark.transcripts import generate_rows

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()),
        ("tool", pa.string()), ("ts", pa.timestamp("us")),
    ])
    t0 = datetime.datetime(2020, 1, 1)
    hand = [
        ("h0", 0, "user", None, None, t0),
        ("h0", 1, "assistant",
         '<p>see <a href="https://a.example/x">one</a>, '
         '<a href=/rel>two <b>bold</b></a> and <a>no href</a>'
         '<a href="">empty</a></p>', "search", t0),
        ("h0", 2, "user", "plain &amp; simple\r\n", None, t0),
        ("h1", 0, "user", "", "calc", t0),
        ("h1", 1, "assistant", "  \n\t", None, t0),
    ]
    no_links = [("h2", j, "user", text, None, t0) for j, text in
                enumerate(["<b>bold</b> only", "no markup", None])]
    generated = generate_rows(240, seed=5, include_fixtures=False)

    def batch(rows):
        cols = list(zip(*rows)) or [[] for _ in schema]
        return pa.RecordBatch.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, schema)],
            schema=schema)

    batches = [batch(hand), batch([]), batch(no_links)]
    batches += [batch(generated[i:i + 64])
                for i in range(0, len(generated), 64)]
    return batches


def _run_kernel(fn, batches, cols):
    outs = list(fn(iter(b.select(cols) for b in batches)))
    assert len(outs) == len(batches)
    return outs


@pytest.mark.parametrize("mode,boilerplate", [
    ("fragment", False), ("document", False), ("document", True),
])
def test_extract_batch_matches_parse_turn(mode, boilerplate):
    from html_parser_spark.spark.pipeline import PASSTHROUGH
    from html_parser_spark.spark.udfs import (
        EXTRACT_FIELDS, make_extract_map_in_arrow,
    )

    batches = _turn_batches()
    fn = make_extract_map_in_arrow(PASSTHROUGH, mode, "div", boilerplate)
    outs = _run_kernel(fn, batches, PASSTHROUGH + ["text"])
    names = [f.name for f in EXTRACT_FIELDS]
    for inp, out in zip(batches, outs):
        assert out.schema.names == PASSTHROUGH + names
        assert out.num_rows == inp.num_rows
        for c in PASSTHROUGH:
            assert out.column(c).equals(inp.column(c))
        got = list(zip(*(out.column(n).to_pylist() for n in names)))
        for text, row in zip(inp.column("text").to_pylist(), got):
            want = parse_turn(text, mode, "div", boilerplate)
            assert row[:5] == tuple(want[:5]), text
            assert row[5] == list(want[5]), text


def test_dump_batch_matches_parse():
    from html_parser_spark.spark.udfs import (
        DUMP_FIELDS, _map_batches, dump_row,
    )

    batches = _turn_batches()
    keys = ["conv_id", "turn_idx"]
    fn = _map_batches(["text"], keys, DUMP_FIELDS,
                      dump_row("fragment", "div"))
    outs = _run_kernel(fn, batches, keys + ["text"])
    for inp, out in zip(batches, outs):
        assert out.num_rows == inp.num_rows
        for c in keys:
            assert out.column(c).equals(inp.column(c))
        got = list(zip(*(out.column(n).to_pylist() for n in (
            "dump", "serialized_html", "extracted_text", "parse_errors"))))
        for text, row in zip(inp.column("text").to_pylist(), got):
            res = parse_fragment(text or "", "div")
            assert row == (res.dump(), res.serialize(),
                           res.extract_text()[0], res.error_count), text


def test_links_batch_matches_collect_links():
    from html_parser_spark.kernel.extract import collect_links
    from html_parser_spark.spark.udfs import (
        LINK_FIELDS, _map_batches, links_row,
    )

    batches = _turn_batches()
    keys = ["conv_id", "turn_idx"]
    fn = _map_batches(["text"], keys, LINK_FIELDS,
                      links_row("fragment", "div"))
    outs = _run_kernel(fn, batches, keys + ["text"])
    for inp, out in zip(batches, outs):
        assert out.schema.names == keys + ["link_idx", "href",
                                           "anchor_text"]
        assert out.schema.field("turn_idx").type == \
            inp.schema.field("turn_idx").type
        want = [
            (conv, turn, k, href, anchor)
            for conv, turn, text in zip(*(inp.column(c).to_pylist()
                                          for c in keys + ["text"]))
            for k, (href, anchor) in enumerate(
                collect_links(parse_fragment(text or "", "div").doc))
        ]
        got = list(zip(*(out.column(n).to_pylist() for n in
                         out.schema.names)))
        assert got == want
    # the multi-link turn repeats its keys once per link; the empty and
    # link-free batches yield no rows
    assert [r[:3] for r in zip(*(outs[0].column(n).to_pylist()
                                 for n in keys + ["link_idx"]))] == [
        ("h0", 1, 0), ("h0", 1, 1), ("h0", 1, 2)]
    assert outs[1].num_rows == 0 and outs[2].num_rows == 0


# Hand rows for the memory tests: each exercises a tree shape with an
# extra back-reference or a builder rewrite.
_CYCLE_TEXTS = [
    None,
    # form_owner: controls point at their form
    "<form id=f><input name=a><select><option>1</select>"
    "<textarea>t</textarea></form><input form=f><button>b</button>",
    # foster parenting out of a table
    "<table><b>fostered</b><tr>text<td>cell</td></tr></table>",
    # adoption agency misnesting
    "<b>1<i>2</b>3</i><a href=x><p>4</a>5</p><p><b><i><u>6</p>7",
    "<template><p>in template</p><tr><td>t</td></tr></template>after",
    # late <meta> past the prescan window: the builder restarts
    "<html><head><title>" + "t" * 1100
    + "</title><meta charset=windows-1251></head><body><p>x</p>",
]


def _cycle_batches():
    """Batches of the hand rows, then generated turns."""
    import datetime

    import pyarrow as pa

    from html_parser_spark.spark.transcripts import generate_rows

    t0 = datetime.datetime(2020, 1, 1)
    rows = [("m0", j, "user", text, None, t0)
            for j, text in enumerate(_CYCLE_TEXTS)]
    rows += generate_rows(240, seed=7, include_fixtures=False)
    names = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    return [pa.RecordBatch.from_pylist(
        [dict(zip(names, r)) for r in rows[i:i + 64]])
        for i in range(0, len(rows), 64)]


def _kernel_fn(kernel):
    """(batch function, input columns) for one batch kernel."""
    from html_parser_spark.spark import udfs
    from html_parser_spark.spark.raw_documents import _parse_raw

    keys = ["conv_id", "turn_idx"]
    if kernel == "raw":
        return (udfs._map_batches(["content", "charset_hint"], keys,
                                  udfs.EXTRACT_FIELDS, _parse_raw),
                keys + ["content", "charset_hint"])
    if kernel == "dump":
        return (udfs._map_batches(["text"], keys, udfs.DUMP_FIELDS,
                                  udfs.dump_row()), keys + ["text"])
    if kernel == "links":
        return (udfs._map_batches(["text"], keys, udfs.LINK_FIELDS,
                                  udfs.links_row()), keys + ["text"])
    mode, context, boilerplate = {
        "extract_fragment": ("fragment", "div", False),
        "extract_template": ("fragment", "template", False),
        "extract_document": ("document", "div", False),
        "extract_boilerplate": ("document", "div", True),
    }[kernel]
    return (udfs.make_extract_map_in_arrow(keys, mode, context, boilerplate),
            keys + ["text"])


def _kernel_inputs(batches, cols):
    import pyarrow as pa

    if "content" not in cols:
        return [b.select(cols) for b in batches]
    out = []
    for b in batches:
        content = pa.array(
            [None if t is None else t.encode("utf-8", "surrogatepass")
             for t in b.column("text").to_pylist()], pa.binary())
        hint = pa.array([None] * b.num_rows, pa.string())
        out.append(pa.RecordBatch.from_arrays(
            [b.column("conv_id"), b.column("turn_idx"), content, hint],
            names=cols))
    return out


@pytest.mark.parametrize("kernel", [
    "extract_fragment", "extract_template", "extract_document",
    "extract_boilerplate", "dump", "links", "raw",
])
def test_batch_kernel_leaves_no_cyclic_garbage(kernel):
    """Every tree a kernel builds is freed by reference counting: a
    pass with the cyclic collector off leaves nothing for it. Includes
    a template fragment context and a late-<meta> restart, whose extra
    trees the row functions never see."""
    import gc

    from html_parser_spark.spark import udfs

    fn, cols = _kernel_fn(kernel)
    batches = _kernel_inputs(_cycle_batches(), cols)
    list(fn(iter(batches)))  # warm: calibration, fast-scan load, imports
    udfs._PARSE_CACHE.clear()
    was_enabled = gc.isenabled()
    gc.collect()
    gc.disable()
    try:
        outs = list(fn(iter(batches)))
        garbage = gc.collect()
    finally:
        if was_enabled:
            gc.enable()
    assert sum(o.num_rows for o in outs) > 0
    assert garbage == 0


def test_map_batches_restores_collector_state():
    import gc

    import pyarrow as pa

    from html_parser_spark.spark.udfs import _map_batches

    seen: list = []

    def row(x):
        seen.append(gc.isenabled())
        if x == "boom":
            raise ValueError(x)
        return [(x,)]

    def batch(xs):
        return pa.RecordBatch.from_arrays([pa.array(xs, pa.string())],
                                          names=["x"])

    fn = _map_batches(["x"], [], [pa.field("y", pa.string())], row)
    was_enabled = gc.isenabled()
    try:
        gc.enable()
        gen = fn(iter([batch(["a"]), batch(["b", "c"])]))
        next(gen)
        # suspended at its yield: the collector runs again
        assert gc.isenabled()
        assert next(gen).column(0).to_pylist() == ["b", "c"]
        assert gc.isenabled()
        assert seen == [False, False, False]
        with pytest.raises(ValueError):
            list(fn(iter([batch(["ok", "boom"])])))
        assert gc.isenabled()

        gc.disable()
        list(fn(iter([batch(["a"])])))
        assert not gc.isenabled()
        with pytest.raises(ValueError):
            list(fn(iter([batch(["boom"])])))
        assert not gc.isenabled()
    finally:
        if was_enabled:
            gc.enable()
        else:
            gc.disable()


def _recursive_collect_blocks(root):
    """The recursive block walk that the iterative one replaced: the
    oracle for its block order, paths and flush points."""
    from html_parser_spark.kernel import boilerplate as bp
    from html_parser_spark.kernel.tree import COMMENT, ELEMENT, TEXT

    blocks: list = []
    cur = bp._Block()

    def flush():
        nonlocal cur
        if cur.texts:
            blocks.append(cur)
            cur = bp._Block()

    def walk(node, path, in_link):
        if node.type == TEXT:
            data = node.data or ""
            if data:
                cur.add(data, path, in_link)
            return
        if node.type == COMMENT:
            return
        if node.type == ELEMENT:
            name = node.name or ""
            if name in bp._PRUNE_TAGS or bp._looks_navigational(node):
                return
            child_path = f"{path}/{name}" if path else name
            is_block = name in bp._BLOCK_TAGS
            if is_block:
                flush()
            link = in_link or name == "a"
            for child in node.children:
                walk(child, child_path, link)
            if is_block:
                flush()
            return
        for child in node.children:
            walk(child, path, in_link)

    walk(root, "", False)
    flush()
    return blocks


_BLOCK_PAGES = [
    "<div class='nav'><a href='/'>Home</a> <a href='/a'>About</a></div>"
    "<article><p>This is the actual article content, a long paragraph "
    "of prose that any boilerplate scorer should retain.</p>"
    "<p>And here is a second paragraph with enough stopwords.</p>"
    "</article><footer>(c) <a href='#'>terms</a></footer>",
    "<header><h1>Site</h1><ul><li><a href=/1>One</a><li><a href=/2>Two"
    "</a></ul></header><main><h2>Title of it</h2><p>It is a short one."
    "<p>Lead <a href=/x>linked words in the text</a> and the rest of "
    "it.</p><!-- c --><div id=sidebar-menu>menu</div><div>tail text "
    "<span>inline <b>bold</b></span> more<div>nested block</div>after"
    "</div></main>",
    "<ul>" + "".join(f"<li><a href=/p{i}>Link {i}</a> | <a href=/q{i}>"
                     f"is it {i}</a></li>" for i in range(30)) + "</ul>"
    "<table><tr><td>cell of the table<td><a href=/t>a link</a> to it"
    "</table><pre>pre\ntext</pre><blockquote>to be or not to be"
    "</blockquote>",
]


def test_block_walk_matches_recursive_walk(monkeypatch):
    from html_parser_spark.kernel import boilerplate as bp
    from html_parser_spark.spark.transcripts import generate_rows

    texts = [r[3] for r in generate_rows(2000, seed=5,
                                         include_fixtures=False)]
    roots = [parse_document(t).doc for t in texts if t is not None]
    roots += [parse_document(t).doc for t in _BLOCK_PAGES]
    roots += [parse_fragment(t, "div").doc for t in _BLOCK_PAGES]

    def shape(blocks):
        return [(b.texts, b.n_chars, b.link_chars) for b in blocks]

    new = [bp.strip_boilerplate(r) for r in roots]
    for r in roots:
        assert shape(bp._collect_blocks(r)) == \
            shape(_recursive_collect_blocks(r))
    monkeypatch.setattr(bp, "_collect_blocks", _recursive_collect_blocks)
    assert new == [bp.strip_boilerplate(r) for r in roots]
    assert any(kept for _, _, kept, _ in new)
    assert any(kept < total for _, _, kept, total in new)


class TestDeepNesting:
    """Stack-cap (256) silent-drop and dump prefix-truncation parity,
    compared live against the reference binary."""

    CASES = [
        "<div>" * 300 + "deep" + "</div>" * 300,
        "<b>" * 500 + "x",
        "<span>" * 260 + "y" + "</span>" * 10,
        "<table>" * 100 + "<td>z",
        "<svg>" * 300 + "w",
    ]

    def test_deep_nesting_matches_reference(self, refbuild):
        import subprocess

        for text in self.CASES:
            path = "/tmp/_deep_case.html"
            with open(path, "w") as f:
                f.write(text)
            p = subprocess.run(["./parse_html", path], cwd=refbuild,
                               capture_output=True, timeout=60)
            out = p.stdout.decode("utf-8", errors="surrogateescape")
            want = "\n".join(out.split("\n")[1:])
            if want.endswith("\n"):
                want = want[:-1]
            assert parse_document(text).dump() == want


class TestTemplateAutocloseInterplay:
    """Regression for the round-3 in-body fast path: in_template must
    be read BEFORE _body_autoclose (which can pop the template content
    wrapper). Found by differential fuzz (seed 10026); the reference
    inserts the section tag at DOCUMENT level here."""

    CASES = [
        "<tbody><template ><thead",
        "<tbody><template><thead></thead>",
        "<template><tbody><thead>x",
        "<tbody><template ><tfoot",
        "<table><template><colgroup>",
    ]

    def test_template_autoclose_matches_reference(self, refbuild,
                                                   tmp_path):
        import subprocess

        for i, text in enumerate(self.CASES):
            path = str(tmp_path / f"tmpl_case_{i}.html")
            with open(path, "w") as f:
                f.write(text)
            p = subprocess.run(["./parse_html", path], cwd=refbuild,
                               capture_output=True, timeout=60)
            out = p.stdout.decode("utf-8", errors="surrogateescape")
            want = "\n".join(out.split("\n")[1:])
            if want.endswith("\n"):
                want = want[:-1]
            assert parse_document(text).dump() == want, text


# ---------------------------------------------------------------------
# the seeded transcripts generator: same seed, same table, everywhere
# ---------------------------------------------------------------------

def test_golden_inputs_are_the_embedded_golden_cases():
    """The generator's golden rows are the inputs of the `synth_*`
    cases whose expected outputs goldens.json carries from the C
    reference, so every golden row stays reference-checked."""
    import base64
    import json
    import os

    from html_parser_spark.spark.transcripts import _GOLDEN_INPUTS

    path = os.path.join(os.path.dirname(__file__), "goldens",
                        "goldens.json")
    with open(path) as f:
        cases = json.load(f)["cases"]
    embedded = [base64.b64decode(c["input_b64"]).decode("utf-8")
                for c in cases
                if c["case"].startswith("synth_") and c.get("input_b64")]
    assert len(embedded) == 18
    assert _GOLDEN_INPUTS == embedded


def _rows_sha256(rows):
    import hashlib

    h = hashlib.sha256()
    for row in rows:
        h.update(repr(row).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


@pytest.mark.parametrize("n_turns, include_fixtures, digest", [
    (500, True,
     "20d35c998e40cea2c25e5960f6f65ff6932e6a900bde74a8e8dc83297f8679ff"),
    (1000, True,
     "766252e5ce8813108229acd53f83e61e320e03bd3a93dd4d4f452ec02385d1f4"),
    (2000, True,
     "7c82e4b4e755fd6aa22f15ffa78e92a6224c054563b29a9db2753af544b78702"),
    # the golden-free table perfbench replays
    (2000, False,
     "d6be948b027890377e80de62baf11bd6f1dad5e225b73e4605f32a2c26fdd2dc"),
])
def test_generate_rows_is_pinned(n_turns, include_fixtures, digest):
    """turns_2000, links_2000 and the extract_transcripts,
    extract_boilerplate and dump_serialize snapshots were minted from
    these tables: a generator change must re-mint them."""
    from html_parser_spark.spark.transcripts import generate_rows

    rows = generate_rows(n_turns, seed=42, include_fixtures=include_fixtures)
    assert _rows_sha256(rows) == digest
