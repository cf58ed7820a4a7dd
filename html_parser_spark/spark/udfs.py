"""Vectorized Arrow parse kernels (no per-row Python UDFs), and
``map_rows``, the one driver of every per-row Python stage in the
package: a row function runs inside ``mapInArrow`` batches, and the
Spark output schema is derived from the stage's Arrow fields.

The fused tokenize+tree-build kernel is inherently per-row sequential
(tokenizer<->builder feedback, SURVEY.md §3.4), so it runs inside
``mapInArrow`` batches: one JVM<->Python crossing per record batch,
row-sequential inside. Module-level imports load the entity/encoding
tables once per Python worker (mirror of entities_load_once,
src/tokenizer.c:304) — never per row.

Fast path: turns whose text contains no '<' can skip the parser
entirely — in fragment mode the whole text is one CHARACTER token whose
charref-decoded value either becomes the single TEXT node (non-ws) or
is dropped (ws-only). ``fast_extract`` reproduces that exactly;
tests/test_kernel_units.py and tests/test_properties.py property-check
it against the full parse.

Memory: a parse tree is cyclic (every node points at its parent, form
controls at their form), so left alone it waits for a gen-2 cyclic
collection, and every collection during a later build walks all the
trees still waiting. Each row function therefore ``release``s its
tree once the row's outputs are built, and reference counting frees
it at once; the batch loop pauses the cyclic collector while it
computes a batch (never across its ``yield``).
"""

from __future__ import annotations

import gc

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import StructField, StructType

from ..kernel.api import parse_document, parse_fragment
from ..kernel.boilerplate import strip_boilerplate, _Block, _score
from ..kernel.charref import decode_character_references
from ..kernel.extract import collect_links
from ..kernel.tokenizer import replace_nulls
from ..kernel.tree import release

_WS_STR = " \n\t\r\f"

# Arrow output schema of the parse kernel (append-only contract)
SPAN_TYPE = pa.list_(
    pa.struct([
        pa.field("start", pa.int32()),
        pa.field("end", pa.int32()),
        pa.field("path", pa.string()),
    ])
)

EXTRACT_FIELDS = [
    pa.field("extracted_text", pa.string()),
    pa.field("spans", SPAN_TYPE),
    pa.field("parse_errors", pa.int32()),
    pa.field("node_count", pa.int32()),
    pa.field("doc_encoding", pa.string()),
    # the reference's stderr texts minus the "[parse error] " prefix,
    # chronological (tokenizer lines positioned "line=N col=M: msg";
    # tree-builder/charref lines bare) — S5/T15 text parity
    pa.field("parse_error_texts", pa.list_(pa.string())),
]


# RAWTEXT/script/plaintext contexts must take the full parser even for
# '<'-free text (they do NOT decode character references); RCDATA
# (title/textarea) decodes like DATA and is fast-path safe.
_RAW_CONTEXTS = frozenset(
    ("script", "style", "xmp", "iframe", "noembed", "noframes", "plaintext")
)

_CALIBRATION: dict = {}


def _parse(text: str, mode: str, context: str):
    if mode == "document":
        return parse_document(text)
    return parse_fragment(text, context)


def _calibrate(mode: str, context: str):
    """Constants of a '<'-free parse for this (mode, context): the text
    itself only contributes null/charref errors; everything else — EOF
    parse errors (count AND texts), node counts, the span path,
    encoding — is fixed by the context. Derived by running the full
    parser on probes. The constant texts must be position-free (no
    'line=' prefix) or they couldn't be constants; asserted here —
    every shipped context satisfies it because '<'-free probes only
    produce tree-builder/charref errors, which carry no position."""
    key = (mode, context)
    cached = _CALIBRATION.get(key)
    if cached is not None:
        return cached
    r_empty = _parse("", mode, context)
    r_ws = _parse(" ", mode, context)
    r_x = _parse("x", mode, context)
    for r in (r_empty, r_ws, r_x):
        assert not any(t.startswith("line=") for t in r.errors), (
            mode, context, r.errors)
    _, spans = r_x.extract_text()
    path = spans[0]["path"] if spans else ""
    cal = (
        (r_empty.error_count, r_empty.node_count,
         r_empty.encoding or "UTF-8", tuple(r_empty.errors)),
        (r_ws.error_count, r_ws.node_count, tuple(r_ws.errors)),
        (r_x.error_count, r_x.node_count, path, tuple(r_x.errors)),
    )
    for r in (r_empty, r_ws, r_x):
        release(r.doc)
    _CALIBRATION[key] = cal
    return cal


def fast_extract(text: str, mode: str = "fragment", context: str = "div"):
    """Extraction result for a '<'-free turn, byte-equal to the full
    parse: charref-decode the single CHARACTER run; ws-only runs are
    dropped (B23). Returns (extracted_text, spans, errors, nodes, enc,
    error_texts). Error-text order mirrors the full parse: preprocess
    null errors (positioned), then charref errors emitted while
    tokenizing the single CHARACTER run, then the context-constant
    tree-builder errors."""
    (k_empty, n_empty, enc, t_empty), (k_ws, n_ws, t_ws), \
        (k_x, n_x, path, t_x) = _calibrate(mode, context)
    errors: list = []
    clean = replace_nulls(text, errors)
    if not clean:
        return "", [], k_empty, n_empty, enc, list(t_empty)
    decoded = decode_character_references(clean, False, errors)
    if not decoded.strip(_WS_STR):
        return ("", [], k_ws + len(errors), n_ws, enc,
                errors + list(t_ws))
    return (
        decoded,
        [{"start": 0, "end": len(decoded), "path": path}],
        k_x + len(errors),
        n_x,
        enc,
        errors + list(t_x),
    )


def parse_turn(text: str, mode: str = "fragment", context: str = "div",
               boilerplate: bool = False):
    """Full parse of one turn. Returns the 6-tuple matching
    EXTRACT_FIELDS. With boilerplate=True the extraction applies the
    DOM block-scoring strip (kernel/boilerplate.py) instead of verbatim
    TEXT-node concatenation."""
    if text is None:
        return "", [], 0, 0, "UTF-8", []
    if "<" not in text and context not in _RAW_CONTEXTS:
        if not boilerplate:
            return fast_extract(text, mode, context)
        return _fast_extract_boilerplate(text, mode, context)
    res = _parse(text, mode, context)
    if boilerplate:
        ext, spans, _, _ = strip_boilerplate(res.doc)
    else:
        ext, spans = res.extract_text()
    out = (ext, spans, res.error_count, res.node_count,
           res.encoding or "UTF-8", res.errors)
    release(res.doc)
    return out


def _fast_extract_boilerplate(text: str, mode: str, context: str):
    """'<'-free turn under boilerplate mode: the document is a single
    text block; apply the same block scoring as strip_boilerplate."""
    ext, spans, errs, nodes, enc, texts = fast_extract(text, mode, context)
    if not ext:
        return ext, spans, errs, nodes, enc, texts
    block = _Block()
    block.add(ext, spans[0]["path"] if spans else "", False)
    if _score(block):
        return ext, spans, errs, nodes, enc, texts
    return "", [], errs, nodes, enc, texts


# Worker-level content-addressed parse cache: web/transcript corpora
# carry high duplicate rates (repeated boilerplate turns, quoted
# messages); the parser is deterministic, so identical (text, mode,
# context) re-parses are pure waste. Results are only serialized to
# Arrow (never mutated), so sharing them is safe. A plain module dict
# (not functools.lru_cache) so the mapInArrow closure stays picklable.
_CACHE_SIZE = 4096
# always on; kept as a name because perfbench's replay reads it
_CACHE_ON = True
_PARSE_CACHE: dict = {}


def _parse_turn_cached(text, mode, context, boilerplate):
    key = (text, mode, context, boilerplate)
    hit = _PARSE_CACHE.get(key)
    if hit is not None:
        return hit
    res = parse_turn(text, mode, context, boilerplate)
    if len(_PARSE_CACHE) >= _CACHE_SIZE:
        _PARSE_CACHE.clear()
    _PARSE_CACHE[key] = res
    return res


def _spans_array(spans_l) -> pa.ListArray:
    """Build the list<struct<start,end,path>> column from flat typed
    arrays + offsets. pa.array() on a list of per-row dict lists costs
    ~15us/row (it type-infers and boxes every dict); the flat build is
    ~10x cheaper and dominates the whole Python stage's cost for
    markup-free turns (the parse itself is <1us on the fast path)."""
    offsets = [0]
    starts: list = []
    ends: list = []
    paths: list = []
    ap_o = offsets.append
    ap_s, ap_e, ap_p = starts.append, ends.append, paths.append
    total = 0
    for spans in spans_l:
        total += len(spans)
        ap_o(total)
        for sp in spans:
            ap_s(sp["start"])
            ap_e(sp["end"])
            ap_p(sp["path"])
    struct = pa.StructArray.from_arrays(
        [pa.array(starts, pa.int32()), pa.array(ends, pa.int32()),
         pa.array(paths, pa.string())],
        ["start", "end", "path"])
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)


def _str_list_array(lists_l) -> pa.ListArray:
    """list<string> column from flat values + offsets (same ~100x win
    over pa.array's per-row boxing as _spans_array)."""
    offsets = [0]
    vals: list = []
    total = 0
    ap = offsets.append
    ext = vals.extend
    for xs in lists_l:
        total += len(xs)
        ap(total)
        ext(xs)
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), pa.array(vals, pa.string()))


_STR_LIST_TYPE = pa.list_(pa.string())


def _column(values, typ: pa.DataType) -> pa.Array:
    if typ == SPAN_TYPE:
        return _spans_array(values)
    if typ == _STR_LIST_TYPE:
        return _str_list_array(values)
    # from_pandas: a float NaN, also inside a list, is stored as NULL
    # (a PDF run position can overflow to NaN)
    return pa.array(values, typ, from_pandas=True)


def _map_batches(inputs, passthrough, out_fields, row_fn):
    """The one mapInArrow batch loop behind every per-row Python stage.

    `row_fn(*input_values)` returns a list of output tuples (one per
    row for 1:1 kernels, zero or more for fan-out kernels such as
    links) matching `out_fields`. Output = passthrough columns (copied
    from the batch, or taken by source row when the batch fans out)
    followed by `out_fields`. Column builders are module globals looked
    up per batch, so wrappers installed on this module after the
    function is built take effect.

    The cyclic collector is paused while a batch is computed: the row
    functions release their trees, so a collection mid-batch would walk
    the live objects and free nothing. The caller's collector state is
    restored before each `yield`, also when `row_fn` raises."""

    def _fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            was_enabled = gc.isenabled()
            gc.disable()
            try:
                rows: list = []
                src: list = []
                values = [batch.column(c).to_pylist() for c in inputs]
                for i, args in enumerate(zip(*values)):
                    res = row_fn(*args)
                    rows += res
                    src += [i] * len(res)
                arrays = [batch.column(c) for c in passthrough]
                if src != list(range(batch.num_rows)):
                    idx = pa.array(src, pa.int32())
                    arrays = [a.take(idx) for a in arrays]
                cols = list(zip(*rows)) or [()] * len(out_fields)
                arrays += [_column(v, f.type)
                           for v, f in zip(cols, out_fields)]
            finally:
                if was_enabled:
                    gc.enable()
            fields = [batch.schema.field(c) for c in passthrough] + out_fields
            yield pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))

    return _fn


def map_rows(df: DataFrame, inputs, passthrough, out_fields,
             row_fn) -> DataFrame:
    """Run `row_fn` over every row of `df` in one mapInArrow stage
    (`_map_batches`). The stage reads `passthrough` then `inputs`
    (a column may be both); its output is the passthrough columns,
    with the types they have in `df`, followed by `out_fields`. Every
    output column is nullable."""
    base = df.select(*dict.fromkeys([*passthrough, *inputs]))
    schema = StructType(
        [StructField(c, base.schema[c].dataType) for c in passthrough]
        + [StructField(f.name, from_arrow_type(f.type)) for f in out_fields])
    return base.mapInArrow(
        _map_batches(inputs, passthrough, out_fields, row_fn), schema)


def extract_row(mode: str = "fragment", context: str = "div",
                boilerplate: bool = False):
    """Row function of the extraction kernel: text -> EXTRACT_FIELDS."""
    return lambda text: [
        _parse_turn_cached(text, mode, context, boilerplate)]


def make_extract_map_in_arrow(passthrough: list[str], mode: str = "fragment",
                              context: str = "div",
                              boilerplate: bool = False):
    """Build a mapInArrow function: passthrough columns + text ->
    passthrough columns + EXTRACT_FIELDS."""
    return _map_batches(["text"], passthrough, EXTRACT_FIELDS,
                        extract_row(mode, context, boilerplate))


DUMP_FIELDS = [
    pa.field("dump", pa.string()),
    pa.field("serialized_html", pa.string()),
    pa.field("extracted_text", pa.string()),
    pa.field("parse_errors", pa.int32()),
]


def dump_row(mode: str = "fragment", context: str = "div"):
    """Row function of the debug/equality kernel: text -> DUMP_FIELDS
    (used by the golden-equality tests; too heavy for the production
    path)."""

    def _row(text):
        res = _parse(text or "", mode, context)
        out = [(res.dump(), res.serialize(), res.extract_text()[0],
                res.error_count)]
        release(res.doc)
        return out

    return _row


LINK_FIELDS = [
    pa.field("link_idx", pa.int32()),
    pa.field("href", pa.string()),
    pa.field("anchor_text", pa.string()),
]


def links_row(mode: str = "fragment", context: str = "div"):
    """Row function of the anchor/link kernel: one output tuple per
    <a href> in the text (variable fan-out), link_idx = document order
    within the turn."""

    def _row(text):
        doc = _parse(text or "", mode, context).doc
        links = collect_links(doc)
        release(doc)
        return [(k, href, anchor) for k, (href, anchor) in enumerate(links)]

    return _row
