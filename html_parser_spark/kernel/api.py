"""High-level kernel API: one call per document/fragment.

Mirrors the reference demo drivers:
  - parse_document: src/parse_file_demo.c:26-95 (sniff -> replace_nulls
    -> build_tree; on change_encoding re-decode once with CERTAIN and
    re-parse — WHATWG §13.2.3.5)
  - parse_fragment: src/parse_fragment_demo.c:26-77 (no re-encoding)
  - serialize path: src/serialize_demo.c:40-66 (IRRELEVANT confidence)
"""

from __future__ import annotations

from . import encoding as enc
from .extract import count_nodes, extract_text_with_spans
from .tokenizer import replace_nulls
from .treebuilder import build_document, build_fragment
from .tree import dump_ascii, serialize_html


class ParseResult:
    __slots__ = ("doc", "encoding", "confidence", "errors")

    def __init__(self, doc, encoding_name, confidence, errors):
        self.doc = doc
        self.encoding = encoding_name
        self.confidence = confidence
        self.errors = errors

    def dump(self, title=None):
        return dump_ascii(self.doc, title)

    def serialize(self):
        return serialize_html(self.doc)

    def extract_text(self):
        return extract_text_with_spans(self.doc)

    @property
    def error_count(self):
        return len(self.errors)

    @property
    def node_count(self):
        return count_nodes(self.doc)


def parse_document(raw, charset_hint=None) -> ParseResult:
    """Full document parse from raw bytes (or str for pre-decoded text).

    str input takes the serialize_demo path semantics only when the
    caller wants IRRELEVANT confidence; here str means "already UTF-8
    text, no transport encoding": encoding=UTF-8, confidence TENTATIVE
    to match the demo's default sniff outcome on plain input.

    `errors` is ONE chronologically ordered list of the reference's
    stderr texts (minus the "[parse error] " prefix): preprocess null
    errors first (src/tokenizer.c:1434), then tokenizer ("line=N
    col=M: msg") and tree-builder (bare msg) errors interleaved in
    emission order. On a §13.2.3.5 re-parse the list ACCUMULATES
    across both parses, exactly like the demo's stderr
    (src/parse_file_demo.c:53,73).
    """
    if isinstance(raw, str):
        result = enc.EncodingResult(raw, "UTF-8", enc.CONF_TENTATIVE)
    else:
        result = enc.sniff_and_convert(raw, charset_hint)

    errors: list = []
    input_text = replace_nulls(result.text, errors)
    doc, change_enc, _ = build_document(
        input_text,
        result.encoding,
        result.confidence,
        errors=errors,
        want_change_encoding=(result.confidence == enc.CONF_TENTATIVE),
    )

    if doc is None and change_enc is not None:
        # §13.2.3.5 re-encode + re-parse once with CERTAIN confidence
        if isinstance(raw, str):
            raw_bytes = raw.encode("utf-8", "surrogateescape")
        else:
            raw_bytes = raw
        result2 = enc.sniff_and_convert(raw_bytes, change_enc)
        input_text = replace_nulls(result2.text, errors)
        doc, _, _ = build_document(
            input_text,
            result2.encoding,
            enc.CONF_CERTAIN,
            errors=errors,
            want_change_encoding=False,
        )
        return ParseResult(doc, result2.encoding, enc.CONF_CERTAIN, errors)

    return ParseResult(doc, result.encoding, result.confidence, errors)


def parse_fragment(raw, context_tag) -> ParseResult:
    """Fragment (innerHTML) parse in `context_tag` — the natural mode
    for transcript turns. Bytes are sniffed with no transport hint,
    as the reference fragment driver takes none; str is UTF-8 text."""
    if isinstance(raw, str):
        result = enc.EncodingResult(raw, "UTF-8", enc.CONF_TENTATIVE)
    else:
        result = enc.sniff_and_convert(raw)
    errors: list = []
    doc, _ = build_fragment(
        replace_nulls(result.text, errors), context_tag, result.encoding,
        result.confidence, errors=errors,
    )
    return ParseResult(doc, result.encoding, result.confidence, errors)
