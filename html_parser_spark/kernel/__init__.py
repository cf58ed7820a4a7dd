"""Pure-Python HTML5 parse kernel (no Spark imports here).

High-level API (mirrors the reference's three public build entry
points, include/tree_builder.h:7-14):
  parse_document(raw_bytes_or_text, charset_hint=None) -> ParseResult
  parse_fragment(raw_bytes_or_text, context_tag) -> ParseResult
  build_document_from_tokens(tokens) -> (doc, errors)   # pre-tokenized
  tokenize_all(text) -> list[Token]                     # its input side
"""

from .api import ParseResult, parse_document, parse_fragment  # noqa: F401
from .treebuilder import (  # noqa: F401
    build_document_from_tokens,
    tokenize_all,
)
