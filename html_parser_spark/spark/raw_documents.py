"""Raw-bytes document pipeline (FIXTURES.md §2 `transcripts_raw`).

For corpora where the text column is BINARY with an optional transport
charset hint, the full reference front-end runs inside the kernel:
encoding sniff (BOM > hint > meta-prescan > UTF-8) -> CR/LF+NUL
preprocessing -> document parse with the §13.2.3.5 re-encode handshake.

Schema in : (doc_id string, content binary, charset_hint string)
Schema out: + extracted_text, spans, parse_errors, node_count,
              doc_encoding (the final, possibly re-encoded, name)
"""

from __future__ import annotations

from ..kernel.api import parse_document
from ..kernel.tree import release
from .udfs import EXTRACT_FIELDS, map_rows

RAW_INPUT_SCHEMA = "doc_id string, content binary, charset_hint string"


def _sane(s: str) -> str:
    """Arrow strings must be valid UTF-8, but the kernel carries bytes
    that had no decoding (e.g. an invalid transport hint falling back
    to UTF-8 over non-UTF-8 bytes) as lone surrogates, exactly like
    the C carries them as raw bytes. At the Arrow boundary those become
    U+FFFD — the only point where the Spark surface deviates from the
    kernel's byte-carrying representation (kernel-level equality is
    still byte-exact; see test_synth_raw_corpus_matches_reference)."""
    try:
        s.encode("utf-8")
        return s
    except UnicodeEncodeError:
        return s.encode("utf-8", "surrogateescape").decode("utf-8",
                                                           "replace")


def _parse_raw(content, hint):
    if content is None:
        return [("", [], 0, 0, "UTF-8", [])]
    res = parse_document(bytes(content), hint)
    text, spans = res.extract_text()
    out = [(_sane(text), spans, res.error_count, res.node_count,
            res.encoding or "UTF-8", [_sane(t) for t in res.errors])]
    release(res.doc)
    return out


def extract_raw_documents(df, passthrough: tuple = ()):
    """binary documents + charset hints -> extraction columns.
    `passthrough` names extra input columns to carry through the
    parse stage unchanged (appended after the extraction columns,
    keeping their input types) — so upstream envelope columns (e.g. a
    WARC target URI) ride through the Python stage instead of forcing
    a join back against a second evaluation of the heavy source read."""
    out = map_rows(df, ["content", "charset_hint"], ["doc_id", *passthrough],
                   EXTRACT_FIELDS, _parse_raw)
    return out.select("doc_id", *(f.name for f in EXTRACT_FIELDS),
                      *passthrough)


def synth_raw_documents_df(spark):
    """Deterministic multi-encoding binary corpus exercising the whole
    sniff front-end: BOMs (E1), label resolution (E2), meta prescan
    (E3), precedence (E4), UTF-16 (E5), ISO-2022-JP (E6),
    x-user-defined (E7), transport hint, the sec-13.2.3.5 late-meta
    re-parse (E9), and NUL/CRLF preprocessing (P1). Self-contained
    hand-written snippets — no external data."""
    docs = [
        ("ascii", b"<p>plain ascii</p>", None),
        ("utf8_bom", b"\xef\xbb\xbf<p>caf\xc3\xa9</p>", None),
        ("utf16le_bom",
         "<p>utf16 le café</p>".encode("utf-16-le"), None),
        ("utf16be_bom",
         "<p>utf16 be café</p>".encode("utf-16-be"), None),
        ("meta_1252",
         b"<meta charset=windows-1252><p>caf\xe9 \x80</p>", None),
        ("meta_sjis",
         b"<meta charset=shift_jis><p>"
         + "漢字テスト".encode("shift_jis") + b"</p>", None),
        ("meta_koi8",
         b"<meta charset=koi8-r><p>"
         + "привет".encode("koi8-r") + b"</p>", None),
        ("meta_2022jp",
         b"<meta charset=iso-2022-jp><p>"
         + "日本語".encode("iso-2022-jp") + b"</p>", None),
        ("meta_xuser",
         b"<meta charset=x-user-defined><p>hi \x80\xff</p>", None),
        # "latin1" is the WHATWG label (-> windows-1252); a dashed
        # "latin-1" is NOT a label and both engines fall back to UTF-8
        ("hint_latin1", b"<p>caf\xe9 via hint</p>", "latin1"),
        ("hint_invalid", b"<p>caf\xe9 bad hint</p>", "latin-1"),
        ("late_meta_reparse",
         b"<p>caf\xe9 before</p>"
         b"<meta http-equiv=Content-Type "
         b"content='text/html; charset=windows-1251'>"
         b"<p>\xef\xf0\xe8\xe2\xe5\xf2</p>", None),
        ("bad_label", b"<meta charset=not-a-charset><p>caf\xc3\xa9</p>",
         None),
        ("nul_crlf", b"<p>a\x00b</p>\r\nline2\r\n", None),
    ]
    return spark.createDataFrame(
        [(name, bytearray(content), hint) for name, content, hint in docs],
        RAW_INPUT_SCHEMA,
    )
