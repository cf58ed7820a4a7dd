"""PDF text + layout extraction (the north-rule's "PDF/layout parse"
leg of the main-content extraction pipeline).

Same design contract as the media codecs in multimodal.py — this
container has no pdfminer/poppler and installs are forbidden, so the
parser is PURE STDLIB and REAL for the subset it claims:

  - object scanning: `N G obj ... endobj` discovered by a byte scan
    (deliberately NOT xref-driven: real-world PDFs routinely carry
    stale/broken xref tables; content scanning is what robust
    extractors fall back to anyway)
  - object parser: recursive descent over dicts/arrays/names/numbers/
    booleans/null, literal strings (all escape forms incl. octal and
    line continuations), hex strings, indirect references
  - streams: /Length (direct or indirect), FlateDecode /
    ASCIIHexDecode filter chains, or unfiltered; unsupported filters
    mark the page, never raise
  - /ObjStm object streams (PDF 1.5+): packed objects are unpacked
    after the byte scan (they live inside Flate streams the scan
    cannot see); direct definitions win, matching incremental updates
  - page tree: trailer /Root -> catalog /Pages -> /Kids walk (depth-
    first, cycle-guarded), falling back to document-order /Type /Page
    objects when the tree is absent or broken
  - content streams: BT/ET text objects, Tm/Td/TD/T*/TL text
    positioning, Tj/'/"/TJ text showing (TJ kerning gaps wider than
    the conventional -180/1000 em threshold become spaces)
  - layout: runs carry (page, x, y); lines are grouped by rounded
    baseline y per page, ordered top-down (PDF y grows upward), runs
    within a line left-to-right — the "layout parse" step that turns
    positioned runs into reading-order text

Out of scope (documented, detected, tolerated): CID/composite fonts,
per-font /Encoding differences (text is assumed to be the writer-side
ASCII subset; bytes outside it pass through latin-1), encryption, and
filters beyond Flate/ASCIIHex (LZW, DCT, RunLength). A payload using
those yields decode_ok=false rather than an exception — at 100 TB one
weird PDF must mark its row, not kill the batch (same policy as
decode_media).

The deterministic writer `pdf_encode` exists so the synthetic corpus
carries REAL payloads; writer and parser are independent inverse
implementations, so the roundtrip equality test in
tests/test_pdf.py is a non-circular value gate.
"""

from __future__ import annotations

import re
import zlib

import pyarrow as pa
from pyspark.sql import DataFrame

from .udfs import map_rows

PDF_SCHEMA = "doc_id bigint, payload binary"

# extract_pdfs output after doc_id
PDF_FIELDS = [
    pa.field("n_pages", pa.int32()),
    pa.field("n_runs", pa.int32()),
    pa.field("decode_ok", pa.bool_()),
    pa.field("extracted_text", pa.string()),
    pa.field("runs", pa.list_(pa.struct([
        ("page", pa.int32()), ("x", pa.float64()), ("y", pa.float64()),
        ("text", pa.string())]))),
]


# ---------------------------------------------------------------------------
# writer (deterministic corpus payloads)
# ---------------------------------------------------------------------------


def _esc_pdf_string(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def pdf_encode(pages: list, compress: bool = True,
               use_hex: bool = False, use_tj_array: bool = False) -> bytes:
    """Minimal valid PDF 1.4 writer. `pages` is a list of pages; each
    page is a list of (x, y, text) runs. Knobs exercise parser paths:
    compress -> /FlateDecode, use_hex -> hex strings, use_tj_array ->
    TJ arrays with an explicit wide kern (renders as a space)."""
    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)  # object number, 1-based

    font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_ids = []
    content_ids = []
    for runs in pages:
        parts = [b"BT /F1 12 Tf"]
        for x, y, text in runs:
            parts.append(f"1 0 0 1 {x:g} {y:g} Tm".encode())
            if use_tj_array and " " in text:
                head, tail = text.split(" ", 1)
                parts.append(
                    f"[({_esc_pdf_string(head)}) -300 "
                    f"({_esc_pdf_string(tail)})] TJ".encode())
            elif use_hex:
                parts.append(
                    b"<" + text.encode("latin-1").hex().encode() + b"> Tj")
            else:
                parts.append(f"({_esc_pdf_string(text)}) Tj".encode())
        parts.append(b"ET")
        data = b"\n".join(parts)
        if compress:
            body = zlib.compress(data, 6)
            head = (f"<< /Length {len(body)} /Filter /FlateDecode >>"
                    .encode())
        else:
            body = data
            head = f"<< /Length {len(body)} >>".encode()
        content_ids.append(add(head + b"\nstream\n" + body + b"\nendstream"))
        page_ids.append(None)  # placeholder, assigned below

    pages_id = len(objs) + len(pages) + 1  # after the page objects
    for i, cid in enumerate(content_ids):
        page_ids[i] = add(
            f"<< /Type /Page /Parent {pages_id} 0 R /MediaBox "
            f"[0 0 612 792] /Contents {cid} 0 R /Resources "
            f"<< /Font << /F1 {font} 0 R >> >> >>".encode())
    kids = " ".join(f"{p} 0 R" for p in page_ids)
    assert add(
        f"<< /Type /Pages /Kids [{kids}] /Count {len(page_ids)} >>"
        .encode()) == pages_id
    catalog = add(f"<< /Type /Catalog /Pages {pages_id} 0 R >>".encode())

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objs):
        offsets.append(len(out))
        out += f"{i + 1} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root {catalog} 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


# ---------------------------------------------------------------------------
# object-level parser
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b", re.S)
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)")
_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):  # pragma: no cover - debug aid
        return f"_Ref({self.num})"


class _Name(str):
    """PDF name object (distinct from strings)."""


def _skip_ws(buf: bytes, i: int) -> int:
    n = len(buf)
    while i < n:
        c = buf[i:i + 1]
        if c in b"%":  # comment to EOL
            while i < n and buf[i] not in b"\r\n":
                i += 1
        elif c in _WS:
            i += 1
        else:
            break
    return i


def _parse_value(buf: bytes, i: int):
    """Parse one PDF object starting at i; returns (value, next_i)."""
    i = _skip_ws(buf, i)
    if i >= len(buf):
        raise ValueError("eof in object")
    c = buf[i:i + 1]
    if buf[i:i + 2] == b"<<":
        return _parse_dict(buf, i)
    if c == b"<":
        return _parse_hex_string(buf, i)
    if c == b"(":
        return _parse_literal_string(buf, i)
    if c == b"[":
        i += 1
        arr = []
        while True:
            i = _skip_ws(buf, i)
            if buf[i:i + 1] == b"]":
                return arr, i + 1
            v, i = _parse_value(buf, i)
            arr.append(v)
    if c == b"/":
        j = i + 1
        while j < len(buf) and buf[j] not in _WS and buf[j] not in _DELIM:
            j += 1
        raw = buf[i + 1:j]
        # #xx hex escapes in names
        name = re.sub(
            rb"#([0-9A-Fa-f]{2})",
            lambda m: bytes([int(m.group(1), 16)]), raw)
        return _Name(name.decode("latin-1")), j
    if buf[i:i + 4] == b"true":
        return True, i + 4
    if buf[i:i + 5] == b"false":
        return False, i + 5
    if buf[i:i + 4] == b"null":
        return None, i + 4
    # number, possibly an `N G R` indirect reference. match(buf, i)
    # with a pos argument, NOT buf[i:]: slicing copies the entire
    # remaining buffer per numeric token, turning content-stream
    # parsing O(n^2) on multi-MB real-world streams
    m = _NUM_RE.match(buf, i)
    if not m:
        raise ValueError(f"bad PDF token at {i}: {buf[i:i + 16]!r}")
    tok = m.group(0)
    j = m.end()
    if b"." not in tok:
        ref = re.match(rb"\s+(\d+)\s+R\b", buf[j:j + 32])
        if ref:
            return _Ref(int(tok)), j + ref.end()
        return int(tok), j
    return float(tok), j


def _parse_dict(buf: bytes, i: int):
    i += 2  # <<
    d = {}
    while True:
        i = _skip_ws(buf, i)
        if buf[i:i + 2] == b">>":
            return d, i + 2
        key, i = _parse_value(buf, i)
        if not isinstance(key, _Name):
            raise ValueError("dict key is not a name")
        val, i = _parse_value(buf, i)
        d[str(key)] = val


def _parse_hex_string(buf: bytes, i: int):
    j = buf.index(b">", i)
    hx = re.sub(rb"\s+", b"", buf[i + 1:j])
    if len(hx) % 2:
        hx += b"0"  # spec: odd final digit implies trailing 0
    return bytes.fromhex(hx.decode("ascii")), j + 1


def _parse_literal_string(buf: bytes, i: int):
    out = bytearray()
    depth = 1
    i += 1
    n = len(buf)
    while i < n:
        b = buf[i]
        if b == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = buf[i]
            if e in b"nrtbf":
                out.append({0x6E: 10, 0x72: 13, 0x74: 9,
                            0x62: 8, 0x66: 12}[e])
                i += 1
            elif e in b"()\\":
                out.append(e)
                i += 1
            elif 0x30 <= e <= 0x37:  # up to 3 octal digits
                oct_digits = bytearray([e])
                i += 1
                while (len(oct_digits) < 3 and i < n
                       and 0x30 <= buf[i] <= 0x37):
                    oct_digits.append(buf[i])
                    i += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
            elif e in b"\r\n":  # line continuation
                i += 1
                if e == 0x0D and i < n and buf[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the backslash is dropped
                out.append(e)
                i += 1
        elif b == 0x28:  # (
            depth += 1
            out.append(b)
            i += 1
        elif b == 0x29:  # )
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(b)
            i += 1
        else:
            out.append(b)
            i += 1
    raise ValueError("unterminated PDF string")


# ---------------------------------------------------------------------------
# document model
# ---------------------------------------------------------------------------


def _scan_objects(data: bytes) -> dict:
    """num -> (dict_or_value, stream_bytes_or_None). Byte scan, not
    xref-driven (robust to broken xref; last definition of a repeated
    object number wins, matching incremental-update semantics). After
    the scan, objects packed inside /ObjStm object streams (PDF 1.5+)
    are unpacked too — those are invisible to the byte scan because
    they live inside a Flate stream."""
    objs = {}
    fixups = []  # nums whose /Length was indirect at scan time
    pos = 0
    while True:
        m = _OBJ_RE.search(data, pos)
        if m is None:
            break
        num = int(m.group(1))
        pos = m.end()
        try:
            val, j = _parse_value(data, pos)
        except (ValueError, IndexError):
            continue
        stream = None
        k = _skip_ws(data, j)
        if data[k:k + 6] == b"stream":
            k += 6
            if data[k:k + 2] == b"\r\n":
                k += 2
            elif data[k:k + 1] == b"\n":
                k += 1
            end = data.find(b"endstream", k)
            if end < 0:
                continue
            raw = data[k:end]
            # /Length is authoritative when it's a direct int and sane
            ln = val.get("Length") if isinstance(val, dict) else None
            if isinstance(ln, int) and 0 <= ln <= len(raw):
                raw = raw[:ln]
            else:
                # indirect/absent Length: resolve after the full scan
                # (the length object may be defined later in the file)
                fixups.append(num)
            stream = raw
            # resume the scan PAST the stream body: raw binary stream
            # bytes (images, fonts) can contain spurious "N G obj"
            # matches that would clobber real objects
            pos = end + len(b"endstream")
        else:
            pos = j
        objs[num] = (val, stream)
    for num in dict.fromkeys(fixups):  # dedupe: one-EOL strip must run once
        val, raw = objs[num]
        if raw is None:  # redefined later without a stream
            continue
        ln = _resolve(objs, val.get("Length")) if isinstance(val, dict) \
            else None
        if isinstance(ln, int) and 0 <= ln <= len(raw):
            raw = raw[:ln]
        # else: strip at most ONE trailing EOL separator — a blanket
        # rstrip would eat Flate bytes that legitimately end in \n/\r
        elif raw.endswith(b"\r\n"):
            raw = raw[:-2]
        elif raw.endswith((b"\n", b"\r")):
            raw = raw[:-1]
        objs[num] = (val, raw)
    _unpack_object_streams(objs)
    return objs


def _unpack_object_streams(objs: dict) -> None:
    """Expand /Type /ObjStm containers in place. Layout per spec: the
    decoded stream starts with /N pairs of white-separated integers
    "objnum offset" (offsets relative to /First), followed by the
    concatenated objects. A direct (non-packed) definition of the same
    object number wins — packed objects are the base layer that
    incremental updates override."""
    packed = {}
    for num, (val, stream) in list(objs.items()):
        if (not isinstance(val, dict) or val.get("Type") != "ObjStm"
                or stream is None):
            continue
        n = _resolve(objs, val.get("N"))
        first = _resolve(objs, val.get("First"))
        filt = _resolve(objs, val.get("Filter"))
        if not isinstance(n, int) or not isinstance(first, int):
            continue
        body = _apply_filters(stream, filt)
        if body is None:
            continue  # unsupported filter on the container
        header = body[:first].split()
        if len(header) < 2 * n:
            continue
        for k in range(n):
            try:
                onum = int(header[2 * k])
                off = int(header[2 * k + 1])
                v, _ = _parse_value(body, first + off)
            except (ValueError, IndexError):
                continue
            packed[onum] = (v, None)
    for onum, entry in packed.items():
        objs.setdefault(onum, entry)


def _resolve(objs: dict, v, depth: int = 0):
    while isinstance(v, _Ref) and depth < 32:
        entry = objs.get(v.num)
        if entry is None:
            return None
        v = entry[0]
        depth += 1
    return v


def _trailer_root(data: bytes, objs: dict):
    m = None
    for m in re.finditer(rb"trailer", data):
        pass  # last trailer wins (incremental updates)
    if m:
        try:
            d, _ = _parse_value(data, m.end())
            if isinstance(d, dict) and "Root" in d:
                return _resolve(objs, d["Root"])
        except (ValueError, IndexError):
            pass
    # no/broken trailer: first /Type /Catalog object
    for num, (val, _s) in objs.items():
        if isinstance(val, dict) and val.get("Type") == "Catalog":
            return val
    return None


def _page_order(data: bytes, objs: dict) -> list:
    """Ordered page dicts via the /Pages tree; document-order fallback."""
    root = _trailer_root(data, objs)
    pages = []
    seen = set()

    def walk(node, depth=0):
        if node is None or depth > 64:
            return
        if isinstance(node, _Ref):
            if node.num in seen:
                return
            seen.add(node.num)
            node = _resolve(objs, node)
        if not isinstance(node, dict):
            return
        t = node.get("Type")
        if t == "Page":
            pages.append(node)
        elif t == "Pages" or "Kids" in node:
            kids = _resolve(objs, node.get("Kids"))
            if isinstance(kids, list):
                for kid in kids:
                    walk(kid, depth + 1)

    if isinstance(root, dict):
        walk(root.get("Pages"))
    if not pages:  # fallback: document order
        for num in sorted(objs):
            val, _s = objs[num]
            if isinstance(val, dict) and val.get("Type") == "Page":
                pages.append(val)
    return pages


def _apply_filters(stream: bytes, filt) -> bytes | None:
    """Decode a stream through its filter chain. Supported:
    FlateDecode, ASCIIHexDecode (and any chain of the two, e.g.
    [/ASCIIHexDecode /FlateDecode]). None for unsupported filters or
    corrupt data — the caller treats that as a tolerated decode
    failure, never an exception."""
    chain = filt if isinstance(filt, list) else ([] if filt is None
                                                 else [filt])
    for f in chain:
        name = str(f)
        if name == "FlateDecode":
            try:
                stream = zlib.decompress(stream)
            except zlib.error:
                return None
        elif name == "ASCIIHexDecode":
            body = stream.split(b">")[0]
            hx = re.sub(rb"\s+", b"", body)
            if len(hx) % 2:
                hx += b"0"
            try:
                stream = bytes.fromhex(hx.decode("ascii"))
            except (ValueError, UnicodeDecodeError):
                return None
        else:
            return None
    return stream


def _page_content(objs: dict, page: dict) -> bytes | None:
    """Decoded, concatenated content stream(s) of one page. None when
    a stream uses an unsupported filter (the tolerated-subset marker)."""
    contents = page.get("Contents")
    if contents is None:
        return b""  # a page with no /Contents is a valid EMPTY page
    refs = contents if isinstance(contents, list) else [contents]
    out = []
    for ref in refs:
        num = ref.num if isinstance(ref, _Ref) else None
        if num is None or num not in objs:
            return None
        d, stream = objs[num]
        if stream is None or not isinstance(d, dict):
            return None
        filt = _resolve(objs, d.get("Filter"))
        stream = _apply_filters(stream, filt)
        if stream is None:
            return None  # unsupported filter/corrupt data: tolerated
        out.append(stream)
    return b"\n".join(out)


# ---------------------------------------------------------------------------
# content-stream interpreter (text operators only)
# ---------------------------------------------------------------------------

_TJ_SPACE_KERN = -180  # em/1000; gaps at least this wide render a space


def _num(v):
    """Numeric operand, or None when a crafted/corrupt stream puts an
    array, dict, name, string, or indirect ref where a positioning
    operator expects a number (e.g. 'BT [(x)] TL ET'): the operator is
    skipped instead of letting float() raise a TypeError past the
    documented ValueError-only robustness contract."""
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None
    return float(v)


def _content_runs(content: bytes) -> list:
    """[(x, y, text)] from one page's content stream. Tracks the text
    matrix translation (full CTM composition is out of scope — the
    writer-side subset and virtually all text-layout decisions only
    need e/f). Operand stack discipline matches the spec: operands
    accumulate until an operator consumes or clears them."""
    runs = []
    stack: list = []
    x = y = 0.0
    lx = ly = 0.0  # line start (Td/TD/T* return here)
    leading = 0.0
    in_text = False
    i = 0
    n = len(content)

    def emit(raw):
        if isinstance(raw, bytes) and raw:
            runs.append((x, y, raw.decode("latin-1")))

    def emit_tj_array(arr):
        parts = []
        for el in arr:
            if isinstance(el, bytes):
                parts.append(el.decode("latin-1"))
            elif isinstance(el, (int, float)) and el <= _TJ_SPACE_KERN:
                parts.append(" ")
        text = "".join(parts)
        if text:
            runs.append((x, y, text))

    while i < n:
        i = _skip_ws(content, i)
        if i >= n:
            break
        c = content[i:i + 1]
        if c in b"(<[/" or c.isdigit() or c in b"+-.":
            if content[i:i + 2] == b"<<":  # inline dict (e.g. BDC)
                try:
                    v, i = _parse_dict(content, i)
                except (ValueError, IndexError):
                    break
                stack.append(v)
                continue
            try:
                v, i = _parse_value(content, i)
            except (ValueError, IndexError):
                break
            stack.append(v)
            continue
        # operator token
        j = i
        while j < n and content[j] not in _WS and content[j] not in _DELIM:
            j += 1
        if j == i:
            # stray delimiter byte (unmatched ) ] > { } — inline image
            # data, Type-3 glyphs, corrupt-but-inflatable streams):
            # skip it, or the loop never advances (a hang the per-row
            # try/except cannot catch)
            i += 1
            stack.clear()
            continue
        op = content[i:j]
        i = j
        if op == b"BT":
            in_text = True
            x = y = lx = ly = 0.0
        elif op == b"ET":
            in_text = False
        elif op == b"Tm" and len(stack) >= 6:
            a, b = _num(stack[-2]), _num(stack[-1])
            if a is not None and b is not None:
                x = lx = a
                y = ly = b
        elif op == b"Td" and len(stack) >= 2:
            a, b = _num(stack[-2]), _num(stack[-1])
            if a is not None and b is not None:
                lx += a
                ly += b
                x, y = lx, ly
        elif op == b"TD" and len(stack) >= 2:
            a, b = _num(stack[-2]), _num(stack[-1])
            if a is not None and b is not None:
                leading = -b
                lx += a
                ly += b
                x, y = lx, ly
        elif op == b"TL" and stack:
            a = _num(stack[-1])
            if a is not None:
                leading = a
        elif op == b"T*":
            ly -= leading
            x, y = lx, ly
        elif op == b"Tj" and in_text and stack:
            emit(stack[-1])
        elif op == b"'" and in_text and stack:
            ly -= leading
            x, y = lx, ly
            emit(stack[-1])
        elif op == b'"' and in_text and len(stack) >= 3:
            ly -= leading
            x, y = lx, ly
            emit(stack[-1])
        elif op == b"TJ" and in_text and stack:
            if isinstance(stack[-1], list):
                emit_tj_array(stack[-1])
        stack.clear()  # every operator consumes/clears its operands
    return runs


# ---------------------------------------------------------------------------
# layout: positioned runs -> reading-order text
# ---------------------------------------------------------------------------


def _layout_text(runs_by_page: list) -> str:
    """Group runs into lines by rounded baseline y (per page), order
    lines top-down (PDF y grows up), runs within a line left-to-right;
    runs on one line join with a single space, lines with newline,
    pages with a form-feed-free blank line."""
    page_texts = []
    for runs in runs_by_page:
        lines: dict = {}
        for x, y, text in runs:
            lines.setdefault(round(y, 1), []).append((x, text))
        ordered = []
        for yk in sorted(lines, reverse=True):
            parts = [t for _x, t in sorted(
                lines[yk], key=lambda p: (p[0], p[1]))]
            ordered.append(" ".join(parts))
        page_texts.append("\n".join(ordered))
    return "\n\n".join(page_texts)


def pdf_extract(data: bytes):
    """Full extraction for one document: returns
    (n_pages, runs [(page, x, y, text)], extracted_text, ok).
    ok=False means some page's content could not be decoded (missing
    stream, unsupported filter, zlib error) — extraction still returns
    everything that did decode."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF")
    objs = _scan_objects(data)
    pages = _page_order(data, objs)
    ok = len(pages) > 0  # a PDF with no reachable pages is not "ok"
    all_runs = []
    runs_by_page = []
    for pno, page in enumerate(pages):
        content = _page_content(objs, page)
        if content is None:
            ok = False
            runs_by_page.append([])
            continue
        runs = _content_runs(content)
        runs_by_page.append(runs)
        for x, y, text in runs:
            all_runs.append((pno, x, y, text))
    return len(pages), all_runs, _layout_text(runs_by_page), ok


# ---------------------------------------------------------------------------
# Spark operator + synthetic corpus
# ---------------------------------------------------------------------------


def _pdf_row(payload):
    try:
        n_pages, runs, text, ok = pdf_extract(bytes(payload))
        return [(n_pages, len(runs), ok, text,
                 [{"page": p, "x": float(x), "y": float(y), "text": t}
                  for p, x, y, t in runs])]
    except Exception:  # noqa: BLE001 — corrupt payload
        return [(0, 0, False, "", [])]


def extract_pdfs(df: DataFrame) -> DataFrame:
    """Arrow-batched PDF extraction over (doc_id, payload). Per-row
    corrupt-payload tolerance: a broken PDF yields decode_ok=false and
    empty text, never a failed batch."""
    return map_rows(df, ["payload"], ["doc_id"], PDF_FIELDS, _pdf_row)


_WORDS = ("spark shuffle partition executor codegen arrow batch kernel "
          "token tree node scope table cell fragment stream state "
          "anchor vector cosine bucket").split()


def synth_pdf_corpus(n: int = 40, seed: int = 42) -> list:
    """Deterministic records covering the parser paths: 1-3 pages,
    two runs per line (layout must merge them by x), compressed and
    raw streams, hex strings, TJ arrays with space-rendering kerns,
    plus two deliberately corrupt payloads (truncated / non-PDF).

    Each record is (doc_id, payload, expected_text, expected_pages,
    expected_runs) where the expected_* fields come from the GENERATOR
    side — so an oracle built on them is independent of the parser
    (writer and parser are separate inverse implementations)."""
    import hashlib as _h

    corpus = []
    for d in range(n):

        def pick(tag, k, d=d):
            hv = int.from_bytes(
                _h.blake2b(f"{seed}:{d}:{tag}:{k}".encode(),
                           digest_size=8).digest(), "big")
            return _WORDS[hv % len(_WORDS)]

        n_pages_doc = 1 + d % 3
        pages = []
        expected_pages = []
        expected_runs = 0
        for p in range(n_pages_doc):
            runs = []
            exp_lines = []
            for line in range(2 + (d + p) % 3):
                y = 700 - 20 * line
                words = [pick(f"{p}:{line}", k) for k in range(4)]
                # two runs on one line -> layout must join them by x
                runs.append((72.0, float(y),
                             f"{words[0]} {words[1]}"))
                runs.append((220.0, float(y),
                             f"{words[2]} {words[3]}"))
                exp_lines.append(" ".join(words))
                expected_runs += 2
            pages.append(runs)
            expected_pages.append("\n".join(exp_lines))
        payload = pdf_encode(
            pages,
            compress=(d % 2 == 0),
            use_hex=(d % 5 == 1),
            use_tj_array=(d % 5 == 3),
        )
        expected = "\n\n".join(expected_pages)
        corpus.append((d, payload, expected, n_pages_doc, expected_runs))
    # corrupt rows: tolerance-path coverage (expected empty text)
    corpus.append((n, corpus[0][1][:40], "", 0, 0))
    corpus.append((n + 1, b"not a pdf at all", "", 0, 0))
    return corpus


def synth_pdf_df(spark, n: int = 40, seed: int = 42) -> DataFrame:
    rows = [(doc_id, bytearray(payload))
            for doc_id, payload, *_rest in synth_pdf_corpus(n, seed)]
    return spark.createDataFrame(rows, PDF_SCHEMA)
