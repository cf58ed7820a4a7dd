"""WARC source/sink: Common-Crawl-shaped web-archive ingest.

WARC (ISO 28500, public spec) is the container format the big public
web crawls ship in — each file is a concatenation of records, each
record a header block (`WARC/1.0\\r\\n` + RFC-822-style headers +
blank line) followed by `Content-Length` payload bytes and a
`\\r\\n\\r\\n` trailer.  Common Crawl compresses every record as its
OWN gzip member, so a `.warc.gz` is a multi-member gzip stream whose
member boundaries are also record boundaries — the property that makes
the format splittable-by-record without an index.

Spark integration (100 TB shape):
  - `read_warc_records(spark, path)` loads files with the binaryFile
    source (one task per file — the natural Common Crawl layout:
    ~1 GB per WARC, tens of thousands of files, file-level
    parallelism) and parses records in one Arrow row kernel
    (`udfs.map_rows`).  The parser is STREAMING per gzip member:
    members are inflated one at a time into a carry buffer that is
    drained record-by-record, so peak memory is O(largest record),
    never O(file).
  - `warc_http_responses(df)` splits response records' HTTP payload
    into status / headers / body and surfaces the transport charset
    hint — the exact input the raw-documents kernel pipeline
    (raw_documents.py) takes for full sniff+parse.
  - `write_warc_records(df, out_dir)` is the distributed sink:
    each task writes one `.warc.gz` with one gzip member per record
    (mtime pinned to 0 -> byte-deterministic output for a
    deterministic row order).

The record parser needs no external dependency: stdlib `zlib`/`gzip`
only.  The reference has no archive-container surface at all (it
parses single documents); this module exists because the engine's
100 TB input arrives as WARC.
"""

from __future__ import annotations

import gzip
import io
import zlib
from typing import Iterator

import pyarrow as pa

from .udfs import map_rows

# read_warc_records output after path
RECORD_FIELDS = [
    pa.field("record_id", pa.string()),
    pa.field("warc_type", pa.string()),
    pa.field("target_uri", pa.string()),
    pa.field("warc_date", pa.string()),
    pa.field("content_type", pa.string()),
    pa.field("content_length", pa.int64()),
    pa.field("payload", pa.binary()),
]

# warc_http_responses output after (path, record_id, target_uri,
# warc_date)
RESPONSE_FIELDS = [
    pa.field("http_status", pa.int32()),
    pa.field("http_content_type", pa.string()),
    pa.field("charset_hint", pa.string()),
    pa.field("body", pa.binary()),
]


# ---------------------------------------------------------------------
# record-level parse (pure functions, unit-testable without Spark)
# ---------------------------------------------------------------------

def iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Yield each gzip member of a multi-member stream, decompressed.
    Raises zlib.error on corrupt input (a truncated final member is
    surfaced, not silently dropped).  The remaining compressed bytes
    are passed as a memoryview slice — zero-copy, so a 50k-member
    Common Crawl archive stays decompress-bound instead of going
    quadratic in memcpy (review finding)."""
    view = memoryview(data)
    pos = 0
    n = len(view)
    while pos < n:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out = d.decompress(view[pos:])
        if not d.eof:
            raise zlib.error("truncated gzip member at offset %d" % pos)
        yield out
        consumed = (n - pos) - len(d.unused_data)
        pos += consumed


def _split_headers(block: bytes) -> dict:
    """Parse an RFC-822-ish header block (already without the blank
    line). Continuation lines (leading SP/HT) append to the previous
    value; names are case-insensitively folded to lower."""
    headers: dict = {}
    last = None
    for line in block.split(b"\r\n"):
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.strip().decode(
                "utf-8", "replace")
            continue
        name, sep, value = line.partition(b":")
        if not sep:
            continue  # tolerate junk header lines
        last = name.strip().lower().decode("ascii", "replace")
        headers[last] = value.strip().decode("utf-8", "replace")
    return headers


def parse_warc_buffer(buf: bytes, strict: bool = True):
    """Parse complete WARC records out of `buf`.  Returns
    (records, remainder): records is a list of (headers dict, payload
    bytes); remainder holds the trailing bytes of an incomplete record
    (empty when the buffer ends on a record boundary).  With
    strict=True a malformed record header raises ValueError."""
    records = []
    pos = 0
    n = len(buf)
    while True:
        # skip inter-record CRLFs
        while buf[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return records, b""
        start = pos
        if not buf.startswith(b"WARC/", pos):
            # an input chunk boundary can cut the trailer or the next
            # version line anywhere: a tail that is still a valid
            # PREFIX of "\r" + CRLF* + "WARC/" is incomplete, not
            # malformed — hand it back as remainder
            tail = buf[pos:]
            if tail == b"\r" or (len(tail) < 5
                                 and b"WARC/".startswith(tail)):
                return records, tail
            if strict:
                raise ValueError(
                    "expected WARC/ version at offset %d" % pos)
            return records, buf[start:]
        hdr_end = buf.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            return records, buf[start:]  # incomplete header block
        version_end = buf.find(b"\r\n", pos)
        headers = _split_headers(buf[version_end + 2:hdr_end])
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            if strict:
                raise ValueError(
                    "missing/invalid Content-Length at offset %d" % pos)
            return records, buf[start:]
        body_start = hdr_end + 4
        if body_start + clen > n:
            return records, buf[start:]  # incomplete payload
        records.append((headers, buf[body_start:body_start + clen]))
        pos = body_start + clen


def iter_warc_records(data: bytes, errors: str = "strict"):
    """Yield (headers, payload) from raw `.warc` or `.warc.gz` bytes.
    Gzip input is inflated member-by-member with a carry buffer, so a
    record written across members (non-Common-Crawl but legal) still
    parses and memory stays O(record), not O(file).

    errors="strict" raises on truncated/malformed input;
    errors="skip" yields every record that parsed BEFORE the damage
    and silently abandons the rest of the file — real crawls contain
    the occasional truncated archive, and one bad file must not be
    able to fail a 100 TB ingest (callers find damaged files by
    comparing per-path record counts against the crawl manifest)."""
    if errors not in ("strict", "skip"):
        raise ValueError("errors must be 'strict' or 'skip'")
    return _iter_warc_records_gen(data, errors == "strict")


def _iter_warc_records_gen(data: bytes, strict: bool):
    try:
        if data[:2] == b"\x1f\x8b":
            carry = b""
            for member in iter_gzip_members(data):
                carry += member
                records, carry = parse_warc_buffer(carry,
                                                   strict=strict)
                yield from records
                if not strict and carry and not (
                        carry == b"\r"
                        or b"WARC/".startswith(carry[:5])
                        or carry.startswith(b"WARC/")):
                    return  # malformed tail: abandon this file
                if not strict and len(carry) > (1 << 28):
                    return  # unparseable giant carry: abandon
            if carry.strip(b"\r\n") and strict:
                raise ValueError("trailing incomplete WARC record")
        else:
            records, rest = parse_warc_buffer(data, strict=strict)
            yield from records
            if rest.strip(b"\r\n") and strict:
                raise ValueError("trailing incomplete WARC record")
    except (ValueError, zlib.error):
        if strict:
            raise


def parse_http_response(payload: bytes):
    """Split an application/http response payload into
    (status int|None, headers dict, body bytes).  A payload without a
    CRLFCRLF separator is all-body with status None (truncated
    captures exist in real crawls; policy: keep the bytes, null the
    envelope)."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0 or not payload.startswith(b"HTTP/"):
        return None, {}, payload
    head = payload[:sep]
    line_end = head.find(b"\r\n")
    status_line = head[:line_end if line_end >= 0 else len(head)]
    parts = status_line.split(b" ", 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, {}, payload
    headers = _split_headers(head[line_end + 2:] if line_end >= 0
                             else b"")
    return status, headers, payload[sep + 4:]


def charset_from_content_type(ctype: str | None) -> str | None:
    """`text/html; charset=UTF-8` -> `utf-8` (the transport hint the
    encoding sniffer takes at BOM < hint < meta precedence)."""
    if not ctype:
        return None
    for part in ctype.split(";")[1:]:
        name, sep, value = part.partition("=")
        if sep and name.strip().lower() == "charset":
            return value.strip().strip("'\"").lower() or None
    return None


def _hval(name: str, value: str) -> bytes:
    """Header value with CR/LF rejected: an embedded \\r\\n\\r\\n would
    terminate the header block early and desynchronize the
    Content-Length framing of the file we ourselves wrote (review
    finding) — refuse loudly rather than corrupt the archive."""
    if "\r" in value or "\n" in value:
        raise ValueError(f"CR/LF in WARC header {name}: {value!r}")
    return value.encode()


def build_warc_record(warc_type: str, record_id: str, payload: bytes,
                      target_uri: str | None = None,
                      content_type: str = "application/http; msgtype=response") -> bytes:
    """Serialize one WARC/1.0 record (uncompressed), dated
    2024-01-01T00:00:00Z."""
    lines = [b"WARC/1.0",
             b"WARC-Type: " + _hval("WARC-Type", warc_type),
             b"WARC-Record-ID: " + _hval("WARC-Record-ID", record_id),
             b"WARC-Date: 2024-01-01T00:00:00Z"]
    if target_uri is not None:
        lines.append(b"WARC-Target-URI: "
                     + _hval("WARC-Target-URI", target_uri))
    lines.append(b"Content-Type: "
                 + _hval("Content-Type", content_type))
    lines.append(b"Content-Length: " + str(len(payload)).encode())
    return b"\r\n".join(lines) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def gzip_member(record: bytes) -> bytes:
    """One record -> one deterministic gzip member (mtime=0, no
    filename), the Common Crawl layout."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as z:
        z.write(record)
    return buf.getvalue()


# ---------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------

def _records_row(errors: str):
    """content -> one RECORD_FIELDS tuple per WARC record (the row
    kernel of read_warc_records)."""

    def _row(content):
        return [(h.get("warc-record-id"), h.get("warc-type"),
                 h.get("warc-target-uri"), h.get("warc-date"),
                 h.get("content-type"), len(payload), payload)
                for h, payload in iter_warc_records(bytes(content),
                                                    errors=errors)]

    return _row


def read_warc_records(spark, path, errors: str = "strict"):
    """WARC files -> one row per record.  binaryFile gives one task
    per file (Common Crawl parallelism is file-count, tens of
    thousands); record parsing runs in executors in one Arrow row
    kernel with per-member streaming.  Selecting only envelope columns
    still reads whole files (binary sources can't prune payload
    bytes) — at 100 TB point envelope-only queries at the crawl's CDX
    index instead.

    errors="skip" keeps a damaged archive from failing the job: the
    file's records before the damage are kept, the rest abandoned
    (compare per-path record counts against the crawl manifest to
    quarantine)."""
    if errors not in ("strict", "skip"):
        raise ValueError("errors must be 'strict' or 'skip'")
    files = spark.read.format("binaryFile").load(path)
    return map_rows(files, ["content"], ["path"], RECORD_FIELDS,
                    _records_row(errors))


def _http_row(payload):
    status, headers, body = parse_http_response(bytes(payload))
    ctype = headers.get("content-type")
    return [(status,
             ctype.split(";")[0].strip().lower() if ctype else None,
             charset_from_content_type(ctype), body)]


def warc_http_responses(records):
    """response-type records -> HTTP envelope + body.  The
    charset_hint column feeds raw_documents.extract_raw_documents as the
    transport hint (BOM < hint < meta precedence in the sniffer)."""
    from pyspark.sql import functions as F

    return map_rows(records.where(F.col("warc_type") == "response"),
                    ["payload"],
                    ["path", "record_id", "target_uri", "warc_date"],
                    RESPONSE_FIELDS, _http_row)


def write_warc_records(df, out_dir):
    """Distributed WARC sink: each task writes ONE `.warc.gz` (one
    gzip member per record, mtime=0) of response records built from
    the `record_id`, `target_uri` and `payload` columns.  Output bytes
    are deterministic given a deterministic row order per partition —
    callers that need byte-stable files repartition+
    sortWithinPartitions first.  Returns
    the per-file manifest collected AFTER all tasks finish (the write
    is the job's side effect; manifest rows are its only output).

    Retry-safe (review finding): records stream to a temp file named
    by the TASK ATTEMPT id, so a speculative/zombie attempt of the
    same partition can never interleave writes with the winner; the
    atomic os.replace publishes whichever attempt finishes — both
    wrote identical content (same partition, same deterministic
    order).  makedirs runs IN the task: the output directory must
    exist on the node that writes, not on the driver.  Memory is
    O(gzip member): rows are written as the batches stream in, never
    accumulated."""
    import os

    import pandas as pd

    def _write(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        tmp = f"{path}.tmp.{ctx.taskAttemptId()}"
        n = 0
        f = None
        try:
            for pdf in batches:
                for rid, uri, payload in zip(
                        pdf["record_id"], pdf["target_uri"], pdf["payload"]):
                    if f is None:
                        f = open(tmp, "wb")
                    f.write(gzip_member(build_warc_record(
                        "response", str(rid), bytes(payload),
                        target_uri=(None if uri is None else str(uri)))))
                    n += 1
            if f is None:
                return  # empty partition: no file
            f.close()
            f = None
            os.replace(tmp, path)
        finally:
            if f is not None:
                f.close()
            if os.path.exists(tmp):
                os.unlink(tmp)
        yield pd.DataFrame({"file": [path], "records": [n]})

    return df.mapInPandas(
        _write, "file string, records long").collect()
