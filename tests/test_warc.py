"""WARC source/sink: record framing, multi-member gzip streaming,
HTTP envelope split, the distributed Spark roundtrip, and the
composition with the raw-documents kernel ingest (charset hints from
HTTP headers driving the encoding sniffer)."""

import gzip
import zlib

import pytest

from html_parser_spark.spark.warc import (
    build_warc_record,
    charset_from_content_type,
    gzip_member,
    iter_gzip_members,
    iter_warc_records,
    parse_http_response,
    parse_warc_buffer,
)

HTTP = (b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=UTF-8\r\n"
        b"X-Long: a\r\n  b\r\n\r\n"
        b"<html><body>hi</body></html>")


def _three_records():
    r_info = build_warc_record(
        "warcinfo", "<urn:uuid:0>", b"software: test\r\n",
        content_type="application/warc-fields")
    r_resp = build_warc_record(
        "response", "<urn:uuid:1>", HTTP,
        target_uri="https://e.org/doc/1")
    r_req = build_warc_record(
        "request", "<urn:uuid:2>", b"GET / HTTP/1.1\r\n\r\n",
        target_uri="https://e.org/doc/1",
        content_type="application/http; msgtype=request")
    return r_info, r_resp, r_req


def test_record_framing_roundtrip():
    r_info, r_resp, r_req = _three_records()
    # plain concatenation and member-per-record gzip parse identically
    plain = list(iter_warc_records(r_info + r_resp + r_req))
    gz = list(iter_warc_records(
        gzip_member(r_info) + gzip_member(r_resp) + gzip_member(r_req)))
    assert [h["warc-record-id"] for h, _ in plain] == \
        ["<urn:uuid:0>", "<urn:uuid:1>", "<urn:uuid:2>"]
    assert plain == gz
    assert plain[1][0]["warc-type"] == "response"
    assert plain[1][1] == HTTP
    # payload bytes may contain \r\n\r\n and "WARC/" without confusing
    # the framing (Content-Length framing, not sentinel scanning)
    tricky = build_warc_record(
        "resource", "<urn:uuid:3>", b"WARC/1.0\r\n\r\nnot a record")
    got = list(iter_warc_records(tricky + r_info))
    assert len(got) == 2 and got[0][1] == b"WARC/1.0\r\n\r\nnot a record"


def test_record_straddles_gzip_members():
    """A record split across gzip members (legal, non-Common-Crawl)
    still parses: the carry buffer drains on member boundaries."""
    r_info, r_resp, r_req = _three_records()
    half = len(r_resp) // 2
    gz = (gzip_member(r_info) + gzip_member(r_resp[:half])
          + gzip_member(r_resp[half:] + r_req))
    got = list(iter_warc_records(gz))
    assert len(got) == 3 and got[1][1] == HTTP


def test_incomplete_and_corrupt_inputs_raise():
    r_info, r_resp, _ = _three_records()
    # parse_warc_buffer hands back the incomplete tail
    recs, rest = parse_warc_buffer((r_info + r_resp)[:len(r_info) + 25])
    assert len(recs) == 1 and rest.startswith(b"WARC/")
    # a truncated stream is an error, not silent data loss
    with pytest.raises(ValueError):
        list(iter_warc_records(r_info + r_resp[:40]))
    with pytest.raises(zlib.error):
        list(iter_warc_records(gzip_member(r_info)[:-4]))
    with pytest.raises(ValueError):
        parse_warc_buffer(b"NOT-WARC/1.0\r\n\r\n")
    # multi-member iteration consumes byte-exact member boundaries
    members = list(iter_gzip_members(
        gzip.compress(b"a", mtime=0) + gzip.compress(b"bb", mtime=0)))
    assert members == [b"a", b"bb"]


def test_lenient_skip_mode_quarantines_damage(spark, tmp_path):
    """errors='skip': a truncated archive yields its records before
    the damage and abandons the rest; other archives are unaffected;
    strict mode still raises. Exercised through the real Spark read
    so the task does not fail the job."""
    from html_parser_spark.spark.warc import (
        iter_warc_records, read_warc_records,
    )

    r_info, r_resp, r_req = _three_records()
    good = gzip_member(r_info) + gzip_member(r_resp) \
        + gzip_member(r_req)
    truncated = gzip_member(r_info) + gzip_member(r_resp)[:-6]
    garbled = gzip_member(r_info) + gzip_member(
        b"WARC-ish garbage, not a record") + gzip_member(r_req)

    assert len(list(iter_warc_records(truncated, errors="skip"))) == 1
    assert len(list(iter_warc_records(garbled, errors="skip"))) == 1
    with pytest.raises(zlib.error):
        list(iter_warc_records(truncated))
    with pytest.raises(ValueError):
        iter_warc_records(b"", errors="what")

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "good.warc.gz").write_bytes(good)
    (d / "bad.warc.gz").write_bytes(truncated)
    got = read_warc_records(spark, str(d) + "/*.warc.gz",
                            errors="skip").collect()
    by_file = {}
    for r in got:
        by_file.setdefault(r.path.rsplit("/", 1)[-1], []).append(r)
    assert len(by_file["good.warc.gz"]) == 3
    assert len(by_file["bad.warc.gz"]) == 1   # records before damage
    with pytest.raises(Exception):
        read_warc_records(spark, str(d) + "/*.warc.gz").collect()


def test_header_crlf_rejected():
    """CR/LF in a header value would desynchronize Content-Length
    framing of our own output — the writer refuses."""
    with pytest.raises(ValueError):
        build_warc_record("response", "<urn:x>", b"",
                          target_uri="https://e.org/\r\nWARC-Type: x")
    with pytest.raises(ValueError):
        build_warc_record("response", "<urn:a>\nb", b"")


def test_http_envelope_split():
    status, headers, body = parse_http_response(HTTP)
    assert status == 200
    assert headers["content-type"] == "text/html; charset=UTF-8"
    assert headers["x-long"] == "a b"          # continuation folded
    assert body == b"<html><body>hi</body></html>"
    # truncated capture: keep bytes, null the envelope
    assert parse_http_response(b"HTTP/1.1 200")[0] is None
    assert parse_http_response(b"garbage")[2] == b"garbage"
    assert charset_from_content_type("text/html; charset=UTF-8") == "utf-8"
    assert charset_from_content_type('a/b; charset="Big5"') == "big5"
    assert charset_from_content_type("text/plain") is None
    assert charset_from_content_type(None) is None


def test_warc_to_curated_corpus(spark, tmp_path):
    """The full web-pipeline composition jobs/warc_ingest_job.py +
    jobs/curate_job.py run: WARC archives -> HTTP split -> kernel
    parse (passthrough URI, no join-back) -> documents table ->
    curation (quality gate, exact dedup, LSH near-dup collapse).
    Non-200 and non-HTML records drop at the envelope; the exact dup
    and the near dup collapse to one representative; the junk page
    fails the quality gate."""
    from pyspark.sql import functions as F

    from html_parser_spark.spark.ops import curate_corpus
    from html_parser_spark.spark.raw_documents import (
        extract_raw_documents,
    )
    from html_parser_spark.spark.warc import (
        read_warc_records, warc_http_responses, write_warc_records,
    )

    article = ("the quick brown fox jumps over the lazy dog and then "
               "the dog chases the fox around the old oak tree while "
               "birds watch from the high branches above the river") * 2
    near = article + " extra tail words here"
    pages = [
        ("https://site-a.org/a", "<urn:w:0>",
         f"<html><body><p>{article}</p></body></html>"),
        ("https://site-a.org/b", "<urn:w:1>",
         f"<html><body><p>{near}</p></body></html>"),
        ("https://site-b.org/c", "<urn:w:2>",          # exact dup of /a
         f"<html><body><p>{article}</p></body></html>"),
        ("https://site-c.org/junk", "<urn:w:3>",
         "<html><body><p>000 111 222 333</p></body></html>"),
    ]
    rows = [
        (uri, rid,
         b"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
         b"charset=utf-8\r\n\r\n" + html.encode())
        for uri, rid, html in pages
    ] + [
        ("https://site-d.org/gone", "<urn:w:4>",
         b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n"
         b"\r\n<html>gone</html>"),
        ("https://site-d.org/robots.txt", "<urn:w:5>",
         b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
         b"\r\nUser-agent: *"),
    ]
    df = spark.createDataFrame(
        rows, "target_uri string, record_id string, payload binary")
    warc_dir = str(tmp_path / "crawl")
    write_warc_records(df.repartition(2, "record_id")
                       .sortWithinPartitions("record_id"), warc_dir)

    # == jobs/warc_ingest_job.py body ==
    responses = warc_http_responses(
        read_warc_records(spark, warc_dir + "/*.warc.gz"))
    html = responses.where(
        (F.col("http_status") == 200)
        & (F.col("http_content_type") == "text/html"))
    parsed = extract_raw_documents(
        html.select(F.col("record_id").alias("doc_id"),
                    F.col("body").alias("content"),
                    "charset_hint", "target_uri"),
        passthrough=("target_uri",))
    docs = parsed.select(
        F.xxhash64("doc_id").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.regexp_extract("target_uri", r"^[a-z]+://([^/]+)", 1)
        .alias("source"),
        F.lit("und").alias("lang"),
        F.col("extracted_text").alias("text"),
        F.length("extracted_text").alias("n_chars"),
        "parse_errors", "doc_encoding").cache()

    got = {r.url: r for r in docs.collect()}
    assert set(got) == {u for u, _, _ in pages}      # 404/plain dropped
    assert got["https://site-a.org/a"].source == "site-a.org"
    assert got["https://site-a.org/a"].text == article
    assert got["https://site-b.org/c"].text == article   # exact dup

    # == jobs/curate_job.py body ==
    kept = curate_corpus(docs).collect()
    kept_urls = {r.doc_id for r in kept}
    by_url = {r.url: r.doc_id for r in docs.collect()}
    # junk fails the quality gate
    assert by_url["https://site-c.org/junk"] not in kept_urls
    # {a, c} exact-dedup to one; b near-dups onto it -> ONE survivor
    cluster = {by_url["https://site-a.org/a"],
               by_url["https://site-a.org/b"],
               by_url["https://site-b.org/c"]}
    assert len(cluster & kept_urls) == 1
    assert len(kept) == 1


def test_spark_roundtrip_and_kernel_ingest(spark, tmp_path):
    """End-to-end: documents -> distributed .warc.gz sink -> record
    read -> HTTP split -> raw-documents kernel parse, with the
    transport charset hint coming from the HTTP Content-Type — a
    shift_jis page decodes through the hint exactly like the
    reference front-end."""
    from pyspark.sql import functions as F

    from html_parser_spark.spark.raw_documents import (
        extract_raw_documents,
    )
    from html_parser_spark.spark.warc import (
        read_warc_records, warc_http_responses, write_warc_records,
    )

    sjis_body = "<p>日本語のテスト</p>".encode("shift_jis")
    rows = [
        ("https://e.org/doc/0", "<urn:doc:0>",
         b"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
         b"charset=utf-8\r\n\r\n<p>hello <b>world</b></p>"),
        ("https://e.org/doc/1", "<urn:doc:1>",
         b"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
         b"charset=shift_jis\r\n\r\n" + sjis_body),
        ("https://e.org/doc/2", "<urn:doc:2>",
         b"HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n"
         b"\r\nnope"),
    ]
    df = spark.createDataFrame(
        rows, "target_uri string, record_id string, payload binary")
    out_dir = str(tmp_path / "warc_out")
    manifest = write_warc_records(
        df.repartition(2, "record_id")
        .sortWithinPartitions("record_id"), out_dir)
    assert sum(m.records for m in manifest) == 3

    records = read_warc_records(spark, out_dir + "/*.warc.gz")
    resp = warc_http_responses(records).cache()
    got = {r.record_id: r for r in resp.collect()}
    assert len(got) == 3
    assert got["<urn:doc:1>"].charset_hint == "shift_jis"
    assert got["<urn:doc:2>"].http_status == 404
    assert bytes(got["<urn:doc:0>"].body) == \
        b"<p>hello <b>world</b></p>"

    # compose into the kernel ingest: hint drives the sniffer
    parsed = extract_raw_documents(
        resp.where(F.col("http_status") == 200).select(
            F.col("record_id").alias("doc_id"),
            F.col("body").alias("content"),
            "charset_hint"))
    out = {r.doc_id: r for r in parsed.collect()}
    assert out["<urn:doc:1>"].doc_encoding == "Shift_JIS"
    assert "日本語のテスト" in out["<urn:doc:1>"].extracted_text
    assert "hello world" in out["<urn:doc:0>"].extracted_text

    # sink determinism: same input, same bytes (gzip mtime pinned)
    out_dir2 = str(tmp_path / "warc_out2")
    write_warc_records(
        df.repartition(2, "record_id")
        .sortWithinPartitions("record_id"), out_dir2)
    import pathlib
    files1 = sorted(pathlib.Path(out_dir).glob("*.warc.gz"))
    files2 = sorted(pathlib.Path(out_dir2).glob("*.warc.gz"))
    assert [f.read_bytes() for f in files1] == \
        [f.read_bytes() for f in files2]
