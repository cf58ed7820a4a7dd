"""PDF text + layout extraction (html_parser_spark.spark.pdf).

The value gate is NON-circular: pdf_encode (writer) and pdf_extract
(parser) are independent inverse implementations, and every expected
string comes from the generator side, never from parser output.
"""

import zlib

import pytest

from html_parser_spark.spark.pdf import (
    _parse_literal_string,
    _parse_value,
    pdf_encode,
    pdf_extract,
    synth_pdf_corpus,
)


class TestRoundtrip:
    def test_full_corpus_roundtrip(self):
        """Every corpus payload extracts to exactly the generator's
        expected text, page count, and run count."""
        for doc_id, payload, exp_text, exp_pages, exp_runs in (
                synth_pdf_corpus(40, 42)):
            try:
                n_pages, runs, text, ok = pdf_extract(payload)
            except ValueError:
                n_pages, runs, text, ok = 0, [], "", False
            assert text == exp_text, doc_id
            assert n_pages == exp_pages, doc_id
            assert len(runs) == exp_runs, doc_id
            assert ok == (exp_pages > 0), doc_id

    def test_writer_knobs_cover_paths(self):
        """The corpus genuinely exercises compressed, raw, hex, and
        TJ-array payloads (guards against knob drift)."""
        corpus = synth_pdf_corpus(10, 42)
        payloads = [p for _d, p, *_ in corpus[:10]]
        assert any(b"FlateDecode" in p for p in payloads)
        assert any(b"FlateDecode" not in p for p in payloads)
        assert any(b"> Tj" in p for p in payloads)  # hex strings
        assert any(b"] TJ" in p for p in payloads)  # kerned arrays

    def test_string_escapes(self):
        """Literal-string escape forms: named, octal (1-3 digits),
        nested parens, line continuation, unknown-escape drop."""
        s, _ = _parse_literal_string(rb"(a\nb\tc\(d\)e\\f)", 0)
        assert s == b"a\nb\tc(d)e\\f"
        s, _ = _parse_literal_string(rb"(\101\71\7x)", 0)
        assert s == b"A9\x07x"
        s, _ = _parse_literal_string(b"(nest(ed (deep)) ok)", 0)
        assert s == b"nest(ed (deep)) ok"
        s, _ = _parse_literal_string(b"(cont\\\r\ninued)", 0)
        assert s == b"continued"
        s, _ = _parse_literal_string(rb"(\q)", 0)  # unknown escape
        assert s == b"q"

    def test_object_parser_values(self):
        v, _ = _parse_value(b"<< /A 1 /B [2 3.5 /N] /C (s) /D <41> "
                            b"/E true /F null /G 7 0 R >>", 0)
        assert v["A"] == 1
        assert v["B"][:2] == [2, 3.5] and str(v["B"][2]) == "N"
        assert v["C"] == b"s" and v["D"] == b"A"
        assert v["E"] is True and v["F"] is None
        assert v["G"].num == 7

    def test_hex_string_odd_digit_and_whitespace(self):
        v, _ = _parse_value(b"<41 4\n2 2>", 0)
        assert v == b"AB "  # 41 42 2_ (odd final digit -> trailing 0)


class TestRobustness:
    def test_broken_xref_still_extracts(self):
        """Extraction must not depend on the xref table (byte-scan)."""
        payload = pdf_encode([[(72, 700, "resilient text")]])
        # corrupt every xref offset
        broken = payload.replace(b"0000000", b"9999999")
        assert broken != payload
        _, _, text, ok = pdf_extract(broken)
        assert ok and text == "resilient text"

    def test_incremental_update_last_definition_wins(self):
        """Appending a replacement object (incremental update) must
        shadow the original — last definition wins."""
        payload = pdf_encode([[(72, 700, "old words")]], compress=False)
        # the content stream is object 2 (font=1, content=2)
        new_stream = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (new words) Tj ET"
        update = (b"2 0 obj\n<< /Length " + str(len(new_stream)).encode()
                  + b" >>\nstream\n" + new_stream + b"\nendstream\nendobj\n")
        _, _, text, ok = pdf_extract(payload + update)
        assert ok and text == "new words"

    def test_unsupported_filter_marks_not_ok(self):
        payload = pdf_encode([[(72, 700, "hidden")]], compress=True)
        hacked = payload.replace(b"/FlateDecode", b"/LZWDecode\x20\x20")
        n_pages, runs, text, ok = pdf_extract(hacked)
        assert n_pages == 1 and not ok and text == "" and runs == []

    def test_multi_stream_page_contents_array(self):
        """/Contents may be an ARRAY of streams concatenated in order."""
        c1 = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (first) Tj ET"
        c2 = b"BT /F1 12 Tf 1 0 0 1 72 680 Tm (second) Tj ET"
        objs = []
        for c in (c1, c2):
            objs.append(b"<< /Length " + str(len(c)).encode()
                        + b" >>\nstream\n" + c + b"\nendstream")
        objs.append(b"<< /Type /Page /Parent 5 0 R /Contents "
                    b"[1 0 R 2 0 R] >>")
        objs.append(b"<< /Type /Catalog /Pages 5 0 R >>")
        objs.append(b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
        out = bytearray(b"%PDF-1.4\n")
        for i, body in enumerate(objs):
            out += f"{i + 1} 0 obj\n".encode() + body + b"\nendobj\n"
        out += b"trailer\n<< /Size 6 /Root 4 0 R >>\n%%EOF\n"
        _, _, text, ok = pdf_extract(bytes(out))
        assert ok and text == "first\nsecond"

    def test_object_stream_unpacking(self):
        """PDF 1.5 /ObjStm: catalog/pages/page live INSIDE a Flate
        object stream (invisible to the byte scan); the content stream
        stays outside (streams cannot be packed). Extraction must
        unpack the container and still find the page tree."""
        content = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (packed objects) Tj ET"
        inner = [
            (3, b"<< /Type /Catalog /Pages 4 0 R >>"),
            (4, b"<< /Type /Pages /Kids [5 0 R] /Count 1 >>"),
            (5, b"<< /Type /Page /Parent 4 0 R /Contents 1 0 R >>"),
        ]
        header = []
        body = b""
        for num, objbytes in inner:
            header.append(f"{num} {len(body)}".encode())
            body += objbytes + b" "
        head = b" ".join(header) + b" "
        payload_stream = zlib.compress(head + body)
        objstm_dict = (
            f"<< /Type /ObjStm /N {len(inner)} /First {len(head)} "
            f"/Length {len(payload_stream)} /Filter /FlateDecode >>"
        ).encode()
        objs = [
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",          # 1
            objstm_dict + b"\nstream\n" + payload_stream
            + b"\nendstream",                                        # 2
        ]
        out = bytearray(b"%PDF-1.5\n")
        for i, b in enumerate(objs):
            out += f"{i + 1} 0 obj\n".encode() + b + b"\nendobj\n"
        out += b"trailer\n<< /Size 6 /Root 3 0 R >>\n%%EOF\n"
        n_pages, runs, text, ok = pdf_extract(bytes(out))
        assert ok and n_pages == 1 and text == "packed objects"

    def test_stray_delimiter_does_not_hang(self):
        """Regression: a bare unmatched delimiter in a content stream
        (inline image data, corrupt-but-inflatable payloads) must be
        skipped, not spin the interpreter forever."""
        from html_parser_spark.spark.pdf import _content_runs

        runs = _content_runs(
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (abc) Tj ET )")
        assert [r[2] for r in runs] == ["abc"]
        runs = _content_runs(b"] } > BT (x) Tj ET")  # leading strays
        assert [r[2] for r in runs] == ["x"]

    def test_nonnumeric_positioning_operands_skipped(self):
        """Regression: array/dict/name/string operands where a
        positioning operator expects numbers must SKIP the operator
        (tolerant parse), not TypeError past the ValueError-only
        contract."""
        from html_parser_spark.spark.pdf import _content_runs

        for payload in (
            b"BT [(x)] TL (a) Tj ET",
            b"BT <</X 1>> TL (a) Tj ET",
            b"BT (s) (t) Td (a) Tj ET",
            b"BT /N 1 0 0 1 (u) (v) Tm (a) Tj ET",
            b"BT [(k)] 2 TD (a) Tj ET",
        ):
            runs = _content_runs(payload)
            assert [r[2] for r in runs] == ["a"], payload
        # numeric positioning still applies
        runs = _content_runs(b"BT 1 0 0 1 72 700 Tm (a) Tj ET")
        assert runs == [(72.0, 700.0, "a")]

    def test_stream_body_does_not_clobber_objects(self):
        """Regression: raw binary stream bytes containing 'N G obj'
        must not overwrite real object N (the scan resumes past
        endstream)."""
        payload = pdf_encode([[(72, 700, "survives")]], compress=False)
        evil = (b"9 0 obj\n<< /Length 11 >>\nstream\n"
                b"3 0 obj 7 \nendstream\nendobj\n")
        # splice the evil stream BEFORE the real objects so a naive
        # rescan of its body would redefine object 3 (the page)
        hacked = payload.replace(b"1 0 obj", evil + b"1 0 obj", 1)
        _, _, text, ok = pdf_extract(hacked)
        assert ok and text == "survives"

    def test_indirect_length_with_trailing_eol_bytes(self):
        """Regression: /Length as an indirect ref with Flate data that
        legitimately ends in EOL bytes must not be rstripped away."""
        content = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (indirect len) Tj ET"
        # brute-force a zlib payload whose LAST byte is an EOL byte by
        # padding the plaintext with a trailing %-comment (ignored by
        # the content interpreter)
        body = None
        for pad in range(2000):
            cand = zlib.compress(
                content + b" %" + bytes([65 + pad % 26]) * (pad // 26 + 1))
            if cand.endswith((b"\n", b"\r")):
                body = cand
                break
        assert body is not None, "no trailing-EOL zlib sample found"
        objs = [
            b"<< /Length 5 0 R /Filter /FlateDecode >>\nstream\n"
            + body + b"\nendstream",                                  # 1
            b"<< /Type /Page /Parent 4 0 R /Contents 1 0 R >>",       # 2
            b"<< /Type /Catalog /Pages 4 0 R >>",                     # 3
            b"<< /Type /Pages /Kids [2 0 R] /Count 1 >>",             # 4
            str(len(body)).encode(),                                  # 5
        ]
        out = bytearray(b"%PDF-1.4\n")
        for i, b in enumerate(objs):
            out += f"{i + 1} 0 obj\n".encode() + b + b"\nendobj\n"
        out += b"trailer\n<< /Size 6 /Root 3 0 R >>\n%%EOF\n"
        _, _, text, ok = pdf_extract(bytes(out))
        assert ok and text == "indirect len"

    def test_contentless_page_is_valid_empty(self):
        """A page with no /Contents key is a legal empty page, not a
        decode failure."""
        objs = [
            b"<< /Type /Page /Parent 3 0 R >>",                       # 1
            b"<< /Type /Catalog /Pages 3 0 R >>",                     # 2
            b"<< /Type /Pages /Kids [1 0 R] /Count 1 >>",             # 3
        ]
        out = bytearray(b"%PDF-1.4\n")
        for i, b in enumerate(objs):
            out += f"{i + 1} 0 obj\n".encode() + b + b"\nendobj\n"
        out += b"trailer\n<< /Size 4 /Root 2 0 R >>\n%%EOF\n"
        n_pages, runs, text, ok = pdf_extract(bytes(out))
        assert ok and n_pages == 1 and text == "" and runs == []

    def test_asciihex_filter_and_chain(self):
        """ASCIIHexDecode streams and [ASCIIHex, Flate] chains decode;
        a still-unsupported filter (LZW) marks the page not-ok."""
        content = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (hex stream) Tj ET"

        def doc_with(stream_bytes, filter_clause):
            objs = [
                (f"<< /Length {len(stream_bytes)} {filter_clause} >>"
                 .encode()) + b"\nstream\n" + stream_bytes + b"\nendstream",
                b"<< /Type /Page /Parent 4 0 R /Contents 1 0 R >>",
                b"<< /Type /Catalog /Pages 4 0 R >>",
                b"<< /Type /Pages /Kids [2 0 R] /Count 1 >>",
            ]
            out = bytearray(b"%PDF-1.4\n")
            for i, b in enumerate(objs):
                out += f"{i + 1} 0 obj\n".encode() + b + b"\nendobj\n"
            out += b"trailer\n<< /Size 5 /Root 3 0 R >>\n%%EOF\n"
            return bytes(out)

        hexed = content.hex().encode() + b">"
        _, _, text, ok = pdf_extract(
            doc_with(hexed, "/Filter /ASCIIHexDecode"))
        assert ok and text == "hex stream"

        # chain: hex-encoding OF the deflated bytes -> [AHx, Fl]
        chained = zlib.compress(content).hex().encode() + b">"
        _, _, text, ok = pdf_extract(doc_with(
            chained, "/Filter [/ASCIIHexDecode /FlateDecode]"))
        assert ok and text == "hex stream"

        _, _, text, ok = pdf_extract(
            doc_with(content, "/Filter /LZWDecode"))
        assert not ok and text == ""

    def test_not_a_pdf_raises(self):
        with pytest.raises(ValueError):
            pdf_extract(b"GIF89a nope")

    def test_pages_tree_cycle_guard(self):
        """A Kids entry pointing back at its ancestor must not loop."""
        payload = pdf_encode([[(72, 700, "safe")]])
        # pages object (4) lists itself as an extra kid -> cycle
        hacked = payload.replace(b"/Kids [3 0 R]", b"/Kids [3 0 R 4 0 R]")
        assert hacked != payload
        _, _, text, ok = pdf_extract(hacked)
        assert text == "safe"


class TestLayout:
    def test_lines_ordered_top_down_runs_left_right(self):
        """Runs arrive out of order; layout must sort by (page, -y, x)."""
        page = [
            (300.0, 650.0, "right-low"),
            (72.0, 700.0, "left-high"),
            (72.0, 650.0, "left-low"),
            (300.0, 700.0, "right-high"),
        ]
        _, _, text, ok = pdf_extract(pdf_encode([page]))
        assert ok
        assert text == "left-high right-high\nleft-low right-low"

    def test_td_t_star_line_advance(self):
        """Td/TL/T* positioning (no Tm) must produce distinct lines."""
        content = (b"BT /F1 12 Tf 14 TL 72 700 Td (one) Tj "
                   b"T* (two) Tj T* (three) Tj ET")
        body = zlib.compress(content)
        # wrap manually to use Td instead of the writer's Tm
        objs = [
            b"<< /Length " + str(len(body)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + body + b"\nendstream",
            b"<< /Type /Page /Parent 4 0 R /Contents 1 0 R >>",
            b"<< /Type /Catalog /Pages 4 0 R >>",
            b"<< /Type /Pages /Kids [2 0 R] /Count 1 >>",
        ]
        out = bytearray(b"%PDF-1.4\n")
        for i, b in enumerate(objs):
            out += f"{i + 1} 0 obj\n".encode() + b + b"\nendobj\n"
        out += b"trailer\n<< /Size 5 /Root 3 0 R >>\n%%EOF\n"
        _, runs, text, ok = pdf_extract(bytes(out))
        assert ok and text == "one\ntwo\nthree"

    def test_pages_separated_by_blank_line(self):
        doc = [[(72, 700, "page one")], [(72, 700, "page two")]]
        _, _, text, ok = pdf_extract(pdf_encode(doc))
        assert ok and text == "page one\n\npage two"


class TestSparkOperator:
    def test_extract_pdfs_matches_generator(self, spark):
        from html_parser_spark.spark.pdf import extract_pdfs, synth_pdf_df

        expected = {
            d: (exp, np, nr)
            for d, _p, exp, np, nr in synth_pdf_corpus(12, 42)
        }
        out = extract_pdfs(synth_pdf_df(spark, 12, seed=42)).collect()
        assert len(out) == 14  # 12 + 2 corrupt
        for r in out:
            exp_text, exp_pages, exp_runs = expected[r.doc_id]
            assert r.extracted_text == exp_text
            assert r.n_pages == exp_pages
            assert r.n_runs == exp_runs
            assert r.decode_ok == (exp_pages > 0)
            if exp_runs:
                assert len(r.runs) == exp_runs
                assert r.runs[0].page == 0
                assert r.runs[0].x == 72.0

    def test_plan_single_python_stage(self, spark):
        """One mapInArrow crossing, nothing else Python-side."""
        from html_parser_spark.spark.pdf import extract_pdfs, synth_pdf_df

        q = extract_pdfs(synth_pdf_df(spark, 4))
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1
        assert "BatchEvalPython" not in plan

    def test_nan_position_is_null(self, spark):
        """A run position that overflows to inf and back to NaN
        (inf + -inf in Td) reaches Spark as NULL, not NaN."""
        import math
        import re

        from html_parser_spark.spark.pdf import PDF_SCHEMA, extract_pdfs

        big = "1" + "0" * 310 + ".0"
        body = f"1 0 0 1 {big} 700 Tm -{big} 0 Td (nan) Tj".encode()
        pdf = pdf_encode([[(72.0, 700.0, "x")]], compress=False)
        pdf = pdf.replace(b"1 0 0 1 72 700 Tm\n(x) Tj", body)
        pdf = re.sub(rb"/Length \d+", b"/Length %d" % len(
            b"BT /F1 12 Tf\n" + body + b"\nET"), pdf)
        assert math.isnan(pdf_extract(pdf)[1][0][1])
        (row,) = extract_pdfs(spark.createDataFrame(
            [(0, bytearray(pdf))], PDF_SCHEMA)).collect()
        assert row.decode_ok and row.extracted_text == "nan"
        assert row.runs[0].x is None and row.runs[0].y == 700.0


def test_fuzz_mutated_payloads_terminate():
    """Robustness fuzz: random byte corruptions of valid payloads must
    terminate promptly and either extract or raise ValueError — the
    only exception type the Spark kernel's contract documents. A hang
    here is the one failure mode per-row tolerance cannot absorb."""
    import random
    import signal

    rng = random.Random(20260816)
    base_payloads = [p for _d, p, *_ in synth_pdf_corpus(6, 42)[:6]]

    def on_alarm(_sig, _frm):  # pragma: no cover — only fires on bug
        raise TimeoutError("pdf_extract hung on mutated payload")

    old = signal.signal(signal.SIGALRM, on_alarm)
    try:
        for trial in range(300):
            payload = bytearray(rng.choice(base_payloads))
            for _ in range(rng.randint(1, 8)):
                op = rng.random()
                pos = rng.randrange(len(payload))
                if op < 0.5:
                    payload[pos] = rng.randrange(256)
                elif op < 0.8:  # truncate
                    payload = payload[:max(pos, 16)]
                else:  # duplicate a slice (fake incremental update)
                    payload += payload[pos:pos + 64]
            signal.alarm(10)
            try:
                pdf_extract(bytes(payload))
            except ValueError:
                pass
            finally:
                signal.alarm(0)
    finally:
        signal.signal(signal.SIGALRM, old)


def test_property_roundtrip_random_layout():
    """Hypothesis: arbitrary word grids at arbitrary positions survive
    the writer->parser->layout roundtrip."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    words = st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126,
                               exclude_characters="\\()<>[]{}/%"),
        min_size=1, max_size=8)

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(  # pages
            st.lists(words, min_size=1, max_size=4),  # lines of 1 word
            min_size=1, max_size=3),
        st.booleans(),
    )
    def check(pages, compress):
        doc = []
        expected_pages = []
        for lines in pages:
            runs = [(72.0, 700.0 - 20 * i, w)
                    for i, w in enumerate(lines)]
            doc.append(runs)
            expected_pages.append("\n".join(lines))
        n_pages, _runs, text, ok = pdf_extract(
            pdf_encode(doc, compress=compress))
        assert ok and n_pages == len(pages)
        assert text == "\n\n".join(expected_pages)

    check()
