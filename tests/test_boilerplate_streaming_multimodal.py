"""Tests for the boilerplate strip, watermarked late-data semantics
and the multimodal plumbing."""

import pytest

pytestmark = pytest.mark.spark


NAV_PAGE = (
    "<div class='nav'><a href='/'>Home</a> <a href='/a'>About</a> "
    "<a href='/b'>More</a></div>"
    "<article><p>This is the actual article content, a long paragraph of "
    "prose that any boilerplate scorer should retain in the output.</p>"
    "<p>And here is a second paragraph with enough stopwords to look "
    "like honest text.</p></article>"
    "<footer>© 2020 <a href='#'>terms</a> <a href='#'>privacy</a></footer>"
)


class TestBoilerplate:
    def test_nav_and_footer_stripped(self):
        from html_parser_spark.kernel.api import parse_fragment
        from html_parser_spark.kernel.boilerplate import strip_boilerplate

        res = parse_fragment(NAV_PAGE, "div")
        text, spans, kept, total = strip_boilerplate(res.doc)
        assert "actual article content" in text
        assert "Home" not in text
        assert "privacy" not in text
        assert kept >= 2
        # spans reconstruct the text
        rebuilt = "".join(
            text[s["start"]:s["end"]] for s in spans
        )
        assert rebuilt == text.replace("\n", "")

    def test_script_style_pruned(self):
        from html_parser_spark.kernel.api import parse_fragment
        from html_parser_spark.kernel.boilerplate import strip_boilerplate

        html = ("<script>var x = 'a lot of javascript text here';</script>"
                "<p>Keep this sentence because it is the real page "
                "content and long.</p>"
                "<style>.c { color: red }</style>")
        res = parse_fragment(html, "div")
        text, _, _, _ = strip_boilerplate(res.doc)
        assert "javascript" not in text and "color" not in text
        assert "Keep this sentence" in text

    def test_off_by_default_equality_preserved(self):
        from html_parser_spark.spark.udfs import parse_turn

        plain = parse_turn(NAV_PAGE, "fragment", "div", boilerplate=False)
        assert "Home" in plain[0]  # verbatim extraction keeps everything

    def test_pipeline_boilerplate_mode(self, spark):
        import datetime

        from html_parser_spark.spark.pipeline import extract_turns

        df = spark.createDataFrame(
            [("c0", 0, "user", NAV_PAGE, None,
              datetime.datetime(2020, 1, 1)),
             ("c0", 1, "user", "short", None,
              datetime.datetime(2020, 1, 1))],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        rows = {r.turn_idx: r.extracted_text
                for r in extract_turns(df, boilerplate=True).collect()}
        assert "actual article content" in rows[0]
        assert "Home" not in rows[0]
        assert rows[1] == ""  # short, no stopwords -> scored out


class TestStreaming:
    def test_watermark_drops_late_data(self, spark, tmp_path):
        """Behavioral late-data semantics: a windowed watermarked
        aggregate emits a closed window, then an event arriving AFTER
        the watermark passed that window must not resurrect or re-emit
        it — the late row is dropped, the standard streaming trade."""
        import datetime

        from pyspark.sql import functions as F

        src = str(tmp_path / "late_in")
        out = str(tmp_path / "late_out")
        ckpt = str(tmp_path / "late_ckpt")
        t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
        schema = "conv_id string, ts timestamp, n long"

        def run_once():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(src)
            )
            agg = (
                stream.withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "5 minutes"), F.col("conv_id"))
                .agg(F.count("*").alias("n_rows"))
                .select(F.col("window.start").alias("w_start"),
                        "conv_id", "n_rows")
            )
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        dt = datetime.timedelta
        # life 1: two rows in window [12:00, 12:05) plus a row far
        # enough ahead (12:30) to advance the watermark to 12:20 and
        # close+emit that first window
        spark.createDataFrame(
            [("a", t0 + dt(minutes=1), 1),
             ("a", t0 + dt(minutes=2), 1),
             ("a", t0 + dt(minutes=30), 1)], schema
        ).coalesce(1).write.parquet(src)
        run_once()
        emitted = {(r.w_start, r.conv_id): r.n_rows
                   for r in spark.read.parquet(out).collect()}
        assert emitted.get((t0, "a")) == 2  # closed window emitted

        # life 2: a LATE row into the already-closed window, plus a
        # fresh row even further ahead so remaining windows also close
        spark.createDataFrame(
            [("a", t0 + dt(minutes=3), 1),   # late: watermark is 12:20
             ("a", t0 + dt(minutes=60), 1)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        run_once()
        rows = spark.read.parquet(out).collect()
        # the closed window appears exactly once and still counts 2 —
        # the late row neither re-emitted nor re-counted it
        first = [r for r in rows if r.w_start == t0]
        assert len(first) == 1 and first[0].n_rows == 2
        # the 12:30 window eventually emitted with only its own row
        mid = [r for r in rows if r.w_start == t0 + dt(minutes=30)]
        assert len(mid) == 1 and mid[0].n_rows == 1


class TestMultimodal:
    def test_decode_ok_only_when_pixels_decode(self, spark):
        """Raw-codec synth videos decode for real; a COMPRESSED codec
        (avc1 — no decoder in this container) keeps its 64 digest
        features but reports decode_ok false, and so does a video
        payload that is not ISO-BMFF at all."""
        from html_parser_spark.spark.multimodal import (
            MEDIA_SCHEMA, decode_media, mp4_encode_stub, synth_media_df,
        )

        ok = decode_media(synth_media_df(spark, 8)).collect()
        assert len(ok) == 8 and all(r.decode_ok for r in ok)

        avc = mp4_encode_stub(2000, 16, 12, b"", frames=[b"x" * 100],
                              codec=b"avc1")
        meta = ("mp4", 16, 12, 2000, None)
        df = spark.createDataFrame(
            [(0, "video", bytearray(avc), meta),
             (1, "video", bytearray(b"not an mp4 at all"), meta)],
            MEDIA_SCHEMA)
        got = {r.media_id: r for r in decode_media(df).collect()}
        assert not got[0].decode_ok and len(got[0].features) == 64
        assert not got[1].decode_ok

    def test_decode_fake_deterministic(self, spark):
        from html_parser_spark.spark.multimodal import (
            decode_media, synth_media_df,
        )

        df = synth_media_df(spark, 12)
        first = decode_media(df).collect()
        a = {r.media_id: (r.sha, tuple(r.features)) for r in first}
        b = {r.media_id: (r.sha, tuple(r.features))
             for r in decode_media(df).collect()}
        assert a == b and len(a) == 12
        assert all(len(r.features) == 64 for r in first)

    def test_png_wav_roundtrip(self):
        """The pure-stdlib codecs are real: encode -> decode recovers
        the exact pixels/samples, and the decoder unfilters scanlines
        written with filters 1-4 by any conformant writer."""
        import struct
        import zlib

        from html_parser_spark.spark.multimodal import (
            _chunk, _PNG_SIG, png_decode, png_encode, wav_decode,
            wav_encode,
        )

        px = bytes((x * 7 + y * 13 + c * 29) % 256
                   for y in range(9) for x in range(7) for c in range(3))
        w, h, ch, got = png_decode(png_encode(7, 9, px, 3))
        assert (w, h, ch) == (7, 9, 3) and got == px

        # grayscale + RGBA
        g = bytes(range(0, 24))
        assert png_decode(png_encode(6, 4, g, 1))[3] == g
        ga = bytes((i * 17) % 256 for i in range(6 * 4 * 4))
        assert png_decode(png_encode(6, 4, ga, 4))[3] == ga

        # a PNG using Sub/Up/Average/Paeth filters per row
        stride = 7 * 3
        rows_px = [px[y * stride:(y + 1) * stride] for y in range(9)]
        raw = []
        prev = bytes(stride)
        for y, line in enumerate(rows_px):
            f = [0, 1, 2, 3, 4][y % 5]
            enc = bytearray(line)
            if f == 1:
                for i in range(stride - 1, 2, -1):
                    enc[i] = (enc[i] - line[i - 3]) & 0xFF
            elif f == 2:
                for i in range(stride):
                    enc[i] = (enc[i] - prev[i]) & 0xFF
            elif f == 3:
                for i in range(stride):
                    a = line[i - 3] if i >= 3 else 0
                    enc[i] = (enc[i] - ((a + prev[i]) >> 1)) & 0xFF
            elif f == 4:
                from html_parser_spark.spark.multimodal import _paeth
                for i in range(stride):
                    a = line[i - 3] if i >= 3 else 0
                    c = prev[i - 3] if i >= 3 else 0
                    enc[i] = (enc[i] - _paeth(a, prev[i], c)) & 0xFF
            raw.append(bytes([f]) + bytes(enc))
            prev = line
        ihdr = struct.pack(">IIBBBBB", 7, 9, 8, 2, 0, 0, 0)
        data = (_PNG_SIG + _chunk(b"IHDR", ihdr)
                + _chunk(b"IDAT", zlib.compress(b"".join(raw)))
                + _chunk(b"IEND", b""))
        assert png_decode(data)[3] == px

        samples = [0, 1000, -1000, 32767, -32768, 5]
        rate, nch, got_s = wav_decode(wav_encode(samples, 8000))
        assert (rate, nch, got_s) == (8000, 1, samples)

        # GIF: LZW roundtrip through the uncompressed-technique writer
        from html_parser_spark.spark.multimodal import gif_decode, gif_encode

        pal = bytes(range(48))
        idx = bytes((i * 7) % 16 for i in range(20 * 9))
        w2, h2, ch2, rgb = gif_decode(gif_encode(20, 9, idx, pal))
        assert (w2, h2, ch2) == (20, 9, 3)
        assert rgb == b"".join(pal[i * 3:i * 3 + 3] for i in idx)

    def test_decode_real_image_audio_features(self, spark):
        from html_parser_spark.spark.multimodal import (
            decode_media, synth_media_df,
        )

        df = synth_media_df(spark, 9)
        rows = {r.media_id: r for r in decode_media(df).collect()}
        metas = {r.media_id: (r.kind, r.meta) for r in df.collect()}
        for mid, (kind, meta) in metas.items():
            f = rows[mid].features
            if kind == "image":
                assert (int(f[0]), int(f[1])) == (meta.width, meta.height)
                assert int(f[2]) == 3
            elif kind == "audio":
                assert int(f[0]) == meta.sample_rate
            elif kind == "video":
                # REAL container demux: duration/dims from the boxes
                assert int(f[0]) == meta.duration_ms
                assert (int(f[1]), int(f[2])) == (meta.width, meta.height)

    def test_resize_real_png(self, spark):
        from html_parser_spark.spark.multimodal import (
            png_decode, resize_images, synth_media_df,
        )

        df = synth_media_df(spark, 9)
        rows = resize_images(df, 16, 8).collect()
        assert rows
        for r in rows:
            w, h, ch, px = png_decode(bytes(r.payload))
            assert (w, h) == (16, 8) and len(px) == 16 * 8 * ch

    def test_resize_tolerates_corrupt_rows(self, spark):
        """One corrupt payload marks its row null; good rows survive
        (same 100TB tolerance policy as decode_media)."""
        from html_parser_spark.spark.multimodal import (
            png_decode, png_encode, resize_images,
        )

        good = png_encode(8, 8, bytes(8 * 8 * 3))
        rows = [
            (0, "image", bytearray(good), None),
            (1, "image", bytearray(b"\x89PNG\r\n\x1a\nGARBAGE"), None),
            (2, "image", bytearray(good[:20]), None),  # truncated
        ]
        from html_parser_spark.spark.multimodal import MEDIA_SCHEMA

        df = spark.createDataFrame(rows, MEDIA_SCHEMA)
        out = {r.media_id: r for r in resize_images(df, 4, 4).collect()}
        assert len(out) == 3
        assert png_decode(bytes(out[0].payload))[:2] == (4, 4)
        assert out[1].payload is None and out[2].payload is None

    def test_jpeg_roundtrip_444_420_gray(self):
        """Baseline JPEG is REAL: encode (all-ones quant) -> decode
        recovers pixels within DCT rounding; 4:2:0 exercises the
        multi-block MCU + chroma upsample path; gray the 1-component
        path. Non-multiple-of-8 and non-multiple-of-16 dims cover the
        edge-crop logic."""
        import numpy as np

        from html_parser_spark.spark.multimodal import (
            jpeg_decode, jpeg_encode,
        )

        h, w = 24, 33
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.stack([(xx * 7) % 256, (yy * 5) % 256,
                        ((xx + yy) * 3) % 256], axis=-1).astype(np.uint8)
        for sub, tol in ((1, 3), (2, 24)):
            data = jpeg_encode(w, h, 3, img.tobytes(), subsample=sub)
            w2, h2, ch, px = jpeg_decode(data)
            assert (w2, h2, ch) == (w, h, 3)
            out = np.frombuffer(px, np.uint8).reshape(h, w, 3)
            err = np.abs(out.astype(int) - img.astype(int))
            # 4:4:4 error is pure DCT rounding; 4:2:0 additionally
            # loses chroma resolution (gradient steps up to ~2x7 per
            # 2px box), so its bound is looser but still tight enough
            # to prove real pixel decoding, not a digest
            assert err.max() <= tol, (sub, err.max())
            assert err.mean() < (0.6 if sub == 1 else 4.0)

        g = np.asarray([(x * 31 + y * 3) % 256
                        for y in range(17) for x in range(19)],
                       dtype=np.uint8)
        data = jpeg_encode(19, 17, 1, g.tobytes())
        w2, h2, ch, px = jpeg_decode(data)
        assert (w2, h2, ch) == (19, 17, 1)
        err = np.abs(np.frombuffer(px, np.uint8).astype(int)
                     - g.astype(int))
        assert err.max() <= 2

    def test_jpeg_fill_bytes_tolerated(self):
        """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        marker code — both between header segments and before EOI at
        the end of the entropy stream. A compliant padding encoder
        must still decode."""
        import numpy as np

        from html_parser_spark.spark.multimodal import (
            jpeg_decode, jpeg_encode,
        )

        h, w = 16, 16
        img = np.arange(h * w * 3, dtype=np.uint32).reshape(h, w, 3)
        img = (img % 256).astype(np.uint8)
        data = jpeg_encode(w, h, 3, img.tobytes())
        assert data[-2:] == b"\xff\xd9"
        # fill bytes before EOI (after entropy data) and after SOI
        padded = (data[:2] + b"\xff" * 3
                  + data[2:-2] + b"\xff" * 4 + b"\xff\xd9")
        w2, h2, ch, px = jpeg_decode(padded)
        assert (w2, h2, ch) == (w, h, 3)
        base = np.frombuffer(jpeg_decode(data)[3], np.uint8)
        assert np.array_equal(np.frombuffer(px, np.uint8), base)

    def test_jpeg_progressive_degrades_to_digest(self, spark):
        """Progressive JPEG mirrors the compressed-video policy:
        deterministic digest features with decode_ok False. Baseline
        JPEG rows decode for real."""
        import numpy as np

        from html_parser_spark.spark.multimodal import (
            MEDIA_SCHEMA, decode_media, jpeg_encode,
        )

        img = np.full((8, 8, 3), 99, dtype=np.uint8)
        baseline = jpeg_encode(8, 8, 3, img.tobytes())
        # minimal progressive header: SOI + SOF2 with an 8x8 1-comp body
        import struct as _struct

        sof2 = (b"\xff\xc2" + _struct.pack(">H", 11)
                + bytes([8]) + _struct.pack(">HH", 8, 8)
                + bytes([1, 1, 0x11, 0]))
        progressive = b"\xff\xd8" + sof2 + b"\xff\xd9"

        rows = [(0, "image", bytearray(baseline), None),
                (1, "image", bytearray(progressive), None)]
        df = spark.createDataFrame(rows, MEDIA_SCHEMA)

        got = {r.media_id: r for r in decode_media(df).collect()}
        assert got[0].decode_ok and int(got[0].features[0]) == 8
        assert not got[1].decode_ok
        # deterministic digest, not a decode
        again = {r.media_id: r
                 for r in decode_media(df).collect()}
        assert got[1].features == again[1].features

    def test_jpeg_features_and_resize_through_spark(self, spark):
        """A JPEG payload flows through the same Arrow kernels as PNG:
        decode_media reports true dims/channels; resize_images decodes
        the JPEG and re-emits a valid PNG at the target geometry whose
        pixels match nearest-neighbor of the JPEG-decoded image."""
        import numpy as np

        from html_parser_spark.spark.multimodal import (
            MEDIA_SCHEMA, decode_media, jpeg_decode, jpeg_encode,
            png_decode, resize_images,
        )

        h, w = 20, 28
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.stack([(xx * 11) % 256, (yy * 9) % 256,
                        (xx * yy) % 256], axis=-1).astype(np.uint8)
        payload = jpeg_encode(w, h, 3, img.tobytes())
        df = spark.createDataFrame(
            [(0, "image", bytearray(payload), None)], MEDIA_SCHEMA)

        feat = decode_media(df).collect()[0]
        assert feat.decode_ok
        assert (int(feat.features[0]), int(feat.features[1]),
                int(feat.features[2])) == (w, h, 3)

        r = resize_images(df, 7, 5).collect()[0]
        rw, rh, rch, rpx = png_decode(bytes(r.payload))
        assert (rw, rh, rch) == (7, 5, 3)
        # reference: NN-resample of the DECODED jpeg (not the source)
        _, _, _, dpx = jpeg_decode(payload)
        dec = np.frombuffer(dpx, np.uint8).reshape(h, w, 3)
        sy = np.arange(5) * h // 5
        sx = np.arange(7) * w // 7
        expect = dec[sy[:, None], sx[None, :], :]
        assert np.array_equal(
            np.frombuffer(rpx, np.uint8).reshape(5, 7, 3), expect)

    def test_mp4_probe_v1_and_largesize(self):
        """Version-1 mvhd/tkhd (64-bit times/durations) and size==1
        largesize boxes parse to the same duration/dims as v0."""
        import struct

        from html_parser_spark.spark.multimodal import _box, mp4_probe

        timescale, dur_ms, w, h = 90000, 12_345, 640, 360
        mvhd_v1 = (b"\x01\x00\x00\x00" + b"\x00" * 16
                   + struct.pack(">IQ", timescale,
                                 dur_ms * timescale // 1000)
                   + b"\x00" * 80)
        tkhd_v1 = (b"\x01\x00\x00\x07" + b"\x00" * 84
                   + struct.pack(">II", w << 16, h << 16))
        moov = _box(b"moov", _box(b"mvhd", mvhd_v1)
                    + _box(b"trak", _box(b"tkhd", tkhd_v1)))
        data = (_box(b"ftyp", b"isom\x00\x00\x02\x00") + moov
                + _box(b"mdat", b"x" * 32))
        assert mp4_probe(data)[:3] == (dur_ms, w, h)

        # same file with moov wrapped in a 64-bit largesize header
        body = moov[8:]
        large = (struct.pack(">I", 1) + b"moov"
                 + struct.pack(">Q", len(body) + 16) + body)
        data2 = (_box(b"ftyp", b"isom\x00\x00\x02\x00") + large
                 + _box(b"mdat", b"x" * 32))
        assert mp4_probe(data2)[:3] == (dur_ms, w, h)

        # size==0: box extends to end of the enclosing container
        tail = struct.pack(">I", 0) + b"mdat" + b"y" * 100
        data3 = _box(b"ftyp", b"isom\x00\x00\x02\x00") + moov + tail
        assert mp4_probe(data3)[:3] == (dur_ms, w, h)

    def test_mp4_sample_table_largesize_and_size0(self):
        """The sample-table reader shares mp4_probe's box framing: a
        moov behind a 64-bit largesize header, and a moov moved to the
        end of the file with size 0 (runs to the end), demux to the
        same samples and codec entry as the plain file (the stco
        offsets are not rewritten, so the tuples are equal)."""
        import struct

        from html_parser_spark.spark.multimodal import (
            mp4_encode_stub, mp4_video_stream,
        )

        frames = [bytes([40 + k]) * 48 for k in range(3)]
        plain = mp4_encode_stub(3000, 4, 4, b"", frames=frames)
        want = mp4_video_stream(plain)
        assert want[0] == ("raw ", 4, 4, 24) and len(want[1]) == 3
        moov_at = plain.index(b"moov") - 4
        (moov_len,) = struct.unpack(">I", plain[moov_at:moov_at + 4])
        moov_body = plain[moov_at + 8:moov_at + moov_len]
        large = (plain[:moov_at] + struct.pack(">I", 1) + b"moov"
                 + struct.pack(">Q", moov_len + 8) + moov_body
                 + plain[moov_at + moov_len:])
        size0 = (plain[:moov_at] + plain[moov_at + moov_len:]
                 + struct.pack(">I", 0) + b"moov" + moov_body)
        for data in (large, size0):
            assert mp4_video_stream(data) == want

    def test_mp4_sample_table_roundtrip(self):
        """Writer and demux are inverse: stts/stsc/stsz/stco written by
        mp4_encode_stub parse back to the exact frame byte ranges."""
        from html_parser_spark.spark.multimodal import (
            mp4_encode_stub, mp4_probe, mp4_video_stream,
        )

        frames = [bytes([65 + k]) * (80 + 13 * k) for k in range(6)]
        data = mp4_encode_stub(6000, 64, 48, b"", frames=frames)
        assert mp4_probe(data)[:3] == (6000, 64, 48)
        samples = mp4_video_stream(data)[1]
        assert len(samples) == 6
        for (off, size, t), f, k in zip(samples, frames, range(6)):
            assert data[off:off + size] == f
            assert t == k * 1000
        # payload without a sample table -> [] (byte-slice fallback)
        legacy = mp4_encode_stub(3000, 64, 48, b"x" * 500)
        assert mp4_video_stream(legacy)[1] == []

    def test_mp4_sample_table_corruption_bounded(self):
        """Corruption-controlled count fields must neither escape as
        struct.error nor allocate unbounded lists; co64 (64-bit chunk
        offsets) parses like stco."""
        import struct

        from html_parser_spark.spark.multimodal import _box, mp4_video_stream

        def bmff(*stbl_boxes):
            stbl = b"".join(stbl_boxes)
            moov = _box(b"moov", _box(b"trak", _box(
                b"mdia", _box(b"minf", _box(b"stbl", stbl)))))
            return _box(b"ftyp", b"isom\x00\x00\x02\x00") + moov

        z4 = b"\x00" * 4
        # truncated stsz body: tolerated, not struct.error
        bad = bmff(_box(b"stsz", b"\x00" * 6),
                   _box(b"stts", z4 + struct.pack(">I", 0)),
                   _box(b"stco", z4 + struct.pack(">I", 0)))
        assert mp4_video_stream(bad)[1] == []
        # 0xFFFFFFFF counts: bounded by what the file can hold
        crafted = bmff(
            _box(b"stsz", z4 + struct.pack(">II", 7, 0xFFFFFFFF)),
            _box(b"stts", z4 + struct.pack(">I", 1)
                 + struct.pack(">II", 0xFFFFFFFF, 1)),
            _box(b"stco", z4 + struct.pack(">I", 1)
                 + struct.pack(">I", 0)),
        )
        assert len(mp4_video_stream(crafted)[1]) < 100
        # co64
        good = bmff(
            _box(b"stsz", z4 + struct.pack(">II", 0, 2)
                 + struct.pack(">II", 10, 20)),
            _box(b"stts", z4 + struct.pack(">I", 1)
                 + struct.pack(">II", 2, 500)),
            _box(b"co64", z4 + struct.pack(">I", 1)
                 + struct.pack(">Q", 100)),
        )
        assert mp4_video_stream(good)[1] == [(100, 10, 0), (110, 20, 500)]

    def test_sample_frames_returns_real_sample_bytes(self, spark):
        """The Spark operator must emit the ACTUAL demuxed sample bytes
        (nearest the grid timestamp), not byte slices, for payloads
        carrying a sample table."""
        from html_parser_spark.spark.multimodal import (
            mp4_video_stream, sample_frames, synth_media_df,
        )

        df = synth_media_df(spark, 9)
        vids = {r.media_id: bytes(r.payload)
                for r in df.where("kind = 'video'").collect()}
        rows = sample_frames(df, every_ms=1000, max_frames=4).collect()
        assert rows
        for r in rows:
            samples = mp4_video_stream(vids[r.media_id])[1]
            assert samples, "synthetic videos must carry sample tables"
            off, size, _t = min(
                samples, key=lambda sm: abs(sm[2] - r.frame_ms))
            assert bytes(r.payload) == vids[r.media_id][off:off + size]

    def test_frame_sampling_counts(self, spark):
        from html_parser_spark.spark.multimodal import (
            sample_frames, synth_media_df,
        )

        df = synth_media_df(spark, 9)
        rows = sample_frames(df, every_ms=1000, max_frames=4).collect()
        by_media = {}
        for r in rows:
            by_media.setdefault(r.media_id, []).append(r.frame_idx)
        assert by_media
        for mid, idxs in by_media.items():
            assert sorted(idxs) == list(range(len(idxs)))
            assert len(idxs) <= 4

    def test_raw_codec_pixels_roundtrip(self):
        """'raw ' frames written by mp4_encode_stub decode back to the
        exact pixel arrays, and _video_features reports REAL pixel
        statistics (mean/std recomputed independently with scalar
        Python — no numpy — from the source frames)."""
        import numpy as np

        from html_parser_spark.spark.multimodal import (
            _decode_raw_frame, _video_features, mp4_encode_stub,
            mp4_video_stream,
        )

        w, h = 8, 6
        rng = np.random.default_rng(7)
        frames = [rng.integers(0, 256, w * h * 3, dtype=np.uint8)
                  .tobytes() for _ in range(3)]
        data = mp4_encode_stub(3000, w, h, b"", frames=frames)
        entry, samples = mp4_video_stream(data)
        assert entry == ("raw ", w, h, 24)
        for (off, size, _t), f in zip(samples, frames):
            arr = _decode_raw_frame(data[off:off + size], w, h, 24)
            assert arr.shape == (h, w, 3)
            assert arr.tobytes() == f
        feats, decoded = _video_features(data)
        assert decoded
        # independent scalar cross-derivation of the pixel stats
        allpx = [b for f in frames for b in f]
        mean = sum(allpx) / len(allpx)
        var = sum((x - mean) ** 2 for x in allpx) / len(allpx)
        assert feats[4] == 3.0                       # n_frames
        assert abs(feats[5] - mean / 255.0) < 1e-6   # mean
        assert abs(feats[6] - var ** 0.5 / 255.0) < 1e-5  # std
        hist = [0] * 16
        for x in allpx:
            hist[x >> 4] += 1
        for b in range(16):
            assert abs(feats[7 + b] - hist[b] / len(allpx)) < 1e-6
        # geometry mismatch must refuse, not misread
        with pytest.raises(ValueError):
            _decode_raw_frame(b"\x00" * 10, w, h, 24)

    def test_mp4_multi_trak_tables_not_mixed(self):
        """A two-trak file (e.g. video + audio) must take its sample
        table from ONE trak — never video stts with audio stsz. The
        first trak here has a complete table; the second, a
        different-sized complete table: demux must return exactly the
        first trak's ranges."""
        import struct

        from html_parser_spark.spark.multimodal import _box, mp4_video_stream

        z4 = b"\x00" * 4

        def stbl(sizes, dur, off0):
            n = len(sizes)
            return (
                _box(b"stts", z4 + struct.pack(">I", 1)
                     + struct.pack(">II", n, dur))
                + _box(b"stsc", z4 + struct.pack(">I", 1)
                       + struct.pack(">III", 1, n, 1))
                + _box(b"stsz", z4 + struct.pack(">II", 0, n)
                       + b"".join(struct.pack(">I", s) for s in sizes))
                + _box(b"stco", z4 + struct.pack(">I", 1)
                       + struct.pack(">I", off0))
            )

        def trak(body):
            return _box(b"trak", _box(b"mdia", _box(
                b"minf", _box(b"stbl", body))))

        moov = _box(b"moov",
                    trak(stbl([10, 20], 500, 100))
                    + trak(stbl([7, 7, 7], 250, 400)))
        data = _box(b"ftyp", b"isom\x00\x00\x02\x00") + moov
        assert mp4_video_stream(data)[1] == [(100, 10, 0), (110, 20, 500)]
        # first trak's table incomplete (no stco) -> falls through to
        # the SECOND trak's complete table, never a cross-trak mix
        incomplete = (
            _box(b"stts", z4 + struct.pack(">I", 1)
                 + struct.pack(">II", 2, 500))
            + _box(b"stsz", z4 + struct.pack(">II", 0, 2)
                   + struct.pack(">II", 10, 20))
        )
        moov2 = _box(b"moov",
                     trak(incomplete) + trak(stbl([7, 7, 7], 250, 400)))
        data2 = _box(b"ftyp", b"isom\x00\x00\x02\x00") + moov2
        assert mp4_video_stream(data2)[1] == [
            (400, 7, 0), (407, 7, 250), (414, 7, 500)]

    def test_video_stream_entry_and_samples_same_trak(self):
        """Regression: when an AUDIO trak (complete sample table, no
        visual entry) precedes the raw video trak, the VIDEO trak must
        win (entry + ranges from that ONE trak) — pairing the video
        trak's 'raw ' entry with the audio trak's ranges would decode
        audio bytes as pixels, and letting the audio trak shadow the
        video trak would refuse a decodable stream."""
        import struct

        from html_parser_spark.spark.multimodal import (
            _box, _visual_sample_entry, mp4_video_stream,
        )

        z4 = b"\x00" * 4

        def stbl(sizes, dur, off0, entry=None):
            n = len(sizes)
            stsd_body = (z4 + struct.pack(">I", 1) + entry
                         if entry else z4 + struct.pack(">I", 0))
            return (
                _box(b"stsd", stsd_body)
                + _box(b"stts", z4 + struct.pack(">I", 1)
                       + struct.pack(">II", n, dur))
                + _box(b"stsc", z4 + struct.pack(">I", 1)
                       + struct.pack(">III", 1, n, 1))
                + _box(b"stsz", z4 + struct.pack(">II", 0, n)
                       + b"".join(struct.pack(">I", s) for s in sizes))
                + _box(b"stco", z4 + struct.pack(">I", 1)
                       + struct.pack(">I", off0))
            )

        def trak(body):
            return _box(b"trak", _box(b"mdia", _box(
                b"minf", _box(b"stbl", body))))

        audio = trak(stbl([33, 44], 500, 100))  # no visual entry
        video = trak(stbl([48, 48], 250, 400,
                          entry=_visual_sample_entry(b"raw ", 4, 4)))
        data = (_box(b"ftyp", b"isom\x00\x00\x02\x00")
                + _box(b"moov", audio + video))
        entry, samples = mp4_video_stream(data)
        # the VIDEO trak wins (entry + its own ranges together);
        # never the 'raw ' entry with the audio trak's ranges
        assert entry == ("raw ", 4, 4, 24)
        assert samples == [(400, 48, 0), (448, 48, 250)]
        # audio-only file: fallback keeps demuxing, entry is None
        a_only = (_box(b"ftyp", b"isom\x00\x00\x02\x00")
                  + _box(b"moov", audio))
        entry, samples = mp4_video_stream(a_only)
        assert entry is None
        assert samples == [(100, 33, 0), (133, 44, 500)]

    def test_media_features_cross_derivation(self, spark):
        """Independent value check for the media_features snapshot
        oracle: recompute image/audio feature rows with scalar Python
        (no numpy, no shared code path) from the raw payloads and
        compare against the Spark kernel output."""
        from html_parser_spark.spark.multimodal import (
            _decode_image, decode_media, synth_media_df, wav_decode,
        )

        df = synth_media_df(spark, 12)
        payloads = {r.media_id: (r.kind, bytes(r.payload))
                    for r in df.collect()}
        out = {r.media_id: list(r.features)
               for r in decode_media(df).collect()}
        checked = 0
        for mid, (kind, b) in payloads.items():
            f = out[mid]
            if kind == "image":
                w, h, ch, px = _decode_image(b)
                mean = sum(px) / len(px)
                assert f[0] == float(w) and f[1] == float(h)
                assert abs(f[3] - mean / 255.0) < 1e-6
                checked += 1
            elif kind == "audio":
                rate, nch, samples = wav_decode(b)
                mean_abs = sum(abs(s) for s in samples) / len(samples)
                assert f[0] == float(rate)
                assert f[1] == float(len(samples))
                assert abs(f[3] - mean_abs / 32768.0) < 1e-6
                checked += 1
        assert checked >= 8


class TestStatefulSessions:
    def test_corrupt_payload_marks_row_not_batch(self, spark):
        """One corrupt or NULL payload must flag its own row
        (decode_ok=false, empty features) — never kill the batch (the
        100 TB tolerance property). A NULL video's sampled frames are
        NULL."""
        from html_parser_spark.spark.multimodal import (
            MEDIA_SCHEMA, decode_media, png_encode, sample_frames,
        )

        good = png_encode(4, 3, bytes(range(36)))
        rows = [
            (0, "image", bytearray(good), None),
            (1, "image", bytearray(b"\x89PNG\r\n\x1a\ntruncated"), None),
            (2, "image", bytearray(b"GIF89a garbage"), None),
            (3, "audio", bytearray(b"RIFFnotawav"), None),
            (4, "image", None, None),
            (5, "video", None, ("mp4", 16, 12, 2000, None)),
        ]
        df = spark.createDataFrame(rows, MEDIA_SCHEMA)
        got = {r.media_id: r for r in decode_media(df).collect()}
        assert got[0].decode_ok and len(got[0].features) == 64
        for mid in (1, 2, 3, 4, 5):
            assert not got[mid].decode_ok
            assert list(got[mid].features) == []
        for mid in (4, 5):
            assert got[mid].n_bytes is None and got[mid].sha is None
        frames = sample_frames(df, every_ms=1000).collect()
        assert sorted(r.frame_idx for r in frames) == [0, 1, 2]
        assert all(r.media_id == 5 and r.payload is None for r in frames)
