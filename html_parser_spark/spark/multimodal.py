"""Multimodal columns: opaque binary payloads + typed metadata.

Design per the build brief: image/audio/video are `binary` columns with
a typed metadata struct; decode / feature-extract / resize /
frame-sample run as Arrow-batched row kernels (`udfs.map_rows`).

Codec status (this container has no PIL/ffmpeg and installs are
forbidden, so everything here is PURE STDLIB):
  - image/png : REAL decode + encode (zlib inflate/deflate, scanline
    filters 0-4 incl. Paeth, 8-bit gray/RGB/RGBA, non-interlaced) —
    `png_decode`/`png_encode` below, roundtrip-tested. Unfiltering,
    resize, palette mapping, and feature extraction are numpy-
    vectorized (filters 0/1/2 fully; Average/Paeth keep the exact
    x-sequential byte loop their data dependency requires).
  - image/gif : REAL decode (full LZW: variable code width,
    clear/EOI, 4096-entry dictionary) + a writer using the classic
    uncompressed-GIF technique; dispatch is by magic bytes.
  - image/jpeg: REAL decode for BASELINE sequential (SOF0) — Huffman
    entropy decode, dequantize, batched-numpy IDCT, integer chroma
    upsampling, JFIF YCbCr->RGB, restart markers, 8/16-bit DQT — plus
    a baseline writer (Annex K tables, all-ones quant, 4:4:4/4:2:0)
    that the roundtrip tests pin the decoder against. Progressive /
    extended / arithmetic frames follow the compressed-video policy:
    strict=True raises at the documented integration point,
    strict=False degrades to a deterministic payload digest.
  - audio/wav : REAL decode + encode (stdlib `wave` + struct, 16-bit
    PCM).
  - video/mp4 : container demux is REAL — box parsing (`mp4_probe`:
    mvhd duration, tkhd dims, v0/v1/largesize) AND the per-trak
    sample table (`mp4_samples`: stts/stsc/stsz/stco -> absolute
    per-sample byte ranges + timestamps), so `sample_frames` emits
    the ACTUAL sample bytes nearest each grid point. PIXEL decode is
    REAL for the 'raw ' codec (uncompressed RGB24/gray8 samples,
    declared by a real stsd VisualSampleEntry and read back by
    `_decode_raw_frame`); COMPRESSED codecs (avc1, ...) stay an
    honest NotImplementedError under strict=True (the documented
    integration point for a real codec, e.g. pyav shipped via
    --py-files) and a deterministic payload digest otherwise.

Everything around the kernels is production-shaped: payloads never
pass through Python row-at-a-time, metadata is JVM-prunable, and frame
sampling happens before feature extraction so only sampled bytes cross
into the kernel.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .udfs import map_rows

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "meta struct<format:string, width:int, height:int, "
    "duration_ms:int, sample_rate:int>"
)

# decode_media output after (media_id, kind)
FEATURE_FIELDS = [
    pa.field("n_bytes", pa.int32()),
    pa.field("sha", pa.int64()),
    pa.field("decode_ok", pa.bool_()),
    pa.field("features", pa.list_(pa.float32())),
]

# resize_images output after media_id
RESIZE_FIELDS = [
    pa.field("width", pa.int32()),
    pa.field("height", pa.int32()),
    pa.field("payload", pa.binary()),
]

# sample_frames output after (media_id, frame_idx, frame_ms)
FRAME_FIELDS = [pa.field("payload", pa.binary())]

N_FEATURES = 64

# ---------------------------------------------------------------------------
# PNG codec (pure stdlib; RFC 2083 / W3C PNG: 8-bit, non-interlaced)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples/pixel


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + tag + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def png_encode(width: int, height: int, pixels: bytes,
               channels: int = 3) -> bytes:
    """Minimal PNG writer: 8-bit gray/RGB/RGBA, filter 0 scanlines."""
    import numpy as np

    color_type = {1: 0, 3: 2, 4: 6}[channels]
    stride = width * channels
    assert len(pixels) == stride * height
    rows = np.zeros((height, stride + 1), dtype=np.uint8)
    rows[:, 1:] = np.frombuffer(pixels, dtype=np.uint8).reshape(
        height, stride)
    raw = rows.tobytes()
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_decode(data: bytes):
    """Minimal PNG reader: returns (width, height, channels, pixels).
    Supports 8-bit depth, color types 0/2/4/6, non-interlaced — the
    full inverse of png_encode plus filters 1-4 from any writer."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    width = height = channels = None
    idat = []
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, inter = struct.unpack(
                ">IIBBBBB", body)
            if depth != 8 or inter != 0 or ctype not in _CHANNELS:
                raise ValueError(
                    f"unsupported PNG (depth={depth} ctype={ctype} "
                    f"interlace={inter})")
            channels = _CHANNELS[ctype]
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("truncated PNG")
    import numpy as np

    raw = zlib.decompress(b"".join(idat))
    stride = width * channels
    if len(raw) < (stride + 1) * height:
        raise ValueError("short PNG pixel data")
    rows = np.frombuffer(
        raw[:(stride + 1) * height], dtype=np.uint8
    ).reshape(height, stride + 1)
    ftypes = rows[:, 0]
    out = rows[:, 1:].copy()  # writable reconstruction buffer
    bad = ftypes[ftypes > 4]
    if bad.size:
        raise ValueError(f"bad PNG filter {int(bad[0])}")
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = int(ftypes[y])
        line = out[y]
        if ftype == 1:  # Sub: mod-256 prefix sum along x, per channel
            np.cumsum(line.reshape(width, channels), axis=0,
                      dtype=np.uint8, out=line.reshape(width, channels))
        elif ftype == 2:  # Up: fully vectorized (uint8 wraps)
            line += prev
        elif ftype in (3, 4):
            # Average/Paeth carry an x-sequential dependency on the
            # reconstructed left pixel — keep the exact byte loop
            lb = bytearray(line.tobytes())
            pb = prev.tobytes()
            if ftype == 3:
                for i in range(stride):
                    a = lb[i - channels] if i >= channels else 0
                    lb[i] = (lb[i] + ((a + pb[i]) >> 1)) & 0xFF
            else:
                for i in range(stride):
                    a = lb[i - channels] if i >= channels else 0
                    c = pb[i - channels] if i >= channels else 0
                    lb[i] = (lb[i] + _paeth(a, pb[i], c)) & 0xFF
            line[:] = np.frombuffer(bytes(lb), dtype=np.uint8)
        prev = line
    return width, height, channels, out.tobytes()


# ---------------------------------------------------------------------------
# GIF codec (pure stdlib; 87a/89a, first frame, global/local color table)
# ---------------------------------------------------------------------------


def gif_decode(data: bytes):
    """Minimal GIF reader: returns (width, height, 3, rgb_pixels) for
    the first image block — full LZW decode (variable code width,
    clear/EOI codes, 4096-entry dictionary), non-interlaced."""
    if data[:4] != b"GIF8":
        raise ValueError("not a GIF")
    w_scr, h_scr, packed, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 3 * (2 << (packed & 0x07))
        gct = data[pos:pos + n]
        pos += n
    while pos < len(data):
        b0 = data[pos]
        if b0 == 0x21:  # extension: skip sub-blocks
            pos += 2
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            _l, _t, w, h, ipacked = struct.unpack("<HHHHB",
                                                  data[pos + 1:pos + 10])
            pos += 10
            ct = gct
            if ipacked & 0x80:
                n = 3 * (2 << (ipacked & 0x07))
                ct = data[pos:pos + n]
                pos += n
            if ipacked & 0x40:
                raise ValueError("interlaced GIF unsupported")
            if ct is None:
                raise ValueError("GIF without color table")
            min_code = data[pos]
            pos += 1
            stream = bytearray()
            while data[pos] != 0:
                ln = data[pos]
                stream += data[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            indices = _lzw_decode(bytes(stream), min_code, w * h)
            import numpy as np

            idx = np.asarray(indices[:w * h], dtype=np.int64)
            pal = np.frombuffer(ct, dtype=np.uint8).reshape(-1, 3)
            px = pal[idx]  # vectorized palette lookup
            if len(idx) < w * h:  # short stream: pad with black
                px = np.vstack([
                    px, np.zeros((w * h - len(idx), 3), dtype=np.uint8)])
            return w, h, 3, px.tobytes()
        elif b0 == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"bad GIF block 0x{b0:02x}")
    raise ValueError("GIF without image block")


def _lzw_decode(stream: bytes, min_code: int, limit: int) -> list:
    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    table = [(i,) for i in range(clear)] + [None, None]
    out: list = []
    acc = nbits = 0
    prev = None
    for byte in stream:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [(i,) for i in range(clear)] + [None, None]
                width = min_code + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                entry = table[code]
            elif code < len(table) and table[code] is not None:
                entry = table[code]
                table.append(prev + (entry[0],))
            else:
                entry = prev + (prev[0],)
                table.append(entry)
            out.extend(entry)
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
            if len(out) >= limit:
                return out
    return out


def gif_encode(width: int, height: int, indices: bytes,
               palette: bytes) -> bytes:
    """Minimal GIF87a writer using the classic 'uncompressed GIF'
    technique: every pixel index is emitted as its own LZW code with a
    CLEAR before the dictionary could force a width increase."""
    nloglen = max((len(palette) // 3 - 1).bit_length(), 1)
    min_code = max(2, nloglen)
    clear = 1 << min_code
    eoi = clear + 1
    width_bits = min_code + 1
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", width, height,
                       0x80 | (nloglen - 1), 0, 0)
    pal = bytearray(palette)
    pal += b"\x00" * (3 * (1 << nloglen) - len(pal))
    out += pal
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    out += bytes([min_code])
    codes = [clear]
    budget = (1 << width_bits) - eoi - 2
    count = 0
    for idx in indices:
        if count >= budget:
            codes.append(clear)
            count = 0
        codes.append(idx)
        count += 1
    codes.append(eoi)
    acc = nbits = 0
    payload = bytearray()
    for code in codes:
        acc |= code << nbits
        nbits += width_bits
        while nbits >= 8:
            payload.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        payload.append(acc & 0xFF)
    for i in range(0, len(payload), 255):
        chunk = payload[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


# ---------------------------------------------------------------------------
# WAV codec (stdlib wave, 16-bit PCM)
# ---------------------------------------------------------------------------


def wav_encode(samples, sample_rate: int = 16000) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def wav_decode(data: bytes):
    """Returns (sample_rate, n_channels, samples list of int16)."""
    with wave.open(io.BytesIO(data), "rb") as w:
        rate = w.getframerate()
        nch = w.getnchannels()
        n = w.getnframes()
        frames = w.readframes(n)
    samples = list(struct.unpack(f"<{len(frames) // 2}h", frames))
    return rate, nch, samples


# ---------------------------------------------------------------------------
# deterministic synthetic corpus (REAL png/wav payloads)
# ---------------------------------------------------------------------------


def _noise(seed_key: str, n: int) -> bytes:
    """Deterministic byte stream from blake2b in counter mode."""
    out = bytearray()
    c = 0
    while len(out) < n:
        out += hashlib.blake2b(f"{seed_key}:{c}".encode(),
                               digest_size=64).digest()
        c += 1
    return bytes(out[:n])


def synth_media_df(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table with REAL encoded payloads
    for image (PNG) and audio (WAV); video stays an opaque seeded blob
    behind the documented codec stub."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        if kind == "image":
            w = 16 + (i % 4) * 8
            h = 12 + (i % 4) * 6
            if i % 12 == 0:
                # every 4th image is a real GIF (16-color palette)
                pal = _noise(f"{seed}:pal:{i}", 48)
                idx = bytes(b % 16 for b in _noise(f"{seed}:gif:{i}",
                                                   w * h))
                payload = gif_encode(w, h, idx, pal)
                fmt = "gif"
            else:
                payload = png_encode(
                    w, h, _noise(f"{seed}:img:{i}", w * h * 3))
                fmt = "png"
            meta = {"format": fmt, "width": w, "height": h,
                    "duration_ms": None, "sample_rate": None}
        elif kind == "audio":
            ns = 400 + (i % 5) * 100
            pcm = struct.unpack(
                f"<{ns}h", _noise(f"{seed}:pcm:{i}", ns * 2))
            payload = wav_encode(list(pcm), 16000)
            meta = {"format": "wav", "width": None, "height": None,
                    "duration_ms": int(ns * 1000 / 16000),
                    "sample_rate": 16000}
        else:
            dur = 1000 * (1 + i % 30)
            # REAL sample table + REAL raw-codec frames: one
            # uncompressed RGB24 frame (vw*vh*3 bytes) per second of
            # duration, declared by a 'raw ' VisualSampleEntry so the
            # pixel decode path runs end to end
            nf = 1 + i % 30
            vw, vh = 16, 12
            frames = [
                _noise(f"{seed}:vid:{i}:f{k}", vw * vh * 3)
                for k in range(nf)
            ]
            payload = mp4_encode_stub(dur, vw, vh, b"", frames=frames)
            meta = {"format": "mp4", "width": vw, "height": vh,
                    "duration_ms": dur, "sample_rate": None}
        rows.append((i, kind, bytearray(payload), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# feature extraction kernels
# ---------------------------------------------------------------------------


def _pad(vals) -> list:
    out = [float(v) for v in vals][:N_FEATURES]
    return out + [0.0] * (N_FEATURES - len(out))


# ---------------------------------------------------------------------------
# JPEG codec (pure stdlib + numpy; BASELINE sequential DCT only)
#
# Decoder: SOF0, 8-bit, 1 or 3 components, any integer chroma
# subsampling, restart markers, 8/16-bit quant tables. Progressive /
# extended / arithmetic frames raise NotImplementedError — that is the
# media surface's documented strict-raise, mirroring the compressed-
# video policy. Encoder: 4:4:4 or 4:2:0, spec Annex K Huffman tables,
# all-ones quant (near-lossless; roundtrip-tested against the
# decoder). The entropy loop is per-block Python (bounded by test
# scale); dequantize + IDCT are batched numpy over all blocks.
# ---------------------------------------------------------------------------

# zigzag order: _JPEG_ZIGZAG[j] = natural (row*8+col) index of the
# j-th zigzag-scanned coefficient
_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# ITU-T T.81 Annex K "typical" Huffman tables (public spec constants)
_JPEG_DC_LUM = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_JPEG_DC_CHR = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_JPEG_AC_LUM = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    (0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA),
)
_JPEG_AC_CHR = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    (0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA),
)


def _jpeg_dct_matrix():
    """Orthonormal 8x8 DCT-II basis M (M @ M.T == I): forward
    S = M @ P @ M.T, inverse P = M.T @ S @ M."""
    import math

    import numpy as np

    x = np.arange(8)
    M = 0.5 * np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    M[0] *= 1.0 / math.sqrt(2)
    return M


def _jpeg_build_decode_table(counts, symbols):
    """Canonical Huffman: {(length, code): symbol}."""
    table = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[i]
            i += 1
            code += 1
        code <<= 1
    return table


def _jpeg_build_encode_table(counts, symbols):
    """Canonical Huffman: {symbol: (code, length)}."""
    return {
        sym: (code, length)
        for (length, code), sym in
        _jpeg_build_decode_table(counts, symbols).items()
    }


class _JpegBits:
    """MSB-first bit reader over a destuffed entropy segment."""

    __slots__ = ("d", "i", "n", "buf", "cnt")

    def __init__(self, d: bytes):
        self.d = d
        self.i = 0
        self.n = len(d)
        self.buf = 0
        self.cnt = 0

    def receive(self, nbits: int) -> int:
        while self.cnt < nbits:
            if self.i >= self.n:
                raise ValueError("JPEG entropy bitstream overrun")
            self.buf = (self.buf << 8) | self.d[self.i]
            self.i += 1
            self.cnt += 8
        self.cnt -= nbits
        v = (self.buf >> self.cnt) & ((1 << nbits) - 1)
        # truncate consumed bits (mirrors _JpegBitWriter): without
        # this the buffer grows into one giant bigint and every
        # `(buf << 8) | byte` copies it — quadratic in segment size
        self.buf &= (1 << self.cnt) - 1
        return v


def _jpeg_decode_symbol(r: "_JpegBits", table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.receive(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG huffman code")


def _jpeg_extend(v: int, t: int) -> int:
    # T.81 EXTEND: low-half values of an SSSS category are negative
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


def _jpeg_decode_block(r: "_JpegBits", dc_table: dict, ac_table: dict):
    """One 8x8 block -> 64 zigzag-order coefficients (DC is the DIFF,
    caller accumulates the predictor)."""
    t = _jpeg_decode_symbol(r, dc_table)
    coef = [0] * 64
    if t:
        coef[0] = _jpeg_extend(r.receive(t), t)
    k = 1
    while k < 64:
        rs = _jpeg_decode_symbol(r, ac_table)
        run, size = rs >> 4, rs & 15
        if size == 0:
            if run == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("JPEG AC coefficient index overflow")
        coef[k] = _jpeg_extend(r.receive(size), size)
        k += 1
    return coef


def _jpeg_entropy_segments(data: bytes, start: int):
    """Destuffed entropy segments split at restart markers; returns
    (segments, pos_after_scan)."""
    segs, cur = [], bytearray()
    i, n = start, len(data)
    while i < n:
        b = data[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        nxt = data[i + 1] if i + 1 < n else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            i += 2
            continue
        if nxt == 0xFF:  # T.81 B.1.1.2: fill byte before a marker
            i += 1
            continue
        if 0xD0 <= nxt <= 0xD7:  # RSTn
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
            continue
        break  # EOI or the next real marker
    segs.append(bytes(cur))
    return segs, i


def jpeg_decode(data: bytes):
    """Baseline-JPEG reader: returns (width, height, channels, pixels)
    with channels 1 (grayscale) or 3 (RGB, JFIF YCbCr conversion).
    NotImplementedError for progressive/extended/arithmetic/12-bit
    frames (the documented strict-raise surface); ValueError for
    malformed data."""
    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict = {}
    huff_dc: dict = {}
    huff_ac: dict = {}
    frame = None
    scomps = None
    restart = 0
    segs = None
    i, n = 2, len(data)
    while i + 2 <= n:
        if data[i] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede the
        # marker code
        while i + 1 < n and data[i + 1] == 0xFF:
            i += 1
        m = data[i + 1]
        if m == 0xD9:  # EOI
            break
        if m == 0x01 or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if i + 4 > n:
            raise ValueError("truncated JPEG segment")
        (ln,) = struct.unpack(">H", data[i + 2:i + 4])
        seg = data[i + 4:i + 2 + ln]
        i += 2 + ln
        if m == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq == 0:
                    vals = np.frombuffer(
                        seg[p:p + 64], dtype=np.uint8).astype(np.int32)
                    p += 64
                else:
                    vals = np.frombuffer(
                        seg[p:p + 128], dtype=">u2").astype(np.int32)
                    p += 128
                if vals.size != 64:
                    raise ValueError("short JPEG quant table")
                natural = np.empty(64, np.int32)
                natural[list(_JPEG_ZIGZAG)] = vals
                qt[tq] = natural
        elif m == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                counts = seg[p + 1:p + 17]
                total = sum(counts)
                symbols = seg[p + 17:p + 17 + total]
                if len(symbols) != total:
                    raise ValueError("short JPEG huffman table")
                p += 17 + total
                tbl = _jpeg_build_decode_table(counts, symbols)
                (huff_dc if tc == 0 else huff_ac)[th] = tbl
        elif m == 0xC0:  # SOF0 baseline sequential
            prec = seg[0]
            if prec != 8:
                raise NotImplementedError(
                    f"{prec}-bit JPEG precision (baseline is 8-bit)")
            h_, w_ = struct.unpack(">HH", seg[1:5])
            nc = seg[5]
            comps = []
            p = 6
            for _ in range(nc):
                comps.append((seg[p], seg[p + 1] >> 4, seg[p + 1] & 15,
                              seg[p + 2]))
                p += 3
            frame = (w_, h_, comps)
        elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                   0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline sequential (SOF0) JPEG decodes in this "
                f"container; frame marker 0xFF{m:02X} (progressive/"
                "extended/arithmetic) is the documented integration "
                "point for a real codec shipped via --py-files")
        elif m == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", seg[:2])
        elif m == 0xDA:  # SOS
            ns = seg[0]
            scomps = []
            p = 1
            for _ in range(ns):
                scomps.append((seg[p], seg[p + 1] >> 4, seg[p + 1] & 15))
                p += 2
            segs, i = _jpeg_entropy_segments(data, i)
            break
    if frame is None or scomps is None or segs is None:
        raise ValueError("truncated JPEG (no frame or scan)")
    w, h, comps = frame
    if w == 0 or h == 0 or len(comps) not in (1, 3):
        raise ValueError(f"unsupported JPEG geometry ({len(comps)} "
                         f"components, {w}x{h})")
    if len(scomps) != len(comps):
        raise NotImplementedError(
            "non-interleaved multi-scan baseline JPEG")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax < 1 or vmax < 1 or any(
            c[1] < 1 or c[2] < 1 or hmax % c[1] or vmax % c[2]
            for c in comps):
        raise ValueError("bad JPEG sampling factors")
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    sel = {cs: (td, ta) for cs, td, ta in scomps}
    per_comp = []
    coeffs = {}
    for cid, hc, vc, tq in comps:
        if cid not in sel or tq not in qt:
            raise ValueError("JPEG scan/frame component mismatch")
        td, ta = sel[cid]
        if td not in huff_dc or ta not in huff_ac:
            raise ValueError("JPEG scan names a missing huffman table")
        per_comp.append((cid, hc, vc, huff_dc[td], huff_ac[ta]))
        coeffs[cid] = np.zeros((mcuy * vc, mcux * hc, 64), np.int32)

    seg_idx = 0
    reader = _JpegBits(segs[0])
    pred = {cid: 0 for cid, _, _, _ in comps}
    for m_i in range(mcux * mcuy):
        if restart and m_i and m_i % restart == 0:
            seg_idx += 1
            if seg_idx >= len(segs):
                raise ValueError("missing JPEG restart segment")
            reader = _JpegBits(segs[seg_idx])
            pred = {cid: 0 for cid, _, _, _ in comps}
        my, mx = divmod(m_i, mcux)
        for cid, hc, vc, dct, act in per_comp:
            for by in range(vc):
                for bx in range(hc):
                    blk = _jpeg_decode_block(reader, dct, act)
                    pred[cid] += blk[0]
                    blk[0] = pred[cid]
                    coeffs[cid][my * vc + by, mx * hc + bx] = blk

    M = _jpeg_dct_matrix()
    zz = list(_JPEG_ZIGZAG)
    planes = []
    for cid, hc, vc, tq in comps:
        z = coeffs[cid]
        nat = np.zeros_like(z)
        nat[:, :, zz] = z
        nat = nat * qt[tq][None, None, :]
        s = nat.reshape(nat.shape[0], nat.shape[1], 8, 8).astype(
            np.float64)
        # batched IDCT: P = M.T @ S @ M for every block at once
        pix = np.einsum("xu,ijuv,vy->ijxy", M.T, s, M)
        pix = np.clip(np.round(pix) + 128.0, 0, 255)
        plane = pix.transpose(0, 2, 1, 3).reshape(
            nat.shape[0] * 8, nat.shape[1] * 8)
        plane = np.repeat(np.repeat(plane, vmax // vc, axis=0),
                          hmax // hc, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return w, h, 1, planes[0].astype(np.uint8).tobytes()
    y, cb, cr = planes
    r_ = y + 1.402 * (cr - 128.0)
    g_ = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b_ = y + 1.772 * (cb - 128.0)
    rgb = np.clip(np.round(np.stack([r_, g_, b_], axis=-1)), 0, 255)
    return w, h, 3, rgb.astype(np.uint8).tobytes()


class _JpegBitWriter:
    __slots__ = ("out", "buf", "cnt")

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.cnt = 0

    def write(self, value: int, nbits: int) -> None:
        self.buf = (self.buf << nbits) | (value & ((1 << nbits) - 1))
        self.cnt += nbits
        while self.cnt >= 8:
            self.cnt -= 8
            b = (self.buf >> self.cnt) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self.buf &= (1 << self.cnt) - 1

    def flush(self) -> None:
        if self.cnt:
            pad = 8 - self.cnt
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


def _jpeg_category(v: int) -> int:
    return abs(v).bit_length()


def jpeg_encode(width: int, height: int, channels: int, pixels: bytes,
                subsample: int = 1) -> bytes:
    """Baseline-JPEG writer: gray (channels=1) or RGB (channels=3),
    Annex K Huffman tables, ALL-ONES quant tables (near-lossless —
    the roundtrip error is only DCT float rounding, so the decoder can
    be tested against exact pixel content). subsample=2 emits 4:2:0
    chroma (box-averaged), exercising the decoder's multi-block MCU
    and upsampling paths."""
    import numpy as np

    if channels not in (1, 3):
        raise ValueError("jpeg_encode: channels must be 1 or 3")
    if subsample not in (1, 2):
        raise ValueError("jpeg_encode: subsample must be 1 or 2")
    px = np.frombuffer(pixels, dtype=np.uint8).reshape(
        height, width, channels).astype(np.float64)
    if channels == 1:
        planes = [px[:, :, 0]]
        samp = [(1, 1)]
    else:
        r_, g_, b_ = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        y = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
        cb = 128.0 - 0.168736 * r_ - 0.331264 * g_ + 0.5 * b_
        cr = 128.0 + 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_
        if subsample == 2:
            # pad to even, box-average 2x2
            eh, ew = -(-height // 2) * 2, -(-width // 2) * 2
            def _box(p):
                q = np.pad(p, ((0, eh - height), (0, ew - width)),
                           mode="edge")
                return (q.reshape(eh // 2, 2, ew // 2, 2)
                        .mean(axis=(1, 3)))
            planes = [y, _box(cb), _box(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))

    M = _jpeg_dct_matrix()
    zz = list(_JPEG_ZIGZAG)
    comp_blocks = []
    for p, (hc, vc) in zip(planes, samp):
        bh, bw = mcuy * vc * 8, mcux * hc * 8
        q = np.pad(p, ((0, bh - p.shape[0]), (0, bw - p.shape[1])),
                   mode="edge") - 128.0
        blocks = q.reshape(bh // 8, 8, bw // 8, 8).transpose(0, 2, 1, 3)
        S = np.einsum("ux,ijxy,yv->ijuv", M, blocks, M.T)
        zzb = np.round(S).astype(np.int32).reshape(
            bh // 8, bw // 8, 64)[:, :, zz]
        comp_blocks.append(zzb)

    enc_dc = [_jpeg_build_encode_table(*_JPEG_DC_LUM),
              _jpeg_build_encode_table(*_JPEG_DC_CHR)]
    enc_ac = [_jpeg_build_encode_table(*_JPEG_AC_LUM),
              _jpeg_build_encode_table(*_JPEG_AC_CHR)]

    wtr = _JpegBitWriter()
    pred = [0] * len(planes)
    for m_i in range(mcux * mcuy):
        my, mx = divmod(m_i, mcux)
        for ci, (zzb, (hc, vc)) in enumerate(zip(comp_blocks, samp)):
            t_dc = enc_dc[min(ci, 1)]
            t_ac = enc_ac[min(ci, 1)]
            for by in range(vc):
                for bx in range(hc):
                    blk = zzb[my * vc + by, mx * hc + bx]
                    diff = int(blk[0]) - pred[ci]
                    pred[ci] = int(blk[0])
                    t = _jpeg_category(diff)
                    code, ln = t_dc[t]
                    wtr.write(code, ln)
                    if t:
                        wtr.write(diff if diff >= 0
                                  else diff + (1 << t) - 1, t)
                    run = 0
                    nz = np.nonzero(blk[1:])[0]
                    last = nz[-1] + 1 if nz.size else 0
                    for k in range(1, last + 1):
                        v = int(blk[k])
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            code, ln = t_ac[0xF0]  # ZRL
                            wtr.write(code, ln)
                            run -= 16
                        s_ = _jpeg_category(v)
                        code, ln = t_ac[(run << 4) | s_]
                        wtr.write(code, ln)
                        wtr.write(v if v >= 0 else v + (1 << s_) - 1, s_)
                        run = 0
                    if last < 63:
                        code, ln = t_ac[0x00]  # EOB
                        wtr.write(code, ln)
    wtr.flush()

    out = bytearray(b"\xff\xd8")

    def _seg(marker, body):
        out.extend(bytes((0xFF, marker)))
        out.extend(struct.pack(">H", len(body) + 2))
        out.extend(body)

    _seg(0xDB, bytes([0x00]) + bytes([1] * 64))  # Q0: all ones
    if channels == 3:
        _seg(0xDB, bytes([0x01]) + bytes([1] * 64))
    sof = bytearray([8])
    sof += struct.pack(">HH", height, width)
    sof.append(len(planes))
    for ci, (hc, vc) in enumerate(samp):
        sof += bytes([ci + 1, (hc << 4) | vc, 0 if ci == 0 else 1])
    _seg(0xC0, bytes(sof))
    for tc, th, (counts, symbols) in (
            (0, 0, _JPEG_DC_LUM), (1, 0, _JPEG_AC_LUM),
            (0, 1, _JPEG_DC_CHR), (1, 1, _JPEG_AC_CHR))[
                :4 if channels == 3 else 2]:
        _seg(0xC4, bytes([(tc << 4) | th]) + bytes(counts)
             + bytes(symbols))
    sos = bytearray([len(planes)])
    for ci in range(len(planes)):
        t = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    _seg(0xDA, bytes(sos))
    out.extend(wtr.out)
    out.extend(b"\xff\xd9")
    return bytes(out)


def _decode_image(payload: bytes):
    """Sniff by magic bytes — real decoders dispatch on content."""
    if payload[:4] == b"GIF8":
        return gif_decode(payload)
    if payload[:2] == b"\xff\xd8":
        return jpeg_decode(payload)
    return png_decode(payload)


def _image_features(payload: bytes) -> list:
    import numpy as np

    w, h, ch, px = _decode_image(payload)
    a = np.frombuffer(px, dtype=np.uint8)
    n = a.size
    mean = float(a.mean())
    std = float(a.std())
    hist = np.bincount(a >> 4, minlength=16)
    ch_means = [0.0] * 4
    planes = a.reshape(-1, ch).mean(axis=0) / 255.0
    ch_means[:ch] = [float(v) for v in planes]
    return _pad(
        [w, h, ch, mean / 255.0, std / 255.0]
        + ch_means
        + [float(v) / n for v in hist]
    )


def _audio_features(payload: bytes) -> list:
    import numpy as np

    rate, nch, samples = wav_decode(payload)
    s = np.asarray(samples, dtype=np.int64)
    n = max(s.size, 1)
    mean_abs = float(np.abs(s).mean()) / 32768.0 if s.size else 0.0
    rms = float(np.sqrt((s * s).mean())) / 32768.0 if s.size else 0.0
    neg = s < 0
    zc = int(np.count_nonzero(neg[:-1] != neg[1:])) / n
    hist = np.bincount((s + 32768) >> 12, minlength=16) if s.size else (
        np.zeros(16, dtype=np.int64))
    return _pad([rate, s.size, nch, mean_abs, rms, zc]
                + [float(v) / n for v in hist])


def _decode_raw_frame(sample: bytes, width: int, height: int,
                      depth: int = 24):
    """Decode one 'raw ' codec sample: uncompressed interleaved
    RGB24 (or gray8 at depth 8), row-major. Raises ValueError when
    the byte count does not match the declared geometry."""
    import numpy as np

    ch = {8: 1, 24: 3, 32: 4}.get(depth)
    if ch is None or len(sample) != width * height * ch:
        raise ValueError("sample bytes do not match raw geometry")
    return np.frombuffer(sample, dtype=np.uint8).reshape(
        height, width, ch)


def _video_features(payload: bytes):
    """REAL ISO-BMFF demux (duration/dims/box count from the actual
    boxes) + REAL pixel statistics when the stsd declares the 'raw '
    codec (uncompressed samples — decoded by _decode_raw_frame).
    Returns (features, pixels_decoded): compressed codecs (avc1, ...)
    have no decoder in this container, so their rows carry a
    deterministic payload digest instead and pixels_decoded=False —
    decode_media(strict=True) raises on those."""
    try:
        dur, w, h, n_boxes = mp4_probe(payload)
        # entry and samples MUST come from the same trak: pairing
        # "first trak with an entry" with "first trak with a table"
        # can mix a video codec declaration with audio sample ranges
        entry, samples = mp4_video_stream(payload)
    except ValueError:
        dur = w = h = n_boxes = 0
        entry, samples = None, []
    if entry is not None and entry[0] == "raw " and samples:
        import numpy as np

        fourcc, ew, eh, depth = entry
        frames = [
            _decode_raw_frame(payload[off:off + size], ew, eh, depth)
            for off, size, _t in samples
        ]  # ValueError on any geometry mismatch -> caller's per-row
        # tolerance marks the row decode_ok=false
        px = np.concatenate([f.reshape(-1) for f in frames])
        hist = np.bincount(px >> 4, minlength=16)
        frame_means = [float(f.mean()) / 255.0 for f in frames[:8]]
        frame_means += [0.0] * (8 - len(frame_means))
        feats = _pad(
            [dur or 0, w or 0, h or 0, n_boxes, len(frames),
             float(px.mean()) / 255.0, float(px.std()) / 255.0]
            + [float(v) / px.size for v in hist]
            + frame_means
        )
        return feats, True
    digest = hashlib.blake2b(payload, digest_size=58).digest()
    return _pad([dur or 0, w or 0, h or 0, n_boxes]
                + [x / 255.0 for x in digest]), False


def _media_features(b: bytes, kind: str, strict: bool):
    """(decode_ok, features) of one payload. Per-row tolerance: ONE
    corrupt payload in a 100 TB corpus must mark its row, not kill the
    batch."""
    try:
        if kind == "image":
            try:
                return True, _image_features(b)
            except NotImplementedError:
                # recognized-but-undecodable variant (progressive/
                # extended JPEG): same policy as compressed video —
                # strict raises at the integration point, lenient
                # degrades to a deterministic payload digest with
                # decode_ok False
                if strict:
                    raise
                digest = hashlib.blake2b(b, digest_size=62).digest()
                return False, _pad([x / 255.0 for x in digest])
        if kind == "audio":
            return True, _audio_features(b)
        vf, pixels_decoded = _video_features(b)
        if strict and not pixels_decoded:
            raise NotImplementedError(
                "no pixel decoder for this video's codec (only 'raw ' "
                "sample streams decode in this container); ship a real "
                "codec (e.g. pyav) via --py-files and extend "
                "_video_features at this integration point"
            )
        return True, vf
    except NotImplementedError:
        raise
    except Exception:  # noqa: BLE001 — corrupt payload
        return False, []


def decode_media(df: DataFrame, strict: bool = False) -> DataFrame:
    """Decode + feature-extract, one Arrow-batched row kernel.

    image/png, audio/wav, and RAW-codec video decode FOR REAL
    (pure-stdlib codecs above; mp4 'raw ' sample streams are demuxed
    via the real sample table and their pixels decoded by
    _decode_raw_frame). Compressed video codecs (avc1, hev1, ...)
    have no decoder in this container: strict=True raises
    NotImplementedError for those rows (the documented production
    integration point for a real codec, e.g. pyav shipped via
    --py-files); strict=False substitutes a deterministic payload
    digest for the pixel part of the feature vector.
    """

    def _row(payload, kind):
        b = bytes(payload)
        sha = int.from_bytes(
            hashlib.blake2b(b, digest_size=4).digest(), "little")
        return [(len(b), sha, *_media_features(b, kind, strict))]

    return map_rows(df, ["payload", "kind"], ["media_id", "kind"],
                    FEATURE_FIELDS, _row)


def resize_images(df: DataFrame, width: int = 32,
                  height: int = 32) -> DataFrame:
    """REAL nearest-neighbor resize: filter to images JVM-side
    (partition pruning friendly), then a batched kernel that decodes
    the PNG, resamples, and re-encodes. Output payload is a valid PNG
    of the requested dimensions."""
    import numpy as np

    def _row(payload):
        # per-row tolerance (same policy as decode_media): one corrupt
        # image marks its row null, not the whole batch
        try:
            w, h, ch, px = _decode_image(bytes(payload))
            img = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
            sy = np.arange(height) * h // height
            sx = np.arange(width) * w // width
            resized = img[sy[:, None], sx[None, :], :]
            out = png_encode(width, height, resized.tobytes(), ch)
        except Exception:  # noqa: BLE001 — corrupt payload
            out = None
        return [(width, height, out)]

    return map_rows(df.where(F.col("kind") == "image"), ["payload"],
                    ["media_id"], RESIZE_FIELDS, _row)


def sample_frames(df: DataFrame, every_ms: int = 1000,
                  max_frames: int = 8) -> DataFrame:
    """Frame sampling for video: JVM-side explode of the sample GRID
    (timestamps from metadata — no payload touched), then one batched
    kernel that demuxes the REAL ISO-BMFF sample table (mp4_samples:
    stts/stsc/stsz/stco) and emits the actual sample bytes nearest
    each grid timestamp; payloads without a sample table fall back to
    proportional byte slicing. At scale the pre-explode keeps Python
    traffic proportional to sampled frames, not to video bytes."""
    vids = df.where(F.col("kind") == "video").select(
        "media_id", "payload",
        F.least(
            (F.col("meta.duration_ms") / every_ms).cast("int") + 1,
            F.lit(max_frames),
        ).alias("n_frames"),
    )
    grid = vids.select(
        "media_id", "payload",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1)
        ).alias("frame_idx"),
    ).withColumn("frame_ms", F.col("frame_idx") * every_ms)

    # the explode keeps one video's rows adjacent, so a one-entry memo
    # parses each sample table once; keyed by a CONTENT digest, not
    # media_id, so duplicated ids never share a table
    memo = [None, []]

    def _row(payload, idx, fms):
        b = bytes(payload)
        key = hashlib.blake2b(b, digest_size=16).digest()
        if memo[0] != key:
            try:
                memo[1] = mp4_samples(b)
            except ValueError:
                memo[1] = []
            memo[0] = key
        samples = memo[1]
        if samples:
            # real demux: the sample whose timestamp is nearest the
            # grid point
            off, size, _t = min(samples, key=lambda sm: abs(sm[2] - fms))
            return [(b[off:off + size],)]
        # no sample table: proportional byte slice
        chunk = max(len(b) // max_frames, 1)
        return [(b[idx * chunk:(idx + 1) * chunk],)]

    return map_rows(grid, ["payload", "frame_idx", "frame_ms"],
                    ["media_id", "frame_idx", "frame_ms"], FRAME_FIELDS,
                    _row)


# ---------------------------------------------------------------------------
# MP4 container demux (pure stdlib; ISO-BMFF box parsing — the codec
# itself, i.e. pixel/sample decoding, remains the documented stub)
# ---------------------------------------------------------------------------


def mp4_probe(data: bytes):
    """Parse ISO-BMFF boxes and return (duration_ms, width, height,
    n_boxes). Handles v0 AND v1 full-box layouts (v1 mvhd/tkhd carry
    64-bit creation/modification/duration fields, common in real-world
    files), 64-bit `largesize` boxes (size==1 + 8-byte size at offset
    8), and size==0 ("box extends to end of enclosing container").
    mvhd carries timescale+duration; tkhd the track dimensions as
    16.16 fixed point. Raises ValueError on non-BMFF input."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF file")
    duration_ms = width = height = None
    n_boxes = 0

    def walk(buf, depth=0):
        nonlocal duration_ms, width, height, n_boxes
        pos = 0
        while pos + 8 <= len(buf):
            (size,) = struct.unpack(">I", buf[pos:pos + 4])
            btype = buf[pos + 4:pos + 8]
            hdr = 8
            if size == 1:  # largesize: 64-bit size follows the type
                if pos + 16 > len(buf):
                    break
                (size,) = struct.unpack(">Q", buf[pos + 8:pos + 16])
                hdr = 16
            elif size == 0:  # box runs to the end of this container
                size = len(buf) - pos
            if size < hdr:
                break
            body = buf[pos + hdr:pos + size]
            n_boxes += 1
            if btype in (b"moov", b"trak"):
                walk(body, depth + 1)
            elif btype == b"mvhd" and len(body) >= 20:
                if body[0] == 1 and len(body) >= 32:
                    # v1: 8B creation + 8B modification, then
                    # timescale:4 at offset 20, duration:8 at 24
                    (timescale,) = struct.unpack(">I", body[20:24])
                    (dur,) = struct.unpack(">Q", body[24:32])
                elif body[0] == 0:
                    timescale, dur = struct.unpack(">II", body[12:20])
                else:
                    timescale = dur = 0
                if timescale:
                    duration_ms = int(dur * 1000 / timescale)
            elif btype == b"tkhd":
                if body[:1] == b"\x01" and len(body) >= 96:
                    # v1: +12 bytes vs v0 → width/height at 88:96
                    w16, h16 = struct.unpack(">II", body[88:96])
                    width, height = w16 >> 16, h16 >> 16
                elif body[:1] == b"\x00" and len(body) >= 84:
                    w16, h16 = struct.unpack(">II", body[76:84])
                    width, height = w16 >> 16, h16 >> 16
            pos += size

    walk(data)
    return duration_ms, width, height, n_boxes


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + btype + body


def _visual_sample_entry(fourcc: bytes, width: int, height: int,
                         depth: int = 24) -> bytes:
    """ISO 14496-12 VisualSampleEntry box (size+format header + the
    78-byte fixed field layout): the codec declaration inside stsd."""
    body = (
        b"\x00" * 6 + struct.pack(">H", 1)        # reserved, data_ref_idx
        + struct.pack(">HH", 0, 0) + b"\x00" * 12  # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi h/v
        + struct.pack(">I", 0)                     # reserved
        + struct.pack(">H", 1)                     # frame_count
        + b"\x00" * 32                             # compressorname
        + struct.pack(">H", depth)
        + struct.pack(">h", -1)                    # pre_defined
    )
    return struct.pack(">I", len(body) + 8) + fourcc + body


def mp4_encode_stub(duration_ms: int, width: int, height: int,
                    payload: bytes, frames: list | None = None,
                    codec: bytes = b"raw ") -> bytes:
    """VALID ISO-BMFF skeleton (ftyp + moov{mvhd, trak{tkhd, mdia{
    mdhd, minf{stbl{stsd,stts,stsc,stsz,stco}}}}} + mdat) so the demux
    path runs on real boxes. With `frames` (list of per-frame byte
    blobs) a REAL sample table is written: uniform stts durations,
    one-chunk stsc, per-sample stsz, absolute stco offset into mdat —
    and stsd carries a real VisualSampleEntry declaring `codec`
    (default 'raw ': uncompressed interleaved RGB24, the sample format
    _decode_raw_frame reads back; pass e.g. b'avc1' to model a
    compressed stream this container has no decoder for)."""
    timescale = 1000
    mvhd = (b"\x00\x00\x00\x00" + b"\x00" * 8
            + struct.pack(">II", timescale, duration_ms)
            + b"\x00" * 80)
    tkhd = (b"\x00\x00\x00\x07" + b"\x00" * 72
            + struct.pack(">II", width << 16, height << 16))
    trak_body = _box(b"tkhd", tkhd)
    mdat_body = payload
    stco_fixup = None
    if frames:
        mdat_body = b"".join(frames)
        n = len(frames)
        dur_per = max(duration_ms // n, 1)
        mdhd = (b"\x00\x00\x00\x00" + b"\x00" * 8
                + struct.pack(">II", timescale, duration_ms)
                + b"\x00" * 4)
        stsd = (b"\x00" * 4 + struct.pack(">I", 1)
                + _visual_sample_entry(codec, width, height))
        stts = (b"\x00" * 4 + struct.pack(">I", 1)
                + struct.pack(">II", n, dur_per))
        stsc = (b"\x00" * 4 + struct.pack(">I", 1)
                + struct.pack(">III", 1, n, 1))
        stsz = (b"\x00" * 4 + struct.pack(">II", 0, n)
                + b"".join(struct.pack(">I", len(f)) for f in frames))
        # stco offset is absolute within the file; patched below once
        # the moov size is known
        stco = (b"\x00" * 4 + struct.pack(">I", 1)
                + struct.pack(">I", 0))
        stbl = (_box(b"stsd", stsd) + _box(b"stts", stts)
                + _box(b"stsc", stsc) + _box(b"stsz", stsz)
                + _box(b"stco", stco))
        minf = _box(b"minf", _box(b"stbl", stbl))
        trak_body += _box(b"mdia", _box(b"mdhd", mdhd) + minf)
        stco_fixup = True
    moov = _box(b"moov", _box(b"mvhd", mvhd) + _box(b"trak", trak_body))
    head = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov
    if stco_fixup:
        # first sample starts right after the 8-byte mdat header
        off = struct.pack(">I", len(head) + 8)
        idx = head.rindex(b"stco")
        head = head[:idx + 12] + off + head[idx + 16:]
    return head + _box(b"mdat", mdat_body)


def _collect_traks(data: bytes) -> list:
    """Walk the box tree and return one {box_type: body} dict PER
    trak (sample-table boxes scoped to their own track — a multi-trak
    file must not mix, say, the video stts with the audio stsz).
    Raises ValueError on non-BMFF input."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF file")
    traks: list = []

    def walk(buf, boxes):
        pos = 0
        while pos + 8 <= len(buf):
            (size,) = struct.unpack(">I", buf[pos:pos + 4])
            btype = buf[pos + 4:pos + 8]
            hdr = 8
            if size == 1:
                if pos + 16 > len(buf):
                    break
                (size,) = struct.unpack(">Q", buf[pos + 8:pos + 16])
                hdr = 16
            elif size == 0:
                size = len(buf) - pos
            if size < hdr:
                break
            body = buf[pos + hdr:pos + size]
            if btype == b"trak":
                tb: dict = {}
                walk(body, tb)
                traks.append(tb)
            elif btype in (b"moov", b"mdia", b"minf", b"stbl"):
                walk(body, boxes)
            elif btype in (b"stts", b"stsz", b"stsc", b"stco", b"co64",
                           b"mdhd", b"stsd"):
                # first box of each type WITHIN this trak wins
                boxes.setdefault(btype, body)
            pos += size

    walk(data, {})
    return traks


def _select_trak(data: bytes):
    """THE trak-selection rule, shared by mp4_samples and
    mp4_video_stream so every demux API agrees on which trak a
    multi-trak file means: the first trak with BOTH a well-formed
    visual entry and a complete, parseable, non-empty sample table
    (the video stream), else the first trak with just a usable table
    (audio-only files still demux; entry is None there). Returns
    (entry_or_None, samples) — always from ONE trak — or (None, [])."""
    fallback = None
    for boxes in _collect_traks(data):
        if not (b"stts" in boxes and b"stsz" in boxes
                and (b"stco" in boxes or b"co64" in boxes)):
            continue
        try:
            samples = _parse_sample_table(boxes, len(data))
        except (struct.error, IndexError, ValueError):
            # corrupt/truncated table: tolerated (same per-row policy
            # as every other media decode path), try the next trak
            continue
        if not samples:
            continue
        entry = _parse_visual_entry(boxes.get(b"stsd"))
        if entry is not None:
            return entry, samples
        if fallback is None:
            fallback = samples
    return None, fallback or []


def mp4_samples(data: bytes) -> list:
    """REAL sample-table demux: returns [(offset, size, time_ms)] per
    sample by walking moov/trak/mdia/minf/stbl and combining stts
    (durations), stsz (sizes), stsc (sample->chunk), stco/co64 (chunk
    offsets). Box collection is scoped PER TRAK (never mixes
    sample-table boxes across tracks) and the trak choice is shared
    with mp4_video_stream (_select_trak: visual trak preferred, any
    complete table as fallback). Offsets are absolute file offsets,
    so callers can slice actual sample bytes out of the payload.
    Raises ValueError on non-BMFF; returns [] when no trak carries a
    usable sample table."""
    return _select_trak(data)[1]


def _parse_visual_entry(sd):
    """First VisualSampleEntry of one stsd body -> (fourcc, width,
    height, depth), or None when malformed/absent."""
    if sd is None or len(sd) < 16:
        return None
    (n_entries,) = struct.unpack(">I", sd[4:8])
    if n_entries < 1:
        return None
    (esize,) = struct.unpack(">I", sd[8:12])
    fourcc = sd[12:16].decode("latin-1")
    ebody = sd[16:8 + min(esize, len(sd) - 8)]
    if len(ebody) < 78:  # fixed VisualSampleEntry field block
        return None
    width, height = struct.unpack(">HH", ebody[24:28])
    (depth,) = struct.unpack(">H", ebody[74:76])
    return fourcc, width, height, depth


def mp4_sample_entry(data: bytes):
    """Codec declaration of the first trak that has one: parse stsd's
    first VisualSampleEntry and return (fourcc, width, height, depth),
    or None when no trak carries a well-formed visual entry. Raises
    ValueError on non-BMFF input. NOTE: standalone convenience — when
    pairing an entry WITH sample ranges use mp4_video_stream, which
    guarantees both come from the same trak."""
    for boxes in _collect_traks(data):
        entry = _parse_visual_entry(boxes.get(b"stsd"))
        if entry is not None:
            return entry
    return None


def mp4_video_stream(data: bytes):
    """(sample_entry, samples) taken from the SAME trak via
    _select_trak: the first trak with BOTH a visual entry and a
    usable table wins (so an audio trak listed before the video trak
    never shadows it), with any-complete-table as the audio-only
    fallback (entry None there — those samples are NOT
    pixel-decodable and are never paired with another trak's codec
    declaration). Raises ValueError on non-BMFF input."""
    return _select_trak(data)


def _parse_sample_table(boxes: dict, file_len: int) -> list:
    """The trusting part of mp4_samples, isolated so the caller can
    catch struct/index errors from truncated boxes. Every count field
    is corruption-controlled 32-bit data: bound it by what the BOX
    BODY can actually hold before materializing any list (a crafted
    ~100-byte payload must not allocate gigabytes)."""
    # timescale from mdhd (v0)
    timescale = 1000
    mdhd = boxes.get(b"mdhd")
    if mdhd is not None and len(mdhd) >= 20 and mdhd[0] == 0:
        (timescale,) = struct.unpack(">I", mdhd[12:16])
        timescale = timescale or 1000
    # sizes
    b = boxes[b"stsz"]
    uniform, count = struct.unpack(">II", b[4:12])
    if uniform:
        # a file cannot hold more uniform-size samples than bytes
        count = min(count, file_len // max(uniform, 1) + 1)
        sizes = [uniform] * count
    else:
        if 12 + 4 * count > len(b):
            raise ValueError("stsz count exceeds box body")
        sizes = list(struct.unpack(f">{count}I", b[12:12 + 4 * count]))
    max_samples = len(sizes)
    # durations -> per-sample start times
    b = boxes[b"stts"]
    (n_ent,) = struct.unpack(">I", b[4:8])
    if 8 + 8 * n_ent > len(b):
        raise ValueError("stts entries exceed box body")
    times = []
    t = 0
    for e in range(n_ent):
        cnt, dur = struct.unpack(">II", b[8 + 8 * e:16 + 8 * e])
        cnt = min(cnt, max_samples - len(times))  # bounded by stsz
        for _ in range(cnt):
            times.append(int(t * 1000 / timescale))
            t += dur
        if len(times) >= max_samples:
            break
    # chunk offsets: stco (32-bit) or co64 (64-bit)
    if b"stco" in boxes:
        b = boxes[b"stco"]
        (n_chunks,) = struct.unpack(">I", b[4:8])
        if 8 + 4 * n_chunks > len(b):
            raise ValueError("stco entries exceed box body")
        chunk_offs = list(struct.unpack(
            f">{n_chunks}I", b[8:8 + 4 * n_chunks]))
    else:
        b = boxes[b"co64"]
        (n_chunks,) = struct.unpack(">I", b[4:8])
        if 8 + 8 * n_chunks > len(b):
            raise ValueError("co64 entries exceed box body")
        chunk_offs = list(struct.unpack(
            f">{n_chunks}Q", b[8:8 + 8 * n_chunks]))
    # sample->chunk map (default: all samples in chunk 1)
    spc = [(1, len(sizes))]
    if b"stsc" in boxes:
        sb = boxes[b"stsc"]
        (n_stsc,) = struct.unpack(">I", sb[4:8])
        if 8 + 12 * n_stsc > len(sb):
            raise ValueError("stsc entries exceed box body")
        spc = []
        for e in range(n_stsc):
            first, per, _desc = struct.unpack(
                ">III", sb[8 + 12 * e:20 + 12 * e])
            spc.append((first, min(per, max_samples)))
    samples = []
    si = 0
    spc_i = 0  # advancing index: stsc first_chunk is monotonic, so the
    # per-chunk rescan a crafted huge stsc could turn quadratic is
    # unnecessary — one pass over chunks + one over entries
    per = spc[0][1] if spc else len(sizes)
    for ci, coff in enumerate(chunk_offs, start=1):
        while spc_i + 1 < len(spc) and spc[spc_i + 1][0] <= ci:
            spc_i += 1
        per = spc[spc_i][1]
        off = coff
        for _ in range(per):
            if si >= len(sizes):
                return samples
            samples.append(
                (off, sizes[si], times[si] if si < len(times) else 0))
            off += sizes[si]
            si += 1
        if si >= len(sizes):
            break
    return samples
