"""Encoding sniffing and conversion (WHATWG Encoding Standard subset).

Parity targets (citations into /root/reference/src/encoding.c):
  - label table (~230 labels -> 39 canonical names)       (25-249)
  - label normalization (trim ASCII ws + lowercase)       (259-291)
  - BOM detection                                         (312-325)
  - meta prescan, first 1,024 bytes only                  (337-580)
  - sniff precedence BOM > hint > meta > UTF-8            (1085-1172)
  - UTF-16 -> UTF-8 w/ unpaired-surrogate -> U+FFFD,
    odd trailing byte -> U+FFFD                           (587-670)
  - x-user-defined (0x80-0xFF -> U+F780-F7FF), replacement (673-694,1042)
  - ISO-2022-JP WHATWG state machine                      (730-981)
  - iconv fallback policy: EILSEQ -> U+FFFD + skip 1 byte  (984-1037);
    reproduced with Python incremental decoders in strict mode.
"""

from __future__ import annotations

import codecs

from .tokenizer import ascii_lower

CONF_CERTAIN = 0
CONF_TENTATIVE = 1
CONF_IRRELEVANT = 2

# label -> (canonical, python_codec or None). python_codec None means the
# encoding has a built-in converter or is "replacement"/"x-user-defined".
_W1252 = ("windows-1252", "cp1252")
_BIG5 = ("Big5", "big5")
_GBK = ("GBK", "gbk")
_EUCKR = ("EUC-KR", "euc_kr")
_EUCJP = ("EUC-JP", "euc_jp")
_SJIS = ("Shift_JIS", "shift_jis")
_I2022 = ("ISO-2022-JP", None)
_REPL = ("replacement", None)
_W874 = ("windows-874", "cp874")
_L2 = ("ISO-8859-2", "iso8859_2")
_L3 = ("ISO-8859-3", "iso8859_3")
_L4 = ("ISO-8859-4", "iso8859_4")
_L5 = ("ISO-8859-5", "iso8859_5")
_L6 = ("ISO-8859-6", "iso8859_6")
_L7 = ("ISO-8859-7", "iso8859_7")
_L8 = ("ISO-8859-8", "iso8859_8")
_L8I = ("ISO-8859-8-I", "iso8859_8")
_L10 = ("ISO-8859-10", "iso8859_10")
_L13 = ("ISO-8859-13", "iso8859_13")
_L14 = ("ISO-8859-14", "iso8859_14")
_L15 = ("ISO-8859-15", "iso8859_15")
_L16 = ("ISO-8859-16", "iso8859_16")
_W1254 = ("windows-1254", "cp1254")
_KOI8R = ("KOI8-R", "koi8_r")
_KOI8U = ("KOI8-U", "koi8_u")
_MAC = ("macintosh", "mac_roman")
_MACCYR = ("x-mac-cyrillic", "mac_cyrillic")
_IBM866 = ("IBM866", "cp866")
_UTF8 = ("UTF-8", "utf_8")
_U16LE = ("UTF-16LE", None)
_U16BE = ("UTF-16BE", None)

LABEL_TABLE = {
    "866": _IBM866, "ansi_x3.4-1968": _W1252, "arabic": _L6, "ascii": _W1252,
    "asmo-708": _L6, "big5": _BIG5, "big5-hkscs": _BIG5, "chinese": _GBK,
    "cn-big5": _BIG5,
    "cp1250": ("windows-1250", "cp1250"), "cp1251": ("windows-1251", "cp1251"),
    "cp1252": _W1252, "cp1253": ("windows-1253", "cp1253"), "cp1254": _W1254,
    "cp1255": ("windows-1255", "cp1255"), "cp1256": ("windows-1256", "cp1256"),
    "cp1257": ("windows-1257", "cp1257"), "cp1258": ("windows-1258", "cp1258"),
    "cp819": _W1252, "cp866": _IBM866, "csbig5": _BIG5, "cseuckr": _EUCKR,
    "cseucpkdfmtjapanese": _EUCJP, "csgb2312": _GBK, "csibm866": _IBM866,
    "csiso2022jp": _I2022, "csiso2022kr": _REPL, "csiso58gb231280": _GBK,
    "csiso88596e": _L6, "csiso88596i": _L6, "csiso88598e": _L8,
    "csiso88598i": _L8I, "csisolatin1": _W1252, "csisolatin2": _L2,
    "csisolatin3": _L3, "csisolatin4": _L4, "csisolatin5": _W1254,
    "csisolatin6": _L10, "csisolatin9": _L15, "csisolatinarabic": _L6,
    "csisolatincyrillic": _L5, "csisolatingreek": _L7, "csisolatinhebrew": _L8,
    "cskoi8r": _KOI8R, "csksc56011987": _EUCKR, "csmacintosh": _MAC,
    "csshiftjis": _SJIS, "cyrillic": _L5, "dos-874": _W874, "ecma-114": _L6,
    "ecma-118": _L7, "elot_928": _L7, "euc-jp": _EUCJP, "euc-kr": _EUCKR,
    "gb18030": ("gb18030", "gb18030"), "gb2312": _GBK, "gb_2312": _GBK,
    "gb_2312-80": _GBK, "gbk": _GBK, "greek": _L7, "greek8": _L7,
    "hebrew": _L8, "hz-gb-2312": _REPL, "ibm819": _W1252, "ibm866": _IBM866,
    "iso-2022-cn": _REPL, "iso-2022-cn-ext": _REPL, "iso-2022-jp": _I2022,
    "iso-2022-kr": _REPL, "iso-8859-1": _W1252, "iso-8859-10": _L10,
    "iso-8859-11": _W874, "iso-8859-13": _L13, "iso-8859-14": _L14,
    "iso-8859-15": _L15, "iso-8859-16": _L16, "iso-8859-2": _L2,
    "iso-8859-3": _L3, "iso-8859-4": _L4, "iso-8859-5": _L5,
    "iso-8859-6": _L6, "iso-8859-6-e": _L6, "iso-8859-6-i": _L6,
    "iso-8859-7": _L7, "iso-8859-8": _L8, "iso-8859-8-e": _L8,
    "iso-8859-8-i": _L8I, "iso-8859-9": _W1254, "iso-ir-100": _W1252,
    "iso-ir-101": _L2, "iso-ir-109": _L3, "iso-ir-110": _L4, "iso-ir-126": _L7,
    "iso-ir-127": _L6, "iso-ir-138": _L8, "iso-ir-144": _L5,
    "iso-ir-148": _W1254, "iso-ir-149": _EUCKR, "iso-ir-157": _L10,
    "iso-ir-58": _GBK, "iso8859-1": _W1252, "iso8859-10": _L10,
    "iso8859-11": _W874, "iso8859-13": _L13, "iso8859-14": _L14,
    "iso8859-15": _L15, "iso8859-2": _L2, "iso8859-3": _L3, "iso8859-4": _L4,
    "iso8859-5": _L5, "iso8859-6": _L6, "iso8859-7": _L7, "iso8859-8": _L8,
    "iso8859-9": _W1254, "iso88591": _W1252, "iso885910": _L10,
    "iso885911": _W874, "iso885913": _L13, "iso885914": _L14,
    "iso885915": _L15, "iso88592": _L2, "iso88593": _L3, "iso88594": _L4,
    "iso88595": _L5, "iso88596": _L6, "iso88597": _L7, "iso88598": _L8,
    "iso88599": _W1254, "iso_8859-1": _W1252, "iso_8859-15": _L15,
    "iso_8859-1:1987": _W1252, "iso_8859-2": _L2, "iso_8859-2:1987": _L2,
    "iso_8859-3": _L3, "iso_8859-3:1988": _L3, "iso_8859-4": _L4,
    "iso_8859-4:1988": _L4, "iso_8859-5": _L5, "iso_8859-5:1988": _L5,
    "iso_8859-6": _L6, "iso_8859-6:1987": _L6, "iso_8859-7": _L7,
    "iso_8859-7:1987": _L7, "iso_8859-8": _L8, "iso_8859-8:1988": _L8,
    "iso_8859-9": _W1254, "iso_8859-9:1989": _W1254, "koi": _KOI8R,
    "koi8": _KOI8R, "koi8-r": _KOI8R, "koi8-ru": _KOI8U, "koi8-u": _KOI8U,
    "koi8_r": _KOI8R, "korean": _EUCKR, "ks_c_5601-1987": _EUCKR,
    "ks_c_5601-1989": _EUCKR, "ksc5601": _EUCKR, "ksc_5601": _EUCKR,
    "l1": _W1252, "l2": _L2, "l3": _L3, "l4": _L4, "l5": _W1254, "l6": _L10,
    "l9": _L15, "latin1": _W1252, "latin2": _L2, "latin3": _L3, "latin4": _L4,
    "latin5": _W1254, "latin6": _L10, "logical": _L8I, "mac": _MAC,
    "macintosh": _MAC, "ms932": _SJIS, "ms_kanji": _SJIS, "shift-jis": _SJIS,
    "shift_jis": _SJIS, "sjis": _SJIS, "sun_eu_greek": _L7, "tis-620": _W874,
    "unicode-1-1-utf-8": _UTF8, "unicode11utf8": _UTF8, "unicode20utf8": _UTF8,
    "us-ascii": _W1252, "utf-16": _U16LE, "utf-16be": _U16BE,
    "utf-16le": _U16LE, "utf-8": _UTF8, "utf8": _UTF8, "visual": _L8,
    "windows-1250": ("windows-1250", "cp1250"),
    "windows-1251": ("windows-1251", "cp1251"), "windows-1252": _W1252,
    "windows-1253": ("windows-1253", "cp1253"), "windows-1254": _W1254,
    "windows-1255": ("windows-1255", "cp1255"),
    "windows-1256": ("windows-1256", "cp1256"),
    "windows-1257": ("windows-1257", "cp1257"),
    "windows-1258": ("windows-1258", "cp1258"), "windows-31j": _SJIS,
    "windows-874": _W874, "windows-949": _EUCKR, "x-cp1250":
    ("windows-1250", "cp1250"), "x-cp1251": ("windows-1251", "cp1251"),
    "x-cp1252": _W1252, "x-cp1253": ("windows-1253", "cp1253"),
    "x-cp1255": ("windows-1255", "cp1255"),
    "x-cp1256": ("windows-1256", "cp1256"),
    "x-cp1257": ("windows-1257", "cp1257"),
    "x-cp1258": ("windows-1258", "cp1258"), "x-euc-jp": _EUCJP, "x-gbk": _GBK,
    "x-mac-cyrillic": _MACCYR, "x-mac-roman": _MAC, "x-mac-ukrainian": _MACCYR,
    "x-sjis": _SJIS, "x-unicode20utf8": _UTF8,
    "x-user-defined": ("x-user-defined", None), "x-x-big5": _BIG5,
}

_ASCII_WS = " \t\n\r\f"


def _normalize_label(label):
    if label is None:
        return None
    norm = ascii_lower(label.strip(_ASCII_WS))
    return norm or None


def resolve_label(label):
    """encoding_resolve_label (283-291): canonical name or None."""
    norm = _normalize_label(label)
    if norm is None:
        return None
    ent = LABEL_TABLE.get(norm)
    return ent[0] if ent else None


def _python_codec_for_canonical(canonical):
    for cname, pycodec in LABEL_TABLE.values():
        if cname == canonical:
            return pycodec
    return None


# ---------------------------------------------------------------------------
# BOM detection (312-325)
# ---------------------------------------------------------------------------

def detect_bom(raw: bytes):
    if raw[:3] == b"\xef\xbb\xbf":
        return "UTF-8", 3
    if raw[:2] == b"\xfe\xff":
        return "UTF-16BE", 2
    if raw[:2] == b"\xff\xfe":
        return "UTF-16LE", 2
    return None, 0


# ---------------------------------------------------------------------------
# Meta prescan (337-580) — byte-level scan of the first 1,024 bytes
# ---------------------------------------------------------------------------

_PRESCAN_SPACE = frozenset((0x09, 0x0A, 0x0C, 0x0D, 0x20))


def _extract_charset_from_content(value: bytes):
    low = value.lower()
    i = 0
    n = len(value)
    while True:
        i = low.find(b"charset", i)
        if i < 0:
            return None
        j = i + 7
        while j < n and value[j] in _PRESCAN_SPACE:
            j += 1
        if j >= n or value[j : j + 1] != b"=":
            i += 1
            continue
        j += 1
        while j < n and value[j] in _PRESCAN_SPACE:
            j += 1
        if j >= n:
            return None
        b = value[j : j + 1]
        if b == b'"':
            j += 1
            start = j
            while j < n and value[j : j + 1] != b'"':
                j += 1
            end = j
        elif b == b"'":
            j += 1
            start = j
            while j < n and value[j : j + 1] != b"'":
                j += 1
            end = j
        else:
            start = j
            while (
                j < n
                and value[j : j + 1] != b";"
                and value[j] not in _PRESCAN_SPACE
            ):
                j += 1
            end = j
        blob = value[start:end]
        if 0 < len(blob) < 128:
            try:
                return blob.decode("latin-1")
            except Exception:
                return None
        return None


def _prescan_meta_tag(raw: bytes, scan_len: int, pos: int):
    """prescan_meta_tag (390-521). Returns (charset_label_or_None, new_pos)."""
    got_pragma = False
    need_pragma = -1
    charset_value = None
    while True:
        while pos < scan_len and raw[pos] in _PRESCAN_SPACE:
            pos += 1
        if pos >= scan_len:
            return None, pos
        if raw[pos : pos + 1] in (b">", b"/"):
            return None, pos
        name_start = pos
        while (
            pos < scan_len
            and raw[pos : pos + 1] != b"="
            and raw[pos] not in _PRESCAN_SPACE
            and raw[pos : pos + 1] not in (b">", b"/")
        ):
            pos += 1
        name = raw[name_start:pos].lower()
        if not name:
            pos += 1
            continue
        while pos < scan_len and raw[pos] in _PRESCAN_SPACE:
            pos += 1
        if pos >= scan_len or raw[pos : pos + 1] != b"=":
            continue
        pos += 1
        while pos < scan_len and raw[pos] in _PRESCAN_SPACE:
            pos += 1
        if pos >= scan_len:
            return None, pos
        b = raw[pos : pos + 1]
        if b == b'"':
            pos += 1
            val_start = pos
            while pos < scan_len and raw[pos : pos + 1] != b'"':
                pos += 1
            val = raw[val_start:pos]
            if pos < scan_len:
                pos += 1
        elif b == b"'":
            pos += 1
            val_start = pos
            while pos < scan_len and raw[pos : pos + 1] != b"'":
                pos += 1
            val = raw[val_start:pos]
            if pos < scan_len:
                pos += 1
        else:
            val_start = pos
            while (
                pos < scan_len
                and raw[pos] not in _PRESCAN_SPACE
                and raw[pos : pos + 1] != b">"
            ):
                pos += 1
            val = raw[val_start:pos]

        if name == b"http-equiv":
            if val.lower() == b"content-type":
                got_pragma = True
        elif name == b"content":
            if len(val) < 256:
                cs = _extract_charset_from_content(val)
                if cs is not None:
                    charset_value = cs
                    if need_pragma == -1:
                        need_pragma = 1
        elif name == b"charset":
            if len(val) < 128:
                charset_value = val.decode("latin-1")
                need_pragma = 0

        if pos < scan_len and raw[pos : pos + 1] == b">":
            pos += 1
            break

    if charset_value is None:
        return None, pos
    if need_pragma == 1 and not got_pragma:
        return None, pos
    if need_pragma == -1:
        return None, pos
    return charset_value, pos


def meta_prescan(raw: bytes):
    """meta_prescan (523-580): first 1,024 bytes; returns canonical name.

    Byte-identical walk to the reference's per-byte loop, but the
    "advance to the next '<'", "skip to '-->'" and "skip to '>'"
    scans use bytes.find jumps instead of per-byte slicing (the
    positions visited and the residual cursor on miss are the same).
    """
    scan_len = min(len(raw), 1024)
    pos = 0
    while pos < scan_len:
        lt = raw.find(b"<", pos, scan_len)
        if lt < 0:
            break
        pos = lt + 1
        if pos >= scan_len:
            break
        if raw[pos : pos + 3] == b"!--" and pos + 2 < scan_len:
            pos += 3
            # original loop scans while pos+2 < scan_len and leaves the
            # cursor at scan_len-2 on miss; find's end bound matches
            # (a hit needs the full 3 bytes inside the window)
            end = raw.find(b"-->", pos, scan_len)
            if end >= 0:
                pos = end + 3
            else:
                pos = max(pos, scan_len - 2)
            continue
        if (
            pos + 4 < scan_len
            and raw[pos : pos + 4].lower() == b"meta"
            and (
                raw[pos + 4] in _PRESCAN_SPACE
                or raw[pos + 4 : pos + 5] in (b"/", b">")
            )
        ):
            pos += 4
            label, pos = _prescan_meta_tag(raw, scan_len, pos)
            if label is not None:
                resolved = resolve_label(label)
                if resolved is not None:
                    return resolved
            continue
        b = raw[pos : pos + 1]
        if (
            b in (b"!", b"/", b"?")
            or (b"A" <= b <= b"Z")
            or (b"a" <= b <= b"z")
        ):
            gt = raw.find(b">", pos, scan_len)
            pos = scan_len if gt < 0 else gt + 1
            continue
    return None


# ---------------------------------------------------------------------------
# Converters
# ---------------------------------------------------------------------------

def convert_utf16_to_utf8(raw: bytes, big_endian: bool) -> str:
    """(587-670): unpaired surrogate -> U+FFFD, odd trailing byte -> U+FFFD."""
    out = []
    append = out.append
    n = len(raw)
    i = 0
    if big_endian:
        hi, lo = 0, 1
    else:
        hi, lo = 1, 0
    while i + 1 < n:
        w1 = (raw[i + hi] << 8) | raw[i + lo]
        i += 2
        if 0xD800 <= w1 <= 0xDBFF:
            if i + 1 < n:
                w2 = (raw[i + hi] << 8) | raw[i + lo]
                if 0xDC00 <= w2 <= 0xDFFF:
                    cp = 0x10000 + ((w1 - 0xD800) << 10) + (w2 - 0xDC00)
                    i += 2
                else:
                    cp = 0xFFFD
            else:
                cp = 0xFFFD
        elif 0xDC00 <= w1 <= 0xDFFF:
            cp = 0xFFFD
        else:
            cp = w1
        append(chr(cp))
    if i < n:
        append("�")
    return "".join(out)


def convert_x_user_defined(raw: bytes) -> str:
    return "".join(
        chr(b) if b < 0x80 else chr(0xF780 + (b - 0x80)) for b in raw
    )


def convert_iso2022jp(raw: bytes) -> str:
    """WHATWG §15.2 ISO-2022-JP decoder state machine (730-981)."""
    ASCII, ROMAN, KATAKANA, LEAD, TRAIL, ESC_START, ESC = range(7)
    state = ASCII
    output_state = ASCII
    out = []
    append = out.append
    output_flag = False
    lead = 0
    i = 0
    n = len(raw)
    jis = _jis0208_table()
    while i <= n:
        is_eof = i == n
        byte = 0 if is_eof else raw[i]
        if state == ASCII:
            if is_eof:
                break
            if byte == 0x1B:
                state = ESC_START
                i += 1
            elif byte <= 0x7F and byte != 0x0E and byte != 0x0F:
                output_flag = True
                append(chr(byte))
                i += 1
            else:
                output_flag = False
                append("�")
                i += 1
        elif state == ROMAN:
            if is_eof:
                break
            if byte == 0x1B:
                state = ESC_START
                i += 1
            elif byte == 0x5C:
                output_flag = True
                append("¥")
                i += 1
            elif byte == 0x7E:
                output_flag = True
                append("‾")
                i += 1
            elif byte <= 0x7F and byte != 0x0E and byte != 0x0F:
                output_flag = True
                append(chr(byte))
                i += 1
            else:
                output_flag = False
                append("�")
                i += 1
        elif state == KATAKANA:
            if is_eof:
                break
            if byte == 0x1B:
                state = ESC_START
                i += 1
            elif 0x21 <= byte <= 0x5F:
                output_flag = True
                append(chr(0xFF61 - 0x21 + byte))
                i += 1
            else:
                output_flag = False
                append("�")
                i += 1
        elif state == LEAD:
            if is_eof:
                break
            if byte == 0x1B:
                state = ESC_START
                i += 1
            elif 0x21 <= byte <= 0x7E:
                output_flag = False
                lead = byte
                state = TRAIL
                i += 1
            else:
                output_flag = False
                append("�")
                i += 1
        elif state == TRAIL:
            if is_eof:
                append("�")
                break
            if byte == 0x1B:
                append("�")
                state = ESC_START
                i += 1
            elif 0x21 <= byte <= 0x7E:
                pointer = (lead - 0x21) * 94 + (byte - 0x21)
                cp = jis.get(pointer, 0xFFFD)
                append(chr(cp))
                state = LEAD
                output_flag = cp != 0xFFFD
                i += 1
            else:
                append("�")
                state = LEAD
                output_flag = False
                i += 1
        elif state == ESC_START:
            if is_eof:
                output_flag = False
                append("�")
                break
            if byte in (0x24, 0x28):
                lead = byte
                state = ESC
                i += 1
            else:
                output_flag = False
                state = output_state
                append("�")
                # re-process this byte in output_state
        else:  # ESC
            if is_eof:
                output_flag = False
                append("�")
                break
            target = None
            if lead == 0x28 and byte == 0x42:
                target = ASCII
            elif lead == 0x28 and byte == 0x4A:
                target = ROMAN
            elif lead == 0x28 and byte == 0x49:
                target = KATAKANA
            elif lead == 0x24 and byte in (0x40, 0x42):
                target = LEAD
            if target is not None:
                state = target
                output_state = state
                if output_flag:
                    append("�")
                    output_flag = False
                i += 1
            else:
                output_flag = False
                state = output_state
                append("�")
                i -= 1  # re-process from the lead byte
    return "".join(out)


_JIS0208 = None


def _jis0208_table():
    """pointer -> codepoint map for JIS X 0208, generated from Python's own
    iso2022_jp codec (public data; mirrors src/jis0208_table.h usage)."""
    global _JIS0208
    if _JIS0208 is None:
        table = {}
        dec = codecs.getdecoder("iso2022_jp")
        for lead_b in range(0x21, 0x7F):
            for trail in range(0x21, 0x7F):
                seq = b"\x1b$B" + bytes((lead_b, trail)) + b"\x1b(B"
                try:
                    ch = dec(seq)[0]
                except UnicodeDecodeError:
                    continue
                if len(ch) == 1:
                    table[(lead_b - 0x21) * 94 + (trail - 0x21)] = ord(ch)
        _JIS0208 = table
    return _JIS0208


# glibc-iconv parity shims. The diff tables were generated by feeding
# every structurally-plausible byte sequence through the reference
# binary per charset and recording where Python's codec disagrees
# (_iconv_diffs.py, generated from the reference build; 600+ sequences:
# shift_jis yen/overline, Big5 ETen area, EUC C1 passthrough, ...).
from ._iconv_diffs import ICONV_DIFFS  # noqa: E402

# single-byte codecs: applied as char translations (each differing char
# has a unique source byte, verified by the probe)
_POST_TRANSLATE = {
    "mac_roman": {0x2206: 0x0394, 0xF8FF: 0xE01E},
    "mac_cyrillic": {0x20AC: 0xA4},
    "cp874": {c: 0xFFFD for c in (0x20AC, 0x2026, 0x2018, 0x2019, 0x201C,
                                  0x201D, 0x2022, 0x2013, 0x2014, 0xA0)},
}

# multi-byte codecs: boundary-aware sequence overrides. gb18030 is its
# own entry: glibc maps the GB18030-2005 rows (A6D9.. -> U+FE10..)
# where Python's codec keeps the 2000 PUA codepoints — NOT the same
# table as gbk.
_SEQ_DIFF_CODECS = ("shift_jis", "big5", "gbk", "gb18030", "euc_kr",
                    "euc_jp")
_SEQ_DIFFS_BY_FIRST: dict = {}
for _codec in _SEQ_DIFF_CODECS:
    _by_first: dict = {}
    for _seq, _rep in ICONV_DIFFS.get(_codec, {}).items():
        _by_first.setdefault(_seq[0], []).append((_seq, _rep))
    for _lst in _by_first.values():
        _lst.sort(key=lambda x: -len(x[0]))  # longest match first
    _SEQ_DIFFS_BY_FIRST[_codec] = (_by_first, frozenset(_by_first))


def _decode_with_seq_diffs(raw: bytes, pycodec: str, by_first) -> str:
    """Char-boundary decode applying glibc override sequences. Only runs
    when the input actually contains a potential first byte."""
    out = []
    i = 0
    n = len(raw)
    while i < n:
        cands = by_first.get(raw[i])
        if cands is not None:
            matched = False
            for seq, rep in cands:
                if raw.startswith(seq, i):
                    out.append(rep)
                    i += len(seq)
                    matched = True
                    break
            if matched:
                continue
        # decode exactly one character (these codecs are <=2 bytes/char;
        # gb-style 4-byte is not in the diff set)
        decoded = None
        for length in (1, 2, 3, 4):
            try:
                decoded = raw[i:i + length].decode(pycodec)
                i += length
                break
            except UnicodeDecodeError:
                continue
        if decoded is None:
            out.append("�")  # iconv EILSEQ: U+FFFD + skip one byte
            i += 1
        else:
            out.append(decoded)
    return "".join(out)


def _convert_with_codec(raw: bytes, pycodec: str) -> str:
    """iconv-policy decode (984-1037): on an illegal sequence emit U+FFFD,
    skip ONE byte, continue; plus the probed glibc diff tables."""
    trans = _POST_TRANSLATE.get(pycodec)
    seq_info = _SEQ_DIFFS_BY_FIRST.get(pycodec)
    if seq_info is not None:
        by_first, first_bytes = seq_info
        if not first_bytes.isdisjoint(raw):
            return _decode_with_seq_diffs(raw, pycodec, by_first)
    try:
        text = raw.decode(pycodec)
        return text.translate(trans) if trans else text
    except UnicodeDecodeError:
        pass
    out = []
    i = 0
    n = len(raw)
    while i < n:
        try:
            out.append(raw[i:].decode(pycodec))
            break
        except UnicodeDecodeError as e:
            good = i + e.start
            if e.start > 0:
                out.append(raw[i:good].decode(pycodec))
            out.append("�")
            i = good + 1
    text = "".join(out)
    return text.translate(trans) if trans else text


class EncodingResult:
    __slots__ = ("text", "encoding", "confidence")

    def __init__(self, text, encoding, confidence):
        self.text = text
        self.encoding = encoding
        self.confidence = confidence


def sniff_and_convert(raw: bytes, hint: str | None = None) -> EncodingResult:
    """encoding_sniff_and_convert (1085-1172)."""
    if not raw:
        return EncodingResult("", "UTF-8", CONF_IRRELEVANT)

    data = raw
    encoding = None
    confidence = CONF_TENTATIVE

    bom_enc, skip = detect_bom(raw)
    if bom_enc is not None:
        encoding = bom_enc
        confidence = CONF_CERTAIN
        data = raw[skip:]

    if encoding is None and hint is not None:
        resolved = resolve_label(hint)
        if resolved is not None:
            encoding = resolved
            confidence = CONF_CERTAIN

    if encoding is None:
        meta_enc = meta_prescan(raw)
        if meta_enc is not None:
            encoding = meta_enc
            confidence = CONF_TENTATIVE

    if encoding is None:
        encoding = "UTF-8"
        confidence = CONF_TENTATIVE

    if encoding == "UTF-8":
        # UTF-8 fast path: bytes are copied through unchanged in C; here we
        # decode with surrogateescape-free lossy latin-1 only if invalid.
        # The reference memcpy's raw bytes without validation;
        # surrogateescape is the lossless Python equivalent (re-encoding
        # with surrogateescape restores the original bytes).
        text = data.decode("utf-8", errors="surrogateescape")
        return EncodingResult(text, "UTF-8", confidence)

    if encoding == "replacement":
        return EncodingResult("�", encoding, confidence)
    if encoding == "x-user-defined":
        return EncodingResult(convert_x_user_defined(data), encoding, confidence)
    if encoding == "UTF-16BE":
        return EncodingResult(convert_utf16_to_utf8(data, True), encoding,
                              confidence)
    if encoding == "UTF-16LE":
        return EncodingResult(convert_utf16_to_utf8(data, False), encoding,
                              confidence)
    if encoding == "ISO-2022-JP":
        return EncodingResult(convert_iso2022jp(data), encoding, confidence)

    pycodec = _python_codec_for_canonical(encoding)
    if pycodec is None:
        # conversion failed -> fallback: treat as UTF-8 TENTATIVE (1155-1164)
        text = data.decode("utf-8", errors="surrogateescape")
        return EncodingResult(text, "UTF-8", CONF_TENTATIVE)
    return EncodingResult(_convert_with_codec(data, pycodec), encoding,
                          confidence)
