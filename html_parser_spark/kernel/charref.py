"""Character-reference decoding.

Parity targets (citations into /root/reference):
  - named entity table: entities.tsv loading + dedup-marks-legacy,
    src/tokenizer.c:269-346. The table is the WHATWG html5 set, which
    Python ships in html.entities.html5; the reference's TSV loader
    drops the one entity whose value is a bare newline ("NewLine"),
    so we exclude it too (value read stops at '\\n' -> empty -> skipped,
    src/tokenizer.c:290-298).
  - longest-match + legacy no-semicolon + attribute-context rules:
    match_named_entity, src/tokenizer.c:348-384.
  - numeric refs incl. WHATWG §13.2.5.80 corrections:
    numeric_ref_adjust, src/tokenizer.c:174-240; decode loop 404-449.

The reference's linear O(n*2231) scan (its own documented hot spot,
ARCHITECTURE.md:284) is replaced by a length-bucketed dict lookup with
identical results.
"""

from __future__ import annotations

import html.entities as _he

_WIN1252_REMAP = {
    0x80: 0x20AC, 0x82: 0x201A, 0x83: 0x0192, 0x84: 0x201E, 0x85: 0x2026,
    0x86: 0x2020, 0x87: 0x2021, 0x88: 0x02C6, 0x89: 0x2030, 0x8A: 0x0160,
    0x8B: 0x2039, 0x8C: 0x0152, 0x8E: 0x017D, 0x91: 0x2018, 0x92: 0x2019,
    0x93: 0x201C, 0x94: 0x201D, 0x95: 0x2022, 0x96: 0x2013, 0x97: 0x2014,
    0x98: 0x02DC, 0x99: 0x2122, 0x9A: 0x0161, 0x9B: 0x203A, 0x9C: 0x0153,
    0x9E: 0x017E, 0x9F: 0x0178,
}


def _build_tables():
    values = {}
    legacy = set()
    for key, val in _he.html5.items():
        name = key[:-1] if key.endswith(";") else key
        if name == "NewLine":
            continue
        if not key.endswith(";"):
            legacy.add(name)
        values.setdefault(name, val)
    # candidate lengths bucketed by the entity's first character: for a
    # given '&X...' only lengths of names starting with X need probing
    by_first: dict = {}
    for n in values:
        by_first.setdefault(n[0], set()).add(len(n))
    lengths_by_first = {
        c: tuple(sorted(ls, reverse=True)) for c, ls in by_first.items()
    }
    return values, legacy, lengths_by_first


ENTITY_VALUES, ENTITY_LEGACY, _LENGTHS_BY_FIRST = _build_tables()
_EMPTY: tuple = ()

_ALNUM = frozenset(
    "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
)
_DIGITS = frozenset("0123456789")
_HEX = frozenset("0123456789abcdefABCDEF")


def numeric_ref_adjust(cp: int, errors) -> int:
    """WHATWG §13.2.5.80 corrections (numeric_ref_adjust,
    src/tokenizer.c:174-240)."""
    if cp == 0x00:
        errors.append("null-character-reference")
        return 0xFFFD
    if cp > 0x10FFFF:
        errors.append("character-reference-outside-unicode-range")
        return 0xFFFD
    if 0xD800 <= cp <= 0xDFFF:
        errors.append("surrogate-character-reference")
        return 0xFFFD
    if (0xFDD0 <= cp <= 0xFDEF) or (cp & 0xFFFE) == 0xFFFE:
        errors.append("noncharacter-character-reference")
        return cp
    if (
        cp == 0x0D
        or 0x01 <= cp <= 0x08
        or cp == 0x0B
        or 0x0E <= cp <= 0x1F
        or 0x7F <= cp <= 0x9F
    ):
        errors.append("control-character-reference")
    return _WIN1252_REMAP.get(cp, cp)


def match_named_entity(s: str, start: int, in_attribute: bool):
    """Longest match over the entity table starting at s[start:].
    Returns (value, consumed) or (None, 0). Mirrors match_named_entity,
    src/tokenizer.c:348-384 (best = max consumed chars; with-semicolon
    consumes name+1, legacy-without consumes name)."""
    best_value = None
    best_consumed = 0
    limit = len(s) - start
    if limit <= 0:
        return None, 0
    values = ENTITY_VALUES
    for nlen in _LENGTHS_BY_FIRST.get(s[start], _EMPTY):
        if nlen > limit:
            continue
        if nlen + 1 <= best_consumed:
            break
        name = s[start : start + nlen]
        val = values.get(name)
        if val is None:
            continue
        after = s[start + nlen] if start + nlen < len(s) else "\0"
        if after == ";":
            if nlen + 1 > best_consumed:
                best_consumed = nlen + 1
                best_value = val
            continue
        if name not in ENTITY_LEGACY:
            continue
        if in_attribute:
            if after == "=" or after in _ALNUM:
                continue
        else:
            if after in _ALNUM:
                continue
        if nlen > best_consumed:
            best_consumed = nlen
            best_value = val
    return best_value, best_consumed


def decode_character_references(s: str, in_attribute: bool, errors) -> str:
    """decode_character_references, src/tokenizer.c:386-479.
    Numeric: decodes with or without trailing ';'; '&#' with no digits
    falls through to a literal '&'. Named: longest-match rules above;
    no match -> literal '&'."""
    if "&" not in s:
        return s
    out = []
    i = 0
    n = len(s)
    append = out.append
    while i < n:
        amp = s.find("&", i)
        if amp < 0:
            append(s[i:])
            break
        if amp > i:
            append(s[i:amp])
            i = amp
        j = i + 1
        if j < n and s[j] == "#":
            j += 1
            is_hex = False
            if j < n and s[j] in ("x", "X"):
                is_hex = True
                j += 1
            start = j
            cp = 0
            if is_hex:
                while j < n and s[j] in _HEX:
                    cp = cp * 16 + int(s[j], 16)
                    j += 1
            else:
                while j < n and s[j] in _DIGITS:
                    cp = cp * 10 + (ord(s[j]) - 48)
                    j += 1
            if j > start:
                cp = numeric_ref_adjust(cp, errors)
                append(chr(cp))
                if j < n and s[j] == ";":
                    i = j + 1
                else:
                    i = j
                continue
        else:
            value, consumed = match_named_entity(s, j, in_attribute)
            if value is not None:
                append(value)
                i = j + consumed
                continue
        append("&")
        i += 1
    return "".join(out)
