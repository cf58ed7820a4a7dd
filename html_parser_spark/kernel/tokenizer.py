"""WHATWG HTML5 tokenizer — behavioral clone of the reference tokenizer.

Parity targets (citations into /root/reference/src/tokenizer.c):
  - coalesced CHARACTER runs in DATA state        (1605-1618)
  - tag-open dispatch incl. the reference's "</ + non-alpha emits a
    literal '<'" deviation from the spec's bogus-comment rule (1538-1550)
  - start tag + attribute states, lowercasing, duplicate-attr drop,
    in-attribute charref decoding                   (1145-1388, 795-808)
  - end tag w/ attributes-skipped parse error        (1122-1143)
  - comment machine incl. <!-->, <!--->, --!>, nested (810-1018)
  - bogus comment <!x ... >                          (1581-1593)
  - DOCTYPE machine, names/ids lowercased, quirks    (1020-1120)
  - RCDATA/RAWTEXT sub-machine                       (498-584)
  - script data (escaped/double-escaped) sub-machine (586-786)
  - PLAINTEXT (rest-of-input single token)           (1517-1525)
  - CDATA only when allow_cdata (foreign content)    (1559-1580)
  - CR/LF + NUL preprocessing                        (1390-1461)

Tokens are plain Python objects. Parse errors are appended to
``self.errors`` (the reference prints them to stderr when
HTMLPARSER_PARSE_ERRORS=1; counts must match, text is informational).
"""

from __future__ import annotations

import re

from .charref import decode_character_references

# token types
TOKEN_DOCTYPE = 0
TOKEN_START_TAG = 1
TOKEN_END_TAG = 2
TOKEN_COMMENT = 3
TOKEN_CHARACTER = 4
TOKEN_EOF = 5

# tokenizer states
DATA = 0
RCDATA = 1
RAWTEXT = 2
SCRIPT_DATA = 3
SCRIPT_DATA_ESCAPED = 4
SCRIPT_DATA_DOUBLE_ESCAPED = 5
PLAINTEXT = 6

_WS = frozenset(" \n\t\f\r")
_ALPHA = frozenset("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz")

_RCDATA_TAGS = frozenset(("title", "textarea"))
_RAWTEXT_TAGS = frozenset(("style", "xmp", "iframe", "noembed", "noframes"))


def ascii_lower(s: str) -> str:
    """ASCII-only lowercasing (to_lower_ascii, src/tokenizer.c:22-25).
    str.lower() would also fold non-ASCII (Ĳ->ĳ, Kelvin K->k), which the
    reference never does."""
    if s.isascii():
        return s.lower()
    return "".join(
        chr(ord(c) + 32) if "A" <= c <= "Z" else c for c in s
    )

# bulk run-scanners for the start-tag machine: stop sets mirror the
# per-char transitions exactly (ws / '/' / '>' / '=' / EOF)
_TAG_NAME_RUN = re.compile(r"[^ \n\t\f\r/>\x00]+")
_ATTR_NAME_RUN = re.compile(r"[^ \n\t\f\r=/>\x00]+")
_UQ_VALUE_RUN = re.compile(r"[^ \n\t\f\r>\x00]+")
_ATTR_NAME_BAD = re.compile(r"[^0-9A-Za-z\-_:]")
(ST_TAG_NAME, ST_BEFORE_ATTR_NAME, ST_ATTR_NAME, ST_AFTER_ATTR_NAME,
 ST_BEFORE_ATTR_VALUE, ST_ATTR_VALUE_DQ, ST_ATTR_VALUE_SQ,
 ST_ATTR_VALUE_UQ, ST_SELF_CLOSING) = range(9)
# end-tag name run: stops at ws / ">" / "/" (same set as the
# per-char loop it replaces)
_END_NAME_RUN = re.compile(r"[^ \n\t\f\r>/]*")

# whole-attribute-section fast path for _parse_start_tag: matches the
# overwhelmingly common well-formed shape — ws-separated attrs with
# [a-zA-Z0-9-_:] names (exactly the _ATTR_NAME_BAD-free set, so the
# machine emits no errors) and quoted/unquoted values containing no
# '&' (no charref decode), no NUL, no quotes inside unquoted runs.
# At most ONE trailing valueless attr: the machine's AFTER_ATTR_NAME
# state deliberately does NOT reset the name buffer (C quirk,
# src/tokenizer.c:1261-1266), so `<a x y>` tokenizes as attrs
# ("x","xy") — any valueless-attr-followed-by-more shape must take
# the state machine. Unquoted values keep '/' (`<a href=foo/>` is
# value "foo/", not self-closing), matching the machine's UQ run.
_SIMPLE_ATTR_UNIT = re.compile(
    r"[ \n\t\f\r]+([a-zA-Z0-9\-_:]+)"
    r"=(\"[^\"&\x00]*\"|'[^'&\x00]*'|[^ \n\t\f\r>\x00&\"']+)")
_SIMPLE_ATTR_SECTION = re.compile(
    r"(?:[ \n\t\f\r]+[a-zA-Z0-9\-_:]+"
    r"=(?:\"[^\"&\x00]*\"|'[^'&\x00]*'|[^ \n\t\f\r>\x00&\"']+))*"
    r"(?:[ \n\t\f\r]+([a-zA-Z0-9\-_:]+))?"
    r"[ \n\t\f\r]*(/?)>")

# memoized ascii_lower for tag names (they repeat constantly); bounded
# so adversarial unique-name streams can't grow it without limit
_LOWER_CACHE: dict = {}
_LOWER_CACHE_MAX = 8192


def _lower_name(raw: str) -> str:
    nm = _LOWER_CACHE.get(raw)
    if nm is None:
        nm = ascii_lower(raw)
        # bound entry LENGTH too: real tag names are short, and an
        # unbounded-length entry would pin attacker-sized strings in
        # this process-lifetime dict long after their document is gone
        if len(raw) <= 64 and len(_LOWER_CACHE) < _LOWER_CACHE_MAX:
            _LOWER_CACHE[raw] = nm
    return nm


class Token:
    __slots__ = (
        "type", "name", "public_id", "system_id", "data",
        "attrs", "self_closing", "force_quirks",
    )

    def __init__(self):
        self.type = TOKEN_EOF
        self.name = None
        self.public_id = None
        self.system_id = None
        self.data = None
        self.attrs = []
        self.self_closing = False
        self.force_quirks = False


def replace_nulls(raw: str, errors: list | None = None) -> str:
    """CR/LF normalization + U+0000 -> U+FFFD (tokenizer_replace_nulls,
    src/tokenizer.c:1390-1461). With `errors`, appends the reference's
    positioned message ("line=N col=M: unexpected null character",
    src/tokenizer.c:1434) per NUL; positions count BYTES with the C
    slow-path counter semantics (NUL col++ after report, CR/CRLF/LF ->
    line++ col=1). Order of replacements preserves reference output."""
    if not raw:
        return ""
    # C fast path (1412-1419): if no NULs AND output length == input
    # length (i.e. no CRLF pair anywhere), the input is copied UNCHANGED —
    # lone \r characters survive unnormalized. Bug-compatible.
    if "\x00" not in raw and "\r\n" not in raw:
        return raw
    if errors is not None and "\x00" in raw:
        # rare path: walk raw bytes exactly like the C slow loop
        b = raw.encode("utf-8", "surrogateescape")
        line = col = 1
        i, n = 0, len(b)
        while i < n:
            c = b[i]
            if c == 0:
                errors.append(
                    f"line={line} col={col}: unexpected null character"
                )
                col += 1
            elif c == 0x0D:
                if i + 1 < n and b[i + 1] == 0x0A:
                    i += 1
                line += 1
                col = 1
            elif c == 0x0A:
                line += 1
                col = 1
            else:
                col += 1
            i += 1
    raw = raw.replace("\r\n", "\n").replace("\r", "\n")
    if "\x00" in raw:
        raw = raw.replace("\x00", "�")
    return raw


def refuse_bytes(s: str) -> str:
    """Canonicalize a string built by CONCATENATING byte buffers from
    non-contiguous input regions (the AFTER_ATTR_NAME name-buffer
    deviation, pending table text): two adjacent escape surrogates
    whose underlying bytes form valid UTF-8 must fuse into that
    character, because the byte-oriented C reference 'sees' the fused
    sequence when it prints. Round-trip through the bytes domain;
    no-op unless an escape surrogate is present (contiguous substrings
    of the canonically-decoded input can never contain fusable
    pairs)."""
    for ch in s:
        if "\udc80" <= ch <= "\udcff":
            return s.encode("utf-8", "surrogateescape").decode(
                "utf-8", "surrogateescape")
    return s


def _bump_line_col(line: int, col: int, seg: str) -> tuple[int, int]:
    """Advance a (line, col) pair over `seg` with the C advance()
    semantics (src/tokenizer.c:33-45): +1 col per BYTE, '\\n' resets
    col to 1. Bulk string ops instead of a per-char loop."""
    if not seg:
        return line, col
    nl = seg.rfind("\n")
    if nl < 0:
        blen = len(seg) if seg.isascii() else len(
            seg.encode("utf-8", "surrogateescape"))
        return line, col + blen
    tail = seg[nl + 1:]
    blen = len(tail) if tail.isascii() else len(
        tail.encode("utf-8", "surrogateescape"))
    return line + seg.count("\n"), 1 + blen


class Tokenizer:
    __slots__ = ("input", "pos", "len", "state", "raw_tag", "allow_cdata",
                 "errors", "skipped", "_lc", "_scratch")

    def __init__(self, input_text: str, context_tag: str | None = None,
                 errors: list | None = None, reuse_token: bool = False):
        self.input = input_text or ""
        self.pos = 0
        self.len = len(self.input)
        self.state = DATA
        self.raw_tag = ""
        self.allow_cdata = False
        # shared with the tree builder so the combined error-text list
        # stays in the reference's chronological stderr order
        self.errors: list = errors if errors is not None else []
        # Byte ranges consumed WITHOUT the C's advance() (raw tz->pos++
        # in the rcdata/rawtext/script scanners and the unclosed-CDATA
        # jump) — the reference's line/col counters NEVER see these
        # bytes, so reported positions are deliberately "stale" there.
        # Appended once per scanner invocation; consulted only on the
        # rare error path.
        self.skipped: list = []
        # incremental line/col cursor: (pos, line, col, skip_idx) — the
        # error path resumes from here instead of re-walking from 0, so
        # error-dense documents stay O(len) total, not O(errors * len)
        self._lc = (0, 1, 1, 0)
        # opt-in token reuse for the tree-builder drive loop: each
        # next() recycles one scratch Token instead of allocating.
        # Safe only when the caller never retains the token past the
        # next next() call (the builder copies name/data/attrs into
        # Nodes); tokenize_all and tests keep the allocating default.
        self._scratch = Token() if reuse_token else None
        if context_tag:
            # tokenizer_init_with_context, src/tokenizer.c:1482-1503
            lowered = ascii_lower(context_tag[:31])
            if lowered in _RCDATA_TAGS:
                self.raw_tag = lowered
                self.state = RCDATA
            elif lowered == "script":
                self.raw_tag = lowered
                self.state = SCRIPT_DATA
            elif lowered in _RAWTEXT_TAGS:
                self.raw_tag = lowered
                self.state = RAWTEXT

    # -- helpers --

    def _error(self, msg: str, pos: int | None = None) -> None:
        """Positioned parse error matching report_error
        (src/tokenizer.c:113-121): "line=N col=M: msg" where line/col
        count BYTES the C has advance()'d through (src/tokenizer.c:
        33-45), col resetting on \\n. Bytes in self.skipped ranges were
        consumed with raw tz->pos++ and never reach the counters — the
        reference's positions are deliberately stale across raw-text
        scans, and we reproduce that. Computed lazily: O(pos) on the
        rare error path, nothing in the hot loop."""
        if pos is None:
            pos = self.pos
        line, col = self._line_col(pos)
        self.errors.append(f"line={line} col={col}: {msg}")

    def _line_col(self, pos: int) -> tuple[int, int]:
        s = self.input
        skipped = self.skipped
        cur, line, col, si = self._lc
        if pos < cur:
            # rare non-monotonic query: recompute without caching
            cur, line, col, si = 0, 1, 1, 0
            cacheable = False
        else:
            cacheable = True
        while si < len(skipped):
            a, b = skipped[si]
            if a >= pos:
                break
            line, col = _bump_line_col(line, col, s[cur:min(max(a, cur), pos)])
            cur = max(cur, min(b, pos))
            if b > pos:
                break
            si += 1
        line, col = _bump_line_col(line, col, s[cur:pos])
        if cacheable:
            self._lc = (pos, line, col, si)
        return line, col

    def _peek(self, ahead: int = 0) -> str:
        idx = self.pos + ahead
        if idx >= self.len:
            return "\0"
        return self.input[idx]

    def _skip_ws(self) -> None:
        s, n = self.input, self.len
        p = self.pos
        while p < n and s[p] in _WS:
            p += 1
        self.pos = p

    def _starts_with_ci(self, prefix: str) -> bool:
        return (
            ascii_lower(self.input[self.pos : self.pos + len(prefix)])
            == prefix.lower()
        )

    # -- RCDATA / RAWTEXT (process_rcdata_rawtext, src/tokenizer.c:512-584) --

    def _process_rcdata_rawtext(self, out: Token) -> bool:
        RR_DATA, RR_LT, RR_END_OPEN, RR_END_NAME = 0, 1, 2, 3
        is_rcdata = self.state == RCDATA
        s, n = self.input, self.len
        start = self.pos
        lt_pos = 0
        tmp = []
        ss = RR_DATA
        raw_tag = self.raw_tag.lower()
        while self.pos < n:
            c = s[self.pos]
            if ss == RR_DATA:
                if c == "<":
                    lt_pos = self.pos
                    ss = RR_LT
                    self.pos += 1
                else:
                    # fast-skip to next '<'
                    nxt = s.find("<", self.pos)
                    self.pos = n if nxt < 0 else nxt
            elif ss == RR_LT:
                if c == "/":
                    tmp = []
                    ss = RR_END_OPEN
                    self.pos += 1
                else:
                    ss = RR_DATA
            elif ss == RR_END_OPEN:
                if c in _ALPHA:
                    ss = RR_END_NAME
                    tmp = []
                else:
                    ss = RR_DATA
            else:  # RR_END_NAME
                if c in _WS or c == "/" or c == ">":
                    if tmp and "".join(tmp) == raw_tag:
                        if lt_pos > start:
                            # raw tz->pos++ scan — no advance() (C:529)
                            self.skipped.append((start, lt_pos))
                        self.pos = lt_pos
                        self.state = DATA
                        if self.pos > start:
                            out.type = TOKEN_CHARACTER
                            data = s[start : self.pos]
                            if is_rcdata:
                                data = decode_character_references(
                                    data, False, self.errors
                                )
                            out.data = data
                            return True
                        return False
                    ss = RR_DATA
                elif c in _ALPHA:
                    if len(tmp) < 15:
                        tmp.append(c.lower())
                        self.pos += 1
                    else:
                        ss = RR_DATA
                else:
                    ss = RR_DATA
        # EOF
        if self.pos > start:
            self.skipped.append((start, self.pos))
            out.type = TOKEN_CHARACTER
            data = s[start : self.pos]
            if is_rcdata:
                data = decode_character_references(data, False, self.errors)
            out.data = data
            self.state = DATA
            return True
        self.state = DATA
        return False

    # -- script data (process_script_data, src/tokenizer.c:595-786) --

    def _process_script_data(self, out: Token) -> bool:
        (S_DATA, S_DATA_LT, S_DATA_END_OPEN, S_DATA_END_NAME, S_ESCAPE_START,
         S_ESCAPE_START_DASH, S_ESCAPED, S_ESCAPED_DASH, S_ESCAPED_DASH_DASH,
         S_ESCAPED_LT, S_ESCAPED_END_OPEN, S_ESCAPED_END_NAME,
         S_DBL_ESCAPE_START, S_DBL_ESCAPED, S_DBL_ESCAPED_DASH,
         S_DBL_ESCAPED_DASH_DASH, S_DBL_ESCAPED_LT, S_DBL_ESCAPE_END
         ) = range(18)

        if self.state == SCRIPT_DATA_ESCAPED:
            ss = S_ESCAPED
        elif self.state == SCRIPT_DATA_DOUBLE_ESCAPED:
            ss = S_DBL_ESCAPED
        else:
            ss = S_DATA

        s, n = self.input, self.len
        start = self.pos
        tmp = []
        lt_pos = 0
        raw_tag = self.raw_tag.lower()

        while self.pos < n:
            c = s[self.pos]
            if ss == S_DATA:
                if c == "<":
                    lt_pos = self.pos
                    ss = S_DATA_LT
                    self.pos += 1
                else:
                    nxt = s.find("<", self.pos)
                    self.pos = n if nxt < 0 else nxt
            elif ss == S_DATA_LT:
                if c == "/":
                    ss = S_DATA_END_OPEN
                    tmp = []
                    self.pos += 1
                elif c == "!":
                    ss = S_ESCAPE_START
                    self.pos += 1
                else:
                    ss = S_DATA
            elif ss == S_DATA_END_OPEN:
                if c in _ALPHA:
                    ss = S_DATA_END_NAME
                    tmp = []
                else:
                    ss = S_DATA
            elif ss == S_DATA_END_NAME:
                if c in _WS or c == "/" or c == ">":
                    if tmp and "".join(tmp) == raw_tag:
                        if lt_pos > start:
                            # raw tz->pos++ scan — no advance() (C:624)
                            self.skipped.append((start, lt_pos))
                        self.pos = lt_pos
                        self.state = DATA
                        if self.pos > start:
                            out.type = TOKEN_CHARACTER
                            out.data = s[start : self.pos]
                            return True
                        return False
                    ss = S_DATA
                elif c in _ALPHA:
                    if len(tmp) < 15:
                        tmp.append(c.lower())
                        self.pos += 1
                    else:
                        ss = S_DATA
                else:
                    ss = S_DATA
            elif ss == S_ESCAPE_START:
                if c == "-":
                    ss = S_ESCAPE_START_DASH
                    self.pos += 1
                else:
                    ss = S_DATA
            elif ss == S_ESCAPE_START_DASH:
                if c == "-":
                    ss = S_ESCAPED_DASH_DASH
                    self.pos += 1
                else:
                    ss = S_DATA
            elif ss == S_ESCAPED:
                if c == "-":
                    ss = S_ESCAPED_DASH
                    self.pos += 1
                elif c == "<":
                    lt_pos = self.pos
                    ss = S_ESCAPED_LT
                    self.pos += 1
                else:
                    self.pos += 1
            elif ss == S_ESCAPED_DASH:
                if c == "-":
                    ss = S_ESCAPED_DASH_DASH
                    self.pos += 1
                elif c == "<":
                    lt_pos = self.pos
                    ss = S_ESCAPED_LT
                    self.pos += 1
                else:
                    ss = S_ESCAPED
                    self.pos += 1
            elif ss == S_ESCAPED_DASH_DASH:
                if c == "-":
                    self.pos += 1
                elif c == "<":
                    lt_pos = self.pos
                    ss = S_ESCAPED_LT
                    self.pos += 1
                elif c == ">":
                    ss = S_DATA
                    self.pos += 1
                else:
                    ss = S_ESCAPED
                    self.pos += 1
            elif ss == S_ESCAPED_LT:
                if c == "/":
                    ss = S_ESCAPED_END_OPEN
                    tmp = []
                    self.pos += 1
                elif c in _ALPHA:
                    ss = S_DBL_ESCAPE_START
                    tmp = []
                else:
                    ss = S_ESCAPED
            elif ss == S_ESCAPED_END_OPEN:
                if c in _ALPHA:
                    ss = S_ESCAPED_END_NAME
                    tmp = []
                else:
                    ss = S_ESCAPED
            elif ss == S_ESCAPED_END_NAME:
                if c in _WS or c == "/" or c == ">":
                    if tmp and "".join(tmp) == raw_tag:
                        if lt_pos > start:
                            # raw tz->pos++ scan — no advance() (C:692)
                            self.skipped.append((start, lt_pos))
                        self.pos = lt_pos
                        self.state = DATA
                        if self.pos > start:
                            out.type = TOKEN_CHARACTER
                            out.data = s[start : self.pos]
                            return True
                        return False
                    ss = S_ESCAPED
                elif c in _ALPHA:
                    if len(tmp) < 15:
                        tmp.append(c.lower())
                        self.pos += 1
                    else:
                        ss = S_ESCAPED
                else:
                    ss = S_ESCAPED
            elif ss == S_DBL_ESCAPE_START:
                if c in _WS or c == "/" or c == ">":
                    ss = (
                        S_DBL_ESCAPED
                        if len(tmp) == 6 and "".join(tmp) == "script"
                        else S_ESCAPED
                    )
                    self.pos += 1
                elif c in _ALPHA:
                    if len(tmp) < 15:
                        tmp.append(c.lower())
                        self.pos += 1
                    else:
                        ss = S_ESCAPED
                else:
                    ss = S_ESCAPED
            elif ss == S_DBL_ESCAPED:
                if c == "-":
                    ss = S_DBL_ESCAPED_DASH
                    self.pos += 1
                elif c == "<":
                    ss = S_DBL_ESCAPED_LT
                    self.pos += 1
                else:
                    self.pos += 1
            elif ss == S_DBL_ESCAPED_DASH:
                if c == "-":
                    ss = S_DBL_ESCAPED_DASH_DASH
                    self.pos += 1
                elif c == "<":
                    ss = S_DBL_ESCAPED_LT
                    self.pos += 1
                else:
                    ss = S_DBL_ESCAPED
                    self.pos += 1
            elif ss == S_DBL_ESCAPED_DASH_DASH:
                if c == "-":
                    self.pos += 1
                elif c == "<":
                    ss = S_DBL_ESCAPED_LT
                    self.pos += 1
                elif c == ">":
                    ss = S_DATA
                    self.pos += 1
                else:
                    ss = S_DBL_ESCAPED
                    self.pos += 1
            elif ss == S_DBL_ESCAPED_LT:
                if c == "/":
                    ss = S_DBL_ESCAPE_END
                    tmp = []
                    self.pos += 1
                else:
                    ss = S_DBL_ESCAPED
            else:  # S_DBL_ESCAPE_END
                if c in _WS or c == "/" or c == ">":
                    ss = (
                        S_ESCAPED
                        if len(tmp) == 6 and "".join(tmp) == "script"
                        else S_DBL_ESCAPED
                    )
                    self.pos += 1
                elif c in _ALPHA:
                    if len(tmp) < 15:
                        tmp.append(c.lower())
                        self.pos += 1
                    else:
                        ss = S_DBL_ESCAPED
                else:
                    ss = S_DBL_ESCAPED

        # EOF
        self.state = DATA
        if self.pos > start:
            self.skipped.append((start, self.pos))
            out.type = TOKEN_CHARACTER
            out.data = s[start : self.pos]
            return True
        return False

    # -- comment machine (parse_comment, src/tokenizer.c:810-1018) --

    def _parse_comment(self, out: Token) -> None:
        (CS_START, CS_START_DASH, CS_COMMENT, CS_LT, CS_LT_BANG, CS_LT_BANG_DASH,
         CS_LT_BANG_DASH_DASH, CS_END_DASH, CS_END, CS_END_BANG) = range(10)
        data = []
        state = CS_START
        self.pos += 4  # "<!--"
        out.type = TOKEN_COMMENT
        s = self.input

        while self.pos <= self.len:
            c = self._peek()
            if state == CS_START:
                if c == "-":
                    state = CS_START_DASH
                    self.pos += 1
                elif c == ">":
                    self._error("abrupt-closing-of-empty-comment")
                    self.pos += 1
                    break
                elif c == "\0":
                    self._error("eof-in-comment")
                    break
                else:
                    state = CS_COMMENT
            elif state == CS_START_DASH:
                if c == "-":
                    state = CS_END
                    self.pos += 1
                elif c == ">":
                    self._error("abrupt-closing-of-empty-comment")
                    self.pos += 1
                    break
                elif c == "\0":
                    self._error("eof-in-comment")
                    data.append("-")
                    break
                else:
                    data.append("-")
                    state = CS_COMMENT
            elif state == CS_COMMENT:
                if c == "<":
                    data.append(c)
                    state = CS_LT
                    self.pos += 1
                elif c == "-":
                    state = CS_END_DASH
                    self.pos += 1
                elif c == "\0":
                    self._error("eof-in-comment")
                    break
                else:
                    # fast path: bulk-consume plain comment chars
                    p = self.pos
                    q = p
                    n = self.len
                    while q < n and s[q] not in ("<", "-"):
                        q += 1
                    if q > p:
                        data.append(s[p:q])
                        self.pos = q
                    else:
                        data.append(c)
                        self.pos += 1
            elif state == CS_LT:
                if c == "!":
                    data.append(c)
                    state = CS_LT_BANG
                    self.pos += 1
                elif c == "<":
                    data.append(c)
                    self.pos += 1
                else:
                    state = CS_COMMENT
            elif state == CS_LT_BANG:
                if c == "-":
                    state = CS_LT_BANG_DASH
                    self.pos += 1
                else:
                    state = CS_COMMENT
            elif state == CS_LT_BANG_DASH:
                if c == "-":
                    state = CS_LT_BANG_DASH_DASH
                    self.pos += 1
                else:
                    state = CS_END_DASH
            elif state == CS_LT_BANG_DASH_DASH:
                if c == ">" or c == "\0":
                    state = CS_END
                else:
                    self._error("nested-comment")
                    state = CS_END
            elif state == CS_END_DASH:
                if c == "-":
                    state = CS_END
                    self.pos += 1
                elif c == "\0":
                    self._error("eof-in-comment")
                    data.append("-")
                    break
                else:
                    data.append("-")
                    state = CS_COMMENT
            elif state == CS_END:
                if c == ">":
                    self.pos += 1
                    break
                elif c == "!":
                    state = CS_END_BANG
                    self.pos += 1
                elif c == "-":
                    data.append("-")
                    self.pos += 1
                elif c == "\0":
                    self._error("eof-in-comment")
                    data.append("--")
                    break
                else:
                    data.append("--")
                    state = CS_COMMENT
            else:  # CS_END_BANG
                if c == "-":
                    data.append("--!")
                    state = CS_END_DASH
                    self.pos += 1
                elif c == ">":
                    self._error("incorrectly-closed-comment")
                    self.pos += 1
                    break
                elif c == "\0":
                    self._error("eof-in-comment")
                    data.append("--!")
                    break
                else:
                    data.append("--!")
                    state = CS_COMMENT
        out.data = "".join(data)

    # -- DOCTYPE machine (parse_doctype, src/tokenizer.c:1020-1120) --

    def _parse_doctype(self, out: Token) -> None:
        self.pos += 9  # "<!DOCTYPE"
        self._skip_ws()
        s, n = self.input, self.len
        name_start = self.pos
        while self.pos < n and s[self.pos] not in _WS and s[self.pos] != ">":
            self.pos += 1
        out.type = TOKEN_DOCTYPE
        out.name = ascii_lower(s[name_start : self.pos])
        if self.pos == name_start:
            out.force_quirks = True
            self._error("doctype name missing")
        self._skip_ws()
        public_id = None
        system_id = None
        ok = True
        if self._starts_with_ci("public"):
            self.pos += 6
            self._skip_ws()
            quote = self._peek()
            if quote not in ('"', "'"):
                out.force_quirks = True
                self._error("doctype public id missing")
                ok = False
            else:
                self.pos += 1
                start = self.pos
                while self.pos < n and s[self.pos] != quote:
                    self.pos += 1
                public_id = s[start : self.pos]
                if self._peek() == quote:
                    self.pos += 1
                else:
                    out.force_quirks = True
                    self._error("doctype public id missing closing quote")
                    ok = False
            self._skip_ws()
            q2 = self._peek()
            if q2 in ('"', "'"):
                self.pos += 1
                start2 = self.pos
                while self.pos < n and s[self.pos] != q2:
                    self.pos += 1
                system_id = s[start2 : self.pos]
                if self._peek() == q2:
                    self.pos += 1
                else:
                    out.force_quirks = True
                    self._error("doctype system id missing closing quote")
                    ok = False
        elif self._starts_with_ci("system"):
            self.pos += 6
            self._skip_ws()
            quote = self._peek()
            if quote not in ('"', "'"):
                out.force_quirks = True
                self._error("doctype system id missing")
                ok = False
            else:
                self.pos += 1
                start = self.pos
                while self.pos < n and s[self.pos] != quote:
                    self.pos += 1
                system_id = s[start : self.pos]
                if self._peek() == quote:
                    self.pos += 1
                else:
                    out.force_quirks = True
                    self._error("doctype system id missing closing quote")
                    ok = False
        if not ok:
            out.force_quirks = True
        out.public_id = (ascii_lower(public_id)
                         if public_id is not None else None)
        out.system_id = (ascii_lower(system_id)
                         if system_id is not None else None)
        gt = s.find(">", self.pos)
        self.pos = n if gt < 0 else gt + 1

    # -- end tag (parse_end_tag, src/tokenizer.c:1122-1143) --

    def _parse_end_tag(self, out: Token) -> None:
        s, n = self.input, self.len
        p = self.pos + 2  # "</"
        m = _END_NAME_RUN.match(s, p)
        end = m.end()
        out.type = TOKEN_END_TAG
        out.name = _lower_name(s[p:end])
        if end < n:
            if s[end] == ">":  # the overwhelmingly common `</name>`
                self.pos = end + 1
                return
            self.pos = end  # error position matches the per-char walk
            self._error("end tag has trailing garbage/attributes")
            gt = s.find(">", end)
            self.pos = n if gt < 0 else gt + 1
        else:
            self.pos = n

    # -- start tag (parse_start_tag, src/tokenizer.c:1145-1388) --

    def _append_attr(self, out: Token, name: str, value: str) -> None:
        # duplicate attribute name -> drop (append_attr, src/tokenizer.c:795-808)
        for an, _ in out.attrs:
            if an == name:
                return
        out.attrs.append((name, value))

    def _enter_raw_for(self, name: str) -> None:
        # tokenizer-level raw-state entry (src/tokenizer.c:1373-1387)
        if name in _RCDATA_TAGS:
            self.raw_tag = name
            self.state = RCDATA
        elif name == "script":
            self.raw_tag = name
            self.state = SCRIPT_DATA
        elif name in _RAWTEXT_TAGS:
            self.raw_tag = name
            self.state = RAWTEXT
        elif name == "plaintext":
            self.state = PLAINTEXT

    def _parse_start_tag(self, out: Token) -> None:
        s, n = self.input, self.len
        tag_name = []
        attr_name: list = []
        attr_value: list = []
        out.type = TOKEN_START_TAG
        self.pos += 1  # '<'
        state = ST_TAG_NAME

        # fast path: `<name>` with no attributes (the overwhelmingly
        # common shape) — one regex run, no state machine. The caller
        # guarantees s[pos] is alpha, so the run match cannot fail.
        m = _TAG_NAME_RUN.match(s, self.pos)
        if m is not None:
            end = m.end()
            nm = _lower_name(m.group())
            if end < n and s[end] == ">":
                self.pos = end + 1
                out.name = nm
                self._enter_raw_for(nm)
                return
            # simple attribute section: consume the whole rest of the
            # tag with one regex, no per-state stepping (see the
            # _SIMPLE_ATTR_SECTION note for the exact machine-parity
            # conditions; anything else falls through to the machine)
            m2 = _SIMPLE_ATTR_SECTION.match(s, end)
            if m2 is not None:
                append_attr = self._append_attr
                for am in _SIMPLE_ATTR_UNIT.finditer(s, end, m2.end()):
                    v = am.group(2)
                    if v[0] == '"' or v[0] == "'":
                        v = v[1:-1]
                    append_attr(out, _lower_name(am.group(1)), v)
                tail = m2.group(1)
                if tail is not None:
                    append_attr(out, _lower_name(tail), "")
                if m2.group(2):
                    out.self_closing = True
                self.pos = m2.end()
                out.name = nm
                self._enter_raw_for(nm)
                return
            # seed the state machine with the already-matched name run
            tag_name.append(nm)
            self.pos = end

        while self.pos <= n:
            p_ = self.pos
            c = s[p_] if p_ < n else "\0"
            if state == ST_TAG_NAME:
                if c in _WS:
                    state = ST_BEFORE_ATTR_NAME
                    self.pos += 1
                elif c == "/":
                    state = ST_SELF_CLOSING
                    self.pos += 1
                elif c == ">":
                    self.pos += 1
                    break
                elif c == "\0":
                    break
                else:
                    m = _TAG_NAME_RUN.match(s, self.pos)
                    tag_name.append(ascii_lower(m.group()))
                    self.pos = m.end()
            elif state == ST_BEFORE_ATTR_NAME:
                if c in _WS:
                    self.pos += 1
                elif c == "/":
                    state = ST_SELF_CLOSING
                    self.pos += 1
                elif c == ">":
                    self.pos += 1
                    break
                elif c == "=":
                    self._error("attribute name missing before '='")
                    self.pos += 1
                elif c == "\0":
                    # C: falls into ST_ATTR_NAME which then sees '\0' ->
                    # appends empty-name attr and ends. Mirror that.
                    attr_name = []
                    attr_value = []
                    state = ST_ATTR_NAME
                else:
                    attr_name = []
                    attr_value = []
                    state = ST_ATTR_NAME
            elif state == ST_ATTR_NAME:
                if c in _WS:
                    state = ST_AFTER_ATTR_NAME
                    self.pos += 1
                elif c == "=":
                    state = ST_BEFORE_ATTR_VALUE
                    self.pos += 1
                elif c == "/" or c == ">" or c == "\0":
                    self._append_attr(out, refuse_bytes("".join(attr_name)), "")
                    if c == "/":
                        state = ST_SELF_CLOSING
                        self.pos += 1
                    elif c == ">":
                        self.pos += 1
                        break
                    else:
                        break
                else:
                    m = _ATTR_NAME_RUN.match(s, self.pos)
                    run = m.group()
                    if _ATTR_NAME_BAD.search(run):
                        # C validates PER BYTE (src/tokenizer.c:1236-1238):
                        # a multi-byte UTF-8 char yields one error per
                        # byte, each at its own byte column (advance()
                        # runs once per byte between reports)
                        errs = self.errors
                        for m2 in _ATTR_NAME_BAD.finditer(run):
                            ch = m2.group()
                            line, col = self._line_col(
                                self.pos + m2.start())
                            nby = len(ch.encode("utf-8", "surrogateescape"))
                            for k in range(nby):
                                errs.append(
                                    f"line={line} col={col + k}: "
                                    "unexpected character in attribute name")
                    attr_name.append(ascii_lower(run))
                    self.pos = m.end()
            elif state == ST_AFTER_ATTR_NAME:
                if c in _WS:
                    self.pos += 1
                elif c == "=":
                    state = ST_BEFORE_ATTR_VALUE
                    self.pos += 1
                elif c == ">":
                    self._append_attr(out, refuse_bytes("".join(attr_name)), "")
                    self.pos += 1
                    break
                elif c == "/":
                    self._append_attr(out, refuse_bytes("".join(attr_name)), "")
                    state = ST_SELF_CLOSING
                    self.pos += 1
                else:
                    # C quirk (src/tokenizer.c:1261-1266): the attr_name
                    # buffer is NOT reset here, so the next name appends
                    # onto the previous one ("face" + "class" ->
                    # "faceclass"). Only ST_BEFORE_ATTR_NAME resets it.
                    self._append_attr(out, refuse_bytes("".join(attr_name)), "")
                    state = ST_ATTR_NAME
            elif state == ST_BEFORE_ATTR_VALUE:
                if c in _WS:
                    self.pos += 1
                elif c == '"':
                    state = ST_ATTR_VALUE_DQ
                    self.pos += 1
                elif c == "'":
                    state = ST_ATTR_VALUE_SQ
                    self.pos += 1
                elif c == ">":
                    self._error("attribute value missing")
                    self._append_attr(out, refuse_bytes("".join(attr_name)), "")
                    self.pos += 1
                    break
                else:
                    state = ST_ATTR_VALUE_UQ
            elif state == ST_ATTR_VALUE_DQ:
                if c == '"':
                    val = decode_character_references(
                        "".join(attr_value), True, self.errors
                    )
                    self._append_attr(out, refuse_bytes("".join(attr_name)), val)
                    state = ST_BEFORE_ATTR_NAME
                    self.pos += 1
                elif c == "\0":
                    break
                else:
                    # bulk-consume until closing quote
                    end = s.find('"', self.pos)
                    if end < 0:
                        attr_value.append(s[self.pos :])
                        self.pos = n
                    else:
                        attr_value.append(s[self.pos : end])
                        self.pos = end
            elif state == ST_ATTR_VALUE_SQ:
                if c == "'":
                    val = decode_character_references(
                        "".join(attr_value), True, self.errors
                    )
                    self._append_attr(out, refuse_bytes("".join(attr_name)), val)
                    state = ST_BEFORE_ATTR_NAME
                    self.pos += 1
                elif c == "\0":
                    break
                else:
                    end = s.find("'", self.pos)
                    if end < 0:
                        attr_value.append(s[self.pos :])
                        self.pos = n
                    else:
                        attr_value.append(s[self.pos : end])
                        self.pos = end
            elif state == ST_ATTR_VALUE_UQ:
                if c in _WS:
                    val = decode_character_references(
                        "".join(attr_value), True, self.errors
                    )
                    self._append_attr(out, refuse_bytes("".join(attr_name)), val)
                    state = ST_BEFORE_ATTR_NAME
                    self.pos += 1
                elif c == ">":
                    val = decode_character_references(
                        "".join(attr_value), True, self.errors
                    )
                    self._append_attr(out, refuse_bytes("".join(attr_name)), val)
                    self.pos += 1
                    break
                elif c == "\0":
                    break
                else:
                    m = _UQ_VALUE_RUN.match(s, self.pos)
                    attr_value.append(m.group())
                    self.pos = m.end()
            else:  # ST_SELF_CLOSING
                if c == ">":
                    out.self_closing = True
                    self.pos += 1
                else:
                    self._error("unexpected '/' in start tag")
                break

        out.name = "".join(tag_name)
        if out.name == "":
            self._error("tag name missing")
        self._enter_raw_for(out.name)

    # -- main dispatch (tokenizer_next, src/tokenizer.c:1505-1619) --

    def next(self) -> Token:
        out = self._scratch
        if out is None:
            out = Token()
        else:
            # typed reset: only clear the fields the PREVIOUS token's
            # parse could have set (start tags: name/attrs/self_closing;
            # end tags: name; DOCTYPE: name/ids/quirks; character and
            # comment tokens only set data, cleared unconditionally)
            pt = out.type
            out.type = TOKEN_EOF
            out.data = None
            if pt == TOKEN_START_TAG:
                out.name = None
                out.attrs = []
                out.self_closing = False
            elif pt == TOKEN_END_TAG:
                out.name = None
            elif pt == TOKEN_DOCTYPE:
                out.name = None
                out.public_id = None
                out.system_id = None
                out.force_quirks = False
        if self.pos >= self.len:
            out.type = TOKEN_EOF
            return out

        while self.state != DATA:
            if self.state == PLAINTEXT:
                if self.pos >= self.len:
                    out.type = TOKEN_EOF
                    return out
                out.type = TOKEN_CHARACTER
                out.data = self.input[self.pos :]
                self.pos = self.len
                return out
            if self.state in (SCRIPT_DATA, SCRIPT_DATA_ESCAPED,
                              SCRIPT_DATA_DOUBLE_ESCAPED):
                if self._process_script_data(out):
                    return out
                continue
            if self._process_rcdata_rawtext(out):
                return out
            continue

        s, n = self.input, self.len
        pos = self.pos
        c = s[pos]
        if c != "<":
            # character data run until next '<' (checked first: half of
            # all tokens in markup-dense input are text runs)
            lt = s.find("<", pos)
            self.pos = n if lt < 0 else lt
            out.type = TOKEN_CHARACTER
            data = s[pos : self.pos]
            out.data = decode_character_references(data, False, self.errors)
            return out
        nxt = s[pos + 1] if pos + 1 < n else "\0"
        if nxt == "/":
            c2 = s[pos + 2] if pos + 2 < n else "\0"
            if c2 in _ALPHA:
                self._parse_end_tag(out)
                return out
            # reference deviation: emit literal '<' (src/tokenizer.c:1544-1550)
            self._error("invalid end tag")
            out.type = TOKEN_CHARACTER
            out.data = "<"
            self.pos += 1
            return out
        if nxt == "!" and s[pos + 2:pos + 4] == "--":
            self._parse_comment(out)
            return out
        if nxt == "!" and self._starts_with_ci("<!DOCTYPE"):
            self._parse_doctype(out)
            return out
        if (
            nxt == "!"
            and self.allow_cdata
            and s[self.pos + 2 : self.pos + 9] == "[CDATA["
        ):
            self.pos += 9
            start = self.pos
            end = s.find("]]>", self.pos)
            # C loop requires pos+2 < len, i.e. a full "]]>" inside input
            if end >= 0 and end + 2 < n:
                out.type = TOKEN_CHARACTER
                out.data = s[start:end]
                self.pos = end + 3
                return out
            out.type = TOKEN_CHARACTER
            out.data = s[start:]
            # C unclosed-CDATA: advance() stops at len-2, then a
            # raw `tz->pos = tz->len` jump (src/tokenizer.c:1578)
            if max(start, n - 2) < n:
                self.skipped.append((max(start, n - 2), n))
            self.pos = n
            return out
        if nxt == "!":
            # bogus comment (src/tokenizer.c:1581-1593)
            self._error("bogus markup declaration")
            self.pos += 2
            start = self.pos
            gt = s.find(">", self.pos)
            if gt < 0:
                out.type = TOKEN_COMMENT
                out.data = s[start:]
                self.pos = n
            else:
                out.type = TOKEN_COMMENT
                out.data = s[start:gt]
                self.pos = gt + 1
            return out
        if nxt in _ALPHA:
            self._parse_start_tag(out)
            return out
        out.type = TOKEN_CHARACTER
        out.data = "<"
        self.pos += 1
        return out

