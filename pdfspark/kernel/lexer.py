"""PDF object lexer (SURVEY.md §2A.2, L1-L9).

Behavioral model: the reference's byte-cursor lexer (`src/lex.rs`), ported
test-for-test (its 11 inline unit tests are replicated in
tests/test_lexer.py) but written fresh against PDF 32000-1:2008 §7.2-7.3.

One Lexer instance wraps one immutable byte buffer with a cursor; stream
bodies are zero-copy memoryview slices (reference: `src/lex.rs:516-533`).
"""

from __future__ import annotations

import re
from typing import Callable, Optional

from pdfspark.kernel.objects import Name, Operator, PdfError, PdfString, Reference, Stream

WHITESPACE = b"\x00\t\n\x0c\r "
DELIMITERS = b"()<>[]{}/%"

# C-speed scanners for the three hottest cursor loops (profiled)
_REGULAR_RUN = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]+")
_NUMBER_RUN = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_STRING_SPECIAL = re.compile(rb"[\\()\r]")
_IS_WS = bytes(1 if i in WHITESPACE else 0 for i in range(256))
_IS_REGULAR = bytes(
    0 if (i in WHITESPACE or i in DELIMITERS) else 1 for i in range(256)
)
_DIGITS = b"0123456789"
_NUMBER_START = b"0123456789+-."
_IS_NUMSTART = bytes(1 if i in _NUMBER_START else 0 for i in range(256))
# 'N G obj' header — qualifies an 'endstream' hit during recovery scans
_OBJ_HEADER_RE = re.compile(rb"\d+[\x00\t\n\x0c\r ]+\d+[\x00\t\n\x0c\r ]+obj\b")
# one-shot indirect-object header / trailer consumption (comment-free
# fast path of lex_indirect_object; lookahead = maximal-run keyword end)
_OBJ_HEAD_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]*(\d+)[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+"
    rb"obj(?![^\x00\t\n\x0c\r ()<>\[\]{}/%])"
)
_ENDOBJ_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]*endobj(?![^\x00\t\n\x0c\r ()<>\[\]{}/%])"
)

# raw name bytes → Name, shared across documents in a worker process
_NAME_CACHE: dict = {}
_NAME_CACHE_MAX = 4096
# bound methods for the two 30+-calls-per-doc paths (profiled: the
# attribute lookups are measurable at this call volume)
_REGULAR_RUN_MATCH = _REGULAR_RUN.match
_NAME_CACHE_GET = _NAME_CACHE.get


class Lexer:
    """Cursor over a PDF byte buffer."""

    __slots__ = ("buf", "view", "pos", "n", "resolve_length")

    def __init__(
        self,
        buf: bytes,
        pos: int = 0,
        resolve_length: Optional[Callable[[object], Optional[int]]] = None,
    ) -> None:
        self.buf = buf
        self.view = memoryview(buf)
        self.pos = pos
        self.n = len(buf)  # buf is never reassigned; cached for hot paths
        # callback to resolve an indirect /Length when slicing stream bodies
        self.resolve_length = resolve_length

    # ---------------------------------------------------------------- basics

    def at_end(self) -> bool:
        return self.pos >= self.n

    def peek(self) -> int:
        return self.buf[self.pos] if self.pos < self.n else -1

    def skip_whitespace(self) -> None:
        """L1: PDF whitespace classes + ``%`` comments to EOL.

        Hot path (profiled ~78k calls per 500 docs): runs are almost
        always 0-2 bytes, so a plain byte loop beats a regex dispatch."""
        buf, n = self.buf, self.n
        pos = self.pos
        is_ws = _IS_WS
        # zero-run fast path: the cursor usually already sits on a
        # regular character (token separators are consumed by the
        # previous call) — bail before the loop's store-back
        if pos < n:
            c = buf[pos]
            if not is_ws[c] and c != 0x25:
                return
        while pos < n:
            c = buf[pos]
            if is_ws[c]:
                pos += 1
                continue
            if c != 0x25:  # '%'
                break
            nl = buf.find(b"\n", pos)
            cr = buf.find(b"\r", pos)
            if nl == -1 and cr == -1:
                pos = n
            else:
                pos = min(e for e in (nl, cr) if e != -1) + 1
        self.pos = pos

    def _regular_run(self) -> bytes:
        """Consume a maximal run of regular characters."""
        m = _REGULAR_RUN.match(self.buf, self.pos)
        if m is None:
            return b""
        self.pos = m.end()
        return m.group()

    def expect_keyword(self, kw: bytes) -> None:
        self.skip_whitespace()
        got = self._regular_run()
        if got != kw:
            raise PdfError("lex", f"expected {kw!r}, got {got!r} at {self.pos}")

    # ----------------------------------------------------------------- atoms

    def lex_name(self) -> Name:
        """L2: ``/Name`` with ``#xx`` hex escapes. Decoded names are
        cached process-wide: a corpus re-lexes the same few dozen names
        (/Type /Length /Filter …) millions of times."""
        assert self.buf[self.pos] == 0x2F  # '/'
        m = _REGULAR_RUN_MATCH(self.buf, self.pos + 1)
        if m is None:  # bare '/' — empty name
            self.pos += 1
            raw = b""
        else:
            raw = m.group()
            self.pos = m.end()
        cached = _NAME_CACHE_GET(raw)
        if cached is not None:
            return cached
        if b"#" in raw:
            out = bytearray()
            i, n = 0, len(raw)
            while i < n:
                if raw[i] == 0x23 and i + 2 < n:
                    try:
                        out.append(int(raw[i + 1 : i + 3], 16))
                        i += 3
                        continue
                    except ValueError:
                        pass
                out.append(raw[i])
                i += 1
            return Name(bytes(out).decode("latin-1"))  # escaped: uncached
        nm = Name(raw.decode("latin-1"))
        if len(_NAME_CACHE) < _NAME_CACHE_MAX:
            _NAME_CACHE[raw] = nm
        return nm

    def lex_literal_string(self) -> PdfString:
        """L3: ``(...)`` with nested parens, escapes, octal, line-wrap."""
        assert self.buf[self.pos] == 0x28  # '('
        self.pos += 1
        buf, n = self.buf, self.n
        # fast path: no escape/nesting/CR before the closing paren
        close = buf.find(b")", self.pos)
        if close != -1 and _STRING_SPECIAL.search(buf, self.pos, close) is None:
            out_fast = buf[self.pos : close]
            self.pos = close + 1
            return PdfString(out_fast)
        out = bytearray()
        depth = 1
        i = self.pos
        while i < n:
            c = buf[i]
            if c == 0x5C:  # backslash
                if i + 1 >= n:
                    break
                e = buf[i + 1]
                i += 2
                if e == 0x6E:
                    out.append(0x0A)
                elif e == 0x72:
                    out.append(0x0D)
                elif e == 0x74:
                    out.append(0x09)
                elif e == 0x62:
                    out.append(0x08)
                elif e == 0x66:
                    out.append(0x0C)
                elif e in (0x28, 0x29, 0x5C):
                    out.append(e)
                elif 0x30 <= e <= 0x37:  # octal \d, \dd, \ddd
                    val = e - 0x30
                    for _ in range(2):
                        if i < n and 0x30 <= buf[i] <= 0x37:
                            val = (val << 3) | (buf[i] - 0x30)
                            i += 1
                        else:
                            break
                    out.append(val & 0xFF)
                elif e == 0x0D:  # line continuation \CR[LF]
                    if i < n and buf[i] == 0x0A:
                        i += 1
                elif e == 0x0A:  # line continuation \LF
                    pass
                else:  # unknown escape: backslash dropped
                    out.append(e)
            elif c == 0x28:
                depth += 1
                out.append(c)
                i += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    i += 1
                    self.pos = i
                    return PdfString(bytes(out))
                out.append(c)
                i += 1
            elif c == 0x0D:  # raw EOL inside string normalizes to \n
                out.append(0x0A)
                i += 1
                if i < n and buf[i] == 0x0A:
                    i += 1
            else:
                out.append(c)
                i += 1
        raise PdfError("lex", "unterminated literal string")

    def lex_hex_string(self) -> PdfString:
        """L4: ``<hex>``; whitespace-tolerant, odd length pads trailing 0."""
        assert self.buf[self.pos] == 0x3C  # '<'
        self.pos += 1
        end = self.buf.find(b">", self.pos)
        if end == -1:
            raise PdfError("lex", "unterminated hex string")
        raw = bytes(
            c for c in self.buf[self.pos : end] if not _IS_WS[c]
        )
        self.pos = end + 1
        if len(raw) % 2:
            raw += b"0"
        try:
            return PdfString(bytes.fromhex(raw.decode("latin-1")))
        except ValueError as e:
            raise PdfError("lex", f"bad hex string: {e}")

    def lex_number(self):
        """L5: int/real with sign, leading/trailing dot. Fast path for the
        dominant unsigned-integer case (object numbers, offsets, lengths)."""
        buf, n = self.buf, self.n
        pos = self.pos
        start = pos
        while pos < n and 0x30 <= buf[pos] <= 0x39:
            pos += 1
        if pos > start and (pos >= n or buf[pos] != 0x2E):  # not a real
            self.pos = pos
            return int(buf[start:pos])
        m = _NUMBER_RUN.match(buf, start)
        if m is None:
            raise PdfError("lex", f"bad number at {start}")
        text = m.group()
        self.pos = m.end()
        if b"." in text:
            return float(text)
        return int(text)

    # ------------------------------------------------------------ composites

    def lex_object(self, in_content: bool = False):
        """Lex one object. ``in_content``: content streams have no indirect
        references, so the ``N G R`` 3-token lookahead (L5) is skipped.
        Dispatch ordered by measured token frequency; byte-table classing.
        The whitespace fast path is inlined (profiled: most calls already
        sit on a regular byte — skip the skip_whitespace() call)."""
        buf, n = self.buf, self.n
        is_ws = _IS_WS
        pos = self.pos
        if pos >= n:
            raise PdfError("lex", "eof")
        c = buf[pos]
        while is_ws[c]:  # inline whitespace run (skip_whitespace fast path)
            pos += 1
            if pos >= n:
                raise PdfError("lex", "eof")
            c = buf[pos]
        if c == 0x25:  # comment: rare, take the full skip
            self.pos = pos
            self.skip_whitespace()
            pos = self.pos
            if pos >= n:
                raise PdfError("lex", "eof")
            c = buf[pos]
        self.pos = pos
        if _IS_NUMSTART[c]:
            num = self.lex_number()
            if not in_content and type(num) is int and num >= 0:
                ref = self._try_reference(num)
                if ref is not None:
                    return ref
            return num
        if c == 0x2F:
            return self.lex_name()
        if c == 0x28:
            return self.lex_literal_string()
        if c == 0x3C:
            if pos + 1 < n and buf[pos + 1] == 0x3C:
                return self.lex_dict_or_stream()
            return self.lex_hex_string()
        if c == 0x5B:  # '['
            return self.lex_array()
        # keyword: true/false/null (L9)
        kw = self._regular_run()
        if kw == b"true":
            return True
        if kw == b"false":
            return False
        if kw == b"null":
            return None
        raise PdfError("lex", f"unexpected token {kw!r} at {self.pos}")

    def _try_reference(self, objnum: int):
        """3-token lookahead: ``N G R``. The third token must be exactly
        the keyword ``R`` — ``1 1 1 RG`` in a content stream must NOT lex as
        a reference (reference test `src/content/mod.rs:166`).

        Inline byte scan (no sub-lexer calls) — this runs after EVERY
        non-negative integer in object context. Comments between the three
        tokens fall back to the general path."""
        buf, n = self.buf, self.n
        save = self.pos
        is_ws = _IS_WS
        pos = save
        while pos < n and is_ws[buf[pos]]:
            pos += 1
        if pos < n and buf[pos] == 0x25:  # comment: rare, take slow path
            return self._try_reference_slow(objnum)
        g0 = pos
        while pos < n and 0x30 <= buf[pos] <= 0x39:
            pos += 1
        if pos == g0 or (pos < n and buf[pos] == 0x2E):
            return None  # no integer generation token
        g1 = pos
        while pos < n and is_ws[buf[pos]]:
            pos += 1
        if pos < n and buf[pos] == 0x25:
            return self._try_reference_slow(objnum)
        if pos < n and buf[pos] == 0x52:  # 'R'
            nxt = pos + 1
            # maximal-run check: 'RG' must NOT lex as a reference
            if nxt >= n or not _IS_REGULAR[buf[nxt]]:
                self.pos = nxt
                return Reference(objnum, int(buf[g0:g1]))
        return None

    def _try_reference_slow(self, objnum: int):
        save = self.pos
        self.skip_whitespace()
        if self.at_end() or self.buf[self.pos] not in _DIGITS:
            self.pos = save
            return None
        try:
            gen = self.lex_number()
        except PdfError:
            self.pos = save
            return None
        if not isinstance(gen, int) or gen < 0:
            self.pos = save
            return None
        self.skip_whitespace()
        tok = self._regular_run()
        if tok == b"R":
            return Reference(objnum, gen)
        self.pos = save
        return None

    def lex_array(self) -> list:
        """L6: recursive ``[ ... ]``."""
        assert self.buf[self.pos] == 0x5B
        self.pos += 1
        out = []
        buf, n = self.buf, self.n
        is_ws = _IS_WS
        append = out.append
        while True:
            pos = self.pos
            if pos >= n:
                raise PdfError("lex", "unterminated array")
            c = buf[pos]
            while is_ws[c]:  # inline whitespace run
                pos += 1
                if pos >= n:
                    raise PdfError("lex", "unterminated array")
                c = buf[pos]
            if c == 0x25:  # comment: rare, take the full skip
                self.pos = pos
                self.skip_whitespace()
                pos = self.pos
                if pos >= n:
                    raise PdfError("lex", "unterminated array")
                c = buf[pos]
            if c == 0x5D:  # ']'
                self.pos = pos + 1
                return out
            self.pos = pos
            append(self.lex_object())

    def lex_dict_or_stream(self):
        """L7 + L8: ``<< ... >>`` optionally promoted to a Stream when the
        ``stream`` keyword follows (reference: `src/lib.rs:117-129`)."""
        d = self.lex_dict()
        save = self.pos
        self.skip_whitespace()
        if self.buf[self.pos : self.pos + 6] == b"stream":
            self.pos += 6
            # spec: 'stream' is followed by CRLF or LF (never bare CR)
            if self.buf[self.pos : self.pos + 2] == b"\r\n":
                self.pos += 2
            elif self.buf[self.pos : self.pos + 1] in (b"\n", b"\r"):
                self.pos += 1
            return self._slice_stream(d)
        self.pos = save
        return d

    def lex_dict(self) -> dict:
        buf, n = self.buf, self.n
        assert buf[self.pos : self.pos + 2] == b"<<"
        self.pos += 2
        d: dict = {}
        is_ws = _IS_WS
        while True:
            pos = self.pos
            if pos >= n:
                raise PdfError("lex", "unterminated dict")
            c = buf[pos]
            while is_ws[c]:  # inline whitespace run
                pos += 1
                if pos >= n:
                    raise PdfError("lex", "unterminated dict")
                c = buf[pos]
            if c == 0x25:  # comment: rare, take the full skip
                self.pos = pos
                self.skip_whitespace()
                pos = self.pos
                if pos >= n:
                    raise PdfError("lex", "unterminated dict")
                c = buf[pos]
            self.pos = pos
            if c == 0x3E and pos + 1 < n and buf[pos + 1] == 0x3E:  # '>>'
                self.pos = pos + 2
                return d
            if c != 0x2F:
                raise PdfError("lex", f"dict key must be a name at {pos}")
            # Name subclasses str, so the cached Name IS the dict key —
            # no per-entry str() copy
            key = self.lex_name()
            d[key] = self.lex_object()

    def _slice_stream(self, d: dict) -> Stream:
        """L8: Length-byte zero-copy slice; falls back to an ``endstream``
        scan when /Length is indirect/unresolvable or wrong (web-crawl dirt
        tolerance the reference lacks — it asserts, `src/lex.rs:516-533`)."""
        length = d.get("Length")
        if not isinstance(length, int) and self.resolve_length is not None:
            length = self.resolve_length(length)
        start = self.pos
        n = self.n
        if isinstance(length, int) and 0 <= length <= n - start:
            end = start + length
            tail = self.buf[end : end + 20].lstrip(WHITESPACE)
            if tail.startswith(b"endstream"):
                self.pos = self.buf.find(b"endstream", end) + len(b"endstream")
                return Stream(d, self.view[start:end])
        # recovery: scan for endstream. A binary body may contain the
        # literal bytes 'endstream' — prefer the nearest occurrence that is
        # FOLLOWED by 'endobj' or another object header (i.e. one that
        # plausibly terminates this object); fall back to first-match only
        # when none qualifies, so truncated tails still recover.
        end = -1
        probe = self.buf.find(b"endstream", start)
        first = probe
        while probe != -1:
            after = self.buf[probe + 9 : probe + 40].lstrip(WHITESPACE)
            if (after.startswith((b"endobj", b"trailer", b"xref",
                                  b"startxref")) or not after
                    or _OBJ_HEADER_RE.match(after)):
                end = probe
                break
            probe = self.buf.find(b"endstream", probe + 9)
        if end == -1:
            end = first
        if end == -1:
            raise PdfError("lex", "unterminated stream")
        data_end = end
        # strip one trailing EOL that belongs to the keyword, not the data
        if self.buf[data_end - 2 : data_end] == b"\r\n":
            data_end -= 2
        elif self.buf[data_end - 1 : data_end] in (b"\n", b"\r"):
            data_end -= 1
        self.pos = end + len(b"endstream")
        return Stream(d, self.view[start:data_end])

    # --------------------------------------------------- indirect object body

    def lex_indirect_object(self):
        """Parse ``N G obj <object> endobj`` at the current position
        (reference: `src/lib.rs:396-417`). Returns (objnum, gen, obj).

        One C-level regex consumes the ``N G obj`` header (and the
        trailing ``endobj``); the token-at-a-time path remains as the
        fallback for comments between header tokens."""
        m = _OBJ_HEAD_RE.match(self.buf, self.pos)
        if m is not None:
            objnum = int(m.group(1))
            gen = int(m.group(2))
            self.pos = m.end()
        else:  # comments between tokens, or malformed — slow path
            self.skip_whitespace()
            objnum = self.lex_number()
            self.skip_whitespace()
            gen = self.lex_number()
            self.expect_keyword(b"obj")
        obj = self.lex_object()
        # tolerate a missing endobj (malformed files); don't assert
        m = _ENDOBJ_RE.match(self.buf, self.pos)
        if m is not None:
            self.pos = m.end()
        else:
            save = self.pos
            self.skip_whitespace()
            if self._regular_run() != b"endobj":
                self.pos = save
        return objnum, gen, obj
