"""Fonts & glyph→Unicode mapping (SURVEY.md §2A.6 FN1-FN5, FN10-FN12).

Behavioral model + divergences:
- FN1 ToUnicode CMaps: the reference only stores the raw stream
  (`src/font/cmap.rs:5-11`); we implement the full bfchar/bfrange
  interpreter per PDF 32000 §9.10.3 — it is our PRIMARY code→Unicode path
  (named in the north star).
- FN2 simple-font encodings: BaseEncoding + /Differences exactly as the
  reference parses them (`src/font/encoding.rs:56-121`), resolved to
  Unicode through AGL-style name lookup (encodings_data.py).
- FN3 Type0/CID: Identity-H/V two-byte decode + embedded CMap streams
  (`src/font/type0.rs:35-81`); predefined CJK CMaps without ToUnicode
  surface ``error='predefined-cmap'`` (the reference cannot render those
  either).
- FN4 TrueType cmap: subtable formats 0/4/6 (same coverage as the
  reference's lookup, `src/font/true_type/table/cmap.rs:84-143`), used as
  the glyph-id→Unicode inversion fallback when no ToUnicode exists.
- FN6-FN9 (hinting VM, Type1/CFF charstring VMs) affect pixels, not text —
  not ported.

Pinned policy (SURVEY.md §7 hard parts): unmapped codes yield U+FFFD;
text shown with no current font decodes as WinAnsi (identity over ASCII).
"""

from __future__ import annotations

import re
import struct
from typing import Dict, List, Optional, Tuple

from pdfspark.kernel.encodings_data import BASE_ENCODINGS, STANDARD_ENCODING, glyph_name_to_unicode
from pdfspark.kernel.objects import Name, PdfError, PdfString, Stream

REPLACEMENT = "�"

# ------------------------------------------------------------------ CMaps

_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")


def _hexbytes(h: bytes) -> bytes:
    h = re.sub(rb"\s", b"", h)
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("latin-1"))


def _utf16be(b: bytes) -> str:
    try:
        return b.decode("utf-16-be")
    except UnicodeDecodeError:
        return b.decode("utf-16-be", "replace")


class ToUnicodeCMap:
    """bfchar/bfrange mapping keyed by (code_byte_len, code_int).

    Surrogate pairs inside a bfrange destination and multi-char targets
    are handled per §9.10.3 (fixtures t15/t15b pin this).
    """

    __slots__ = ("map", "lengths")

    def __init__(self) -> None:
        self.map: Dict[Tuple[int, int], str] = {}
        self.lengths: set = set()

    @classmethod
    def parse(cls, data: bytes) -> "ToUnicodeCMap":
        cm = cls()
        for m in re.finditer(
            rb"begincodespacerange(.*?)endcodespacerange", data, re.S
        ):
            for hx in _HEX_RE.finditer(m.group(1)):
                cm.lengths.add(len(_hexbytes(hx.group(1))))
        for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
            toks = [_hexbytes(h.group(1)) for h in _HEX_RE.finditer(m.group(1))]
            for i in range(0, len(toks) - 1, 2):
                src, dst = toks[i], toks[i + 1]
                cm.lengths.add(len(src))
                cm.map[(len(src), int.from_bytes(src, "big"))] = _utf16be(dst)
        for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
            cm._parse_bfrange(m.group(1))
        if not cm.lengths:
            cm.lengths = {ln for (ln, _) in cm.map} or {1}
        return cm

    def _parse_bfrange(self, body: bytes) -> None:
        # entries: <lo> <hi> <dstStart>   |   <lo> <hi> [ <d1> <d2> ... ]
        from pdfspark.kernel.lexer import Lexer

        lx = Lexer(body)
        toks: List[object] = []
        while True:
            lx.skip_whitespace()
            if lx.at_end():
                break
            c = lx.buf[lx.pos]
            try:
                if c == 0x3C:
                    # raw hex-string bytes (not via PdfString to keep length)
                    toks.append(lx.lex_hex_string())
                elif c == 0x5B:
                    toks.append(lx.lex_array())
                else:
                    lx.pos += 1  # stray token
            except PdfError:
                break
        i = 0
        while i + 3 <= len(toks):
            lo_b, hi_b, dst = toks[i], toks[i + 1], toks[i + 2]
            i += 3
            if not isinstance(lo_b, bytes) or not isinstance(hi_b, bytes):
                continue
            nb = len(lo_b)
            self.lengths.add(nb)
            lo = int.from_bytes(lo_b, "big")
            hi = int.from_bytes(hi_b, "big")
            if hi < lo or hi - lo > 0x10000:
                continue
            if isinstance(dst, list):
                for k, d in enumerate(dst):
                    if lo + k > hi:
                        break
                    if isinstance(d, bytes):
                        self.map[(nb, lo + k)] = _utf16be(d)
            elif isinstance(dst, bytes):
                base = int.from_bytes(dst, "big")
                dlen = max(len(dst), 2)
                dlen += dlen % 2  # UTF-16 needs even byte counts
                for k in range(hi - lo + 1):
                    val = base + k
                    # widen (in UTF-16 units) if the increment overflows
                    # the declared width — a malformed but seen-in-the-
                    # wild CMap shape; must not throw
                    blen = dlen
                    while val >= 1 << (8 * blen):
                        blen += 2
                    self.map[(nb, lo + k)] = _utf16be(
                        val.to_bytes(blen, "big")
                    )

    def get(self, nbytes: int, code: int) -> Optional[str]:
        return self.map.get((nbytes, code))


class CidCMap:
    """Code→CID CMap (Type0 /Encoding): codespace ranges + cidchar/cidrange
    (reference plumbing: `src/font/type0.rs:13-28`). Identity-H/V are
    synthesized without parsing."""

    __slots__ = ("ranges", "cidmap", "identity")

    def __init__(self) -> None:
        # ranges: list of (nbytes, lo, hi)
        self.ranges: List[Tuple[int, int, int]] = []
        self.cidmap: Dict[Tuple[int, int], int] = {}
        self.identity = False

    @classmethod
    def identity_2byte(cls) -> "CidCMap":
        cm = cls()
        cm.ranges = [(2, 0x0000, 0xFFFF)]
        cm.identity = True
        return cm

    @classmethod
    def unicode_bmp(cls, utf16: bool = False) -> "CidCMap":
        """Codespace of the Uni*-UCS2 / Uni*-UTF16 predefined CMaps: the
        character CODE is the Unicode value itself, so text decodes
        without Adobe's code→CID tables. UTF16 variants add the 4-byte
        surrogate-pair range (`src/font/cjk.rs:35-145` name inventory)."""
        cm = cls()
        if utf16:
            cm.ranges = [
                (2, 0x0000, 0xD7FF),
                (2, 0xE000, 0xFFFF),
                (4, 0xD800DC00, 0xDBFFDFFF),
            ]
        else:
            cm.ranges = [(2, 0x0000, 0xFFFF)]
        cm.identity = True  # code≈CID approximation: affects W lookups
        return cm

    @classmethod
    def parse(cls, data: bytes) -> "CidCMap":
        cm = cls()
        for m in re.finditer(
            rb"begincodespacerange(.*?)endcodespacerange", data, re.S
        ):
            hx = [_hexbytes(h.group(1)) for h in _HEX_RE.finditer(m.group(1))]
            for i in range(0, len(hx) - 1, 2):
                lo, hi = hx[i], hx[i + 1]
                cm.ranges.append(
                    (len(lo), int.from_bytes(lo, "big"), int.from_bytes(hi, "big"))
                )
        for m in re.finditer(rb"begincidchar(.*?)endcidchar", data, re.S):
            body = m.group(1)
            for cm_m in re.finditer(rb"<([0-9A-Fa-f\s]*)>\s*(\d+)", body):
                src = _hexbytes(cm_m.group(1))
                cm.cidmap[(len(src), int.from_bytes(src, "big"))] = int(cm_m.group(2))
        for m in re.finditer(rb"begincidrange(.*?)endcidrange", data, re.S):
            body = m.group(1)
            for r in re.finditer(
                rb"<([0-9A-Fa-f\s]*)>\s*<([0-9A-Fa-f\s]*)>\s*(\d+)", body
            ):
                lo_b = _hexbytes(r.group(1))
                lo = int.from_bytes(lo_b, "big")
                hi = int.from_bytes(_hexbytes(r.group(2)), "big")
                cid0 = int(r.group(3))
                if hi - lo > 0x10000:
                    continue
                for k in range(hi - lo + 1):
                    cm.cidmap[(len(lo_b), lo + k)] = cid0 + k
        if not cm.ranges:
            cm.ranges = [(2, 0x0000, 0xFFFF)]
        return cm

    def split_codes(self, s: bytes) -> List[Tuple[int, int]]:
        """Split a string's bytes into (nbytes, code) per the CMap matching
        algorithm: at each position take the codespace range whose byte
        length matches a prefix, shortest first; unmatched bytes consume
        the shortest configured length."""
        out: List[Tuple[int, int]] = []
        lens = sorted({r[0] for r in self.ranges})
        i, n = 0, len(s)
        while i < n:
            taken = False
            for ln in lens:
                if i + ln > n:
                    continue
                code = int.from_bytes(s[i : i + ln], "big")
                if any(
                    ln == rl and lo <= code <= hi for rl, lo, hi in self.ranges
                ):
                    out.append((ln, code))
                    i += ln
                    taken = True
                    break
            if not taken:
                ln = min(lens[0], n - i)
                out.append((ln, int.from_bytes(s[i : i + ln], "big")))
                i += ln
        return out

    def cid(self, nbytes: int, code: int) -> int:
        if self.identity:
            return code
        return self.cidmap.get((nbytes, code), 0)


# ------------------------------------------------------------ TrueType cmap

def parse_ttf_cmap_subtables(data: bytes) -> Dict[Tuple[int, int], Dict[int, int]]:
    """Parse the sfnt 'cmap' table: formats 0/2/4/6/8/10/12 with full
    lookup — a superset of the formats the reference completes
    (`src/font/true_type/table/cmap.rs:84-143`) and the same enumeration
    set it parses (`src/font/true_type/parse.rs:462-`). Format 2 is the
    legacy high-byte CJK mapping; 8/10/12 are the 32-bit coverage forms.
    Total decoded codes are bounded by ``_CMAP_CODE_BUDGET`` so a crafted
    font (e.g. thousands of full-range format-12 groups) can never stall
    a Spark task — one bad document never kills the job.
    Returns {(platformID, encodingID): {char_code: glyph_id}}."""
    out: Dict[Tuple[int, int], Dict[int, int]] = {}
    if len(data) < 12:
        return out
    try:
        num_tables = struct.unpack_from(">H", data, 4)[0]
        cmap_off = None
        for i in range(num_tables):
            tag, _, off, _ = struct.unpack_from(">4sIII", data, 12 + 16 * i)
            if tag == b"cmap":
                cmap_off = off
                break
        if cmap_off is None:
            return out
        n_sub = struct.unpack_from(">H", data, cmap_off + 2)[0]
        for i in range(n_sub):
            plat, enc, sub_off = struct.unpack_from(
                ">HHI", data, cmap_off + 4 + 8 * i
            )
            table = _parse_cmap_subtable(data, cmap_off + sub_off)
            if table:
                out[(plat, enc)] = table
    except struct.error:
        pass
    return out


def parse_ttf_hmetrics(data: bytes) -> Optional[Tuple[list, int]]:
    """head/hhea/hmtx of an embedded TrueType program → (advances,
    unitsPerEm). ``advances[gid]`` is the horizontal advance in font
    units; glyphs past numberOfHMetrics reuse the LAST advance (sfnt
    hmtx contract). The metrics source for real per-glyph widths under
    legacy-CJK codec CMaps, where the PDF's /W array (CID-indexed)
    cannot apply because codec decode yields Unicode, not CIDs
    (reference reads W per-CID instead: `src/font/cid.rs:130-182`;
    TTF tables: `src/font/true_type/parse.rs:158-642`). Returns None
    when any of the three tables is missing/truncated."""
    if len(data) < 12:
        return None
    try:
        num_tables = struct.unpack_from(">H", data, 4)[0]
        offs = {}
        for i in range(min(num_tables, 512)):
            tag, _, off, length = struct.unpack_from(">4sIII", data, 12 + 16 * i)
            offs[tag] = (off, length)
        if not all(t in offs for t in (b"head", b"hhea", b"hmtx")):
            return None
        head_off = offs[b"head"][0]
        upem = struct.unpack_from(">H", data, head_off + 18)[0]
        if upem <= 0:
            return None
        hhea_off = offs[b"hhea"][0]
        n_metrics = struct.unpack_from(">H", data, hhea_off + 34)[0]
        hmtx_off, hmtx_len = offs[b"hmtx"]
        n_metrics = min(n_metrics, hmtx_len // 4, 65536)
        if n_metrics == 0:
            return None
        advances = [
            struct.unpack_from(">H", data, hmtx_off + 4 * k)[0]
            for k in range(n_metrics)
        ]
        return advances, upem
    except struct.error:
        return None


# Standard Macintosh glyph order (public sfnt spec, 'post' format 2.0:
# glyphNameIndex < 258 selects from this table; ≥258 indexes the
# table-local Pascal-string name array)
_MAC_GLYPH_NAMES = (
    ".notdef .null nonmarkingreturn space exclam quotedbl numbersign "
    "dollar percent ampersand quotesingle parenleft parenright asterisk "
    "plus comma hyphen period slash zero one two three four five six "
    "seven eight nine colon semicolon less equal greater question at "
    "A B C D E F G H I J K L M N O P Q R S T U V W X Y Z "
    "bracketleft backslash bracketright asciicircum underscore grave "
    "a b c d e f g h i j k l m n o p q r s t u v w x y z "
    "braceleft bar braceright asciitilde Adieresis Aring Ccedilla Eacute "
    "Ntilde Odieresis Udieresis aacute agrave acircumflex adieresis "
    "atilde aring ccedilla eacute egrave ecircumflex edieresis iacute "
    "igrave icircumflex idieresis ntilde oacute ograve ocircumflex "
    "odieresis otilde uacute ugrave ucircumflex udieresis dagger degree "
    "cent sterling section bullet paragraph germandbls registered "
    "copyright trademark acute dieresis notequal AE Oslash infinity "
    "plusminus lessequal greaterequal yen mu partialdiff summation "
    "product pi integral ordfeminine ordmasculine Omega ae oslash "
    "questiondown exclamdown logicalnot radical florin approxequal "
    "Delta guillemotleft guillemotright ellipsis nonbreakingspace "
    "Agrave Atilde Otilde OE oe endash emdash quotedblleft "
    "quotedblright quoteleft quoteright divide lozenge ydieresis "
    "Ydieresis fraction currency guilsinglleft guilsinglright fi fl "
    "daggerdbl periodcentered quotesinglbase quotedblbase perthousand "
    "Acircumflex Ecircumflex Aacute Edieresis Egrave Iacute Icircumflex "
    "Idieresis Igrave Oacute Ocircumflex apple Ograve Uacute Ucircumflex "
    "Ugrave dotlessi circumflex tilde macron breve dotaccent ring "
    "cedilla hungarumlaut ogonek caron Lslash lslash Scaron scaron "
    "Zcaron zcaron brokenbar Eth eth Yacute yacute Thorn thorn minus "
    "multiply onesuperior twosuperior threesuperior onehalf onequarter "
    "threequarters franc Gbreve gbreve Idotaccent Scedilla scedilla "
    "Cacute cacute Ccaron ccaron dcroat"
).split()
assert len(_MAC_GLYPH_NAMES) == 258


def parse_ttf_post_names(data: bytes) -> Optional[Dict[int, str]]:
    """'post' table format 2.0 → {gid: glyph_name}: the last-resort
    code→name→Unicode source for symbolic TrueType fonts with no
    ToUnicode and no usable cmap (SURVEY FN5 optional item; the
    reference never reads 'post' — this exceeds it). Formats 1.0/3.0
    carry no per-font names → None. Bounded by the table's own length;
    never raises on truncation."""
    if len(data) < 12:
        return None
    try:
        num_tables = struct.unpack_from(">H", data, 4)[0]
        post = None
        for i in range(min(num_tables, 512)):
            tag, _, off, length = struct.unpack_from(
                ">4sIII", data, 12 + 16 * i)
            if tag == b"post":
                post = (off, length)
                break
        if post is None:
            return None
        off, length = post
        end = min(off + length, len(data))
        if struct.unpack_from(">I", data, off)[0] != 0x00020000:
            return None
        n_glyphs = struct.unpack_from(">H", data, off + 32)[0]
        n_glyphs = min(n_glyphs, 65536, (end - off - 34) // 2)
        idx = struct.unpack_from(f">{n_glyphs}H", data, off + 34)
        # Pascal-string pool after the index array
        pool: List[str] = []
        p = off + 34 + 2 * n_glyphs
        while p < end and len(pool) <= 65536:
            ln = data[p]
            if p + 1 + ln > end:
                break  # truncated final string: never read past the
                # table into the next table's bytes (a garbage-suffixed
                # name would silently map a gid to the wrong character)
            pool.append(
                data[p + 1 : p + 1 + ln].decode("latin-1", "replace"))
            p += 1 + ln
        out: Dict[int, str] = {}
        for gid, k in enumerate(idx):
            if k < 258:
                out[gid] = _MAC_GLYPH_NAMES[k]
            elif k - 258 < len(pool):
                out[gid] = pool[k - 258]
        return out or None
    except struct.error:
        return None


# Hard ceiling on codes decoded per cmap subtable.  Unicode has 0x110000
# codepoints; 2M leaves headroom for overlapping segments while bounding
# TOTAL work (not just group count) against crafted fonts whose groups each
# claim a full-plane span.
_CMAP_CODE_BUDGET = 2_000_000


def _parse_cmap_subtable(data: bytes, off: int) -> Dict[int, int]:
    fmt = struct.unpack_from(">H", data, off)[0]
    table: Dict[int, int] = {}
    budget = _CMAP_CODE_BUDGET
    if fmt == 0:
        glyphs = data[off + 6 : off + 6 + 256]
        for code, gid in enumerate(glyphs):
            if gid:
                table[code] = gid
    elif fmt == 2:
        # high-byte mapping through table (legacy mixed 8/16-bit CJK,
        # `src/font/true_type/parse.rs` parses it; we also look it up).
        keys = struct.unpack_from(">256H", data, off + 6)
        sub_base = off + 6 + 512

        def _sub_gid(k: int, j: int) -> int:
            # glyph for index j within subHeader k; idRangeOffset is
            # relative to its own field position (same trick as format 4)
            first, count, delta, ro = struct.unpack_from(
                ">HHhH", data, sub_base + 8 * k
            )
            if j < first or j >= first + count:
                return 0
            addr = sub_base + 8 * k + 6 + ro + 2 * (j - first)
            if addr + 2 > len(data):
                return 0
            gid = struct.unpack_from(">H", data, addr)[0]
            return (gid + delta) & 0xFFFF if gid else 0

        # one-byte codes: bytes whose key selects subHeader 0
        for b in range(256):
            if keys[b] == 0 and sub_base + 8 <= len(data):
                gid = _sub_gid(0, b)
                if gid:
                    table[b] = gid
        # two-byte codes: high byte h selects subHeader keys[h]//8 > 0
        for h in range(256):
            k = keys[h] // 8
            if k == 0 or sub_base + 8 * k + 8 > len(data) or budget <= 0:
                continue
            first, count = struct.unpack_from(">HH", data, sub_base + 8 * k)
            for lo in range(first, min(first + count, first + budget)):
                gid = _sub_gid(k, lo)
                if gid and lo <= 0xFF:
                    table[(h << 8) | lo] = gid
            budget -= count
    elif fmt == 6:
        first, count = struct.unpack_from(">HH", data, off + 6)
        for k in range(min(count, budget)):
            gid = struct.unpack_from(">H", data, off + 10 + 2 * k)[0]
            if gid:
                table[first + k] = gid
    elif fmt == 4:
        seg_x2 = struct.unpack_from(">H", data, off + 6)[0]
        segs = seg_x2 // 2
        ends = struct.unpack_from(f">{segs}H", data, off + 14)
        starts = struct.unpack_from(f">{segs}H", data, off + 16 + seg_x2)
        deltas = struct.unpack_from(f">{segs}H", data, off + 16 + 2 * seg_x2)
        ro_base = off + 16 + 3 * seg_x2
        range_offsets = struct.unpack_from(f">{segs}H", data, ro_base)
        for s in range(segs):
            start, end = starts[s], ends[s]
            if start == 0xFFFF or budget <= 0:
                continue
            end = min(end, 0xFFFE, start + budget - 1)
            budget -= end - start + 1
            for code in range(start, end + 1):
                if range_offsets[s] == 0:
                    gid = (code + deltas[s]) & 0xFFFF
                else:
                    addr = ro_base + 2 * s + range_offsets[s] + 2 * (code - start)
                    if addr + 2 > len(data):
                        continue
                    gid = struct.unpack_from(">H", data, addr)[0]
                    if gid:
                        gid = (gid + deltas[s]) & 0xFFFF
                if gid:
                    table[code] = gid
    elif fmt == 10:
        # trimmed array: uint32 startChar, uint32 numChars, uint16 glyphs[]
        start, count = struct.unpack_from(">II", data, off + 12)
        for k in range(min(count, budget)):
            if off + 20 + 2 * k + 2 > len(data):
                break
            gid = struct.unpack_from(">H", data, off + 20 + 2 * k)[0]
            if gid and start + k <= 0x10FFFF:
                table[start + k] = gid
    elif fmt in (8, 12):
        # segmented coverage: uint32 nGroups of (startChar, endChar,
        # startGlyph). Format 8 prepends an is32[8192] classification
        # bitmap; the group records themselves are identical.
        grp_hdr = off + (16 if fmt == 12 else 16 + 8192)
        n_groups = struct.unpack_from(">I", data, grp_hdr - 4)[0]
        base = grp_hdr
        for g in range(min(n_groups, 100_000)):
            if base + 12 * g + 12 > len(data) or budget <= 0:
                break
            start, end, sgid = struct.unpack_from(">III", data, base + 12 * g)
            if end < start or start > 0x10FFFF:
                continue
            end = min(end, 0x10FFFF, start + budget - 1)
            budget -= end - start + 1
            for k in range(end - start + 1):
                gid = sgid + k
                if gid:
                    table[start + k] = gid
    return table


# ------------------------------------------------------------------- fonts

# the decodable slice of the predefined CJK CMap inventory: code units are
# UCS-2 (or UTF-16BE) Unicode values, so text needs no Adobe tables
_UNICODE_CMAP = re.compile(r"^Uni(GB|CNS|JIS|KS)-(UCS2|UTF16)(-HW)?-[HV]$")

# Legacy predefined CJK CMaps whose CODE BYTES are a national-standard
# text encoding (the reference enumerates all of them, `src/font/
# cjk.rs:1-190`, but renders none): Adobe's code→CID tables aren't
# shippable offline, yet the byte→Unicode direction of these encodings is
# exactly what Python's stdlib codecs implement — so TEXT decodes fully;
# only per-CID widths fall back to /DW (the W array indexes by CID).
# "rawjis" marks the H/V CMaps (raw 2-byte JIS X 0208, no escapes): each
# byte ORs with 0x80 into EUC-JP space. "euc_tw" (CNS-EUC) has no stdlib
# codec — it decodes against the committed CNS 11643 plane-1/2 table
# (cns11643_data.py, generated from glibc iconv's public EUC-TW table).
_CJK_CODEC_CMAPS = {
    "GB-EUC": "gbk", "GBpc-EUC": "gbk", "GBK-EUC": "gbk", "GBKp-EUC": "gbk",
    "GBK2K": "gb18030",
    "B5pc": "big5", "ETen-B5": "big5", "ETenms-B5": "big5",
    "HKscs-B5": "big5hkscs",
    "83pv-RKSJ": "cp932", "90ms-RKSJ": "cp932", "90msp-RKSJ": "cp932",
    "90pv-RKSJ": "cp932", "Add-RKSJ": "cp932", "Ext-RKSJ": "cp932",
    "EUC": "euc_jp",
    "KSC-EUC": "euc_kr", "KSCpc-EUC": "euc_kr",
    "KSCms-UHC": "cp949", "KSCms-UHC-HW": "cp949",
    "CNS-EUC": "euc_tw",
}


def _cjk_codec_for(name: str) -> Optional[str]:
    """stdlib codec for a legacy predefined CJK CMap name, or None when
    the name is CID-table-bound (CNS-EUC) or unknown."""
    if name in ("H", "V"):
        return "rawjis"
    if name.endswith(("-H", "-V")):
        return _CJK_CODEC_CMAPS.get(name[:-2])
    return None


class Glyph:
    __slots__ = ("code", "text", "advance", "is_space", "v_advance")

    def __init__(self, code: int, text: str, advance: float, is_space: bool,
                 v_advance: float = -1000.0):
        self.code = code
        self.text = text
        self.advance = advance  # glyph-space units (/1000 of text space)
        self.is_space = is_space
        # vertical displacement w1y (glyph space): per-CID /W2 when the
        # descendant font carries one, else the font's /DW2 default —
        # only CID decode ever passes a non-default value (r7)
        self.v_advance = v_advance


class Font:
    """A resolved font ready for decode(). Built by ``load_font``; cached
    per document (``extract._PageInterp._doc_font``) like the
    reference's lazy font loads
    (`src/render/mod.rs:1056-1076`)."""

    __slots__ = (
        "subtype", "is_type0", "tounicode", "encoding_map", "cid_cmap",
        "widths", "first_char", "default_width", "cid_widths", "gid_to_uni",
        "code_to_gid", "cid_to_gid", "unicode_codes", "codec_cmap",
        "uni_to_gid", "gid_advances", "error", "_fast",
        "wmode", "v_advance", "cid_v_advances",
    )

    def __init__(self) -> None:
        self.subtype = ""
        self.is_type0 = False
        self.tounicode: Optional[ToUnicodeCMap] = None
        self.encoding_map: Dict[int, str] = {}
        self.cid_cmap: Optional[CidCMap] = None
        self.widths: List[float] = []
        self.first_char = 0
        self.default_width = 500.0
        self.cid_widths: Dict[int, float] = {}
        self.gid_to_uni: Dict[int, str] = {}
        self.code_to_gid: Dict[int, int] = {}
        self.cid_to_gid: Optional[Dict[int, int]] = None  # stream map
        self.unicode_codes = False  # Uni*-UCS2/UTF16: code IS the Unicode
        self.codec_cmap: Optional[str] = None  # legacy CJK: stdlib codec
        self.uni_to_gid: Dict[int, int] = {}  # embedded cmap, forward
        # embedded hmtx advances pre-scaled to 1000/em glyph space; the
        # real-width source for codec CMaps (W is CID-indexed, unusable)
        self.gid_advances: Optional[List[float]] = None
        self.error: Optional[str] = None
        self._fast = None  # lazy (chars[256], widths[256]) decode tables
        # writing mode (PDF 9.7.5.2): 0 horizontal, 1 vertical. Set for
        # Identity-V / predefined *-V CMaps / embedded CMaps whose
        # stream dict carries /WMode 1. The reference lists every V
        # variant (`src/font/cjk.rs:1-190`, `src/font/type0.rs:13-28`)
        # but never applies vertical displacement; we do (extract._show)
        self.wmode = 0
        # vertical displacement w1y in glyph space (DW2[1], default
        # −1000 = one em down per glyph); per-CID overrides from /W2
        # (r7, VERDICT r6 missing #2 — the reference parses both
        # fields, `src/font/cid.rs:86-92`): punctuation/half-width
        # forms in real CJK vertical text carry their own w1y
        self.v_advance = -1000.0
        self.cid_v_advances: Dict[int, float] = {}

    # -------------------------------------------------------------- decode

    def decode(self, s: bytes) -> List[Glyph]:
        if self.is_type0:
            return self._decode_cid(s)
        return self._decode_simple(s)

    def decode_fast(self, s: bytes):
        """Hot-path decode: (text, glyph_width_sum, n_glyphs, n_spaces).

        Valid because per-glyph advances are pure x-translations of Tm and
        translations compose additively — the caller applies ONE matrix
        update per show instead of one per glyph (profiled 2.4× kernel
        speedup). Simple fonts use flat 256-entry tables; Type0 falls back
        to the general path."""
        if self.is_type0:
            glyphs = self._decode_cid(s)
            return (
                "".join(g.text for g in glyphs),
                sum(g.advance for g in glyphs),
                len(glyphs),
                sum(1 for g in glyphs if g.is_space),
            )
        chars, widths = self._fast or self._build_fast_tables()
        return (
            "".join(map(chars.__getitem__, s)),
            sum(map(widths.__getitem__, s)),
            len(s),
            s.count(32),
        )

    def _build_fast_tables(self):
        """The simple font's 256-entry (chars, widths) decode tables —
        ToUnicode, then the encoding, then the embedded cmap, else
        U+FFFD — shared by ``decode`` and ``decode_fast``."""
        tu = self.tounicode
        chars = []
        widths = []
        for code in range(256):
            text = tu.get(1, code) if tu is not None else None
            if text is None:
                text = self.encoding_map.get(code)
            if text is None and self.code_to_gid:
                gid = self.code_to_gid.get(code)
                if gid is not None:
                    text = self.gid_to_uni.get(gid)
            chars.append(text if text is not None else REPLACEMENT)
            widths.append(self._simple_width(code))
        self._fast = (chars, widths)
        return self._fast

    def _decode_simple(self, s: bytes) -> List[Glyph]:
        chars, widths = self._fast or self._build_fast_tables()
        return [Glyph(code, chars[code], widths[code], code == 32)
                for code in s]

    def _decode_codec(self, s: bytes) -> List[Glyph]:
        """Legacy predefined CJK CMap decode: the code bytes ARE a
        national-standard text encoding, split/decoded by the stdlib's
        incremental decoder (which owns the multi-byte structure). The
        code→CID direction needs Adobe tables we don't ship, so widths
        fall back to /DW; ToUnicode (rare here) still takes precedence."""
        import codecs

        raw = s
        codec = self.codec_cmap
        if codec == "euc_tw":
            return self._decode_euctw(s)
        if codec == "rawjis":
            # H/V: raw 2-byte JIS X 0208 — shift both bytes into EUC-JP
            raw = bytes(b | 0x80 if 0x21 <= b <= 0x7E else b for b in s)
            codec = "euc_jp"
        dec = codecs.getincrementaldecoder(codec)("replace")
        out = []
        tu = self.tounicode
        start = 0
        for i in range(len(raw)):
            ch = dec.decode(raw[i : i + 1])
            if not ch:
                continue
            nbytes = i + 1 - start
            code = int.from_bytes(s[start : i + 1], "big")
            start = i + 1
            text = tu.get(nbytes, code) if tu is not None else None
            if text is None:
                text = ch
            out.append(Glyph(code, text, self._codec_width(ch),
                             nbytes == 1 and code == 32))
        tail = dec.decode(b"", True)
        if start < len(s) or tail:
            code = int.from_bytes(s[start:], "big") if start < len(s) else 0
            out.append(Glyph(code, tail or REPLACEMENT,
                             self.default_width, False))
        return out

    def _decode_euctw(self, s: bytes) -> List[Glyph]:
        """CNS-EUC (EUC-TW) decode against the committed CNS 11643
        plane-1/2 table (no stdlib codec exists). Structure per the
        encoding: ASCII single bytes; 0xA1-0xFE pairs = plane 1;
        0x8E + plane byte + pair = planes 1-16 (only 1-2 carried by
        Adobe-CNS1 — others emit U+FFFD). Widths fall back to /DW as
        with every codec-backed predefined CMap."""
        from .cns11643_data import PLANE1, PLANE2

        out: List[Glyph] = []
        tu = self.tounicode
        i, n = 0, len(s)
        while i < n:
            b = s[i]
            if b == 0x8E and i + 3 < n and 0xA1 <= s[i + 1] <= 0xB0:
                # only a valid plane byte commits the 4-byte form —
                # garbage after 0x8E resyncs at the next byte instead of
                # swallowing up to 3 good characters (iconv behavior)
                nb = 4
                plane = s[i + 1] - 0xA0
                row, cell = s[i + 2] - 0xA0, s[i + 3] - 0xA0
                if 1 <= row <= 94 and 1 <= cell <= 94 and plane in (1, 2):
                    table = PLANE1 if plane == 1 else PLANE2
                    ch = table[(row - 1) * 94 + (cell - 1)]
                else:
                    ch = REPLACEMENT
            elif 0xA1 <= b <= 0xFE and i + 1 < n and 0xA1 <= s[i + 1] <= 0xFE:
                nb = 2
                ch = PLANE1[(b - 0xA1) * 94 + (s[i + 1] - 0xA1)]
            else:
                nb = 1
                ch = chr(b) if b < 0x80 else REPLACEMENT
            code = int.from_bytes(s[i : i + nb], "big")
            text = tu.get(nb, code) if tu is not None else None
            out.append(Glyph(code, text if text is not None else ch,
                             self._codec_width(ch), nb == 1 and code == 32))
            i += nb
        return out

    def _decode_cid(self, s: bytes) -> List[Glyph]:
        if self.codec_cmap is not None:
            return self._decode_codec(s)
        out = []
        cmap = self.cid_cmap or CidCMap.identity_2byte()
        tu = self.tounicode
        cva = self.cid_v_advances  # empty for all non-/W2 fonts: skip
        va = self.v_advance        # the per-glyph dict probe then
        for nbytes, code in cmap.split_codes(s):
            text = tu.get(nbytes, code) if tu is not None else None
            cid = cmap.cid(nbytes, code)
            if text is None and self.unicode_codes:
                # Uni*-UCS2/UTF16 predefined CMaps: the code IS the
                # Unicode value — no Adobe tables needed
                if nbytes == 2:
                    text = (REPLACEMENT if 0xD800 <= code <= 0xDFFF
                            else chr(code))
                elif nbytes == 4:
                    try:
                        text = code.to_bytes(4, "big").decode("utf-16-be")
                    except (UnicodeDecodeError, OverflowError):
                        text = REPLACEMENT
            if text is None and self.gid_to_uni:
                # CIDToGIDMap: explicit stream map, else Identity (gid==cid)
                gid = (self.cid_to_gid.get(cid, 0)
                       if self.cid_to_gid is not None else cid)
                text = self.gid_to_uni.get(gid)
            if text is None:
                text = REPLACEMENT
            w = self.cid_widths.get(cid, self.default_width)
            # word spacing applies only to single-byte code 32 (spec §9.3.3)
            out.append(Glyph(
                code, text, w, nbytes == 1 and code == 32,
                cva.get(cid, va) if cva else va,
            ))
        return out

    def _simple_width(self, code: int) -> float:
        idx = code - self.first_char
        if 0 <= idx < len(self.widths):
            return float(self.widths[idx])
        return self.default_width

    def _codec_width(self, ch: str) -> float:
        """Width under a legacy codec CMap: the decoded char routes
        through the EMBEDDED font's cmap (unicode→gid) and hmtx
        (gid→advance) when FontFile2 is present — /W can't apply (it is
        CID-indexed and codec decode yields Unicode). Glyphs past
        numberOfHMetrics reuse the last advance (sfnt hmtx contract);
        no embedded metrics → /DW as before."""
        adv = self.gid_advances
        if adv and ch:
            gid = self.uni_to_gid.get(ord(ch[0]))
            if gid is not None:
                return adv[gid] if gid < len(adv) else adv[-1]
        return self.default_width


def default_font() -> Font:
    """Pinned policy: text shown with no /Tf decodes as WinAnsi."""
    f = Font()
    f.subtype = "none"
    f.encoding_map = dict(BASE_ENCODINGS["WinAnsiEncoding"])
    return f


_FONT_CACHE: Dict[tuple, Font] = {}
_FONT_CACHE_MAX = 1024


def load_font(doc, font_dict: dict) -> Font:
    """Build a Font from its dictionary (dispatch by /Subtype, reference:
    `src/font/mod.rs:103-122`). ``doc`` is a PdfDocument for resolution.

    Fonts whose dict is entirely primitive (no streams/references — e.g.
    base-14 with a named encoding, the dominant case in web corpora) are
    cached process-wide: the decode tables build once per worker, not once
    per document (executor-global singleton tactic, SURVEY.md §4)."""
    key = None
    if all(isinstance(v, (str, Name, int, float, bool)) for v in font_dict.values()):
        key = tuple(sorted((k, str(v)) for k, v in font_dict.items()))
        cached = _FONT_CACHE.get(key)
        if cached is not None:
            return cached
    f = _load_font_uncached(doc, font_dict)
    if key is not None and len(_FONT_CACHE) < _FONT_CACHE_MAX:
        _FONT_CACHE[key] = f
    return f


def _load_font_uncached(doc, font_dict: dict) -> Font:
    f = Font()
    res = doc.resolve
    f.subtype = str(res(font_dict.get("Subtype")) or "")
    tu = res(font_dict.get("ToUnicode"))
    if isinstance(tu, Stream):
        try:
            f.tounicode = ToUnicodeCMap.parse(doc.decode(tu))
        except PdfError:
            f.tounicode = None
    if f.subtype == "Type0":
        f.is_type0 = True
        _load_type0(doc, font_dict, f)
    else:
        _load_simple(doc, font_dict, f)
    return f


def _load_simple(doc, font_dict: dict, f: Font) -> None:
    res = doc.resolve
    # base encoding + /Differences (reference: `src/font/encoding.rs:56-121`)
    enc = res(font_dict.get("Encoding"))
    base = STANDARD_ENCODING
    diffs_map: Dict[int, str] = {}
    if enc is None or (
        isinstance(enc, dict) and res(enc.get("BaseEncoding")) is None
    ):
        # §9.6.6.1: with no /Encoding OR an /Encoding dict lacking
        # /BaseEncoding, the font's BUILT-IN encoding is the base: parse
        # it from the embedded program — Type1 cleartext (FN7-lite) or
        # CFF/Type1C charset+encoding (FN9-lite); both VMs stay unported
        builtin = _builtin_encoding(doc, res(font_dict.get("FontDescriptor")))
        if builtin:
            base = dict(STANDARD_ENCODING)
            base.update(builtin)
    if isinstance(enc, (str, Name)):
        base = BASE_ENCODINGS.get(str(enc), STANDARD_ENCODING)
    elif isinstance(enc, dict):
        be = res(enc.get("BaseEncoding"))
        if isinstance(be, (str, Name)):
            base = BASE_ENCODINGS.get(str(be), STANDARD_ENCODING)
        diffs = res(enc.get("Differences"))
        if isinstance(diffs, list):
            code = 0
            for item in diffs:
                item = res(item)
                if isinstance(item, (int, float)):
                    code = int(item)
                elif isinstance(item, (str, Name)):
                    uni = glyph_name_to_unicode(str(item))
                    if uni is not None:
                        diffs_map[code] = uni
                    code += 1
    f.encoding_map = dict(base)
    f.encoding_map.update(diffs_map)
    # widths (FN11: `src/font/mod.rs:176-229`)
    fc = res(font_dict.get("FirstChar"))
    widths = res(font_dict.get("Widths"))
    desc = res(font_dict.get("FontDescriptor"))
    if isinstance(fc, (int, float)) and isinstance(widths, list):
        f.first_char = int(fc)
        f.widths = [float(res(w) or 0) for w in widths]
    elif not f.widths:
        # unembedded base-14 (or metric twin) without /Widths: AFM
        # default metrics (reference alias table `src/font/mod.rs:53-97`)
        from pdfspark.kernel.base14 import base14_widths

        bw = base14_widths(
            str(res(font_dict.get("BaseFont")) or ""), f.encoding_map,
            default=f.default_width,
        )
        if bw is None and isinstance(desc, dict):
            # embedded Type1 without /Widths: hsbw/sbw advance scan of
            # the eexec-decrypted /CharStrings (kernel/type1.py — no VM);
            # FontFile3/Type1C twin: Type2 leading-width-operand scan
            t1w = _type1_widths_by_name(doc, desc)
            if not t1w:
                t1w = _cff_widths_by_name(doc, desc)
            if t1w:
                uni_w = {}
                for nm, w in t1w.items():
                    uni = glyph_name_to_unicode(nm)
                    if uni is not None:
                        uni_w.setdefault(uni, w)
                bw = [
                    uni_w.get(f.encoding_map.get(c), f.default_width)
                    for c in range(256)
                ]
        if bw is not None:
            f.first_char = 0
            f.widths = bw
    if isinstance(desc, dict):
        mw = res(desc.get("MissingWidth"))
        if isinstance(mw, (int, float)):
            f.default_width = float(mw)
        _load_embedded_ttf(doc, desc, f)
    # Type3: CharProcs glyphs; the text path is Differences+ToUnicode, and
    # widths live in glyph space scaled by FontMatrix (`src/font/type3.rs`)
    if f.subtype == "Type3":
        fm = res(font_dict.get("FontMatrix"))
        if isinstance(fm, list) and len(fm) >= 4 and f.widths:
            scale = float(res(fm[0]) or 0.001) * 1000.0
            f.widths = [w * scale for w in f.widths]


def _builtin_encoding(doc, descriptor) -> Dict[int, str]:
    """Built-in encoding of the embedded font program: Type1 (FontFile
    cleartext) or CFF/Type1C (FontFile3), memoized per stream objnum."""
    if not isinstance(descriptor, dict):
        return {}
    t1 = _type1_builtin_encoding(doc, descriptor)
    if t1:
        return t1
    ff3 = doc.resolve(descriptor.get("FontFile3"))
    if not isinstance(ff3, Stream):
        return {}
    cache = getattr(doc, "_t1enc_cache", None)
    if cache is None:
        cache = doc._t1enc_cache = {}
    key = ("cff", ff3.objnum)
    hit = cache.get(key)
    if hit is not None:
        return hit
    out: Dict[int, str] = {}
    try:
        from pdfspark.kernel.cff import parse_cff_code_to_name

        names = parse_cff_code_to_name(doc.decode(ff3))
        for code, nm in names.items():
            uni = glyph_name_to_unicode(nm)
            if uni is not None:
                out[code] = uni
    except PdfError:
        pass
    cache[key] = out
    return out


def _type1_widths_by_name(doc, descriptor) -> Dict[str, float]:
    """Memoized glyph-name→advance map of an embedded Type1 FontFile
    (kernel/type1.py hsbw scan; reference would run the charstring VM,
    `src/font/type1/*`)."""
    ff = doc.resolve(descriptor.get("FontFile"))
    if not isinstance(ff, Stream):
        return {}
    cache = getattr(doc, "_t1w_cache", None)
    if cache is None:
        cache = doc._t1w_cache = {}
    hit = cache.get(ff.objnum)
    if hit is not None:
        return hit
    out: Dict[str, float] = {}
    try:
        from pdfspark.kernel.type1 import parse_type1_widths

        out = parse_type1_widths(doc.decode(ff))
    except PdfError:
        pass
    cache[ff.objnum] = out
    return out


def _cff_widths_by_name(doc, descriptor) -> Dict[str, float]:
    """Memoized glyph-name→advance map of an embedded CFF/Type1C
    FontFile3 (Type2 width operand + Private defaultWidthX/nominalWidthX
    — the charstring VM stays unported)."""
    ff = doc.resolve(descriptor.get("FontFile3"))
    if not isinstance(ff, Stream):
        return {}
    cache = getattr(doc, "_cffw_cache", None)
    if cache is None:
        cache = doc._cffw_cache = {}
    hit = cache.get(ff.objnum)
    if hit is not None:
        return hit
    out: Dict[str, float] = {}
    try:
        from pdfspark.kernel.cff import parse_cff_widths

        out = parse_cff_widths(doc.decode(ff))
    except PdfError:
        pass
    cache[ff.objnum] = out
    return out


_T1_ENC_ENTRY = re.compile(rb"dup\s+(\d{1,3})\s*/([^\s/{}\[\]()<>]+)\s+put")


def _type1_builtin_encoding(doc, descriptor) -> Dict[int, str]:
    """FN7-lite: read ``dup <code> /<name> put`` entries from the
    cleartext portion (before ``eexec``) of an embedded Type1 program —
    enough to recover custom built-in encodings without the PostScript
    interpreter (reference runs the full VM, `src/postscript/*`).

    The scan stops at the Encoding array's terminating ``def`` so later
    dup/put constructs in the cleartext aren't misattributed; parse
    results are memoized per (doc, FontFile objnum) — multi-page docs
    must not re-inflate the font program per page."""
    if not isinstance(descriptor, dict):
        return {}
    ff = doc.resolve(descriptor.get("FontFile"))
    if not isinstance(ff, Stream):
        return {}
    cache = getattr(doc, "_t1enc_cache", None)
    if cache is None:
        cache = doc._t1enc_cache = {}
    key = ff.objnum
    hit = cache.get(key)
    if hit is not None:
        return hit
    out: Dict[int, str] = {}
    try:
        data = doc.decode(ff)
    except PdfError:
        cache[key] = out
        return out
    cleartext = data.split(b"eexec", 1)[0]
    enc_idx = cleartext.find(b"/Encoding")
    if enc_idx != -1:
        # standalone 'def' token ends the array ('.notdef' must not match)
        m_end = re.search(rb"(?<![A-Za-z.])def\b", cleartext[enc_idx:])
        end = enc_idx + m_end.start() if m_end else len(cleartext)
        section = cleartext[enc_idx:end]
        for m in _T1_ENC_ENTRY.finditer(section):
            code = int(m.group(1))
            uni = glyph_name_to_unicode(m.group(2).decode("latin-1"))
            if 0 <= code < 256 and uni is not None:
                out[code] = uni
    if not out and enc_idx != -1:
        # PROGRAMMATIC encoding (for loops / conditionals build the
        # array — no literal dup/put entries to scan): run the bounded
        # PostScript interpreter the way the reference runs its full VM
        # (`src/postscript/interpreter.rs`); soft-fails to {}
        from pdfspark.kernel.postscript import encoding_from_program

        names = encoding_from_program(cleartext)
        if names:
            for code, nm in names.items():
                uni = glyph_name_to_unicode(nm)
                if 0 <= code < 256 and uni is not None:
                    out[code] = uni
    cache[key] = out
    return out


def _load_type0(doc, font_dict: dict, f: Font) -> None:
    res = doc.resolve
    enc = res(font_dict.get("Encoding"))
    if isinstance(enc, (str, Name)):
        name = str(enc)
        # every predefined V CMap is its H sibling + writing mode 1
        # (`src/font/cjk.rs:1-190` carries both variants per family)
        if name.endswith("-V") or name == "V":
            f.wmode = 1
        if name in ("Identity-H", "Identity-V"):
            f.cid_cmap = CidCMap.identity_2byte()
        else:
            m = _UNICODE_CMAP.match(name)
            if m:
                # Uni*-UCS2 / Uni*-UTF16 families: code units are Unicode,
                # decodable WITHOUT Adobe's code→CID tables
                # (`src/font/cjk.rs:35-145`)
                f.cid_cmap = CidCMap.unicode_bmp(utf16=m.group(2) == "UTF16")
                f.unicode_codes = True
            elif _cjk_codec_for(name):
                # legacy predefined CJK CMap (GBK-EUC, 90ms-RKSJ, B5pc,
                # KSC-EUC, …): code bytes are a national-standard text
                # encoding — decode via the stdlib codec (full text;
                # widths fall back to /DW, see _decode_codec)
                f.codec_cmap = _cjk_codec_for(name)
                f.cid_cmap = CidCMap.identity_2byte()
            else:
                # truly table-bound (GBT-EUC, Katakana/Roman/WP-Symbol)
                # or unknown name: byte→CID tables aren't shipped — flag
                f.cid_cmap = CidCMap.identity_2byte()
                if f.tounicode is None:
                    f.error = "predefined-cmap"
    elif isinstance(enc, Stream):
        wm = res(enc.dict.get("WMode"))
        if isinstance(wm, (int, float)) and int(wm) == 1:
            f.wmode = 1
        try:
            f.cid_cmap = CidCMap.parse(doc.decode(enc))
        except PdfError:
            f.cid_cmap = CidCMap.identity_2byte()
    else:
        f.cid_cmap = CidCMap.identity_2byte()
    # descendant font: widths + embedded program + CIDToGIDMap
    desc_fonts = res(font_dict.get("DescendantFonts"))
    f.default_width = 1000.0
    if isinstance(desc_fonts, list) and desc_fonts:
        df = res(desc_fonts[0])
        if isinstance(df, dict):
            dw = res(df.get("DW"))
            if isinstance(dw, (int, float)):
                f.default_width = float(dw)
            # DW2 = [position-vector vy, displacement w1y]; only the
            # displacement drives vertical layout (default −1000)
            dw2 = res(df.get("DW2"))
            if (isinstance(dw2, list) and len(dw2) >= 2
                    and isinstance(dw2[1], (int, float))):
                f.v_advance = float(dw2[1])
            f.cid_v_advances = _parse_cid_v_metrics(doc, res(df.get("W2")))
            f.cid_widths = _parse_cid_widths(doc, res(df.get("W")))
            fd = res(df.get("FontDescriptor"))
            if isinstance(fd, dict):
                _load_embedded_ttf(doc, fd, f)
            # CIDToGIDMap stream: 2 bytes big-endian per CID (the
            # reference asserts Identity only, `src/render/mod.rs:1205`)
            c2g = res(df.get("CIDToGIDMap"))
            if isinstance(c2g, Stream):
                try:
                    data = doc.decode(c2g)
                    f.cid_to_gid = {
                        cid: int.from_bytes(data[2 * cid : 2 * cid + 2], "big")
                        for cid in range(len(data) // 2)
                    }
                except PdfError:
                    pass


def _parse_cid_widths(doc, w) -> Dict[int, float]:
    """CID /W array: ``c [w1 w2 …]`` or ``cfirst clast w``
    (reference: `src/font/cid.rs:130-182`)."""
    out: Dict[int, float] = {}
    if not isinstance(w, list):
        return out
    res = doc.resolve
    i = 0
    while i < len(w):
        c = res(w[i])
        if not isinstance(c, (int, float)):
            break
        if i + 1 < len(w):
            nxt = res(w[i + 1])
            if isinstance(nxt, list):
                for k, wid in enumerate(nxt):
                    wid = res(wid)
                    if isinstance(wid, (int, float)):
                        out[int(c) + k] = float(wid)
                i += 2
                continue
            if isinstance(nxt, (int, float)) and i + 2 < len(w):
                wid = res(w[i + 2])
                if isinstance(wid, (int, float)) and int(nxt) - int(c) <= 0x10000:
                    for cid in range(int(c), int(nxt) + 1):
                        out[cid] = float(wid)
                i += 3
                continue
        break
    return out


def _parse_cid_v_metrics(doc, w2) -> Dict[int, float]:
    """CID /W2 vertical-metrics array (PDF 9.7.4.3; the reference
    parses the field but never applies it — `src/font/cid.rs:86-92`):
    ``c [w1y₁ vx₁ vy₁ w1y₂ vx₂ vy₂ …]`` assigns one TRIPLE per
    consecutive CID starting at c, or ``cfirst clast w1y vx vy``
    assigns one triple to a whole range. Only w1y — the vertical
    displacement — drives text layout (extract policy #7); the
    position vector (vx, vy) places the outline, a pixels-only
    concern. Range length is capped like /W; a trailing partial
    triple is ignored (malformed tails degrade, never raise)."""
    out: Dict[int, float] = {}
    if not isinstance(w2, list):
        return out
    res = doc.resolve
    i = 0
    while i < len(w2):
        c = res(w2[i])
        if not isinstance(c, (int, float)):
            break
        if i + 1 < len(w2):
            nxt = res(w2[i + 1])
            if isinstance(nxt, list):
                for k in range(0, len(nxt) - 2, 3):
                    w1y = res(nxt[k])
                    if isinstance(w1y, (int, float)):
                        out[int(c) + k // 3] = float(w1y)
                i += 2
                continue
            if isinstance(nxt, (int, float)) and i + 4 < len(w2):
                w1y = res(w2[i + 2])
                if (isinstance(w1y, (int, float))
                        and int(nxt) - int(c) <= 0x10000):
                    for cid in range(int(c), int(nxt) + 1):
                        out[cid] = float(w1y)
                i += 5
                continue
        break
    return out


def _load_embedded_ttf(doc, descriptor: dict, f: Font) -> None:
    """FN4/FN5-lite: parse only the cmap table of an embedded TrueType
    program, build code→gid and the gid→unicode inversion used when no
    ToUnicode exists (SURVEY.md FN4 mapping)."""
    res = doc.resolve
    ff = res(descriptor.get("FontFile2")) or res(descriptor.get("FontFile3"))
    if not isinstance(ff, Stream):
        return
    try:
        data = doc.decode(ff)
    except PdfError:
        return
    subtables = parse_ttf_cmap_subtables(data)
    # unicode source: (3,10) Microsoft UCS-4 (format 12) ⊇ (3,1) BMP,
    # else (0,*) Unicode platform
    uni_table = subtables.get((3, 10)) or subtables.get((3, 1))
    if uni_table is None:
        for (plat, _enc), t in subtables.items():
            if plat == 0:
                uni_table = t
                break
    if uni_table:
        inv: Dict[int, str] = {}
        for code, gid in uni_table.items():
            inv.setdefault(gid, chr(code))
        f.gid_to_uni = inv
        f.uni_to_gid = dict(uni_table)
    elif f.tounicode is None:
        # LAST-RESORT text source (SURVEY FN5 optional; the reference
        # never reads 'post'): symbolic fonts with no Unicode cmap —
        # post-2.0 glyph names route gid→name→AGL→Unicode
        names = parse_ttf_post_names(data)
        if names:
            post_inv: Dict[int, str] = {}
            for gid, nm in names.items():
                uni = glyph_name_to_unicode(nm)
                if uni is not None:
                    post_inv.setdefault(gid, uni)
            f.gid_to_uni = post_inv
            if not subtables:
                # no cmap AT ALL (common in subset embeds): the only
                # remaining code→glyph assumption is identity
                f.code_to_gid = {g: g for g in names if g < 256}
    if not subtables:
        return
    # code source for simple symbolic fonts: (1,0) or (3,0)
    code_table = subtables.get((1, 0)) or subtables.get((3, 0)) or uni_table
    if code_table:
        f.code_to_gid = dict(code_table)
    # real per-glyph advances (FN11 upgrade, VERDICT r3 next #4): under a
    # codec CMap the /W array cannot be consulted (CID-indexed), but the
    # embedded program's own cmap+hmtx gives unicode→gid→advance
    metrics = parse_ttf_hmetrics(data)
    if metrics:
        advances, upem = metrics
        scale = 1000.0 / upem
        f.gid_advances = [a * scale for a in advances]
