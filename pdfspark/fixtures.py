"""Deterministic synthetic PDF corpus (FIXTURES.md §2).

Every case is a minimal PDF assembled byte-by-byte (no PDF library), with
its expected extracted text fixed alongside — the corpus-regression suite
the reference lacks in-tree (SURVEY.md §5). Generation is pure-functional:
same inputs ⇒ same bytes, no randomness, no clocks.

Also provides encoders for the filters we decode (PNG predictors, LZW,
RunLength, ASCIIHex/85) so the decoders are tested against independently
produced data, and a minimal sfnt/TTF builder for the cmap-fallback case.
"""

from __future__ import annotations

import struct
import zlib
from typing import Dict, List, NamedTuple, Optional, Tuple


class Case(NamedTuple):
    case_id: str
    pdf: bytes
    expected_text: Optional[str]
    expected_error: Optional[str]
    expected_pages: int
    expected_annots: Optional[str] = None  # "\n"-joined, None = no annots


# ------------------------------------------------------------------ writer

_HEADER = b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n"
_FREE = b"0000000000 65535 f \n"


def _object_parts(objects) -> Tuple[list, Dict[int, int], int]:
    """Header plus each ``(num, body)`` pair as ``num 0 obj``, in the
    given order: the byte parts, every object's offset, and the end
    offset."""
    parts = [_HEADER]
    offsets: Dict[int, int] = {}
    pos = len(_HEADER)
    for num, body in objects:
        head = b"%d 0 obj\n" % num
        offsets[num] = pos
        parts += (head, body, b"\nendobj\n")
        pos += len(head) + len(body) + 8
    return parts, offsets, pos


def write_pdf(objects, root: int, trailer_extra: str = "") -> bytes:
    """The one classic-xref PDF writer (golden corpus and docgen alike):
    ``(num, body)`` pairs serialized in the CALLER's order, then an xref
    table over 0..max(num) with a free entry for every missing number,
    then the trailer (``trailer_extra`` goes after /Root)."""
    parts, offsets, xref_off = _object_parts(objects)
    size = max(offsets) + 1
    parts.append(b"xref\n0 %d\n" % size + _FREE)
    parts += [b"%010d 00000 n \n" % offsets[n] if n in offsets else _FREE
              for n in range(1, size)]
    parts.append(b"trailer\n<< /Size %d /Root %d 0 R%s >>\n"
                 b"startxref\n%d\n%%%%EOF\n"
                 % (size, root, trailer_extra.encode(), xref_off))
    return b"".join(parts)


def stream_object(dict_src: str, data: bytes) -> bytes:
    """Stream object body: ``dict_src`` with /Length appended last."""
    d = dict_src.strip()
    assert d.startswith("<<") and d.endswith(">>")
    return b"%s /Length %d >>\nstream\n%s\nendstream" % (
        d[:-2].rstrip().encode("latin-1"), len(data), data)


# ------------------------------------------------------------------ builder

class PdfBuilder:
    """Assemble a PDF from numbered object bodies.

    Supports classic xref tables, xref streams (W=[1 4 2]), object
    streams, and incremental updates — the S2-S8 surface of SURVEY.md.
    """

    def __init__(self) -> None:
        self.objects: Dict[int, bytes] = {}
        self._next = 1

    def add(self, body, num: Optional[int] = None) -> int:
        if isinstance(body, str):
            body = body.encode("latin-1")
        if num is None:
            num = self._next
        self.objects[num] = body
        self._next = max(self._next, num + 1)
        return num

    def add_stream(self, dict_src: str, data: bytes,
                   num: Optional[int] = None) -> int:
        return self.add(stream_object(dict_src, data), num)

    def build(self, root: int, use_xref_stream: bool = False,
              objstm: Optional[List[int]] = None,
              trailer_extra: str = "",
              free: Optional[List[int]] = None) -> bytes:
        """objstm: object numbers to pack into an object stream (forces
        xref-stream mode, since classic tables cannot express type-2
        entries). free: object numbers emitted as a linked type-0 free
        CHAIN in the xref stream (each points at the next, last at 0)."""
        compressed: Dict[int, Tuple[int, int]] = {}
        objstm = objstm or []
        if objstm:
            use_xref_stream = True
            container_num = max(self._next, max(self.objects) + 1)
            header = bytearray()
            payload = bytearray()
            for idx, onum in enumerate(objstm):
                header += f"{onum} {len(payload)} ".encode()
                payload += self.objects[onum] + b"\n"
                compressed[onum] = (container_num, idx)
            stm_data = zlib.compress(bytes(header) + bytes(payload))
            container_body = (
                b"<< /Type /ObjStm /N " + str(len(objstm)).encode()
                + b" /First " + str(len(header)).encode()
                + b" /Filter /FlateDecode /Length " + str(len(stm_data)).encode()
                + b" >>\nstream\n" + stm_data + b"\nendstream"
            )
            emit_nums = [n for n in sorted(self.objects) if n not in compressed]
            emit = [(n, self.objects[n]) for n in emit_nums]
            emit.append((container_num, container_body))
        else:
            emit = [(n, self.objects[n]) for n in sorted(self.objects)]
        if not use_xref_stream:
            return write_pdf(emit, root, trailer_extra)
        parts, offsets, _ = _object_parts(emit)
        out = bytearray(b"".join(parts))
        xref_num = max(list(offsets) + list(compressed)) + 1
        size = xref_num + 1
        rows = bytearray()
        index: List[int] = []
        entries = {}
        for n, off in offsets.items():
            entries[n] = (1, off, 0)
        for n, (cnum, idx) in compressed.items():
            entries[n] = (2, cnum, idx)
        entries[xref_num] = (1, len(out), 0)
        entries[0] = (0, 0, 65535)
        chain = list(free or [])
        for i, n in enumerate(chain):
            nxt = chain[i + 1] if i + 1 < len(chain) else 0
            entries[n] = (0, nxt, 1)
        for n in sorted(entries):
            t, a, b = entries[n]
            index += [n, 1]
            rows += struct.pack(">B", t) + struct.pack(">I", a) + struct.pack(">H", b)
        data = zlib.compress(bytes(rows))
        idx_str = " ".join(str(i) for i in index)
        xref_off = len(out)
        out += (
            f"{xref_num} 0 obj\n<< /Type /XRef /W [1 4 2] /Index [{idx_str}]"
            f" /Size {size} /Root {root} 0 R{trailer_extra}"
            f" /Filter /FlateDecode /Length {len(data)} >>\nstream\n"
        ).encode() + data + b"\nendstream\nendobj\n"
        out += f"startxref\n{xref_off}\n%%EOF\n".encode()
        return bytes(out)


def append_update(base: bytes, objects: Dict[int, bytes], root: int) -> bytes:
    """Incremental update: append objects + a classic xref with /Prev
    (fixture t09; reference merge: `src/xref/mod.rs:57-62`). An object
    whose body is None is marked FREE (deleted) in the update table."""
    prev_off = int(base[base.rfind(b"startxref") + 9 :].split()[0])
    out = bytearray(base)
    offsets = {}
    for num in sorted(objects):
        if objects[num] is None:
            continue
        offsets[num] = len(out)
        body = objects[num]
        if isinstance(body, str):
            body = body.encode("latin-1")
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n"
    for num in sorted(objects):
        out += f"{num} 1\n".encode()
        if objects[num] is None:
            out += b"0000000000 65535 f \n"
        else:
            out += f"{offsets[num]:010d} 00000 n \n".encode()
    size = max(objects) + 1
    out += (
        f"trailer\n<< /Size {size} /Root {root} 0 R /Prev {prev_off} >>\n"
        f"startxref\n{xref_off}\n%%EOF\n"
    ).encode()
    return bytes(out)


# ----------------------------------------------------------------- encoders

def png_predict_encode(data: bytes, columns: int, ftype: int = 2) -> bytes:
    """Apply a PNG row filter (encoder side) so the decoder's predictor
    undo is exercised; rows of ``columns`` bytes, bpp=1."""
    out = bytearray()
    prev = bytes(columns)
    for r in range(0, len(data), columns):
        row = data[r : r + columns].ljust(columns, b"\x00")
        out.append(ftype)
        for i in range(columns):
            left = row[i - 1] if i > 0 else 0
            up = prev[i]
            ul = prev[i - 1] if i > 0 else 0
            if ftype == 0:
                out.append(row[i])
            elif ftype == 1:
                out.append((row[i] - left) & 0xFF)
            elif ftype == 2:
                out.append((row[i] - up) & 0xFF)
            elif ftype == 3:
                out.append((row[i] - ((left + up) >> 1)) & 0xFF)
            elif ftype == 4:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                out.append((row[i] - pred) & 0xFF)
        prev = row
    return bytes(out)


def lzw_encode(data: bytes) -> bytes:
    """Independent PDF-LZW encoder (EarlyChange=1) for decoder tests."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    bits: List[Tuple[int, int]] = [(256, 9)]  # start with Clear
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
        else:
            bits.append((table[w], width))
            table[wc] = next_code
            next_code += 1
            # EarlyChange=1: widen one code early
            if next_code + 1 >= (1 << width) and width < 12:
                width += 1
            w = bytes([ch])
    if w:
        bits.append((table[w], width))
    bits.append((257, width))
    out = bytearray()
    bitbuf = 0
    nbits = 0
    for code, wdt in bits:
        bitbuf = (bitbuf << wdt) | code
        nbits += wdt
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def runlength_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and data[i + run] == data[i] and run < 127:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i + 1
            while (
                j < n
                and (j + 1 >= n or data[j] != data[j + 1])
                and j - i < 127
            ):
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    out.append(128)
    return bytes(out)


def build_minimal_ttf(uni_to_gid: Dict[int, int],
                      sym_to_gid: Optional[Dict[int, int]] = None,
                      fmt12_to_gid: Optional[Dict[int, int]] = None,
                      raw_subtables: Optional[list] = None,
                      hmtx_advances: Optional[list] = None,
                      units_per_em: int = 1000,
                      post_names: Optional[list] = None) -> bytes:
    """Minimal sfnt with only a 'cmap' table: a (3,1) format-4 subtable for
    ``uni_to_gid``, optionally a (3,0) format-6 symbol subtable, and
    optionally a (3,10) format-12 segmented-coverage subtable
    (``fmt12_to_gid`` may hold supplementary-plane codes). With
    ``uni_to_gid`` empty and ``fmt12_to_gid`` set, the font is
    format-12-only. Enough for the FN4 fallback path (fixtures t17/t40).

    ``hmtx_advances`` additionally emits head/hhea/hmtx tables (advance
    per gid in ``units_per_em`` units) — the metrics source for the
    embedded-width path of legacy-CJK codec CMaps (FN11 upgrade)."""
    # format 4 for (3,1): one segment per code + terminator
    codes = sorted(uni_to_gid)
    segs = [(c, c, uni_to_gid[c]) for c in codes] + [(0xFFFF, 0xFFFF, 0)]
    seg_count = len(segs)
    f4 = bytearray()
    f4 += struct.pack(">HHH", 4, 0, 0)  # format, length (patched), language
    f4 += struct.pack(">HHHH", seg_count * 2, 0, 0, 0)
    f4 += b"".join(struct.pack(">H", e) for _, e, _ in [(s, e, g) for s, e, g in segs])
    f4 += struct.pack(">H", 0)  # reservedPad
    f4 += b"".join(struct.pack(">H", s) for s, _, _ in segs)
    f4 += b"".join(
        struct.pack(">H", (g - s) & 0xFFFF if g else 1) for s, _, g in segs
    )
    f4 += b"".join(struct.pack(">H", 0) for _ in segs)  # idRangeOffset
    struct.pack_into(">H", f4, 2, len(f4))
    subtables = [(3, 1, bytes(f4))] if uni_to_gid else []
    if fmt12_to_gid:
        groups = [(c, c, g) for c, g in sorted(fmt12_to_gid.items())]
        f12 = struct.pack(">HHIII", 12, 0, 16 + 12 * len(groups), 0,
                          len(groups))
        f12 += b"".join(struct.pack(">III", s, e, g) for s, e, g in groups)
        subtables.append((3, 10, f12))
    if sym_to_gid:
        first = min(sym_to_gid)
        count = max(sym_to_gid) - first + 1
        f6 = struct.pack(">HHHHH", 6, 10 + 2 * count, 0, first, count)
        f6 += b"".join(
            struct.pack(">H", sym_to_gid.get(first + k, 0)) for k in range(count)
        )
        subtables.append((3, 0, f6))
    if raw_subtables:
        # arbitrary pre-encoded (platformID, encodingID, blob) subtables —
        # used by the cmap format-2/8/10 and bomb-guard tests
        subtables.extend(raw_subtables)
    cmap = bytearray(struct.pack(">HH", 0, len(subtables)))
    sub_off = 4 + 8 * len(subtables)
    blobs = bytearray()
    for plat, enc, blob in subtables:
        cmap += struct.pack(">HHI", plat, enc, sub_off + len(blobs))
        blobs += blob
    cmap += blobs
    tables = [(b"cmap", bytes(cmap))]
    if post_names is not None:
        # 'post' format 2.0: every name emitted as a custom (≥258)
        # Pascal string, indexed by gid
        post = bytearray(32)  # fixed header; numGlyphs follows at 32
        struct.pack_into(">I", post, 0, 0x00020000)
        post += struct.pack(">H", len(post_names))
        post += b"".join(
            struct.pack(">H", 258 + i) for i in range(len(post_names))
        )
        for nm in post_names:
            nb = nm.encode("latin-1")[:255]
            post += bytes([len(nb)]) + nb
        tables.append((b"post", bytes(post)))
    if hmtx_advances is not None:
        # head: unitsPerEm at offset 18; everything else zero/defaults
        head = bytearray(54)
        struct.pack_into(">I", head, 0, 0x00010000)  # version
        struct.pack_into(">I", head, 12, 0x5F0F3CF5)  # magicNumber
        struct.pack_into(">H", head, 18, units_per_em)
        # hhea: numberOfHMetrics at offset 34
        hhea = bytearray(36)
        struct.pack_into(">I", hhea, 0, 0x00010000)
        struct.pack_into(">H", hhea, 34, len(hmtx_advances))
        hmtx = b"".join(
            struct.pack(">Hh", adv & 0xFFFF, 0) for adv in hmtx_advances
        )
        tables += [(b"head", bytes(head)), (b"hhea", bytes(hhea)),
                   (b"hmtx", hmtx)]
    font = bytearray(struct.pack(">IHHHH", 0x00010000, len(tables), 16, 0, 0))
    data_off = 12 + 16 * len(tables)
    body = bytearray()
    for tag, blob in tables:
        font += struct.pack(">4sIII", tag, 0, data_off + len(body), len(blob))
        body += blob
    font += body
    return bytes(font)


# --------------------------------------------------------------- doc helper

_PAGE_RES_FONT = "<< /Font << {fonts} >> {extra} >>"


def make_doc(
    contents,
    fonts: Optional[Dict[str, str]] = None,
    font_streams: Optional[Dict[int, Tuple[str, bytes]]] = None,
    use_xref_stream: bool = False,
    objstm_page_objs: bool = False,
    res_extra: str = "",
    trailer_extra: str = "",
    content_is_array: bool = False,
) -> bytes:
    """Build an n-page doc. ``contents``: list of content-stream byte
    strings (or, with content_is_array, a list of lists). ``fonts``: map
    resource name -> font dict source (may reference ``font_streams`` by
    object number; those are added as numbered stream objects 50+)."""
    b = PdfBuilder()
    for num, (dsrc, data) in (font_streams or {}).items():
        b.add_stream(dsrc, data, num=num)
    font_entries = " ".join(
        f"/{name} {b.add(src)} 0 R" for name, src in (fonts or {}).items()
    )
    res = _PAGE_RES_FONT.format(fonts=font_entries, extra=res_extra)
    page_nums = []
    pages_num = 90  # fixed object number for the pages root
    if not isinstance(contents, list):
        contents = [contents]
    for content in contents:
        if content_is_array:
            cnums = [
                b.add_stream("<< >>", c if isinstance(c, bytes) else c.encode())
                for c in content
            ]
            cref = "[" + " ".join(f"{n} 0 R" for n in cnums) + "]"
        elif content is None:
            cref = None
        else:
            data = content if isinstance(content, bytes) else content.encode("latin-1")
            cref = f"{b.add_stream('<< >>', data)} 0 R"
        page_src = (
            f"<< /Type /Page /Parent {pages_num} 0 R /MediaBox [0 0 612 792] "
            f"/Resources {res} "
            + (f"/Contents {cref} " if cref else "")
            + ">>"
        )
        page_nums.append(b.add(page_src))
    kids = " ".join(f"{n} 0 R" for n in page_nums)
    b.add(
        f"<< /Type /Pages /Kids [{kids}] /Count {len(page_nums)} >>",
        num=pages_num,
    )
    root = b.add(f"<< /Type /Catalog /Pages {pages_num} 0 R >>", num=91)
    objstm = page_nums if objstm_page_objs else None
    return b.build(root, use_xref_stream=use_xref_stream, objstm=objstm,
                   trailer_extra=trailer_extra)


BASE14 = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
WINANSI = (
    "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    "/Encoding /WinAnsiEncoding >>"
)
MACROMAN = (
    "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    "/Encoding /MacRomanEncoding >>"
)

TOUNICODE_TEMPLATE = """/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
/CMapName /Custom def
/CMapType 2 def
1 begincodespacerange
{codespace}
endcodespacerange
{body}
endcmap
CMapName currentdict /CMap defineresource pop
end
end"""


def tounicode_stream(codespace: str, body: str) -> bytes:
    return TOUNICODE_TEMPLATE.format(codespace=codespace, body=body).encode(
        "latin-1"
    )


def _simple_show(text: str, font: str = "F1", x: int = 72, y: int = 720) -> str:
    esc = text.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
    return f"BT /{font} 12 Tf {x} {y} Td ({esc}) Tj ET"


def _cff_index(items):
    """CFF INDEX with offSize=2."""
    import struct as _s

    if not items:
        return _s.pack(">H", 0)
    offs = [1]
    for it in items:
        offs.append(offs[-1] + len(it))
    return (
        _s.pack(">HB", len(items), 2)
        + b"".join(_s.pack(">H", o) for o in offs)
        + b"".join(items)
    )


def t2_number(v: int) -> bytes:
    """Type2 charstring number encoding (spec §3.2)."""
    if -107 <= v <= 107:
        return bytes([v + 139])
    if 108 <= v <= 1131:
        v -= 108
        return bytes([247 + (v >> 8), v & 0xFF])
    if -1131 <= v <= -108:
        v = -v - 108
        return bytes([251 + (v >> 8), v & 0xFF])
    import struct as _s

    return b"\x1c" + _s.pack(">h", v)


def build_minimal_cff(code_to_name, glyph_widths=None,
                      default_width: int = 0,
                      nominal_width: int = 0) -> bytes:
    """Minimal CFF/Type1C program: Name + TopDICT + String + GSubr
    INDEXes, a format-0 Encoding, a format-0 charset, and stub
    charstrings — enough for the FN9-lite code→name path (fixture t35).
    ``code_to_name``: insertion order defines gid order (gid = i+1).
    ``glyph_widths``: optional name→width map — adds a Private DICT
    (defaultWidthX/nominalWidthX) and a leading width operand before
    each listed glyph's endchar (Type2 §3.1 width rule)."""
    import struct as _s

    from pdfspark.kernel.cff import STANDARD_STRINGS

    header = bytes([1, 0, 4, 2])
    name_idx = _cff_index([b"TestCFF"])
    string_items = []
    sids = []
    for nm in code_to_name.values():
        if nm in STANDARD_STRINGS:
            sids.append(STANDARD_STRINGS.index(nm))
        else:
            sids.append(391 + len(string_items))
            string_items.append(nm.encode("latin-1"))
    string_idx = _cff_index(string_items)
    gsubr_idx = _cff_index([])
    gw = glyph_widths or {}
    cs_list = [b"\x0e"]  # gid 0 .notdef
    for nm in code_to_name.values():
        if nm in gw:
            cs_list.append(t2_number(gw[nm] - nominal_width) + b"\x0e")
        else:
            cs_list.append(b"\x0e")
    charstrings = _cff_index(cs_list)
    encoding = bytes([0, len(code_to_name)]) + bytes(code_to_name.keys())
    charset = b"\x00" + b"".join(_s.pack(">H", s) for s in sids)

    def op_int32(v, op):
        return b"\x1d" + _s.pack(">i", v) + bytes([op])

    private = b""
    if glyph_widths is not None:
        private = op_int32(default_width, 20) + op_int32(nominal_width, 21)
    top_idx_len = (2 + 1 + 2 * 2) + 3 * 6 + (11 if private else 0)
    pos0 = len(header) + len(name_idx)
    string_pos = pos0 + top_idx_len
    gsubr_pos = string_pos + len(string_idx)
    enc_pos = gsubr_pos + len(gsubr_idx)
    charset_pos = enc_pos + len(encoding)
    cs_pos = charset_pos + len(charset)
    priv_pos = cs_pos + len(charstrings)
    top = (
        op_int32(charset_pos, 15)
        + op_int32(enc_pos, 16)
        + op_int32(cs_pos, 17)
    )
    if private:
        top += (b"\x1d" + _s.pack(">i", len(private))
                + b"\x1d" + _s.pack(">i", priv_pos) + bytes([18]))
    top_idx = _cff_index([top])
    assert len(top_idx) == top_idx_len, (len(top_idx), top_idx_len)
    return (
        header + name_idx + top_idx + string_idx + gsubr_idx
        + encoding + charset + charstrings + private
    )


def t1_number(v: int) -> bytes:
    """Type1 charstring number encoding (spec §6.2)."""
    if -107 <= v <= 107:
        return bytes([v + 139])
    if 108 <= v <= 1131:
        v -= 108
        return bytes([247 + (v >> 8), v & 0xFF])
    if -1131 <= v <= -108:
        v = -v - 108
        return bytes([251 + (v >> 8), v & 0xFF])
    return b"\xff" + v.to_bytes(4, "big", signed=True)


def build_minimal_type1(glyphs: Dict[str, int],
                        encoding: Dict[int, str],
                        hex_form: bool = False,
                        programmatic_encoding: bool = False) -> bytes:
    """Minimal full Type1 program: cleartext /Encoding (dup…put) +
    eexec-encrypted private section whose /CharStrings hold one
    ``sbx wx hsbw`` charstring per glyph (widths from ``glyphs``).
    Exercises both eexec ciphers end-to-end (fixture twin of
    kernel/type1.py)."""
    from pdfspark.kernel.type1 import eexec_encrypt

    if programmatic_encoding:
        # NO literal `dup <code> /<name> put` entries — the array is
        # built by direct `Encoding <code> /<name> put` statements the
        # regex scan cannot see; only the PostScript interpreter
        # recovers them (kernel/postscript.py fallback)
        enc_lines = "".join(
            f"Encoding {code} /{name} put\n"
            for code, name in sorted(encoding.items())
        )
        clear = (
            "%!FontType1-1.0: TestT1\n"
            "/FontName /TestT1 def\n"
            "/Encoding 256 array def\n"
            "0 1 255 { Encoding exch /.notdef put } for\n"
            f"{enc_lines}"
            "currentfile eexec\n"
        ).encode("latin-1")
    else:
        enc_lines = "".join(
            f"dup {code} /{name} put\n" for code, name in sorted(encoding.items())
        )
        clear = (
            "%!FontType1-1.0: TestT1\n"
            "/FontName /TestT1 def\n"
            "/Encoding 256 array\n"
            "0 1 255 {1 index exch /.notdef put} for\n"
            f"{enc_lines}"
            "readonly def\n"
            "currentdict end\n"
            "currentfile eexec\n"
        ).encode("latin-1")
    cs_entries = bytearray()
    for name, wx in sorted(glyphs.items()):
        plain = t1_number(0) + t1_number(wx) + b"\x0d"  # sbx wx hsbw
        enc_cs = eexec_encrypt(plain, r=4330, lead=b"salt")
        cs_entries += (
            f"/{name} {len(enc_cs)} RD ".encode("latin-1") + enc_cs + b" ND\n"
        )
    priv = (
        b"dup /Private 8 dict dup begin\n/lenIV 4 def\nend\n"
        b"/CharStrings " + str(len(glyphs)).encode() + b" dict dup begin\n"
        + bytes(cs_entries)
        + b"end\nend\nmark currentfile closefile\n"
    )
    enc_priv = eexec_encrypt(priv)
    if hex_form:
        enc_priv = enc_priv.hex().encode("ascii")
    return clear + enc_priv + b"\n" + b"0" * 512 + b"\ncleartomark\n"


def append_xref_stream_update(base: bytes, objects: Dict[int, bytes],
                              root: int,
                              xref_num: Optional[int] = None) -> bytes:
    """Incremental update whose cross-reference section is an XREF STREAM
    (PDF 1.5+ writers update this way; /Prev chains stream→stream or
    stream→classic). ``xref_num`` must not collide with live objects."""
    import struct as _s

    prev_off = int(base[base.rfind(b"startxref") + 9 :].split()[0])
    out = bytearray(base)
    offsets = {}
    for num in sorted(objects):
        body = objects[num]
        if isinstance(body, str):
            body = body.encode("latin-1")
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_num = xref_num or max(objects) + 100
    xref_off = len(out)
    entries = dict(offsets)
    entries[xref_num] = xref_off
    rows = bytearray()
    index: List[int] = []
    for n in sorted(entries):
        index += [n, 1]
        rows += _s.pack(">B", 1) + _s.pack(">I", entries[n]) + _s.pack(">H", 0)
    data = zlib.compress(bytes(rows))
    idx_str = " ".join(str(i) for i in index)
    size = max(entries) + 1
    out += (
        f"{xref_num} 0 obj\n<< /Type /XRef /W [1 4 2] /Index [{idx_str}]"
        f" /Size {size} /Root {root} 0 R /Prev {prev_off}"
        f" /Filter /FlateDecode /Length {len(data)} >>\nstream\n"
    ).encode() + data + b"\nendstream\nendobj\n"
    out += f"startxref\n{xref_off}\n%%EOF\n".encode()
    return bytes(out)
