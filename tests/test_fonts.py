"""Font/encoding layer: ToUnicode CMap interpreter (PDF 32000 §9.10.3),
base encodings, AGL name resolution, CID CMaps, TTF cmap parsing."""

from pdfspark.fixtures import build_minimal_ttf, tounicode_stream
from pdfspark.kernel.encodings_data import (
    MACROMAN_ENCODING,
    STANDARD_ENCODING,
    WINANSI_ENCODING,
    glyph_name_to_unicode,
)
from pdfspark.kernel.fonts import CidCMap, ToUnicodeCMap, parse_ttf_cmap_subtables


def test_tounicode_bfchar():
    cm = ToUnicodeCMap.parse(
        tounicode_stream("<00> <FF>", "2 beginbfchar\n<41> <0394>\n<42> <05D0>\nendbfchar")
    )
    assert cm.get(1, 0x41) == "Δ"
    assert cm.get(1, 0x42) == "א"
    assert cm.get(1, 0x43) is None


def test_tounicode_bfrange_increment_and_array():
    cm = ToUnicodeCMap.parse(
        tounicode_stream(
            "<0000> <FFFF>",
            "2 beginbfrange\n"
            "<0041> <0043> <03B1>\n"
            "<0050> <0051> [<D835DC00> <00660066>]\n"
            "endbfrange",
        )
    )
    assert cm.get(2, 0x41) == "α"
    assert cm.get(2, 0x43) == "γ"
    assert cm.get(2, 0x50) == "\U0001D400"  # surrogate pair target
    assert cm.get(2, 0x51) == "ff"  # multi-char target


def test_cid_cmap_identity_split():
    cm = CidCMap.identity_2byte()
    assert cm.split_codes(b"\x00A\x00B") == [(2, 0x41), (2, 0x42)]
    assert cm.cid(2, 0x41) == 0x41


def test_cid_cmap_parse_mixed_codespace():
    src = (
        b"2 begincodespacerange\n<00> <7F>\n<8140> <9FFC>\nendcodespacerange\n"
        b"1 begincidrange\n<8140> <8150> 1000\nendcidrange\n"
        b"1 begincidchar\n<41> 65\nendcidchar\n"
    )
    cm = CidCMap.parse(src)
    codes = cm.split_codes(b"\x41\x81\x40")
    assert codes == [(1, 0x41), (2, 0x8140)]
    assert cm.cid(1, 0x41) == 65
    assert cm.cid(2, 0x8140) == 1000


def test_base_encodings():
    assert STANDARD_ENCODING[0x41] == "A"
    assert STANDARD_ENCODING[0x27] == "’"  # quoteright substitution
    assert WINANSI_ENCODING[0x93] == "“"
    assert WINANSI_ENCODING[0xE9] == "é"
    assert MACROMAN_ENCODING[0x8E] == "é"
    assert 0x81 not in WINANSI_ENCODING  # undefined codes absent


def test_glyph_names():
    assert glyph_name_to_unicode("eacute") == "é"
    assert glyph_name_to_unicode("bullet") == "•"
    assert glyph_name_to_unicode("uni0394") == "Δ"
    assert glyph_name_to_unicode("uni00660066") == "ff"
    assert glyph_name_to_unicode("u1D400") == "\U0001D400"
    assert glyph_name_to_unicode("Odieresis") == "Ö"
    assert glyph_name_to_unicode("a") == "a"
    assert glyph_name_to_unicode("nosuchglyphname") is None


def test_ttf_cmap_formats():
    ttf = build_minimal_ttf({0x48: 5, 0x69: 6}, sym_to_gid={0x01: 5})
    subs = parse_ttf_cmap_subtables(ttf)
    assert subs[(3, 1)] == {0x48: 5, 0x69: 6}
    assert subs[(3, 0)] == {0x01: 5}


def test_cff_code_to_name_roundtrip():
    from pdfspark.fixtures import build_minimal_cff
    from pdfspark.kernel.cff import parse_cff_code_to_name

    cff = build_minimal_cff({65: "eacute", 66: "bullet", 67: "customname"})
    got = parse_cff_code_to_name(cff)
    assert got == {65: "eacute", 66: "bullet", 67: "customname"}


def test_cff_garbage_returns_empty():
    from pdfspark.kernel.cff import parse_cff_code_to_name

    assert parse_cff_code_to_name(b"") == {}
    assert parse_cff_code_to_name(b"\x01\x00\x04\x02" + bytes(40)) == {}
    assert parse_cff_code_to_name(bytes(range(256))) == {}


def test_ttf_cmap_format12_supplementary_plane():
    from pdfspark.fixtures import build_minimal_ttf

    ttf = build_minimal_ttf({}, fmt12_to_gid={0x48: 5, 0x1F600: 7})
    subs = parse_ttf_cmap_subtables(ttf)
    assert (3, 10) in subs
    assert subs[(3, 10)] == {0x48: 5, 0x1F600: 7}


def test_ttf_cmap_unknown_formats_skipped():
    """Truncated/garbage subtables must not crash the subtable walk."""
    import struct

    from pdfspark.fixtures import build_minimal_ttf

    ttf = bytearray(build_minimal_ttf({0x41: 3}))
    # append a bogus (1,0) entry pointing at a truncated format-8 header
    assert parse_ttf_cmap_subtables(bytes(ttf))  # sanity
    f8 = struct.pack(">HHI", 8, 0, 16) + b"\x00" * 16
    subs = parse_ttf_cmap_subtables(bytes(ttf) + f8)
    assert (3, 1) in subs


def _fmt2_blob() -> bytes:
    """Format-2 high-byte subtable: byte 0x41 -> gid 7 via subHeader 0,
    two-byte code 0x8140 -> gid 9 via subHeader 1 (high byte 0x81)."""
    import struct

    keys = [0] * 256
    keys[0x81] = 8  # subHeader index 1
    # subHeader 0: firstCode=0x41 entryCount=1, subHeader 1: firstCode=0x40
    # glyphIndexArray sits right after the two subHeaders
    sub0_ro_field = 6 + 512 + 6           # offset of subHeader0.idRangeOffset
    sub1_ro_field = 6 + 512 + 8 + 6
    gia = 6 + 512 + 16                    # glyphIndexArray offset
    sub0 = struct.pack(">HHhH", 0x41, 1, 0, gia - sub0_ro_field)
    sub1 = struct.pack(">HHhH", 0x40, 1, 0, gia + 2 - sub1_ro_field)
    body = struct.pack(">256H", *keys) + sub0 + sub1 + struct.pack(">HH", 7, 9)
    return struct.pack(">HHH", 2, 6 + len(body), 0) + body


def test_ttf_cmap_format2_high_byte_mapping():
    from pdfspark.fixtures import build_minimal_ttf

    ttf = build_minimal_ttf({}, raw_subtables=[(3, 2, _fmt2_blob())])
    subs = parse_ttf_cmap_subtables(ttf)
    assert subs[(3, 2)] == {0x41: 7, 0x8140: 9}


def test_ttf_cmap_format8_and_10_lookup():
    import struct

    from pdfspark.fixtures import build_minimal_ttf

    # format 8: is32 bitmap (ignored for lookup) + one group
    f8 = struct.pack(">HHII", 8, 0, 16 + 8192 + 12, 0) + bytes(8192)
    f8 += struct.pack(">I", 1) + struct.pack(">III", 0x10400, 0x10401, 50)
    # format 10: trimmed array start=0x20000 count=2 gids (3, 4)
    f10 = struct.pack(">HHIIII", 10, 0, 24, 0, 0x20000, 2)
    f10 += struct.pack(">HH", 3, 4)
    ttf = build_minimal_ttf({}, raw_subtables=[(3, 4, f8), (3, 6, f10)])
    subs = parse_ttf_cmap_subtables(ttf)
    assert subs[(3, 4)] == {0x10400: 50, 0x10401: 51}
    assert subs[(3, 6)] == {0x20000: 3, 0x20001: 4}


def test_ttf_cmap_format12_bomb_bounded():
    """A crafted font with thousands of full-plane format-12 groups must
    finish in bounded time: total decoded codes are capped, not just the
    group count (one bad document never kills the job)."""
    import struct
    import time

    from pdfspark.fixtures import build_minimal_ttf
    from pdfspark.kernel.fonts import _CMAP_CODE_BUDGET

    n = 2000
    f12 = struct.pack(">HHIII", 12, 0, 16 + 12 * n, 0, n)
    f12 += b"".join(struct.pack(">III", 0, 0x10FFFF, 1) for _ in range(n))
    ttf = build_minimal_ttf({}, raw_subtables=[(3, 10, f12)])
    t0 = time.monotonic()
    subs = parse_ttf_cmap_subtables(ttf)
    elapsed = time.monotonic() - t0
    assert elapsed < 10.0, f"cmap bomb not bounded: {elapsed:.1f}s"
    assert len(subs.get((3, 10), {})) <= _CMAP_CODE_BUDGET
    # same guard on format 4: max segments each spanning the full range
    segs = 8000
    f4 = bytearray(struct.pack(">HHH", 4, 0, 0))
    f4 += struct.pack(">HHHH", segs * 2, 0, 0, 0)
    f4 += struct.pack(f">{segs}H", *([0xFFFE] * segs))   # endCode
    f4 += struct.pack(">H", 0)
    f4 += struct.pack(f">{segs}H", *([1] * segs))        # startCode
    f4 += struct.pack(f">{segs}H", *([1] * segs))        # idDelta
    f4 += struct.pack(f">{segs}H", *([0] * segs))        # idRangeOffset
    struct.pack_into(">H", f4, 2, len(f4))
    ttf4 = build_minimal_ttf({}, raw_subtables=[(3, 1, bytes(f4))])
    t0 = time.monotonic()
    parse_ttf_cmap_subtables(ttf4)
    assert time.monotonic() - t0 < 10.0


def test_legacy_cjk_codec_mapping():
    """Name set mirrors the reference inventory (`src/font/cjk.rs:1-190`):
    every non-CID-table-bound predefined CMap resolves to a stdlib codec
    (CNS-EUC to the committed CNS 11643 table); unknown / genuinely
    table-bound names (GBT-EUC) stay None (soft error)."""
    from pdfspark.kernel.fonts import _cjk_codec_for

    assert _cjk_codec_for("GBK-EUC-H") == "gbk"
    assert _cjk_codec_for("GBK-EUC-V") == "gbk"
    assert _cjk_codec_for("GBK2K-H") == "gb18030"
    assert _cjk_codec_for("90ms-RKSJ-H") == "cp932"
    assert _cjk_codec_for("Ext-RKSJ-V") == "cp932"
    assert _cjk_codec_for("EUC-H") == "euc_jp"
    assert _cjk_codec_for("B5pc-H") == "big5"
    assert _cjk_codec_for("HKscs-B5-H") == "big5hkscs"
    assert _cjk_codec_for("KSC-EUC-H") == "euc_kr"
    assert _cjk_codec_for("KSCms-UHC-HW-V") == "cp949"
    assert _cjk_codec_for("H") == "rawjis"
    assert _cjk_codec_for("V") == "rawjis"
    assert _cjk_codec_for("CNS-EUC-H") == "euc_tw"
    assert _cjk_codec_for("CNS-EUC-V") == "euc_tw"
    assert _cjk_codec_for("GBT-EUC-H") is None  # GB/T 12345: table-bound
    assert _cjk_codec_for("NoSuch-H") is None


def test_euctw_decode_glyphs():
    """CNS-EUC structure parse against the committed CNS 11643 table:
    bare plane-1 pairs, the 0x8E plane escape, ASCII mix, and malformed
    bytes degrade to U+FFFD without raising."""
    from pdfspark.kernel.cns11643_data import PLANE1, PLANE2
    from pdfspark.kernel.fonts import Font

    f = Font()
    f.is_type0 = True
    f.codec_cmap = "euc_tw"
    f.default_width = 1000.0
    # CNS 1-36-01 is the first level-1 hanzi 一 (agrees with Big5 0xA440)
    assert PLANE1[(36 - 1) * 94] == "一" == bytes([0xA4, 0x40]).decode("big5")
    glyphs = f.decode(bytes([0xA0 + 36, 0xA0 + 1]) + b"a"
                      + bytes([0x8E, 0xA2, 0xA1, 0xA1]))
    assert [g.text for g in glyphs] == ["一", "a", PLANE2[0]]
    assert glyphs[0].code == 0xC4A1 and glyphs[2].code == 0x8EA2A1A1
    assert all(g.advance == 1000.0 for g in glyphs)
    # plane-1 also reachable via the escape; planes >2 and truncated
    # tails degrade, never raise
    esc = f.decode(bytes([0x8E, 0xA1, 0xA0 + 36, 0xA0 + 1]))
    assert [g.text for g in esc] == ["一"]
    assert [g.text for g in f.decode(bytes([0x8E, 0xA5, 0xA1, 0xA1]))] \
        == ["�"]
    assert all(g.text == "�" for g in f.decode(bytes([0xA1, 0x8E])))


def test_codec_cmap_decode_glyphs():
    """The codec decode path: multi-byte splitting, per-glyph codes, DW
    widths, replacement on invalid sequences, raw-JIS (H) byte shifting."""
    from pdfspark.kernel.fonts import Font

    f = Font()
    f.is_type0 = True
    f.codec_cmap = "gbk"
    f.default_width = 1000.0
    glyphs = f.decode("中a".encode("gbk"))
    assert [g.text for g in glyphs] == ["中", "a"]
    assert glyphs[0].code == int.from_bytes("中".encode("gbk"), "big")
    assert glyphs[1].code == ord("a")
    assert all(g.advance == 1000.0 for g in glyphs)
    # truncated lead byte at end → replacement, never an exception
    bad = f.decode("中".encode("gbk")[:1])
    assert bad and bad[-1].text == "�"
    # raw 2-byte JIS X 0208 via the H CMap: 0x3042 is あ (hiragana A)
    f2 = Font()
    f2.is_type0 = True
    f2.codec_cmap = "rawjis"
    assert "".join(g.text for g in f2.decode(b"\x24\x22")) == "あ"


def test_unicode_cmap_name_set():
    from pdfspark.kernel.fonts import _UNICODE_CMAP

    for name in ("UniJIS-UCS2-H", "UniJIS-UCS2-HW-V", "UniGB-UTF16-H",
                 "UniKS-UCS2-V", "UniCNS-UTF16-V"):
        assert _UNICODE_CMAP.match(name), name
    for name in ("GBK-EUC-H", "90ms-RKSJ-H", "Identity-H",
                 "UniJIS-UTF32-H", "UniGB-UCS2"):
        assert not _UNICODE_CMAP.match(name), name


def test_unicode_bmp_cmap_split_surrogate_pairs():
    cm = CidCMap.unicode_bmp(utf16=True)
    s = "汉\U00020000".encode("utf-16-be")
    codes = cm.split_codes(s)
    assert codes[0] == (2, 0x6C49)
    assert codes[1][0] == 4  # the pair consumed as one 4-byte code


def test_base14_alias_normalization():
    from pdfspark.kernel.base14 import base14_family

    assert base14_family("Helvetica") == "Helvetica"
    assert base14_family("Helvetica-BoldOblique") == "Helvetica"
    assert base14_family("ABCDEF+ArialMT") == "Helvetica"
    assert base14_family("TimesNewRomanPSMT") == "Times"
    assert base14_family("Times-Italic") == "Times"
    assert base14_family("CourierNew") == "Courier"
    assert base14_family("Symbol") is None
    assert base14_family("FooSans") is None


def test_base14_widths_flow_into_advances():
    """Unembedded Helvetica without /Widths gets AFM metrics: 'i' (222)
    must advance less than 'W' (944); Courier is fixed 600."""
    from pdfspark.fixtures import BASE14, PdfBuilder, _simple_show
    from pdfspark.kernel.document import PdfDocument
    from pdfspark.kernel.fonts import load_font
    from pdfspark.kernel.objects import Reference

    b = PdfBuilder()
    f1 = b.add(BASE14, num=1)
    c = b.add_stream("<< >>", _simple_show("x").encode())
    page = b.add(
        f"<< /Type /Page /Parent 90 0 R /MediaBox [0 0 612 792] "
        f"/Resources << /Font << /F1 1 0 R >> >> /Contents {c} 0 R >>"
    )
    b.add(f"<< /Type /Pages /Kids [{page} 0 R] /Count 1 >>", num=90)
    root = b.add("<< /Type /Catalog /Pages 90 0 R >>", num=91)
    doc = PdfDocument(b.build(root))
    font = load_font(doc, doc.get_object(Reference(1, 0)))
    gi = font.decode(b"i")[0]
    gw = font.decode(b"W")[0]
    assert gi.advance == 222.0 and gw.advance == 944.0

    cour = load_font(doc, {"Subtype": "Type1", "BaseFont": "Courier",
                           "Encoding": "WinAnsiEncoding"})
    assert cour.decode(b"i")[0].advance == 600.0
    assert cour.decode(b"W")[0].advance == 600.0


def test_type1_hsbw_width_extraction():
    from pdfspark.fixtures import build_minimal_type1
    from pdfspark.kernel.type1 import parse_type1_widths

    prog = build_minimal_type1(
        {"A": 712, "B": 64, "wide": 2048}, {65: "A", 66: "B", 67: "wide"}
    )
    w = parse_type1_widths(prog)
    assert w == {"A": 712.0, "B": 64.0, "wide": 2048.0}
    # hex-form eexec section parses identically
    w2 = parse_type1_widths(
        build_minimal_type1({"A": 712}, {65: "A"}, hex_form=True)
    )
    assert w2 == {"A": 712.0}


def test_type1_widths_flow_into_advances():
    """Embedded Type1 WITHOUT /Widths: advances come from the hsbw scan,
    via glyph-name→unicode→code mapping through the /Differences
    encoding."""
    from pdfspark.fixtures import BASE14, PdfBuilder, _simple_show, build_minimal_type1
    from pdfspark.kernel.document import PdfDocument
    from pdfspark.kernel.fonts import load_font
    from pdfspark.kernel.objects import Reference

    prog = build_minimal_type1({"A": 712, "B": 64}, {65: "A", 66: "B"})
    b = PdfBuilder()
    b.add_stream(f"<< /Length1 {len(prog)} >>", prog, num=64)
    b.add(
        "<< /Type /FontDescriptor /FontName /TestT1 /Flags 4 "
        "/FontFile 64 0 R >>",
        num=63,
    )
    b.add(
        "<< /Type /Font /Subtype /Type1 /BaseFont /TestT1 "
        "/FontDescriptor 63 0 R >>",
        num=1,
    )
    c = b.add_stream("<< >>", _simple_show("AB").encode())
    page = b.add(
        f"<< /Type /Page /Parent 90 0 R /MediaBox [0 0 612 792] "
        f"/Resources << /Font << /F1 1 0 R >> >> /Contents {c} 0 R >>"
    )
    b.add(f"<< /Type /Pages /Kids [{page} 0 R] /Count 1 >>", num=90)
    root = b.add("<< /Type /Catalog /Pages 90 0 R >>", num=91)
    doc = PdfDocument(b.build(root))
    font = load_font(doc, doc.get_object(Reference(1, 0)))
    ga, gb = font.decode(b"AB")
    assert (ga.text, gb.text) == ("A", "B")
    assert ga.advance == 712.0 and gb.advance == 64.0


def test_cff_type2_width_extraction():
    from pdfspark.fixtures import build_minimal_cff
    from pdfspark.kernel.cff import parse_cff_widths

    cff = build_minimal_cff(
        {65: "A", 66: "B", 67: "C"},
        glyph_widths={"A": 712, "B": 64},  # C falls to defaultWidthX
        default_width=500, nominal_width=100,
    )
    w = parse_cff_widths(cff)
    assert w == {"A": 712.0, "B": 64.0, "C": 500.0}
    # width-less program (t35 shape): every glyph at defaultWidthX 0
    from pdfspark.kernel.cff import parse_cff_code_to_name

    legacy = build_minimal_cff({65: "A"})
    assert parse_cff_code_to_name(legacy)  # pinned path unchanged
    assert parse_cff_widths(legacy) == {"A": 0.0}


def test_cff_widths_flow_into_advances():
    from pdfspark.fixtures import PdfBuilder, _simple_show, build_minimal_cff
    from pdfspark.kernel.document import PdfDocument
    from pdfspark.kernel.fonts import load_font
    from pdfspark.kernel.objects import Reference

    cff = build_minimal_cff(
        {65: "A", 66: "B"}, glyph_widths={"A": 712, "B": 64},
        default_width=500, nominal_width=0,
    )
    b = PdfBuilder()
    b.add_stream("<< /Subtype /Type1C >>", cff, num=64)
    b.add(
        "<< /Type /FontDescriptor /FontName /TestCFF /Flags 4 "
        "/FontFile3 64 0 R >>",
        num=63,
    )
    b.add(
        "<< /Type /Font /Subtype /Type1 /BaseFont /TestCFF "
        "/FontDescriptor 63 0 R >>",
        num=1,
    )
    c = b.add_stream("<< >>", _simple_show("AB").encode())
    page = b.add(
        f"<< /Type /Page /Parent 90 0 R /MediaBox [0 0 612 792] "
        f"/Resources << /Font << /F1 1 0 R >> >> /Contents {c} 0 R >>"
    )
    b.add(f"<< /Type /Pages /Kids [{page} 0 R] /Count 1 >>", num=90)
    root = b.add("<< /Type /Catalog /Pages 90 0 R >>", num=91)
    doc = PdfDocument(b.build(root))
    font = load_font(doc, doc.get_object(Reference(1, 0)))
    ga, gb = font.decode(b"AB")
    assert ga.advance == 712.0 and gb.advance == 64.0


def test_type1_programmatic_encoding_via_builder():
    """The full-program fixture builder's programmatic_encoding branch:
    no dup/put entries anywhere, eexec-encrypted charstrings intact —
    the interpreter fallback recovers the encoding AND the hsbw width
    scan still parses the private section."""
    from pdfspark.fixtures import build_minimal_type1
    from pdfspark.kernel.postscript import encoding_from_program
    from pdfspark.kernel.type1 import parse_type1_widths

    prog = build_minimal_type1(
        {"A": 712, "B": 640}, {65: "A", 66: "B"},
        programmatic_encoding=True,
    )
    assert b"dup 65" not in prog  # really programmatic
    clear = prog.split(b"eexec", 1)[0]
    enc = encoding_from_program(clear)
    assert enc is not None and enc[65] == "A" and enc[66] == "B"
    assert parse_type1_widths(prog) == {"A": 712.0, "B": 640.0}


def test_codec_cmap_uses_embedded_hmtx_widths():
    """FN11 upgrade (VERDICT r3 next #4): under a legacy codec CMap
    (GBK-EUC-H) with an embedded FontFile2, per-glyph advances come from
    the font's own cmap+hmtx (unicode→gid→advance, scaled to 1000/em),
    not the /DW fallback — the reference reads /W per-CID instead
    (`src/font/cid.rs:130-182`), a direction codec decode can't use."""
    from pdfspark.fixtures import PdfBuilder, build_minimal_ttf
    from pdfspark.kernel.extract import extract_text

    text = "中文a"
    # gid assignment: 中→1, 文→2, a→3; non-uniform advances, upem 2000
    uni_map = {ord("中"): 1, ord("文"): 2, ord("a"): 3}
    ttf = build_minimal_ttf(uni_map, hmtx_advances=[0, 2000, 1500, 800],
                            units_per_em=2000)
    b = PdfBuilder()
    ffnum = b.add_stream(f"<< /Length1 {len(ttf)} >>", ttf)
    fd = b.add(
        "<< /Type /FontDescriptor /FontName /EmbCJK /Flags 4 "
        f"/FontFile2 {ffnum} 0 R >>"
    )
    df = b.add(
        "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /EmbCJK "
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (GB1) "
        f"/Supplement 5 >> /DW 700 /FontDescriptor {fd} 0 R >>"
    )
    ff = b.add(
        "<< /Type /Font /Subtype /Type0 /BaseFont /EmbCJK "
        f"/Encoding /GBK-EUC-H /DescendantFonts [{df} 0 R] >>"
    )
    hexcodes = text.encode("gbk").hex().upper()
    cc = b.add_stream(
        "<< >>", f"BT /F1 10 Tf 72 720 Td <{hexcodes}> Tj ET".encode()
    )
    pg = b.add(
        f"<< /Type /Page /Parent 90 0 R /MediaBox [0 0 612 792] "
        f"/Resources << /Font << /F1 {ff} 0 R >> >> /Contents {cc} 0 R >>"
    )
    b.add(f"<< /Type /Pages /Kids [{pg} 0 R] /Count 1 >>", num=90)
    rt = b.add("<< /Type /Catalog /Pages 90 0 R >>", num=91)
    r = extract_text(b.build(rt), positions=True)
    assert r.error is None and r.text == text
    ws = [g.w for g in r.glyph_positions]
    # advances at size 10: 2000/2000*1000→1000 units→10.0; 1500→7.5; 800→4.0
    assert ws == [10.0, 7.5, 4.0], ws


def test_codec_cmap_without_fontfile_keeps_dw_fallback():
    """No embedded program → the pinned /DW fallback is unchanged (the
    t44 goldens stay valid)."""
    from pdfspark.kernel.fonts import Font

    f = Font()
    f.default_width = 700.0
    f.codec_cmap = "gbk"
    f.is_type0 = True
    glyphs = f.decode("中a".encode("gbk"))
    assert [g.advance for g in glyphs] == [700.0, 700.0]


def test_parse_ttf_hmetrics_truncated_is_none():
    from pdfspark.fixtures import build_minimal_ttf
    from pdfspark.kernel.fonts import parse_ttf_hmetrics

    # no hmtx tables at all
    assert parse_ttf_hmetrics(build_minimal_ttf({65: 1})) is None
    # with tables: parses, last advance reused past numberOfHMetrics
    ttf = build_minimal_ttf({65: 1}, hmtx_advances=[500, 600],
                            units_per_em=1000)
    adv, upem = parse_ttf_hmetrics(ttf)
    assert adv == [500, 600] and upem == 1000
    # garbage never raises
    assert parse_ttf_hmetrics(b"\x00\x01\x00\x00" + b"\xff" * 40) in (
        None, parse_ttf_hmetrics(b"\x00\x01\x00\x00" + b"\xff" * 40))


def test_post_table_glyph_names_fallback():
    """SURVEY FN5 optional item (VERDICT r3 next #6): a symbolic
    TrueType with NO ToUnicode and NO cmap subtables falls back to the
    'post' 2.0 glyph names — gid→name→AGL→Unicode, code→gid identity
    (the only assumption left for cmap-less subset embeds)."""
    from pdfspark.fixtures import PdfBuilder, build_minimal_ttf, _simple_show
    from pdfspark.kernel.extract import extract_text
    from pdfspark.kernel.fonts import parse_ttf_post_names

    # gid i shows char: gid 0 .notdef; 65..67 via custom names A B C
    names = [".notdef"] * 65 + ["A", "B", "C"]
    ttf = build_minimal_ttf({}, post_names=names)
    parsed = parse_ttf_post_names(ttf)
    assert parsed[65] == "A" and parsed[67] == "C"
    b = PdfBuilder()
    ffnum = b.add_stream(f"<< /Length1 {len(ttf)} >>", ttf)
    fd = b.add(
        "<< /Type /FontDescriptor /FontName /SymPost /Flags 4 "
        f"/FontFile2 {ffnum} 0 R >>"
    )
    fnt = b.add(
        "<< /Type /Font /Subtype /TrueType /BaseFont /SymPost "
        f"/FirstChar 65 /LastChar 67 /Widths [500 500 500] "
        f"/FontDescriptor {fd} 0 R >>"
    )
    cc = b.add_stream("<< >>", b"BT /F1 12 Tf 72 720 Td (ABC) Tj ET")
    pg = b.add(
        f"<< /Type /Page /Parent 90 0 R /MediaBox [0 0 612 792] "
        f"/Resources << /Font << /F1 {fnt} 0 R >> >> /Contents {cc} 0 R >>"
    )
    b.add(f"<< /Type /Pages /Kids [{pg} 0 R] /Count 1 >>", num=90)
    rt = b.add("<< /Type /Catalog /Pages 90 0 R >>", num=91)
    r = extract_text(b.build(rt))
    assert r.error is None
    assert r.text == "ABC"


def test_post_table_standard_mac_indices():
    """glyphNameIndex < 258 selects the standard Macintosh order."""
    import struct as _s

    from pdfspark.fixtures import build_minimal_ttf
    from pdfspark.kernel.fonts import parse_ttf_post_names

    # hand-build: indices [3 (space), 36 (A), 68 (a)]
    post = bytearray(32)
    _s.pack_into(">I", post, 0, 0x00020000)
    post += _s.pack(">HHHH", 3, 3, 36, 68)
    ttf = build_minimal_ttf({65: 1})  # base font, then graft post
    # rebuild with raw table: easiest is append via builder path
    from pdfspark.fixtures import build_minimal_ttf as _b
    ttf2 = _b({}, post_names=["x"])  # layout template
    # replace the post blob wholesale using the parser's own directory
    n = _s.unpack_from(">H", ttf2, 4)[0]
    for i in range(n):
        tag, _, off, length = _s.unpack_from(">4sIII", ttf2, 12 + 16 * i)
        if tag == b"post":
            patched = bytearray(ttf2[:off]) + post + ttf2[off + length:]
            _s.pack_into(">I", patched, 12 + 16 * i + 12, len(post))
            parsed = parse_ttf_post_names(bytes(patched))
            assert parsed == {0: "space", 1: "A", 2: "a"}
            return
    raise AssertionError("no post table in fixture")


def test_post_table_garbage_never_raises():
    from pdfspark.kernel.fonts import parse_ttf_post_names

    for junk in (b"", b"\x00" * 12, b"\x00\x01\x00\x00" + b"\xff" * 64):
        parse_ttf_post_names(junk)  # must not raise


def test_simple_font_decode_paths_agree_across_corpus():
    """decode() (per-glyph, positions path) and decode_fast() (batched
    default) read one 256-entry table, so for every simple font of the
    golden corpus they agree on text and advance sum for every code."""
    from pdfspark.corpus import all_cases
    from pdfspark.kernel.document import PdfDocument
    from pdfspark.kernel.fonts import load_font
    from pdfspark.kernel.objects import PdfError

    codes = bytes(range(256))
    checked = 0
    for case in all_cases():
        try:
            doc = PdfDocument(case.pdf)
            pages = doc.pages()
        except PdfError:
            continue
        for page in pages:
            try:
                fonts = doc.get(doc.get(page, "Resources"), "Font")
            except PdfError:
                continue
            if not isinstance(fonts, dict):
                continue
            for ref in fonts.values():
                try:
                    fd = doc.resolve(ref)
                    font = load_font(doc, fd) if isinstance(fd, dict) else None
                except PdfError:
                    continue
                if font is None or font.is_type0:
                    continue
                glyphs = font.decode(codes)
                text, width_sum, n, n_spaces = font.decode_fast(codes)
                assert text == "".join(g.text for g in glyphs), case.case_id
                assert width_sum == sum(g.advance for g in glyphs)
                assert (n, n_spaces) == (256, 1)
                checked += 1
    assert checked >= 50, checked
