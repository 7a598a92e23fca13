"""Fast deterministic text→PDF wrapper for the flagship roundtrip query.

One page, Flate-compressed content, WinAnsi base-14 font. The text is
emitted as consecutive ``Tj`` chunks on a SINGLE baseline so the pinned
linearization policy (extract.py) reproduces it byte-identically: no y
movement ⇒ no inserted newlines, kerns unused ⇒ no inserted spaces.

Roundtrip contract: byte-identical for WinAnsi-representable text
(printable latin-1 minus DEL/C1). Everything else is normalized to '?'
up front (normalize_for_pdf) — degraded, deterministic, never a crash;
the driver's documents table is pure ASCII so the flagship roundtrip is
exact. CJK-exact generation would use a Type0/Identity-H wrapper (t16
shows the kernel handles it); out of scope for the ASCII corpus.
"""

from __future__ import annotations

import functools
import re
import zlib

from pdfspark.fixtures import (WINANSI, build_minimal_ttf, stream_object,
                               write_pdf)


def _escape(chunk: str) -> str:
    # \r/\n must be escape sequences: raw EOLs inside literal strings are
    # normalized to \n by the PDF lexer, which would break the roundtrip
    return (
        chunk.replace("\\", r"\\")
        .replace("(", r"\(")
        .replace(")", r"\)")
        .replace("\r", r"\r")
        .replace("\n", r"\n")
    )


# WinAnsi-faithful normalization: chars the (latin-1 byte → WinAnsi
# decode) roundtrip cannot represent map to '?', never crash the job —
# C0 controls (no glyphs), DEL, the C1 block (cp1252 reassigns it);
# line structure in PDFs comes from positioning operators, not control
# glyphs, so \n in source text degrades like any other control char
_UNSAFE = {*range(0x00, 0x20), 0x7F, *range(0x80, 0xA0)}
# C-level twin of the per-char rule (the fused roundtrip's hottest
# Python block at ~25% of single-core synth+extract): latin-1
# encode(errors="replace") maps EXACTLY the >0xFF codepoints to '?'
# and passes everything ≤0xFF through, then translate() maps the
# _UNSAFE set — byte-identical to the old genexpr for every input
# (exhaustively checked over all of _UNSAFE ∪ [0, 0x2FF] in
# tests/test_docgen_normalize.py).
_UNSAFE_TABLE = {cp: "?" for cp in _UNSAFE}


def normalize_for_pdf(text: str) -> str:
    return (
        text.encode("latin-1", "replace")
        .decode("latin-1")
        .translate(_UNSAFE_TABLE)
    )


def text_to_html(text: str, doc_id: int = 0, lang: str = "en") -> bytes:
    """Deterministic Common-Crawl-style page: the document text inside
    <main>, surrounded by boilerplate (head/nav/header/footer/aside/
    script) that the HTML extractor must strip. Roundtrip-exact under the
    pinned policy because the text is a single block with collapsed
    whitespace (the synthetic corpus has none to collapse)."""
    import html as _html

    body = _html.escape(text)
    page = (
        f'<!DOCTYPE html>\n<html lang="{lang}">\n<head>\n'
        f"<meta charset=\"utf-8\">\n<title>doc {doc_id}</title>\n"
        f"<style>body {{ color: #222 }}</style>\n"
        f"<script>var tracking = {doc_id};</script>\n"
        f"</head>\n<body>\n"
        f'<nav><ul><li><a href="/">Home</a></li><li>About</li></ul></nav>\n'
        f"<header><h1>Site {doc_id % 7}</h1></header>\n"
        f'<aside>Related link {doc_id % 13}</aside>\n'
        f"<main><p>{body}</p></main>\n"
        f"<footer>&copy; 2025 fixture corp &middot; terms</footer>\n"
        f"<script>console.log('bye')</script>\n"
        f"</body>\n</html>\n"
    )
    return page.encode("utf-8")


# ------------------------------------------------------------ PDF skeleton
# Every generator below builds its objects here and serializes them with
# fixtures.write_pdf, the writer the golden corpus uses too.

_WINANSI = WINANSI.encode("latin-1")
_PRODUCER = b"/Producer (pdfspark-docgen)"
_CREATED = b"/CreationDate (D:20250101000000Z)"
_CATALOG = b"<< /Type /Catalog /Pages 2 0 R%s >>"


def _info(meta_id: int, entries: bytes = _PRODUCER) -> bytes:
    return b"<< /Title (doc %d) %s >>" % (meta_id, entries)


def _page(contents: int, extra: bytes = b"") -> bytes:
    """A US-Letter page under pages 2 with font 5 as /F1."""
    return (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 5 0 R >> >> /Contents %d 0 R%s >>"
            % (contents, extra))


def _flate(content: bytes) -> bytes:
    return stream_object("<< /Filter /FlateDecode >>",
                         zlib.compress(content, 6))


def _one_page_pdf(content: bytes, font: bytes, meta_id: int, *,
                  info: bytes = _PRODUCER, catalog_extra: bytes = b"",
                  page_extra: bytes = b"", extra=()) -> bytes:
    """The single-page skeleton: catalog 1 → pages 2 → page 3 → Flate
    ``content`` 4 → ``font`` 5 → info 6, then the ``extra`` (num, body)
    objects in order; the trailer names /Info 6."""
    return write_pdf(
        [(1, _CATALOG % catalog_extra),
         (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
         (3, _page(4, page_extra)),
         (4, _flate(content)),
         (5, font),
         (6, _info(meta_id, info)),
         *extra],
        1, " /Info 6 0 R")


def _page_num(k: int) -> int:
    return 10 + 2 * k


def _multi_page_pdf(contents: list, info: bytes, *,
                    catalog_extra: bytes = b"", outline=()) -> bytes:
    """The multi-page skeleton, in emission order: catalog 1, the
    ``outline`` (num, body) objects, pages 2, WinAnsi Helvetica 5,
    ``info`` 6, then page k at _page_num(k) followed by its Flate
    content stream (3, 4 and 7-9 stay free)."""
    nums = [_page_num(k) for k in range(len(contents))]
    objs = [(1, _CATALOG % catalog_extra), *outline,
            (2, b"<< /Type /Pages /Kids [%s] /Count %d >>"
             % (b" ".join(b"%d 0 R" % p for p in nums), len(nums))),
            (5, _WINANSI), (6, info)]
    for p, content in zip(nums, contents):
        objs += [(p, _page(p + 1)), (p + 1, _flate(content))]
    return write_pdf(objs, 1, " /Info 6 0 R")


def _outline(root: int, titles: list, dests=None) -> list:
    """A flat /Outlines chain: the root at ``root``, item k at
    root+1+k; ``dests[k]`` (bytes) is item k's destination entry."""
    n = len(titles)
    objs = [(root, b"<< /Type /Outlines /Count %d /First %d 0 R "
                   b"/Last %d 0 R >>" % (n, root + 1, root + n))]
    for k, ttl in enumerate(titles):
        num = root + 1 + k
        parts = [b"<< /Title (%s) /Parent %d 0 R"
                 % (_escape(ttl).encode("latin-1"), root)]
        if k > 0:
            parts.append(b" /Prev %d 0 R" % (num - 1))
        if k < n - 1:
            parts.append(b" /Next %d 0 R" % (num + 1))
        if dests:
            parts.append(dests[k])
        parts.append(b" >>")
        objs.append((num, b"".join(parts)))
    return objs


def _flow_ops(text: str, chunk: int = 120) -> bytes:
    """Single-baseline flow text: consecutive ``chunk``-char Tj shows in
    one BT block (no y movement, so the pinned linearization inserts
    nothing between chunks)."""
    shows = "".join(
        f"({_escape(text[i : i + chunk])}) Tj "
        for i in range(0, max(len(text), 1), chunk)
    )
    return f"BT /F1 12 Tf 72 720 Td {shows}ET".encode("latin-1")


def text_to_pdf(text: str, chunk: int = 120, meta_id: int = 0,
                freetext_annot: str = None,
                widget_value: str = None,
                outline_titles: list = None,
                link_uri: str = None,
                attachment: tuple = None) -> bytes:
    """``freetext_annot`` adds a FreeText annotation (/Contents),
    ``widget_value`` a Widget with a field value (/V),
    ``outline_titles`` a flat /Outlines chain of bookmarks,
    ``link_uri`` a Link annotation with a /URI action, and
    ``attachment`` a (filename, payload_bytes) embedded file in the
    catalog's /Names /EmbeddedFiles tree — all default off so the
    pinned roundtrip corpus is unchanged."""
    extra = []  # objects 7, 8, … in number order

    def add(body: bytes) -> int:
        extra.append((7 + len(extra), body))
        return extra[-1][0]

    annots = []
    if freetext_annot is not None:
        annots.append(add(
            b"<< /Type /Annot /Subtype /FreeText /Rect [10 10 200 40] "
            b"/Contents (" + _escape(freetext_annot).encode("latin-1")
            + b") >>"))
    if widget_value is not None:
        annots.append(add(
            b"<< /Type /Annot /Subtype /Widget /FT /Tx "
            b"/Rect [10 50 200 80] /T (field1) "
            b"/V (" + _escape(widget_value).encode("latin-1") + b") >>"))
    if link_uri is not None:
        annots.append(add(
            b"<< /Type /Annot /Subtype /Link /Rect [10 90 200 110] "
            b"/A << /Type /Action /S /URI /URI ("
            + _escape(link_uri).encode("latin-1") + b") >> >>"))
    catalog = b""
    if attachment is not None:
        fname = _escape(attachment[0]).encode("latin-1")
        payload = attachment[1]
        fs = add(b"<< /Type /Filespec /F (%s) /UF (%s) /EF << /F %d 0 R >> >>"
                 % (fname, fname, 8 + len(extra)))
        add(b"<< /Type /EmbeddedFile /Length %d /Params << /Size %d >> >>"
            b"\nstream\n" % (len(payload), len(payload))
            + payload + b"\nendstream")
        catalog = (b" /Names << /EmbeddedFiles << /Names [(%s) %d 0 R] >> >>"
                   % (fname, fs))
    if outline_titles:
        root = 7 + len(extra)
        catalog = b" /Outlines %d 0 R" % root + catalog
        extra += _outline(root, outline_titles)
    return _one_page_pdf(
        _flow_ops(normalize_for_pdf(text), chunk), _WINANSI, meta_id,
        info=_CREATED + b" " + _PRODUCER, catalog_extra=catalog,
        page_extra=(b" /Annots [%s]" % b" ".join(b"%d 0 R" % n for n in annots)
                    if annots else b""),
        extra=extra)


def text_to_pdf_kerned(text: str, meta_id: int = 0,
                       words_per_line: int = 8) -> bytes:
    """Words positioned by TJ KERNS with NO space glyphs — the classic
    layout that defeats pure operator-order linearization (the pinned
    policy inserts nothing for kerns, matching the reference, so the
    plain text reads "worda­wordb…"). Each gap is −278 milliunits (the
    Helvetica space advance), recoverable only from glyph geometry
    (kernel/layout.py word-break policy). Lines of ``words_per_line``
    words; the reading-order reconstruction must reproduce ``text``."""
    text = normalize_for_pdf(text)
    words = text.split(" ")
    ops = []
    for row_start in range(0, len(words), words_per_line):
        line = words[row_start : row_start + words_per_line]
        tj = " ".join(f"({_escape(w)}) -278" for w in line)
        tj = tj.rsplit(" -278", 1)[0]  # no trailing kern
        y = 740 - 14 * (row_start // words_per_line)
        ops.append(f"BT /F1 12 Tf 72 {y} Td [{tj}] TJ ET ")
    return _one_page_pdf("".join(ops).encode("latin-1"), _WINANSI, meta_id)


def text_to_pdf_two_column(text: str, meta_id: int = 0,
                           words_per_line: int = 3) -> bytes:
    """Two-column layout whose CONTENT-STREAM ORDER IS VISUAL (row-major:
    left cell, right cell, next row) — the order many real writers emit —
    while READING order is column-major (all of column 1, then column 2).
    Operator-order extraction therefore interleaves the columns; only a
    geometry-aware reader (kernel/layout.py) recovers ``text``. Columns
    start at x=72 and x=340; with ≤3 words of ≤8 chars per line the
    widest left-column line ends ≈244pt, leaving a ≥96pt inter-column
    gap — far above intra-line glyph gaps (≤ a 12pt-space width)."""
    text = normalize_for_pdf(text)
    words = text.split(" ")
    half = (len(words) + 1) // 2
    col_lines = [
        [" ".join(c[i : i + words_per_line])
         for i in range(0, len(c), words_per_line)]
        for c in (words[:half], words[half:])
    ]
    ops = []
    for row in range(max(len(col_lines[0]), len(col_lines[1]))):
        for ci, x in ((0, 72), (1, 340)):
            if row < len(col_lines[ci]) and col_lines[ci][row]:
                y = 740 - 14 * row
                ops.append(
                    f"BT /F1 12 Tf {x} {y} Td "
                    f"({_escape(col_lines[ci][row])}) Tj ET "
                )
    return _one_page_pdf("".join(ops).encode("latin-1"), _WINANSI, meta_id)


# Canonical /PageLabels fixture tree (r7): roman front matter (pages
# 0-1), /St-offset prefixed decimals (2-3), bare-prefix 'cover' (4+),
# split across a /Kids node so the tree recursion is always exercised.
# Closed-form per page index: i/ii/A-5/A-6/cover… — the
# pdf_doc_metadata oracle recomputes it from the page count alone.
PAGE_LABELS_TREE = (b"<< /Kids [ << /Nums [0 << /S /r >> "
                    b"2 << /S /D /P (A-) /St 5 >>] >> "
                    b"<< /Nums [4 << /P (cover) >>] >> ] >>")


def text_to_pdf_multipage(text: str, page_chars: int = 500,
                          chunk: int = 120, meta_id: int = 0,
                          page_labels: bytes = b"",
                          outline_dests: list = None) -> bytes:
    """N-page variant: ``page_chars`` characters per page (last page
    shorter), one content stream per page — the real span-offset shape
    (pages joined by \\f in the pinned linearization).

    ``page_labels`` (r7): raw bytes of a /PageLabels number-tree VALUE
    (e.g. ``<< /Nums [0 << /S /r >>] >>``) written inline into the
    catalog; empty keeps the output byte-identical to pre-r7. Direct
    dicts inside a /Kids array are legal fixture torture — resolve()
    passes non-references through, so the tree recursion is exercised
    without extra objects.

    ``outline_dests`` (r7): list of (title, page_idx) bookmarks; item
    k's destination form cycles k%3 — 0: explicit ``/Dest [page /XYZ
    0 792 0]``; 1: a name in the catalog /Dests dictionary (PDF 1.1
    form); 2: a /A GoTo action whose /D string resolves through the
    /Names /Dests name tree — so one fixture exercises every
    destination-resolution path. None keeps output byte-identical."""
    text = normalize_for_pdf(text)
    page_texts = [
        text[i:i + page_chars] for i in range(0, max(len(text), 1), page_chars)
    ]
    n = len(page_texts)
    catalog = b""
    if page_labels:
        catalog += b" /PageLabels " + page_labels
    outline = []
    if outline_dests:
        pg = [_page_num(min(max(int(p), 0), n - 1)) for _, p in outline_dests]
        ol_root = _page_num(n)  # first object number past the page pairs
        catalog += b" /Outlines %d 0 R" % ol_root
        named = [(b"/d%d" % k, pg[k])
                 for k in range(len(outline_dests)) if k % 3 == 1]
        if named:
            catalog += (b" /Dests << "
                        + b" ".join(b"%s [%d 0 R /Fit]" % (nm, p)
                                    for nm, p in named)
                        + b" >>")
        treed = [(b"s%d" % k, pg[k])
                 for k in range(len(outline_dests)) if k % 3 == 2]
        if treed:
            catalog += (b" /Names << /Dests << /Names ["
                        + b" ".join(b"(%s) [%d 0 R /Fit]" % (nm, p)
                                    for nm, p in treed)
                        + b"] >> >>")
        outline = _outline(
            ol_root, [ttl for ttl, _p in outline_dests],
            [b" /Dest [%d 0 R /XYZ 0 792 0]" % pg[k] if k % 3 == 0
             else b" /Dest /d%d" % k if k % 3 == 1
             else b" /A << /S /GoTo /D (s%d) >>" % k
             for k in range(len(outline_dests))])
    return _multi_page_pdf([_flow_ops(t, chunk) for t in page_texts],
                           _info(meta_id, _CREATED),
                           catalog_extra=catalog, outline=outline)


def text_to_pdf_tagged(text: str, meta_id: int = 0) -> bytes:
    """Tagged PDF whose CONTENT-STREAM ORDER IS SHUFFLED (middle third
    first) while the /StructTreeRoot restores logical order: the words
    split into thirds A/B/C tagged /MCID 0/1/2, the stream emits B, A,
    C, and structure elements reference [0, 1, 2] — so structure-order
    linearization must reproduce ``text`` exactly while content-order
    reads B-first. Single page; chunks are word-joined (no trailing
    whitespace) so the struct-text separator rule yields single
    spaces."""
    text = normalize_for_pdf(text)
    words = text.split(" ")
    n = len(words)
    chunks = [" ".join(words[: n // 3]),
              " ".join(words[n // 3 : 2 * n // 3]),
              " ".join(words[2 * n // 3 :])]
    ops = ["BT /F1 12 Tf 72 720 Td"]
    for row, mcid in enumerate((1, 0, 2)):
        ops.append(
            f"/P << /MCID {mcid} >> BDC "
            f"({_escape(chunks[mcid])}) Tj EMC 0 -14 Td"
        )
    ops.append("ET")
    return _one_page_pdf(
        " ".join(ops).encode("latin-1"), _WINANSI, meta_id,
        catalog_extra=b" /StructTreeRoot 7 0 R",
        extra=[(7, b"<< /Type /StructTreeRoot /K [8 0 R 9 0 R 10 0 R] >>")]
        + [(8 + i, b"<< /Type /StructElem /S /P /Pg 3 0 R /K %d >>" % i)
           for i in range(3)])


# ---------------------------------------------------------------- CJK kerned

# 26 GBK-encodable URO hanzi standing in for a-z: the deterministic
# ASCII→CJK transliteration both the generator and the SQL oracle apply
# (translate() exists in Spark AND DuckDB with identical semantics)
CJK_ALPHABET = "".join(chr(0x4E00 + i) for i in range(26))
_ASCII_TO_CJK = str.maketrans("abcdefghijklmnopqrstuvwxyz", CJK_ALPHABET)

# Embedded TrueType program for the CJK generator: cmap (3,1) maps the
# 26 hanzi to gids 1-26; hmtx advances are NON-UNIFORM (400+20i units,
# upem 1000) so per-glyph geometry is only right when the kernel reads
# the embedded metrics. /DW is set to 1500 below — under the DW
# fallback the word-break threshold (0.35×median advance = 525 units)
# would EXCEED the 400-unit inter-word kern and no spaces would be
# recovered, so the byte-identity oracle pins the hmtx path.
CJK_ADVANCES = [400 + 20 * i for i in range(26)]


@functools.cache
def _cjk_ttf() -> bytes:
    return build_minimal_ttf(
        {0x4E00 + i: i + 1 for i in range(26)},
        hmtx_advances=[0] + CJK_ADVANCES,
        units_per_em=1000,
    )


def text_to_pdf_cjk_kerned(text: str, meta_id: int = 0,
                           words_per_line: int = 8,
                           embed_metrics: bool = True) -> bytes:
    """Legacy-CJK layout torture test: the a-z text transliterates to
    hanzi, encodes as GBK bytes under /Encoding /GBK-EUC-H (a codec
    predefined CMap — no ToUnicode, no Identity), and words are
    positioned by TJ kerns with NO space glyphs. The descendant font
    carries /DW 1500 and an embedded FontFile2 whose hmtx advances are
    non-uniform — word-break recovery (kernel/layout.py) succeeds only
    when advances come from the embedded cmap+hmtx (fonts.py FN11
    upgrade), because under the /DW fallback the 0.35×median threshold
    sits above the inter-word kern. Reading-order reconstruction must
    reproduce the transliterated text byte-identically."""
    ttf = _cjk_ttf()
    cjk = normalize_for_pdf(text).translate(_ASCII_TO_CJK)
    words = cjk.split(" ")
    ops = []
    for row_start in range(0, len(words), words_per_line):
        line = words[row_start : row_start + words_per_line]
        tj = " ".join(  # letters GBK lacks degrade to "?" like other fmts
            f"<{w.encode('gbk', 'replace').hex().upper()}> -400"
            for w in line
        )
        tj = tj.rsplit(" -400", 1)[0]  # no trailing kern
        y = 740 - 14 * (row_start // words_per_line)
        ops.append(f"BT /F1 12 Tf 72 {y} Td [{tj}] TJ ET ")
    if embed_metrics:
        descriptor = [
            (8, b"<< /Type /FontDescriptor /FontName /EmbCJK /Flags 4 "
                b"/FontFile2 9 0 R >>"),
            (9, stream_object("<< /Length1 %d >>" % len(ttf), ttf)),
        ]
    else:
        # negative-path fixture (tests only): no embedded program — the
        # kernel must fall back to /DW 1500 and word-break recovery fails
        descriptor = [
            (8, b"<< /Type /FontDescriptor /FontName /EmbCJK /Flags 4 >>")]
    return _one_page_pdf(
        "".join(ops).encode("latin-1"),
        b"<< /Type /Font /Subtype /Type0 /BaseFont /EmbCJK "
        b"/Encoding /GBK-EUC-H /DescendantFonts [7 0 R] >>",
        meta_id,
        extra=[(7, b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /EmbCJK "
                   b"/CIDSystemInfo << /Registry (Adobe) /Ordering (GB1) "
                   b"/Supplement 5 >> /DW 1500 /FontDescriptor 8 0 R >>"),
               *descriptor])


def text_to_pdf_narrow_gutter(text: str, meta_id: int = 0) -> bytes:
    """Ragged two-column layout with a NARROW gutter (40pt — below the
    fixed 60pt column policy) in VISUAL row-major stream order: lines of
    varying word count leave ragged right edges in column 1, and column
    2 starts 40pt after the WIDEST column-1 line (Helvetica AFM widths,
    so the geometry is exact). The fixed x-gap policy cannot split this
    page (no 60pt gap between glyph x origins); density clustering
    (layout.py layout="density") finds the coverage hole and restores
    column-major reading order byte-identically."""
    from pdfspark.kernel.base14 import _HELVETICA

    def line_width(s: str) -> float:
        return sum(_HELVETICA.get(c, 556) for c in s) * 12.0 / 1000.0

    text = normalize_for_pdf(text)
    words = text.split(" ")
    half = (len(words) + 1) // 2

    def ragged_lines(ws):
        lines, i, row = [], 0, 0
        while i < len(ws):
            n = 3 - (row % 3)  # 3, 2, 1, 3, 2, 1 … words per line
            lines.append(" ".join(ws[i : i + n]))
            i += n
            row += 1
        return lines

    col_lines = [ragged_lines(words[:half]), ragged_lines(words[half:])]
    col2_x = 72 + max(
        (line_width(ln) for ln in col_lines[0]), default=0.0
    ) + 40.0
    ops = []
    for row in range(max(len(col_lines[0]), len(col_lines[1]))):
        for ci, x in ((0, 72.0), (1, col2_x)):
            if row < len(col_lines[ci]) and col_lines[ci][row]:
                y = 740 - 14 * row
                ops.append(
                    f"BT /F1 12 Tf {x:.2f} {y} Td "
                    f"({_escape(col_lines[ci][row])}) Tj ET "
                )
    return _one_page_pdf("".join(ops).encode("latin-1"), _WINANSI, meta_id)


# ------------------------------------------------------------- post-name font

@functools.cache
def _post_ttf() -> bytes:
    """Symbolic TrueType with NO cmap subtables and a 'post' 2.0 table
    naming gids 32-122 after their ASCII chars (AGL names): the
    code→gid identity + gid→name→Unicode last-resort path."""
    agl = {32: "space"}
    for i in range(26):
        agl[97 + i] = chr(97 + i)
        agl[65 + i] = chr(65 + i)
    for i in range(10):
        agl[48 + i] = (
            "zero one two three four five six seven eight nine".split()[i]
        )
    names = [".notdef"] * 123
    for code, nm in agl.items():
        names[code] = nm
    return build_minimal_ttf({}, post_names=names)


def text_to_pdf_postfont(text: str, meta_id: int = 0) -> bytes:
    """Roundtrip generator for the 'post'-name fallback: a symbolic
    TrueType (Flags 4, no /Encoding) whose embedded program has NO cmap
    and no ToUnicode anywhere — text is recoverable ONLY through the
    post-2.0 glyph names (gid==code identity, name→AGL→Unicode). Same
    single-baseline layout as text_to_pdf so the pinned linearization
    reproduces the text byte-identically."""
    ttf = _post_ttf()
    return _one_page_pdf(
        _flow_ops(normalize_for_pdf(text)),
        b"<< /Type /Font /Subtype /TrueType /BaseFont /PostOnly "
        b"/FirstChar 32 /LastChar 122 /Widths [%s] "
        b"/FontDescriptor 7 0 R >>" % b" ".join(b"500" for _ in range(91)),
        meta_id,
        extra=[(7, b"<< /Type /FontDescriptor /FontName /PostOnly /Flags 4 "
                   b"/FontFile2 8 0 R >>"),
               (8, stream_object("<< /Length1 %d >>" % len(ttf), ttf))])


def text_to_pdf_table(text: str, meta_id: int = 0,
                      n_cols: int = 3, skip_every: int = 0,
                      rowspan_every: int = 0,
                      header_size: float = 0.0,
                      colspan_every: int = 0,
                      rows_per_page: int = 0) -> bytes:
    """Grid/table layout whose content stream is written CELL-BY-CELL
    in COLUMN order — the typical table-generator pattern that defeats
    plain linearization (stream order reads the table column-major,
    interleaving rows). Cells are consecutive word PAIRS of the source
    text placed row-major into an n_cols-wide grid; each table column
    starts 40pt after the widest cell of the previous column (Helvetica
    AFM widths, so every inter-cell gap is ≥40pt — above the pinned
    TABLE_CELL_GAP_PT — while intra-cell spaces are explicit space
    glyphs with zero kern gap). layout.table_cells must read back every
    (row, col, cell_text) byte-exactly; reading_order_text with
    layout='table' restores the full row-major text.

    ``skip_every`` > 0 makes the grid SPARSE: cell k is omitted when
    k % skip_every == skip_every - 1 (closed-form, so the oracle
    filters the same k). Column stops still derive from ALL cells (a
    table's geometry is designed before data goes missing), and with
    3 columns and skip_every ≥ 4 no row or column can vanish entirely
    (consecutive k can't all hit the residue; a column's sole member
    k=c<3 never does), so row/col ranks stay aligned with the dense
    arithmetic.

    ``rowspan_every`` > 0 makes cell k a vertically-centered 2-ROW
    SPAN when k % rowspan_every == rowspan_every-1, it isn't skipped,
    and a row exists below (k + n_cols < n_cells): the cell renders at
    the MIDPOINT baseline between its row and the next (LaTeX
    \\multirow typesetting) and the covered cell k + n_cols is not
    drawn. layout.table_cells' anchor-linkage row clustering must fold
    the midpoint baseline into the upper row. rowspan_every = 11 with
    3 columns keeps midpoint gaps a strict minority of all baseline
    gaps (2S < (R-1+S)/2), so the page-median gap stays the grid
    pitch; spans land in different columns (11 ≡ 2 mod 3) and two
    spans can never cover the same row twice (span sources differ by
    ≥11 > 2·n_cols), so with skip_every=5 every row keeps ≥1 cell and
    row ranks stay aligned with the dense arithmetic.

    ``header_size`` > 0 renders ROW 0 at that font size (body stays
    12pt): with 15pt the ratio is 1.25 ≥ the pinned
    TABLE_HEADER_SIZE_RATIO, and the body median (median of per-row
    medians) equals 12 whenever the table has ≥3 rows — so
    table_cells_flagged flags exactly row 0 of ≥3-row tables, a
    closed-form the oracle mirrors (is_header ⟺ k < n_cols AND
    n_cells ≥ 2·n_cols + 1). Stops derive from each cell's OWN size,
    so inter-column gaps stay ≥40pt under the wider header glyphs.

    ``colspan_every`` > 0 makes cell k a HORIZONTAL 2-column span when
    k % colspan_every == colspan_every-1, it isn't in the last column
    (k % n_cols < n_cols-1), cell k+1 exists, and neither k nor k+1 is
    skipped/row-spanned: the cell renders cells[k] + ' ' + cells[k+1]
    as ONE continuous show op at stop[c] whose char spacing (Tc) is
    computed so the run's right edge lands at stop[c+1] + 10pt — past
    the covered stop but provably short of stop[c+2] (unstretched
    merged width ≤ wmax_c + space + wmax_{c+1} < the two stop gaps) —
    and cell k+1 is not drawn. The glyph advance includes Tc
    (extract.py records the full displacement), so intra-cell gaps
    stay zero (explicit spaces, text reassembles byte-exactly) while
    layout.table_cells_spanned sees a run covering exactly TWO
    x-stops. When the merged text is already wide enough Tc is 0 and
    the same bounds hold. colspan_every = 7 with 3 columns keeps
    spans out of row 0 (k=6 is row 2) and off the last column
    rotation; column 0 is never covered, and covered cells are a
    sparse minority so every column keeps its stop anchor.

    ``rows_per_page`` > 0 PAGINATES the table: each page carries that
    many consecutive rows (last page shorter), one content stream per
    page, still written column-major WITHIN each page; the column
    stops are identical on every page (the table's geometry is
    designed once, before pagination). layout.table_cells_continued
    must read the grid back with row_idx CONTINUING across pages —
    equal to the unpaginated dense arithmetic. The registered fmt
    uses pagination with the plain grid only (span/skip/header knobs
    interact with page boundaries in untested ways)."""
    from pdfspark.kernel.base14 import _HELVETICA

    text = normalize_for_pdf(text)
    words = text.split(" ")
    cells = [" ".join(words[2 * k:2 * k + 2])
             for k in range((len(words) + 1) // 2)]
    n_rows = (len(cells) + n_cols - 1) // n_cols

    def size_of(k: int) -> float:
        return (header_size if header_size and k < n_cols else 12.0)

    def cell_width(k: int) -> float:
        return sum(
            _HELVETICA.get(c, 556) for c in cells[k]
        ) * size_of(k) / 1000.0

    def skipped(k: int) -> bool:
        return bool(skip_every) and k % skip_every == skip_every - 1

    def span_at(k: int) -> bool:
        return (bool(rowspan_every)
                and k % rowspan_every == rowspan_every - 1
                and not skipped(k)
                and k + n_cols < len(cells))

    def covered(k: int) -> bool:
        return k >= n_cols and span_at(k - n_cols)

    def span_h_at(k: int) -> bool:
        return (bool(colspan_every)
                and k % colspan_every == colspan_every - 1
                and k % n_cols < n_cols - 1
                and k + 1 < len(cells)
                and not skipped(k) and not skipped(k + 1)
                and not span_at(k) and not span_at(k + 1)
                and not covered(k) and not covered(k + 1))

    def covered_h(k: int) -> bool:
        return k % n_cols > 0 and span_h_at(k - 1)

    stops = [72.0]
    for c in range(1, n_cols):
        wmax = max(
            (cell_width(r * n_cols + c - 1) for r in range(n_rows)
             if r * n_cols + c - 1 < len(cells)),
            default=0.0,
        )
        stops.append(stops[-1] + wmax + 40.0)
    page_ops: dict = {0: []}
    for c in range(n_cols):  # column-major stream order — the point
        for r in range(n_rows):
            k = r * n_cols + c
            if skipped(k) or covered(k) or covered_h(k):
                continue
            if k < len(cells) and cells[k]:
                pg = r // rows_per_page if rows_per_page else 0
                y = (740 - 18 * (r - pg * rows_per_page)
                     - (9 if span_at(k) else 0))
                ops = page_ops.setdefault(pg, [])
                if span_h_at(k):
                    merged = cells[k] + " " + cells[k + 1]
                    w0 = sum(
                        _HELVETICA.get(ch, 556) for ch in merged
                    ) * size_of(k) / 1000.0
                    target = stops[c + 1] - stops[c] + 10.0
                    tc = max(0.0, (target - w0) / max(1, len(merged)))
                    ops.append(
                        f"BT /F1 {size_of(k):g} Tf {tc:.3f} Tc "
                        f"{stops[c]:.2f} {y} Td "
                        f"({_escape(merged)}) Tj 0 Tc ET "
                    )
                else:
                    ops.append(
                        f"BT /F1 {size_of(k):g} Tf {stops[c]:.2f} {y} Td "
                        f"({_escape(cells[k])}) Tj ET "
                    )
    if rows_per_page:
        n_pages = max(1, (n_rows + rows_per_page - 1) // rows_per_page)
        return _multi_page_pdf(
            ["".join(page_ops.get(k, [])).encode("latin-1")
             for k in range(n_pages)], _info(meta_id))
    return _one_page_pdf("".join(page_ops[0]).encode("latin-1"), _WINANSI,
                         meta_id)


# ------------------------------------------------------------ vertical CJK

def _emit_identity_type0_pdf(content: bytes, base_font: bytes,
                             encoding: bytes, cmap_name: bytes,
                             bfrange2: bytes, meta_id: int,
                             extra_descendant: bytes = b"") -> bytes:
    """Shared single-page Identity-encoded Type0 PDF scaffolding for
    the writing-mode generators (review r6.1 #4): one content stream,
    a Type0 font with no FontFile (CIDs = Unicode code points, widths
    from /DW defaults), a ToUnicode CMap with the ASCII-printable
    range plus one generator-specific ``bfrange2`` row, all on the
    one-page skeleton (font 5, descendant 7, ToUnicode 8)."""
    tounicode = (
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"/CMapName /" + cmap_name + b" def\n/CMapType 2 def\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"2 beginbfrange\n"
        b"<0020> <007E> <0020>\n"
        + bfrange2 + b"\n"
        b"endbfrange\nendcmap\nCMapName currentdict /CMap defineresource "
        b"pop\nend\nend"
    )
    return _one_page_pdf(
        content,
        b"<< /Type /Font /Subtype /Type0 /BaseFont /" + base_font +
        b" /Encoding /" + encoding +
        b" /DescendantFonts [7 0 R] /ToUnicode 8 0 R >>",
        meta_id,
        extra=[(7, b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /"
                   + base_font + b" /CIDSystemInfo << /Registry (Adobe) "
                   b"/Ordering (Identity) /Supplement 0 >>"
                   + extra_descendant + b" >>"),
               (8, stream_object("<< >>", tounicode))])


def _vertical_ops(text: str, col_chars: int) -> bytes:
    """Content of the vertical generators: the transliterated text in
    ``col_chars`` columns, one hex show per column."""
    vtext = normalize_for_pdf(text).translate(_ASCII_TO_CJK)
    n_cols = max(1, (len(vtext) + col_chars - 1) // col_chars)
    pitch = 80.0  # x distance between column origins (> 60pt col gap)
    ops = []
    # physical left-to-right emission = reading order REVERSED:
    # physical slot p holds reading column j = n_cols-1-p
    for p in range(n_cols):
        j = n_cols - 1 - p
        chunk = vtext[j * col_chars:(j + 1) * col_chars]
        if not chunk:
            continue
        x = 72.0 + p * pitch
        hexs = "".join(f"{ord(c):04X}" for c in chunk)
        ops.append(f"BT /F1 12 Tf {x:.2f} 740 Td <{hexs}> Tj ET ")
    return "".join(ops).encode("latin-1")


def text_to_pdf_vertical(text: str, meta_id: int = 0,
                         col_chars: int = 40) -> bytes:
    """Vertical-writing-mode torture test (VERDICT r5 next #4): the a-z
    text transliterates to hanzi (spaces and ASCII punctuation kept as
    their own glyphs) and typesets in TRUE vertical mode — an
    /Identity-V Type0 font whose per-glyph displacement runs DOWN the
    page (kernel extract.py policy #7), one show op per vertical
    column of ``col_chars`` characters, columns read RIGHT-to-left.

    The content stream writes columns in LEFT-to-right physical order
    — the reverse of reading order — so plain linearization provably
    returns the text back-to-front at column granularity; only the
    layout="vertical" reading-order policy (columns right-to-left,
    baselines top-down, no joining whitespace) restores it
    byte-identically. Reference anchor: the V CMap variants at
    `src/font/cjk.rs:1-190` / `src/font/type0.rs:13-28`, which the
    reference decodes but whose vertical displacement it never applies.

    CIDs are Unicode code points (2-byte big-endian) under Identity-V;
    the ToUnicode CMap maps the two ranges the transliteration can
    produce (ASCII printable + the 26-hanzi alphabet) back identically.
    No FontFile is embedded: horizontal widths never matter in
    vertical mode, and the vertical advance comes from the /DW2
    default (−1000 glyph units = one 12pt em per glyph here)."""
    return _emit_identity_type0_pdf(
        _vertical_ops(text, col_chars), b"VertCJK", b"Identity-V",
        b"pdfspark-vert-identity", b"<4E00> <4E19> <4E00>", meta_id)



# /W2 overrides for text_to_pdf_vertical_w2, exercising BOTH entry
# forms of PDF 9.7.4.3 (the reference's parsed-but-unapplied field,
# `src/font/cid.rs:86-92`): the TRIPLE form gives hanzi-'a' (CID
# 0x4E00) w1y=−2000 (two ems down), the RANGE form gives 'f'–'h'
# (0x4E05–0x4E07) w1y=−1500. Every other glyph falls back to /DW2's
# −1000 — written EXPLICITLY here so the golden separates "W2 applied"
# from "DW2 default happened to match".
VERT_W2_OVERRIDES = {0x4E00: -2000.0, 0x4E05: -1500.0,
                     0x4E06: -1500.0, 0x4E07: -1500.0}
_VERT_W2_DESCENDANT = (b" /DW2 [880 -1000]"
                       b" /W2 [19968 [-2000 0 880]"
                       b" 19973 19975 -1500 0 880]")


def text_to_pdf_vertical_w2(text: str, meta_id: int = 0,
                            col_chars: int = 40) -> bytes:
    """Vertical writing mode with per-CID /W2 vertical metrics (r7,
    VERDICT r6 missing #2): identical to text_to_pdf_vertical — same
    transliteration, column order, Identity-V scaffolding — except the
    descendant font carries an explicit /DW2 plus a /W2 array
    (VERT_W2_OVERRIDES: one triple-form entry, one range-form entry),
    so hanzi 'a' advances TWO ems down the page and 'f'–'h' advance
    1.5 ems. Linearized text and layout="vertical" reading order are
    UNCHANGED versus the uniform generator (within-column glyph order
    stays monotonic in y — extra displacement never reorders), which
    is exactly what makes the fixture sharp: the TEXT round trip pins
    that W2 parsing never corrupts decode, while the golden's
    GEOMETRY assertions (per-glyph y deltas from positions=True) prove
    the per-CID displacement is applied — a uniform-/DW2 kernel
    reproduces the text but provably not the positions."""
    return _emit_identity_type0_pdf(
        _vertical_ops(text, col_chars), b"VertW2CJK", b"Identity-V",
        b"pdfspark-vert-w2", b"<4E00> <4E19> <4E00>", meta_id,
        extra_descendant=_VERT_W2_DESCENDANT)


# ------------------------------------------------------------ RTL Hebrew

# 26 consecutive Hebrew letters standing in for a-z (U+05D0 aleph …
# U+05E9 shin — exactly 26 codepoints): the deterministic ASCII→Hebrew
# transliteration both the generator and the SQL oracle apply
# (translate() is engine-identical in Spark and DuckDB). Spaces and
# ASCII punctuation keep their own glyphs.
HEB_ALPHABET = "".join(chr(0x05D0 + i) for i in range(26))
_ASCII_TO_HEB = str.maketrans("abcdefghijklmnopqrstuvwxyz", HEB_ALPHABET)


def wrap_words(text: str, line_chars: int) -> list:
    """Greedy word wrap: pack space-separated tokens into lines of at
    most ``line_chars`` (a single over-long token gets its own line);
    each break consumes exactly one inter-word space, so a single-space
    join of the lines restores the input byte-identically — INCLUDING
    empty tokens from leading/double spaces (a None sentinel
    distinguishes "no line yet" from "line holding an empty token";
    review r6.1 #1). The one shape a glyph emitter can't render — a
    trailing EMPTY line (text ending in a space at a wrap boundary) —
    is folded into the previous line as a trailing space, which the
    join maps to the same bytes. Shared by the RTL generator and its
    corpus/golden expectations."""
    lines: list = []
    cur = None
    for w in text.split(" "):
        if cur is None:
            cur = w
        elif len(cur) + 1 + len(w) <= line_chars:
            cur += " " + w
        else:
            lines.append(cur)
            cur = w
    if cur is not None:
        lines.append(cur)
    if lines and lines[-1] == "":
        lines.pop()
        if lines:
            lines[-1] += " "
    return lines


def text_to_pdf_rtl(text: str, meta_id: int = 0,
                    line_chars: int = 40) -> bytes:
    """Right-to-left script torture test (layout tier 4c, the RTL half
    of VERDICT r5 "missing" #1): the a-z text transliterates to Hebrew
    and typesets the way real PDF writers emit RTL scripts — each
    LINE's string is stored in VISUAL order (logical order REVERSED,
    interior space glyphs included) in one show op, because positive
    glyph advances always march left-to-right across the page while
    Hebrew reads right-to-left. Lines wrap GREEDILY at word boundaries
    to ``line_chars`` (the break consumes exactly one inter-word
    space), baselines descend 18pt apart.

    Plain linearization therefore provably returns every line
    character-reversed; only the layout="rtl" reading-order policy
    (kernel/layout.py — lines assembled by DESCENDING x via the mirror
    transform) restores the transliterated text byte-identically.
    Reference anchor: `src/font/cjk.rs:1-190` carries RTL-adjacent V
    CMaps but the reference has no bidi/RTL ordering anywhere — this
    exceeds it.

    CIDs are Unicode code points (2-byte big-endian) under Identity-H;
    ToUnicode maps the two ranges the transliteration can produce
    (ASCII printable + the 26 Hebrew letters) back identically. No
    FontFile is embedded: all glyphs take the /DW default advance
    (1000 units = one 12pt em), which keeps intra-show kern gaps zero
    so the mirror assembly inserts no spurious word breaks."""
    heb = normalize_for_pdf(text).translate(_ASCII_TO_HEB)
    lines = wrap_words(heb, line_chars)
    ops = []
    for i, line in enumerate(lines):
        # visual order = logical reversed; one show per line
        hexs = "".join(f"{ord(c):04X}" for c in line[::-1])
        y = 740.0 - 18.0 * i
        ops.append(f"BT /F1 12 Tf 72.00 {y:g} Td <{hexs}> Tj ET ")
    content = "".join(ops).encode("latin-1")
    return _emit_identity_type0_pdf(
        content, b"RTLHeb", b"Identity-H", b"pdfspark-rtl-identity",
        b"<05D0> <05E9> <05D0>", meta_id)


# ------------------------------------------------------- bidi mixed runs

# a-m transliterate to the FIRST 13 Hebrew letters (RTL); n-z stay
# Latin (strongly LTR) EXCEPT o→'0' and s→'5', which become European
# digits — so every document mixes RTL words, LTR Latin runs, and
# digit runs, often inside one word. translate() twin in the SQL
# oracle (engine-identical in Spark and DuckDB, same as the rtl/cjk
# queries).
_ASCII_TO_HEB_BIDI = str.maketrans("abcdefghijklmos",
                                   HEB_ALPHABET[:13] + "05")

# generator twin of kernel/layout._BIDI_MIRROR (UAX#9 L4 under the
# simplified all-brackets-are-R N0, r8): a visual-order writer stores
# the mirrored bracket glyph; both copies must stay identical —
# hand-pinned in test_golden alongside the W4 cases
_BIDI_MIRROR_GEN = str.maketrans("()[]{}<>", ")(][}{><")


def restore_ltr_runs(s: str) -> str:
    """Reverse each maximal LTR run in place — the visual-order step
    for strongly-LTR runs embedded in an RTL line, and (being a
    per-run reversal with reversal-invariant segmentation) its own
    inverse. A run is a maximal ASCII-alphanumeric block, extended
    across single [.,:/] separators whose flanking blocks are PURE
    digits (UAX#9 W4: EN CS EN → EN, r7 — "3.14" is one run; "1.2a"
    is two because block "2a" is impure). The generator's OWN copy of
    the rule; the reading-order policy's twin lives in
    kernel/layout.py (_reverse_ltr_runs) and the golden pins both
    against hand-written expectations."""
    return re.sub(
        r"[0-9]+(?:[.,:/][0-9]+)+(?![0-9A-Za-z])|[0-9A-Za-z]+",
        lambda m: m.group(0)[::-1], s)


def text_to_pdf_bidi(text: str, meta_id: int = 0,
                     line_chars: int = 40) -> bytes:
    """Bidi mixed-direction torture test (layout tier 5a — the one
    writing-order mode rtl scoped out): a-m transliterate to Hebrew
    while n-z stay Latin (o→0, s→5 become digits), so nearly every
    word interleaves RTL and LTR characters. Each LINE's show op
    stores the string in VISUAL order, constructed the way a
    visual-order PDF writer resolves UAX#9 implicit levels on this
    domain: reverse the LOGICAL line, then reverse each maximal
    [0-9A-Za-z]+ run back (digits and Latin always render
    left-to-right inside the right-to-left flow). Lines wrap greedily
    at word boundaries (wrap_words), baselines 18pt apart.

    Plain linearization provably returns each line fully reversed
    with its LTR runs un-reversed; layout="rtl" alone restores the
    Hebrew but leaves every Latin/digit run REVERSED. Only
    layout="bidi" (kernel/layout.py: the rtl mirror assembly followed
    by reversing each maximal LTR run) restores the transliterated
    text byte-identically; the round trip is exact
    because run-reversal g satisfies g∘f∘g∘f = id for f = full
    reversal (f maps maximal runs onto maximal runs). Same Identity-H
    + ToUnicode scaffolding as the rtl generator; /DW-uniform
    advances keep intra-show kern gaps zero. Reference anchor: the
    reference has no bidi anywhere (`src/font/cjk.rs:1-190` is CMap
    data only) — this exceeds it."""
    mixed = normalize_for_pdf(text).translate(_ASCII_TO_HEB_BIDI)
    lines = wrap_words(mixed, line_chars)
    ops = []
    for i, line in enumerate(lines):
        # visual order: reverse the logical line, mirror-swap R-level
        # brackets (UAX#9 L4, r8 — the swap commutes with both
        # reversals), restore each LTR run
        visual = restore_ltr_runs(line[::-1].translate(_BIDI_MIRROR_GEN))
        hexs = "".join(f"{ord(c):04X}" for c in visual)
        y = 740.0 - 18.0 * i
        ops.append(f"BT /F1 12 Tf 72.00 {y:g} Td <{hexs}> Tj ET ")
    content = "".join(ops).encode("latin-1")
    return _emit_identity_type0_pdf(
        content, b"BidiHeb", b"Identity-H", b"pdfspark-bidi-identity",
        b"<05D0> <05E9> <05D0>", meta_id)


def text_to_html_linkfarm(text: str, doc_id: int = 0,
                          words_per_block: int = 12) -> bytes:
    """Common-Crawl-style page whose boilerplate is LINK FARMS in plain
    <div>s — invisible to the pinned tag policy (div is a content tag;
    the farms would pollute extract_html's output) and removable only
    by the link-density heuristic (html_extract.extract_html_content_
    blocks). The document text splits into ``words_per_block``-word
    paragraphs (closed-form, so a SQL oracle recomputes every kept
    block); the first paragraph carries a small INLINE link (<50%
    density — must be kept, text unchanged) proving the rule is
    density, not tag presence."""
    import html as _html

    words = text.split(" ")
    n = words_per_block
    paras = [" ".join(words[k * n:(k + 1) * n])
             for k in range((len(words) + n - 1) // n)]
    farm = ('<div><a href="/h">home pages</a> <a href="/a">about '
            'archive</a> <a href="/c">contact sitemap menu</a></div>')
    parts = [
        '<!doctype html><html lang="en"><head><title>doc %d</title>'
        '</head><body>' % doc_id,
        farm,
    ]
    for k, p in enumerate(paras):
        # the inline link must SURVIVE the keep rule (2·link ≤ total),
        # so guard on CHAR density, not word count — a long first word
        # over a short tail would otherwise flip the block to
        # boilerplate and diverge from the oracle (review r5 #2)
        if k == 0 and " " in p and 2 * len(p.split(" ", 1)[0]) <= len(p):
            first, rest = p.split(" ", 1)
            body = '<a href="/x">%s</a> %s' % (
                _html.escape(first), _html.escape(rest))
        else:
            body = _html.escape(p)
        parts.append("<p>%s</p>" % body)
        if k % 2 == 1:
            parts.append(farm)
    parts.append(farm + "</body></html>")
    return "".join(parts).encode("utf-8")


def text_to_html_table(text: str, doc_id: int = 0,
                       n_cols: int = 3) -> bytes:
    """HTML-table twin of text_to_pdf_table: consecutive word PAIRS of
    the document text fill an n_cols-wide <table> row-major — the SAME
    closed-form cell arithmetic, so queries._TABLE_CELLS_SQL serves as
    the oracle for BOTH modalities. Boilerplate (head/nav) surrounds
    the table so the cell extractor proves it scopes to table content."""
    import html as _html

    text = normalize_for_pdf(text)
    words = text.split(" ")
    cells = [" ".join(words[2 * k:2 * k + 2])
             for k in range((len(words) + 1) // 2)]
    n_rows = (len(cells) + n_cols - 1) // n_cols
    rows = []
    for r in range(n_rows):
        tds = "".join(
            "<td>%s</td>" % _html.escape(cells[r * n_cols + c])
            for c in range(n_cols) if r * n_cols + c < len(cells)
        )
        rows.append("<tr>%s</tr>" % tds)
    return (
        '<!doctype html><html lang="en"><head><title>doc %d</title>'
        "</head><body><nav>site menu chrome</nav><table>%s</table>"
        "<footer>copyright footer</footer></body></html>"
        % (doc_id, "".join(rows))
    ).encode("utf-8")


def text_to_html_lists(text: str, doc_id: int = 0,
                       items_per_list: int = 5,
                       words_per_item: int = 3) -> bytes:
    """List-structured page: consecutive ``words_per_item``-word groups
    of the document text become <li> items (last group shorter), packed
    ``items_per_list`` per list; list l is <ol> when l % 2 == 1, else
    <ul> — so item k lives at (list_idx k//5, item_idx k%5, ordered
    (k//5)%2), all closed-form for the SQL oracle. Chrome around the
    content pins the policy inside the driver query itself: a <nav>
    list (DROP_TAGS — contributes neither a list_idx nor items), an
    anchor-only EMPTY first <li> in every list (skipped without
    consuming an item_idx), and a footer <ol> (dropped)."""
    import html as _html

    text = normalize_for_pdf(text)
    words = text.split(" ")
    n = words_per_item
    items = [" ".join(words[k * n:(k + 1) * n])
             for k in range((len(words) + n - 1) // n)]
    lists = []
    for li in range(0, len(items), items_per_list):
        tag = "ol" if (li // items_per_list) % 2 == 1 else "ul"
        body = "".join(
            "<li>%s</li>" % _html.escape(item)
            for item in items[li:li + items_per_list]
        )
        lists.append('<%s><li><a href="#top"> </a></li>%s</%s>'
                     % (tag, body, tag))
    return (
        '<!doctype html><html lang="en"><head><title>doc %d</title>'
        "</head><body><nav><ul><li>home</li><li>about</li></ul></nav>"
        "%s<footer><ol><li>terms</li></ol></footer></body></html>"
        % (doc_id, "".join(lists))
    ).encode("utf-8")


def text_to_html_outline(text: str, doc_id: int = 0) -> bytes:
    """Heading-outline page: words split into 8-word groups; group k
    becomes a HEADING when k % 4 == 0 (level cycling h1→h2→h3 by
    heading ordinal: level = 1 + (k/4) % 3), otherwise a <p>
    paragraph — so heading_ord = k/4, and the heading text is the
    group's words joined, all closed-form for the SQL oracle. A
    heading inside <nav> plus an anchor-only (empty-text) heading
    prove the extractor's drop gating and empty-skip policy consume
    no ord_idx; headings carry an inline <em> to prove inline tags
    flow."""
    import html as _html

    text = normalize_for_pdf(text)
    words = text.split(" ")
    parts = []
    n_groups = (len(words) + 7) // 8
    for k in range(n_groups):
        grp = _html.escape(" ".join(words[8 * k:8 * k + 8]))
        if k % 4 == 0:
            lvl = 1 + (k // 4) % 3
            # inline <em> wraps the whole text — flows, no separator
            parts.append("<h%d><em>%s</em></h%d>" % (lvl, grp, lvl))
        else:
            parts.append("<p>%s</p>" % grp)
    return (
        '<!doctype html><html lang="en"><head><title>doc %d</title>'
        "</head><body><nav><h1>site chrome heading</h1>menu</nav>"
        '<h2><a id="top"></a></h2>%s'
        "<footer>copyright footer</footer></body></html>"
        % (doc_id, "".join(parts))
    ).encode("utf-8")


def text_to_html_spantable(text: str, doc_id: int = 0) -> bytes:
    """HTML grid-table torture test (the <table> twin of the PDF
    ragged/header tiers): consecutive word PAIRS fill a 3-slot-wide
    table whose rows follow a deterministic ``row % 9`` pattern —

    - row ≡ 3 (mod 9): TWO cells, the first ``colspan=2`` (grid cols
      0-1) and the second at grid col 2;
    - row ≡ 5 (mod 9): three cells, the FIRST ``rowspan=2`` — it
      covers slot (row+1, 0);
    - row ≡ 6 (mod 9): the covered row — TWO cells, which the grid
      algorithm must place at cols 1 and 2 (col 0 is occupied by the
      span above);
    - every other row: three plain cells;
    - row 0 uses <th> (is_header).

    Cells are consumed row-major until the word pairs run out (a
    partial last row keeps whatever cells remain; a trailing rowspan
    with no next row covers nothing). Every quantity is closed-form —
    cells-per-row is 2 for row%9 ∈ {3,6} else 3, so a SUM() OVER
    running total recovers each row's first cell index — which is
    exactly what queries._TABLE_SPANS_SQL mirrors. Boilerplate
    (nav/footer) surrounds the table so the extractor proves it
    scopes to table content; a <table> inside <nav> additionally
    proves dropped subtrees consume no table_idx."""
    import html as _html

    text = normalize_for_pdf(text)
    words = text.split(" ")
    cells = [" ".join(words[2 * k:2 * k + 2])
             for k in range((len(words) + 1) // 2)]
    rows = []
    k = 0
    r = 0
    while k < len(cells):
        tag = "th" if r == 0 else "td"
        mode = r % 9
        tds = []
        if mode == 3:
            specs = [(' colspan="2"', 1), ("", 1)]
        elif mode == 5:
            specs = [(' rowspan="2"', 1), ("", 1), ("", 1)]
        elif mode == 6:
            specs = [("", 1), ("", 1)]
        else:
            specs = [("", 1), ("", 1), ("", 1)]
        for attr, _ in specs:
            if k >= len(cells):
                break
            tds.append("<%s%s>%s</%s>"
                       % (tag, attr, _html.escape(cells[k]), tag))
            k += 1
        rows.append("<tr>%s</tr>" % "".join(tds))
        r += 1
    return (
        '<!doctype html><html lang="en"><head><title>doc %d</title>'
        "</head><body><nav>menu<table><tr><td>chrome</td></tr></table>"
        "</nav><table>%s</table>"
        "<footer>copyright footer</footer></body></html>"
        % (doc_id, "".join(rows))
    ).encode("utf-8")
