"""Per-document text extraction: the content-stream interpreter
(SURVEY.md §2A.5, §3.3).

Behavioral model: the reference's dispatch loop (`src/render/mod.rs:216-298`)
restricted to text-relevant state; rasterization (`src/render/canvas.rs`)
is dropped — our sink is DataFrame columns.

PINNED LINEARIZATION POLICY (SURVEY.md §7 hard part 1 — the reference
renders glyphs at positions and never linearizes, so these choices define
the oracle; goldens in tests/test_golden.py pin them):

1. Text accumulates in operator order (Tj/TJ/'/" as encountered).
2. A newline is inserted before a show whose text-space baseline y
   (translation of Tm∘CTM) differs from the previous show's by more than
   ``NEWLINE_EPS`` — so Td/TD/T*/Tm used as same-line kerning do NOT break
   lines, and '/"/T* line advances DO.
3. TJ kern numbers adjust Tm only; they NEVER insert spaces (matches the
   reference, which draws nothing for kerns — `src/render/mod.rs:1258-1269`).
   Spaces come only from actual space glyphs.
4. Pages are joined with "\\f"; spans are [start,end) char offsets of each
   page's text within the document string.
5. Marked-content /Artifact sections are KEPT (the reference does not
   filter them — `src/render/mod.rs:1486-1520`).
6. Unknown operators are ignored (operand stack cleared) everywhere, not
   just inside BX…EX — crash-tolerance inverts the reference's panic.
7. Writing mode 1 (Identity-V, predefined *-V CMaps, embedded CMaps with
   /WMode 1 — the reference lists the V variants in `src/font/cjk.rs:1-190`
   but never applies vertical displacement): per-glyph displacement runs
   DOWN the page — ty = w1y/1000·Tfs + Tc with w1y per glyph: the /W2
   per-CID override when the descendant font carries one (r7; both
   entry forms, triples + ranges — the reference parses the field at
   `src/font/cid.rs:86-92` but never applies it), else the /DW2
   default (−1000). Tw never applies (2-byte codes can't be code 32).
   Text still accumulates in operator order (rule 1), so the
   linearized text of a vertical page is the shows in stream order; the
   READING-order reconstruction is kernel/layout.py layout="vertical".
"""

from __future__ import annotations

import re
from typing import Dict, List, NamedTuple, Optional, Tuple

from pdfspark.kernel.content import tokenize_content
from pdfspark.kernel.document import PdfDocument
from pdfspark.kernel.fonts import Font, default_font, load_font
from pdfspark.kernel.name_tree import walk_tree
from pdfspark.kernel.objects import (
    Name,
    PdfError,
    PdfString,
    Reference,
    Stream,
    decode_text_string,
)
from pdfspark.kernel.textstate import (
    GraphicsState,
    IDENTITY,
    Matrix,
    TextState,
    apply,
    mat_mul,
)

NEWLINE_EPS = 0.1
_MAX_FORM_DEPTH = 16
# Per-page /Annots bomb-guard of the one annotation pass that feeds
# annots_text, links_uri and attachments (ADVICE r3 #3: split caps once
# dropped a FileAttachment past index 511 while its page's text stayed)
_MAX_ANNOTS = 1024


class Span(NamedTuple):
    page: int
    start: int
    end: int


class GlyphPos(NamedTuple):
    """Opt-in geometric position of one glyph: ``offset`` indexes the
    first char this glyph contributed to the \\f-joined document text;
    (x, y) is the glyph origin in device space — the translation of the
    text rendering matrix Tm∘CTM at (0, rise), matching the reference's
    per-glyph Trm (`src/render/mod.rs:1273-1315`); ``w`` is the glyph's
    device-space x-displacement (advance incl. Tc/Tw/Th, post-matrix),
    so ``x + w`` is where the NEXT glyph of an unkerned run starts —
    the quantity word-break detection compares against actual next.x."""

    page: int
    offset: int
    x: float
    y: float
    w: float = 0.0
    # device-space em size: the length of the (0, Tf-size) vector
    # through Tm∘CTM — what "the font size" means after scaling
    # matrices; feeds size-aware line clustering (kernel/layout.py)
    size: float = 0.0


class ExtractResult(NamedTuple):
    text: Optional[str]
    spans: List[Span]
    n_pages: int
    error: Optional[str]
    lang: Optional[str]
    title: Optional[str] = None
    created: Optional[str] = None  # ISO-ish string from the PDF date
    annots: Optional[str] = None  # annotation text, "\n"-joined page order
    outlines: Optional[str] = None  # bookmark titles, pre-order "\n"-joined
    glyph_positions: Optional[List[GlyphPos]] = None  # opt-in geometry
    links: Optional[str] = None  # Link-annotation URIs, "\n"-joined
    attachments: Optional[str] = None  # "name:size" lines, "\n"-joined
    struct_text: Optional[str] = None  # opt-in Tagged-PDF structure order
    page_labels: Optional[str] = None  # /PageLabels, one per page, "\n"-joined
    # resolved outline destination page indices (0-based, -1 =
    # unresolvable), "\n"-joined line-aligned with ``outlines``
    outline_pages: Optional[str] = None


def extract_text(buf: bytes, positions: bool = False,
                 structure: bool = False) -> ExtractResult:
    """Extract text from one PDF byte buffer. Never raises: failures land
    in ``error`` (stable codes: not-pdf, encrypted, xref, catalog, pages,
    filter, lex, too-large, predefined-cmap, internal).

    ``positions=True`` additionally records per-glyph device-space (x, y)
    in ``glyph_positions`` — the opt-in geometry column for downstream
    word-break/column analysis. It forces the per-glyph decode path
    (≈2.4× slower than the batched default), so the hot extraction path
    leaves it off.

    ``structure=True`` additionally linearizes in Tagged-PDF STRUCTURE
    order (``struct_text``): marked-content runs regroup by MCID and
    follow the /StructTreeRoot depth-first element order — the
    semantically-correct reading order when a producer tagged the file
    (content-stream order stays the pinned default policy; struct_text
    is None for untagged docs)."""
    try:
        doc = PdfDocument(buf)
        pages = doc.pages()
        page_texts: List[str] = []
        glyph_positions: Optional[List[GlyphPos]] = [] if positions else None
        page_pos: List[List[tuple]] = []
        page_runs: List[list] = []
        soft_error: Optional[str] = None
        for page in pages:
            try:
                txt, err, gp, runs = _extract_page(
                    doc, page, positions=positions, mcids=structure)
            except PdfError as e:
                txt, err, gp, runs = "", e.code, None, None
            except RecursionError:
                txt, err, gp, runs = "", "recursion", None, None
            page_texts.append(txt)
            page_pos.append(gp or [])
            page_runs.append(runs or [])
            if err and not soft_error:
                soft_error = err
        text = "\f".join(page_texts)
        spans: List[Span] = []
        off = 0
        for i, t in enumerate(page_texts):
            spans.append(Span(i, off, off + len(t)))
            if glyph_positions is not None:
                glyph_positions.extend(
                    GlyphPos(i, off + o, x, y, w, sz)
                    for o, x, y, w, sz in page_pos[i]
                )
            off += len(t) + 1  # the \f separator
        title, created = _doc_metadata(doc)
        annot_parts: List[str] = []
        link_parts: List[str] = []
        att_parts = _embedded_files(doc)
        for page in pages:
            _page_annots(doc, page, annot_parts, link_parts, att_parts)
        annot_parts.extend(_acroform_field_values(doc))
        annots = "\n".join(annot_parts) if annot_parts else None
        links = "\n".join(link_parts) if link_parts else None
        attachments = "\n".join(att_parts) if att_parts else None
        struct_text = (_struct_text(doc, pages, page_runs)
                       if structure else None)
        outline_entries = _outline_entries(doc, pages)
        outline_pages = ("\n".join(
            str(p) if p is not None else "-1"
            for _, p in outline_entries) if outline_entries else None)
        return ExtractResult(
            text, spans, len(pages), soft_error, doc.lang(), title, created,
            annots, _doc_outlines(doc, outline_entries), glyph_positions,
            links, attachments, struct_text,
            _page_labels_text(doc, len(pages)), outline_pages,
        )
    except PdfError as e:
        return ExtractResult(None, [], 0, e.code, None)
    except RecursionError:
        return ExtractResult(None, [], 0, "recursion", None)
    except MemoryError:
        return ExtractResult(None, [], 0, "too-large", None)
    except Exception:  # one bad PDF must not kill the job
        return ExtractResult(None, [], 0, "internal", None)


def _page_annots(doc: PdfDocument, page: dict, texts: List[str],
                 links: List[str], files: List[str]) -> None:
    """One pass over the page's /Annots (reference annotation model:
    `src/annotation/mod.rs:19`, subtype.rs, link.rs) feeding three
    columns, each annotation resolved once:

    - ``texts`` (annots_text): the /Contents of any annotation that
      carries one (FreeText, Text/sticky-note, …), then a Widget's
      field value (/V, inherited per ``_field_value``);
    - ``links`` (links_uri): a /Link's URI action (`src/actions/uri.rs`)
      — /A /S /URI first, the /PA web-capture original as fallback;
      Dest-only (intra-document) links carry no URI and are skipped;
    - ``files`` (attachments): a /FileAttachment's file specification
      as "name:size".

    A failure inside one annotation drops only that annotation's
    remaining contribution to the column being read; the page's other
    annotations and the other pages are unaffected."""
    try:
        annots = doc.get(page, "Annots")
    except PdfError:
        return
    if not isinstance(annots, list):
        return
    for ref in annots[:_MAX_ANNOTS]:  # bomb guard
        try:
            a = doc.resolve(ref)
        except PdfError:
            continue
        if not isinstance(a, dict):
            continue
        try:
            subtype = str(doc.get(a, "Subtype") or "")
        except PdfError:
            subtype = ""
        try:
            contents = decode_text_string(doc.resolve(a.get("Contents")))
            if contents:
                texts.append(contents)
            if subtype == "Widget":
                value = _field_value(doc, a)
                if value is not None:
                    texts.append(value)
        except PdfError:
            pass
        try:
            if subtype == "Link":
                for action_key in ("A", "PA"):
                    act = doc.resolve(a.get(action_key))
                    if isinstance(act, dict) \
                            and str(doc.get(act, "S") or "") == "URI":
                        uri = doc.resolve(act.get("URI"))
                        if isinstance(uri, (bytes, PdfString)):
                            # URIs are 7-bit ASCII by spec (§12.6.4.7);
                            # tolerate 8-bit dirt as utf-8-with-fallback
                            links.append(
                                bytes(uri).decode("utf-8", "replace"))
                            break
            elif subtype == "FileAttachment":
                entry = _filespec_entry(doc, doc.get(a, "FS"))
                if entry:
                    files.append(entry)
        except PdfError:
            pass


def _field_value(doc: PdfDocument, field: dict) -> Optional[str]:
    """A form field's value for annots_text: its /V, else the nearest
    ancestor field's (AcroForm inheritance, §12.7.3.1 — the /Fields tree
    the reference parses in `src/catalog.rs`) through at most 16 /Parent
    hops. A Name (choice/radio export value) is returned as is, a text
    string decoded — None when it is empty or there is no value."""
    v = doc.resolve(field.get("V"))
    node, depth = field, 0
    while v is None and depth < 16:
        node = doc.resolve(node.get("Parent"))
        if not isinstance(node, dict):
            break
        v = doc.resolve(node.get("V"))
        depth += 1
    if isinstance(v, Name):
        return str(v)
    return decode_text_string(v) or None


def _acroform_field_values(doc: PdfDocument) -> List[str]:
    """Document-level AcroForm field values WITHOUT a widget appearance
    (reference field tree: `src/acro_form.rs` /Fields): hidden/utility
    form data a page-/Annots walk never sees. Fields merged with widget
    annotations are skipped — the page walk already emitted them.
    Breadth-first in /Fields order (deterministic), cycle-guarded and
    budget-capped against malformed Kids graphs."""
    from collections import deque

    out: List[str] = []
    try:
        af = doc.get(doc.catalog(), "AcroForm")
        if not isinstance(af, dict):
            return out
        fields = doc.get(af, "Fields")
        if not isinstance(fields, list):
            return out
        queue = deque(fields[:512])
        seen: set = set()
        budget = 2048
        while queue and budget > 0:
            budget -= 1
            ref = queue.popleft()
            if isinstance(ref, Reference):
                if ref.object_number in seen:
                    continue
                seen.add(ref.object_number)
            try:  # an unreadable field drops only its own value
                node = doc.resolve(ref)
                if not isinstance(node, dict):
                    continue
                kids = doc.get(node, "Kids")
                if isinstance(kids, list) and kids:
                    # intermediate node: its /V is the kids' INHERITED
                    # value (§12.7.3.1) and surfaces through them —
                    # re-emitting here would duplicate every inheriting
                    # widget's value. An EMPTY /Kids array is a terminal
                    # field (some producers emit it), so it falls
                    # through to value emission.
                    queue.extend(kids[:512])
                    continue
                if str(doc.get(node, "Subtype") or "") == "Widget":
                    continue  # the page /Annots pass owns widget fields
                value = _field_value(doc, node)
            except PdfError:
                continue
            if value is not None:
                out.append(value)
    except PdfError:
        pass
    return out


def _embedded_files(doc: PdfDocument) -> List[str]:
    """The document half of the attachments inventory: the catalog's
    /Names → /EmbeddedFiles name tree (the reference walks the same
    trees, `src/data_structures/name_tree.rs` via `src/catalog.rs`
    Names) in key order, as "name:size" lines; FileAttachment
    annotations follow in page order (``_page_annots``)."""
    out: List[str] = []
    try:
        names = doc.get(doc.catalog(), "Names")
    except PdfError:
        return out
    if not isinstance(names, dict):
        return out
    for _k, v in walk_tree(doc, names.get("EmbeddedFiles")):
        try:
            entry = _filespec_entry(doc, doc.resolve(v))
        except PdfError:
            continue
        if entry:
            out.append(entry)
    return out


def _filespec_entry(doc: PdfDocument, fs) -> Optional[str]:
    """One file specification (§7.11.3) → "name:size" ("name" when no
    size is recoverable). /UF (Unicode) wins over /F per spec. Size
    comes from /EF /F's /Params /Size, else the raw stream /Length —
    the payload is never decoded (attachments can be huge; a crawl
    pipeline wants the inventory, not the bytes, in this column)."""
    if not isinstance(fs, dict):
        return None
    name = (decode_text_string(doc.resolve(fs.get("UF")))
            or decode_text_string(doc.resolve(fs.get("F"))))
    if not name:
        return None
    size = None
    ef = doc.get(fs, "EF")
    if isinstance(ef, dict):
        stream = doc.resolve(ef.get("F")) or doc.resolve(ef.get("UF"))
        if isinstance(stream, Stream):
            params = doc.get(stream.dict, "Params")
            if isinstance(params, dict):
                psize = doc.get(params, "Size")
                if isinstance(psize, int):
                    size = psize
            if size is None:
                slen = doc.get(stream.dict, "Length")
                if isinstance(slen, int):
                    size = slen
    return f"{name}:{size}" if size is not None else name


def _outline_entries(doc: PdfDocument, pages: List[dict]) -> List[tuple]:
    """Pre-order (title, dest_page_index) pairs from the outline tree
    (reference: `src/catalog.rs:35-208` Outlines + `src/destination.rs`
    + `src/actions` GoTo — the reference PARSES destinations but never
    resolves them to pages; we do, r7). Title selection is the pinned
    outlines policy unchanged (empty titles skipped); the page index
    resolves the item's /Dest — or its /A GoTo action's /D — through
    explicit arrays and the document's named-destination table
    (``PdfDocument.named_destinations``), and is None when
    unresolvable. Cycle-guarded and depth-capped — crawl PDFs contain
    malformed sibling chains."""
    try:
        outlines = doc.get(doc.catalog(), "Outlines")
        if not isinstance(outlines, dict):
            return []
        idx_by_obj = {
            p.get("__pageobj__"): i for i, p in enumerate(pages)
            if p.get("__pageobj__") is not None
        }
        entries: List[tuple] = []
        _walk_outline(doc, outlines.get("First"), entries, set(), 0,
                      idx_by_obj, len(pages))
        return entries
    except PdfError:
        return []


def _doc_outlines(doc: PdfDocument, entries: List[tuple]) -> Optional[str]:
    """Bookmark titles, "\\n"-joined pre-order — the pinned surface,
    byte-identical to the pre-r7 walker (entries carry the same
    skip-empty-title policy)."""
    return "\n".join(t for t, _ in entries) if entries else None


def _walk_outline(doc, ref, entries: List[tuple], seen: set, depth: int,
                  idx_by_obj: dict, n_pages: int) -> None:
    if depth > 32:
        return
    while ref is not None and len(entries) < 4096:
        if isinstance(ref, Reference):
            if ref.object_number in seen:
                return  # malformed sibling cycle
            seen.add(ref.object_number)
        try:
            node = doc.resolve(ref)
        except PdfError:
            return
        if not isinstance(node, dict):
            return
        try:
            t = decode_text_string(doc.resolve(node.get("Title")))
        except PdfError:
            t = None  # unreadable: skipped like an empty title
        if t:
            dest = node.get("Dest")
            if dest is None:
                try:
                    a = doc.resolve(node.get("A"))
                except PdfError:
                    a = None
                if (isinstance(a, dict)
                        and str(doc.get(a, "S") or "") == "GoTo"):
                    dest = a.get("D")
            entries.append(
                (t, _dest_page_index(doc, dest, idx_by_obj, n_pages)))
        _walk_outline(doc, node.get("First"), entries, seen, depth + 1,
                      idx_by_obj, n_pages)
        ref = node.get("Next")


def _dest_page_index(doc, dest, idx_by_obj: dict, n_pages: int,
                     name_depth: int = 0):
    """Resolve one destination to a 0-based page index, or None: an
    explicit array's first element (page Reference, or a bare integer
    page number as remote-style dests use), a dest dict's /D, or a
    name/string looked up in the named-destination table. Bounded
    indirection depth — a named dest resolving to another name, or a
    crafted chain of direct /D dicts, terminates instead of
    looping/recursing (one bad dest must never error the doc)."""
    if dest is None or name_depth > 4:
        return None
    try:
        d = doc.resolve(dest)
    except PdfError:
        return None
    if isinstance(d, dict):
        return _dest_page_index(doc, d.get("D"), idx_by_obj, n_pages,
                                name_depth + 1)
    if isinstance(d, (Name, PdfString, str)):
        key = d if isinstance(d, str) else decode_text_string(d)
        if not key:
            return None
        target = doc.named_destinations().get(key)
        if target is None:
            return None
        return _dest_page_index(doc, target, idx_by_obj, n_pages,
                                name_depth + 1)
    if isinstance(d, list) and d:
        first = d[0]
        if isinstance(first, Reference):
            return idx_by_obj.get(first.object_number)
        try:
            v = doc.resolve(first)
        except PdfError:
            return None
        # bool is an int subclass — /Dest [true] is malformed, not page 1
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            i = int(v)
            return i if 0 <= i < n_pages else None
    return None


_ROMAN_VALS = ((1000, "m"), (900, "cm"), (500, "d"), (400, "cd"),
               (100, "c"), (90, "xc"), (50, "l"), (40, "xl"),
               (10, "x"), (9, "ix"), (5, "v"), (4, "iv"), (1, "i"))


def _label_number(style: str, v: int) -> str:
    """One page-label ordinal under a /S style (PDF 12.4.2 table 159):
    D decimal, R/r upper/lower roman, A/a upper/lower alphabetic
    (A..Z, AA..ZZ, AAA..). Out-of-domain values (< 1, or > 100000
    where a roman/alpha string would be absurdly long) render decimal
    — a label, never an exception or a megabyte of 'm's."""
    if v < 1 or v > 100_000 or style == "D":
        return str(v)
    if style in ("R", "r"):
        out = []
        for val, sym in _ROMAN_VALS:
            q, v = divmod(v, val)
            out.append(sym * q)
        s = "".join(out)
        return s.upper() if style == "R" else s
    if style in ("A", "a"):
        ch = chr(((v - 1) % 26) + (65 if style == "A" else 97))
        return ch * ((v - 1) // 26 + 1)
    return str(v)


def _page_labels_text(doc: PdfDocument, n_pages: int) -> Optional[str]:
    """Per-page display labels from the catalog /PageLabels number
    tree (PDF 12.4.2; the reference PARSES the field —
    `src/catalog.rs:65` + number_tree.rs — but renders nothing from
    it, so this exceeds it): each Nums key is the first page index of
    a labelling range whose dict gives /S numbering style (D/R/r/A/a),
    /P prefix, /St start (default 1); page i's label is the range with
    the greatest key ≤ i, prefix + styled(St + i − key). Returns one
    label per page "\\n"-joined, or None when the catalog carries no
    tree (the common case — labels then equal 1-based page numbers
    implicitly). Degenerate trees (missing index 0, unknown styles,
    non-dict values) degrade — uncovered pages label "", /S-less
    ranges emit the bare prefix — never raise."""
    import bisect

    try:
        tree = doc.get(doc.catalog(), "PageLabels")
        if not isinstance(tree, dict):
            return None
        ranges: dict = {}
        for k, v in walk_tree(doc, tree, "Nums"):
            try:
                v = doc.resolve(v)
            except PdfError:
                continue
            if isinstance(v, dict):
                ranges[int(k)] = v  # a repeated key: the last one wins
        keys = sorted(k for k in ranges if k >= 0)
        if not keys:
            return None
        labels: List[str] = []
        for i in range(n_pages):
            j = bisect.bisect_right(keys, i) - 1
            if j < 0:
                labels.append("")  # before the first range (spec
                continue           # requires key 0; degrade, not raise)
            k = keys[j]
            d = ranges[k]
            style = str(doc.resolve(d.get("S")) or "")
            prefix = decode_text_string(doc.resolve(d.get("P"))) or ""
            st = doc.resolve(d.get("St"))
            start = int(st) if isinstance(st, (int, float)) else 1
            num = _label_number(style, start + (i - k)) if style else ""
            labels.append(prefix + num)
        return "\n".join(labels)
    except PdfError:
        return None


def _doc_metadata(doc: PdfDocument):
    """Info dictionary surface (`src/catalog.rs:212-240`): Title +
    CreationDate (via the D: date parser, `src/date.rs`). When /Info
    carries no /Title, fall back to the catalog's XMP packet (dc:title
    rdf:Alt first item) — many crawl PDFs are XMP-only; the reference
    never reads XMP, so this exceeds it."""
    title = created = None
    try:
        info = doc.resolve(doc.trailer.get("Info"))
        if isinstance(info, dict):
            title = decode_text_string(doc.resolve(info.get("Title")))
            from pdfspark.kernel.dates import parse_pdf_date

            d = parse_pdf_date(doc.resolve(info.get("CreationDate")))
            if d and d["year"]:
                created = "%04d-%02d-%02dT%02d:%02d:%02d" % (
                    d["year"], d["month"] or 1, d["day"] or 1,
                    d["hour"] or 0, d["minute"] or 0, d["second"] or 0,
                )
        if title is None:
            title = _xmp_title(doc)
    except PdfError:
        pass
    return title, created


_XMP_TITLE = re.compile(
    rb"<dc:title>.{0,400}?<rdf:li[^>]{0,200}>(.{0,1000}?)</rdf:li>",
    re.DOTALL,
)


def _xmp_title(doc: PdfDocument) -> Optional[str]:
    """dc:title from the catalog /Metadata XMP stream (first rdf:Alt
    item). Bounded: 1 MiB of decoded packet, regex spans capped; the
    three XML escapes XMP writers emit are unescaped."""
    try:
        meta = doc.get(doc.catalog(), "Metadata")
        if not isinstance(meta, Stream):
            return None
        data = doc.decode(meta)[: 1 << 20]
        m = _XMP_TITLE.search(data)
        if not m:
            return None
        raw = m.group(1).strip()
        for ent, ch in ((b"&lt;", b"<"), (b"&gt;", b">"), (b"&amp;", b"&"),
                        (b"&quot;", b'"'), (b"&#39;", b"'")):
            raw = raw.replace(ent, ch)
        s = raw.decode("utf-8", "replace")
        return s or None
    except PdfError:
        return None


def extract_document(buf: bytes) -> ExtractResult:
    """Modality dispatch (the pipeline kernel entry): %PDF- magic → PDF
    kernel; HTML hints → boilerplate-stripping HTML extractor; anything
    else → error='unknown-format'. Never raises."""
    if buf is None:
        return ExtractResult(None, [], 0, "unknown-format", None)
    head = bytes(buf[:1024])
    if b"%PDF-" in head:
        return extract_text(bytes(buf))
    from pdfspark.kernel.html_extract import extract_html, looks_like_html

    if looks_like_html(head):
        return extract_html(bytes(buf))
    return ExtractResult(None, [], 0, "unknown-format", None)


class _PageInterp:
    """Interpreter state for one page (+ nested Form XObjects)."""

    def __init__(self, doc: PdfDocument, track_positions: bool = False,
                 track_mcids: bool = False) -> None:
        self.doc = doc
        self.out: List[str] = []
        self.out_len = 0
        self.last_y: Optional[float] = None
        self.gs = GraphicsState()
        self.gs_stack: List[GraphicsState] = []
        self.ts = TextState()
        self.font_cache: Dict[int, Font] = {}
        self.soft_error: Optional[str] = None
        # opt-in geometry: (page-relative char offset, x, y) per glyph
        self.positions: Optional[List[tuple]] = [] if track_positions else None
        # opt-in Tagged-PDF: (effective MCID | None, shown text) runs;
        # mc_stack entries are (effective MCID, is_actualtext_suppressor)
        self.runs: Optional[List[tuple]] = [] if track_mcids else None
        self.mc_stack: List[tuple] = []
        self.mc_suppress = 0  # >0 inside an /ActualText sequence

    # ------------------------------------------------------------ emission

    def _emit(self, s: str) -> None:
        if s:
            self.out.append(s)
            self.out_len += len(s)

    def _maybe_newline(self) -> None:
        x, y = apply(mat_mul(self.ts.tm, self.gs.ctm), 0.0, 0.0)
        if (
            self.last_y is not None
            and abs(y - self.last_y) > NEWLINE_EPS
            and self.out_len
            and (not self.out or not self.out[-1].endswith("\n"))
        ):
            self._emit("\n")
        self.last_y = y

    # ---------------------------------------------------------- text shows

    def _font(self) -> Font:
        f = self.ts.font
        return f if f is not None else default_font()

    def _show(self, raw) -> None:
        if not isinstance(raw, (bytes, PdfString)):
            return
        font = self._font()
        if font.error and not self.soft_error:
            self.soft_error = font.error
        self._maybe_newline()
        ts = self.ts
        if self.positions is not None:
            # per-glyph path: one matrix read + one advance per glyph —
            # the Trm origin the reference computes per glyph
            # (`src/render/mod.rs:1273-1315`), exposed as geometry.
            # Device em size is constant within a show (advances only
            # translate Tm): length of the (0, size) vector through
            # Trm, computed once
            m0 = mat_mul(ts.tm, self.gs.ctm)
            bx, by = apply(m0, 0.0, 0.0)
            sx, sy = apply(m0, 0.0, ts.font_size)
            dev_size = ((sx - bx) ** 2 + (sy - by) ** 2) ** 0.5
            vertical = font.wmode == 1
            for g in font.decode(bytes(raw)):
                gx, gy = apply(mat_mul(ts.tm, self.gs.ctm), 0.0, ts.rise)
                off = self.out_len
                self._emit(g.text)
                if vertical:
                    # writing mode 1 (PDF 9.4.4): displacement runs
                    # down the page — ty = w1y/1000·Tfs + Tc (Tw only
                    # ever applies to single-byte code 32, which a
                    # 2-byte CMap can't produce; Th is horizontal-only).
                    # w1y is per-glyph: /W2 override else /DW2 (r7)
                    ts.advance_v(
                        g.v_advance / 1000.0 * ts.font_size
                        + ts.char_spacing
                    )
                else:
                    ts.advance(
                        (g.advance / 1000.0 * ts.font_size
                         + ts.char_spacing
                         + (ts.word_spacing if g.is_space else 0.0))
                        * ts.h_scale
                    )
                nx, _ = apply(mat_mul(ts.tm, self.gs.ctm), 0.0, ts.rise)
                self.positions.append((off, gx, gy, nx - gx, dev_size))
                if self.runs is not None and not self.mc_suppress:
                    self.runs.append((self._mcid(), g.text))
            _, self.last_y = apply(mat_mul(ts.tm, self.gs.ctm), 0.0, 0.0)
            return
        text, width_sum, n_glyphs, n_spaces = font.decode_fast(bytes(raw))
        if font.wmode == 1:
            # vertical batched advance: displacements are pure
            # ty-translations so they compose additively — one
            # translate per show. Uniform /DW2 needs no re-decode;
            # a font carrying per-CID /W2 sums w1y per glyph (r7 —
            # only W2 fonts pay the second decode)
            if font.cid_v_advances:
                # take n_glyphs from the SAME decode that sums
                # v_advance — if decode()/decode_fast() ever diverge
                # in glyph count, char_spacing must follow the
                # geometry source, not mix the two
                glyphs = font.decode(bytes(raw))
                v_sum = sum(g.v_advance for g in glyphs)
                n_glyphs = len(glyphs)
            else:
                v_sum = n_glyphs * font.v_advance
            ts.advance_v(
                v_sum / 1000.0 * ts.font_size
                + n_glyphs * ts.char_spacing
            )
            self._emit(text)
            if self.runs is not None and text and not self.mc_suppress:
                self.runs.append((self._mcid(), text))
            _, self.last_y = apply(mat_mul(ts.tm, self.gs.ctm), 0.0, 0.0)
            return
        # T12 advance, batched: Σ(w/1000·size + Tc + Tw·is_space) · Th —
        # one translate instead of one mat_mul per glyph
        tx = (
            width_sum / 1000.0 * ts.font_size
            + n_glyphs * ts.char_spacing
            + n_spaces * ts.word_spacing
        ) * ts.h_scale
        ts.advance(tx)
        self._emit(text)
        if self.runs is not None and text and not self.mc_suppress:
            self.runs.append((self._mcid(), text))
        # update last_y to post-show baseline (rises don't move the baseline)
        _, self.last_y = apply(mat_mul(ts.tm, self.gs.ctm), 0.0, 0.0)

    def _show_tj_array(self, arr) -> None:
        if not isinstance(arr, list):
            return
        for item in arr:
            if isinstance(item, (bytes, PdfString)):
                self._show(item)
            elif isinstance(item, (int, float)):
                # kern: Tm ← translate(−n/1000·size·Th, 0)·Tm; NO space.
                # Vertical mode: the same number displaces ty instead
                # (PDF 9.4.3 — Tj applies along the writing direction)
                f = self.ts.font
                if f is not None and f.wmode == 1:
                    self.ts.advance_v(
                        -float(item) / 1000.0 * self.ts.font_size)
                else:
                    tx = (-float(item) / 1000.0 * self.ts.font_size
                          * self.ts.h_scale)
                    self.ts.advance(tx)

    # ------------------------------------------------------------ operators

    def run(self, content: bytes, resources: Optional[dict], depth: int = 0,
            seen_forms: Optional[set] = None) -> None:
        res = resources or {}
        seen_forms = seen_forms if seen_forms is not None else set()
        for operands, op in tokenize_content(content):
            try:
                self._dispatch(operands, op, res, depth, seen_forms)
            except PdfError as e:
                if not self.soft_error:
                    self.soft_error = e.code
            except (ValueError, TypeError, IndexError, KeyError):
                continue  # malformed operands: skip the operator

    def _dispatch(self, o: list, op: str, res: dict, depth: int,
                  seen_forms: set) -> None:
        ts = self.ts
        doc = self.doc
        # chain ordered by measured op frequency (text-dominant
        # corpora: one Tj + one Td per line dominate — late-r8 shave;
        # semantics unchanged, ops are distinct strings)
        if op == "Tj" and o:
            self._show(o[-1])
        elif op == "Td" and len(o) >= 2:
            ts.td(float(o[-2]), float(o[-1]))
        elif op == "TJ" and o:
            self._show_tj_array(o[-1])
        elif op == "Tf" and len(o) >= 2:
            ts.font = self._load_font_cached(res, o[-2])
            ts.font_size = float(o[-1])
        elif op == "BT":
            ts.begin_text()
        elif op == "ET":
            pass  # Tm/Tlm are discarded at next BT
        elif op == "TD" and len(o) >= 2:
            ts.leading = -float(o[-1])
            ts.td(float(o[-2]), float(o[-1]))
        elif op == "Tm" and len(o) >= 6:
            ts.set_tm([float(x) for x in o[-6:]])
        elif op == "T*":
            ts.next_line()
        elif op == "TL" and o:
            ts.leading = float(o[-1])
        elif op == "Tc" and o:
            ts.char_spacing = float(o[-1])
        elif op == "Tw" and o:
            ts.word_spacing = float(o[-1])
        elif op == "Tz" and o:
            ts.h_scale = float(o[-1]) / 100.0
        elif op == "Ts" and o:
            ts.rise = float(o[-1])
        elif op == "Tr" and o:
            ts.render_mode = int(o[-1])
        elif op == "'" and o:
            # T* + Tj (dispatch is todo!() in the reference — spec §9.4.3)
            ts.next_line()
            self._show(o[-1])
        elif op == '"' and len(o) >= 3:
            ts.word_spacing = float(o[-3])
            ts.char_spacing = float(o[-2])
            ts.next_line()
            self._show(o[-1])
        elif op == "q":
            self.gs_stack.append(self.gs.copy())
        elif op == "Q":
            if self.gs_stack:
                self.gs = self.gs_stack.pop()
        elif op == "cm" and len(o) >= 6:
            m: Matrix = tuple(float(x) for x in o[-6:])  # type: ignore
            self.gs.ctm = mat_mul(m, self.gs.ctm)
        elif op == "gs" and o:
            self._apply_extgstate(res, o[-1])
        elif op == "Do" and o:
            self._do_xobject(res, o[-1], depth, seen_forms)
        elif op in ("BDC", "BMC", "EMC") and self.runs is not None:
            self._marked_content(op, o, res)
        # all other operators (paths, color, clip, marked content when
        # not tracking MCIDs, images, line params) carry no text:
        # operands were already popped


    def _load_font_cached(self, res: dict, name) -> Font:
        doc = self.doc
        fonts = doc.get(res, "Font") if isinstance(res, dict) else None
        if not isinstance(fonts, dict):
            return default_font()
        ref = fonts.get(str(name))
        key = (
            ref.object_number
            if isinstance(ref, Reference)
            else id(ref)
        )
        cached = self.font_cache.get(key)
        if cached is not None:
            return cached
        fd = doc.resolve(ref)
        font = load_font(doc, fd) if isinstance(fd, dict) else default_font()
        self.font_cache[key] = font
        return font

    def _apply_extgstate(self, res: dict, name) -> None:
        """G3: honor the /Font entry of an ExtGState dict
        (`src/render/mod.rs:825-840`); other params are paint-only."""
        doc = self.doc
        egs = doc.get(res, "ExtGState")
        if not isinstance(egs, dict):
            return
        g = doc.resolve(egs.get(str(name)))
        if isinstance(g, dict):
            fent = doc.resolve(g.get("Font"))
            if isinstance(fent, list) and len(fent) == 2:
                fd = doc.resolve(fent[0])
                if isinstance(fd, dict):
                    self.ts.font = load_font(doc, fd)
                    self.ts.font_size = float(doc.resolve(fent[1]) or 0)

    def _mcid(self) -> Optional[int]:
        return self.mc_stack[-1][0] if self.mc_stack else None

    def _marked_content(self, op: str, o: list, res: dict) -> None:
        """G10 with MCID tracking (structure mode only): BDC's property
        dict (inline or via /Properties) may carry /MCID; nested
        sequences without one inherit the enclosing effective MCID.
        /ActualText (§14.9.4) is honored IN STRUCT MODE ONLY: its
        replacement text is recorded as the sequence's run and the
        glyph runs inside are suppressed — the ligature/hyphenation
        corrections tagged producers emit. Content-order extraction
        keeps ignoring it (pinned t19 policy, matches the reference)."""
        if op == "EMC":
            if self.mc_stack and self.mc_stack.pop()[1]:
                self.mc_suppress -= 1
            return
        eff = self._mcid()
        suppressor = False
        if op == "BDC" and o:
            props = o[-1]
            if isinstance(props, Name):
                pdict = self.doc.get(res, "Properties")
                props = (self.doc.get(pdict, str(props))
                         if isinstance(pdict, dict) else None)
            if isinstance(props, dict):
                m = self.doc.resolve(props.get("MCID"))
                if isinstance(m, int) and not isinstance(m, bool):
                    eff = m
                at = decode_text_string(self.doc.resolve(props.get("ActualText")))
                if at is not None and not self.mc_suppress:
                    self.runs.append((eff, at))
                    suppressor = True
                    self.mc_suppress += 1
        self.mc_stack.append((eff, suppressor))

    def _do_xobject(self, res: dict, name, depth: int, seen_forms: set) -> None:
        """G4: Form XObject recursion with own Resources/Matrix, state
        saved around, depth cap + cycle guard
        (`src/render/mod.rs:178-202,1389-1413`)."""
        if depth >= _MAX_FORM_DEPTH:
            return
        doc = self.doc
        xobjs = doc.get(res, "XObject")
        if not isinstance(xobjs, dict):
            return
        ref = xobjs.get(str(name))
        key = (
            (ref.object_number, ref.generation)
            if isinstance(ref, Reference)
            else id(ref)
        )
        if key in seen_forms:
            return
        xo = doc.resolve(ref)
        if not isinstance(xo, Stream):
            return
        if str(doc.get(xo.dict, "Subtype") or "") != "Form":
            return  # images draw no text
        seen_forms.add(key)
        saved_gs, saved_stack = self.gs, list(self.gs_stack)
        saved_ts_font, saved_ts_size = self.ts.font, self.ts.font_size
        saved_mc = list(self.mc_stack)
        mtx = doc.get(xo.dict, "Matrix")
        if isinstance(mtx, list) and len(mtx) >= 6:
            m: Matrix = tuple(float(doc.resolve(x)) for x in mtx[:6])  # type: ignore
            self.gs = GraphicsState(mat_mul(m, self.gs.ctm))
        else:
            self.gs = self.gs.copy()
        inner_res = doc.get(xo.dict, "Resources") or res
        try:
            data = doc.decode(xo)
            self.run(data, inner_res, depth + 1, seen_forms)
        finally:
            seen_forms.discard(key)
            self.gs, self.gs_stack = saved_gs, saved_stack
            self.ts.font, self.ts.font_size = saved_ts_font, saved_ts_size
            # a form's unbalanced BDC/EMC must not leak into the page's
            # marked-content nesting (mirrors the gs/ts restore; a stray
            # EMC POPS page entries, so truncation alone cannot undo it)
            self.mc_stack[:] = saved_mc
            self.mc_suppress = sum(1 for _, sup in saved_mc if sup)


def _structure_mcid_order(doc: PdfDocument):
    """DFS over /StructTreeRoot (§14.7): /K may be an MCID int, an
    array, an /MCR marked-content reference, or a child element; /Pg is
    inherited down the tree. Returns {page objnum: [mcid, ...]} in
    element order, or None when the document is untagged. Cycle-guarded
    and budget-capped for crawl dirt."""
    st = doc.get(doc.catalog(), "StructTreeRoot")
    if not isinstance(st, dict):
        return None
    order: Dict[Optional[int], List[int]] = {}
    seen: set = set()
    budget = [65536]

    def walk(node, pg, depth: int) -> None:
        if budget[0] <= 0 or depth > 64:
            return
        budget[0] -= 1
        if isinstance(node, Reference):
            if node.object_number in seen:
                return
            seen.add(node.object_number)
        try:
            node = doc.resolve(node)
        except PdfError:
            return
        if isinstance(node, bool):
            return
        if isinstance(node, int):
            order.setdefault(pg, []).append(node)
            return
        if isinstance(node, list):
            for kid in node:
                walk(kid, pg, depth + 1)
            return
        if not isinstance(node, dict):
            return
        pg_ref = node.get("Pg")
        mypg = (pg_ref.object_number
                if isinstance(pg_ref, Reference) else pg)
        t = str(node.get("Type") or "")
        if t == "MCR":
            m = doc.resolve(node.get("MCID"))
            if isinstance(m, int) and not isinstance(m, bool):
                order.setdefault(mypg, []).append(m)
            return
        if t == "OBJR":
            return
        walk(node.get("K"), mypg, depth + 1)

    try:
        pg_ref = st.get("Pg")
        walk(st.get("K"),
             pg_ref.object_number if isinstance(pg_ref, Reference) else None,
             0)
    except PdfError:
        pass
    return order


def _struct_text(doc: PdfDocument, pages: List[dict],
                 page_runs: List[list]) -> Optional[str]:
    """Pinned structure-order policy: per page, each referenced MCID's
    runs concatenate in content order; MCID groups follow structure
    order, separated by a single space unless the text already ends in
    whitespace; unmarked/unreferenced runs append after them (content
    order, one group); pages join with \\f. None when the document
    carries no /StructTreeRoot."""
    order_map = _structure_mcid_order(doc)
    if order_map is None:
        return None
    if (len(pages) > 1 and order_map
            and set(order_map) == {None}):
        # Multi-page tagged doc whose structure elements ALL omit /Pg:
        # the MCID order cannot be attributed to any page, so every page
        # would silently degrade to content order while struct_text
        # reads as structure-verified. Treat as untagged-equivalent
        # (None) so readers cannot mistake the fallback for verified
        # structure order (ADVICE r3 #5).
        return None
    page_texts = []
    for page, runs in zip(pages, page_runs):
        order = order_map.get(page.get("__pageobj__"), [])
        if not order and len(pages) == 1:
            # single-page files commonly omit /Pg entirely
            order = order_map.get(None, [])
        by: Dict[Optional[int], List[str]] = {}
        for m, t in runs:
            by.setdefault(m, []).append(t)
        parts, used = [], set()
        for m in order:
            if m in by and m not in used:
                used.add(m)
                parts.append("".join(by[m]))
        leftover = "".join(t for m, t in runs if m not in used)
        if leftover:
            parts.append(leftover)
        txt = ""
        for p in parts:
            if not p:
                continue
            if txt and not txt[-1].isspace():
                txt += " "
            txt += p
        page_texts.append(txt)
    return "\f".join(page_texts)


def _extract_page(doc: PdfDocument, page: dict,
                  positions: bool = False, mcids: bool = False,
                  ) -> Tuple[str, Optional[str], Optional[list], Optional[list]]:
    content = doc.page_content(page)
    interp = _PageInterp(doc, track_positions=positions, track_mcids=mcids)
    resources = doc.get(page, "Resources")
    interp.run(content, resources if isinstance(resources, dict) else {})
    return ("".join(interp.out), interp.soft_error, interp.positions,
            interp.runs)
