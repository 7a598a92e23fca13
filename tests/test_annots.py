"""Annotation text, outline titles, and name trees (reference parity:
`src/annotation/mod.rs:19`, `src/catalog.rs:35-208`,
`src/data_structures/name_tree.rs:15`)."""

from pdfspark.docgen import text_to_pdf
from pdfspark.fixtures import BASE14, PdfBuilder, _simple_show
from pdfspark.kernel.document import PdfDocument
from pdfspark.kernel.extract import extract_text
from pdfspark.kernel.name_tree import walk_tree


def test_freetext_and_widget_annotations_extracted():
    pdf = text_to_pdf("body", freetext_annot="a sticky note",
                      widget_value="typed value")
    r = extract_text(pdf)
    assert r.error is None and r.text == "body"
    assert r.annots == "a sticky note\ntyped value"


def test_no_annotations_is_null():
    r = extract_text(text_to_pdf("plain"))
    assert r.annots is None and r.outlines is None


def test_outline_titles_preorder():
    pdf = text_to_pdf("body", outline_titles=["Intro", "Methods", "End"])
    r = extract_text(pdf)
    assert r.outlines == "Intro\nMethods\nEnd"


def test_outline_cycle_guard():
    """A sibling chain that loops back must terminate, not hang."""
    b = PdfBuilder()
    f1 = b.add(BASE14)
    c = b.add_stream("<< >>", _simple_show("x").encode())
    page = b.add(
        f"<< /Type /Page /Parent 90 0 R /MediaBox [0 0 612 792] "
        f"/Resources << /Font << /F1 {f1} 0 R >> >> /Contents {c} 0 R >>"
    )
    b.add(f"<< /Type /Pages /Kids [{page} 0 R] /Count 1 >>", num=90)
    b.add("<< /Title (A) /Next 71 0 R >>", num=70)
    b.add("<< /Title (B) /Next 70 0 R >>", num=71)  # cycle 70→71→70
    b.add("<< /Type /Outlines /First 70 0 R >>", num=72)
    root = b.add("<< /Type /Catalog /Pages 90 0 R /Outlines 72 0 R >>",
                 num=91)
    r = extract_text(b.build(root))
    assert r.error is None
    assert r.outlines == "A\nB"


def _doc_with_name_tree():
    b = PdfBuilder()
    f1 = b.add(BASE14)
    c = b.add_stream("<< >>", _simple_show("x").encode())
    page = b.add(
        f"<< /Type /Page /Parent 90 0 R /MediaBox [0 0 612 792] "
        f"/Resources << /Font << /F1 {f1} 0 R >> >> /Contents {c} 0 R >>"
    )
    b.add(f"<< /Type /Pages /Kids [{page} 0 R] /Count 1 >>", num=90)
    # two leaves + one intermediate node with /Limits
    b.add("<< /Limits [(alpha) (beta)] "
          "/Names [(alpha) 11 (beta) 22] >>", num=60)
    b.add("<< /Limits [(delta) (zeta)] "
          "/Names [(delta) 33 (zeta) 44] >>", num=61)
    b.add("<< /Kids [60 0 R 61 0 R] >>", num=62)
    b.add("<< /Dests 62 0 R >>", num=63)
    # a number tree whose second leaf lists its parent among its /Kids
    b.add("<< /Nums [0 (a) 4 (b)] >>", num=64)
    b.add("<< /Nums [9 (c)] /Kids [66 0 R] >>", num=65)
    b.add("<< /Kids [64 0 R 65 0 R] >>", num=66)
    root = b.add("<< /Type /Catalog /Pages 90 0 R /Names 63 0 R "
                 "/PageLabels 66 0 R >>", num=91)
    return PdfDocument(b.build(root))


def test_name_tree_flatten_and_lookup():
    """The one tree walker: a /Limits-bearing name tree flattens in key
    order, a number tree walks the same way, and a /Kids cycle ends."""
    doc = _doc_with_name_tree()
    catalog = doc.catalog()
    tree = doc.get(doc.get(catalog, "Names"), "Dests")
    assert [(k, doc.resolve(v)) for k, v in walk_tree(doc, tree)] == [
        (b"alpha", 11), (b"beta", 22), (b"delta", 33), (b"zeta", 44)
    ]
    assert list(walk_tree(doc, catalog["PageLabels"], "Nums")) == [
        (0, b"a"), (4, b"b"), (9, b"c")
    ]
    dests = doc.named_destinations()
    assert dests == {"alpha": 11, "beta": 22, "delta": 33, "zeta": 44}
    assert dests.get("gamma") is None  # between the leaves' limits


def test_widget_inherits_value_from_parent_field():
    """AcroForm /Fields tree: widget kids without /V take the parent
    field's value (§12.7.3.1); radio groups export their /V Name."""
    b = PdfBuilder()
    f1 = b.add(BASE14)
    c = b.add_stream("<< >>", _simple_show("form").encode())
    # parent field holds /V; widget kid has none
    b.add("<< /FT /Tx /T (grp) /V (inherited value) /Kids [71 0 R] >>",
          num=70)
    b.add("<< /Type /Annot /Subtype /Widget /Rect [0 0 10 10] "
          "/Parent 70 0 R >>", num=71)
    # radio group: /V is a Name
    b.add("<< /FT /Btn /T (radio) /V /Choice2 /Kids [73 0 R] >>", num=72)
    b.add("<< /Type /Annot /Subtype /Widget /Rect [0 20 10 30] "
          "/Parent 72 0 R >>", num=73)
    page = b.add(
        f"<< /Type /Page /Parent 90 0 R /MediaBox [0 0 612 792] "
        f"/Resources << /Font << /F1 {f1} 0 R >> >> /Contents {c} 0 R "
        f"/Annots [71 0 R 73 0 R] >>"
    )
    b.add(f"<< /Type /Pages /Kids [{page} 0 R] /Count 1 >>", num=90)
    root = b.add(
        "<< /Type /Catalog /Pages 90 0 R "
        "/AcroForm << /Fields [70 0 R 72 0 R] >> >>", num=91)
    r = extract_text(b.build(root))
    assert r.error is None
    assert r.annots == "inherited value\nChoice2"


def test_widget_parent_cycle_bounded():
    b = PdfBuilder()
    f1 = b.add(BASE14)
    c = b.add_stream("<< >>", _simple_show("x").encode())
    b.add("<< /Type /Annot /Subtype /Widget /Rect [0 0 1 1] "
          "/Parent 71 0 R >>", num=70)
    b.add("<< /Parent 70 0 R >>", num=71)  # cycle, no /V anywhere
    page = b.add(
        f"<< /Type /Page /Parent 90 0 R /MediaBox [0 0 612 792] "
        f"/Resources << /Font << /F1 {f1} 0 R >> >> /Contents {c} 0 R "
        f"/Annots [70 0 R] >>"
    )
    b.add(f"<< /Type /Pages /Kids [{page} 0 R] /Count 1 >>", num=90)
    root = b.add("<< /Type /Catalog /Pages 90 0 R >>", num=91)
    r = extract_text(b.build(root))
    assert r.error is None and r.annots is None


def test_utf8_bom_text_string():
    """PDF 2.0 §7.9.2.2: text strings may be UTF-8 with BOM."""
    from pdfspark.kernel.extract import decode_text_string

    assert decode_text_string(b"\xef\xbb\xbfGr\xc3\xbc\xc3\x9fe") == "Grüße"
    assert decode_text_string(b"\xfe\xff\x00A") == "A"
    assert decode_text_string(b"plain") == "plain"


def test_link_uri_extraction():
    """Link annotations (reference `src/annotation/link.rs` +
    `src/actions/uri.rs`): /A /S /URI primary, /PA fallback, Dest-only
    links skipped; links never leak into annots_text."""
    from pdfspark.corpus import all_cases
    from pdfspark.kernel.extract import extract_text

    case = next(c for c in all_cases() if c.case_id == "t45_link_uris")
    r = extract_text(case.pdf)
    assert r.text == "linked" and r.error is None
    assert r.links == "https://ex.test/a\nhttps://ex.test/pa"
    assert r.annots is None


def test_acroform_field_tree_values():
    """Field-tree walk (reference src/acro_form.rs): widget-merged fields
    emit once (page walk owns them); widget-less and nested-kid values
    append after page annotations in /Fields order."""
    from pdfspark.corpus import all_cases
    from pdfspark.kernel.extract import extract_text

    case = next(c for c in all_cases()
                if c.case_id == "t47_acroform_field_tree")
    r = extract_text(case.pdf)
    assert r.text == "form doc" and r.error is None
    assert r.annots == "shown value\nhidden value\nnested value"


def test_embedded_files_inventory():
    """Attachment surface (t48): EmbeddedFiles tree entries first
    (Params /Size), then FileAttachment annotations (/UF over /F, size
    from the raw stream /Length when /Params is absent)."""
    from pdfspark.corpus import all_cases
    from pdfspark.kernel.extract import extract_text

    case = next(c for c in all_cases() if c.case_id == "t48_embedded_files")
    r = extract_text(case.pdf)
    assert r.text == "attached doc" and r.error is None
    assert r.attachments == "readme.txt:11\nuni-data.bin:3"


def test_xmp_title_fallback():
    """t49: no /Info — doc_title falls back to the XMP packet's
    dc:title first rdf:Alt item, XML-unescaped; /Info /Title still
    wins when present (pinned by t34-family metadata goldens)."""
    from pdfspark.corpus import all_cases
    from pdfspark.kernel.extract import extract_text

    case = next(c for c in all_cases() if c.case_id == "t49_xmp_title")
    r = extract_text(case.pdf)
    assert r.text == "xmp doc" and r.error is None
    assert r.title == "XMP Title & More"
    assert r.created is None


def test_acroform_empty_kids_is_terminal_field():
    """A field carrying /Kids [] is terminal (some producers emit it):
    its /V must surface, not vanish into an empty intermediate walk."""
    from pdfspark.fixtures import BASE14, PdfBuilder, _simple_show
    from pdfspark.kernel.extract import extract_text

    b = PdfBuilder()
    f1 = b.add(BASE14)
    c = b.add_stream("<< >>", _simple_show("empty kids").encode())
    fld = b.add("<< /FT /Tx /T (f) /V (kept value) /Kids [] >>")
    page = b.add(
        f"<< /Type /Page /Parent 90 0 R /MediaBox [0 0 612 792] "
        f"/Resources << /Font << /F1 {f1} 0 R >> >> /Contents {c} 0 R >>"
    )
    b.add(f"<< /Type /Pages /Kids [{page} 0 R] /Count 1 >>", num=90)
    root = b.add(
        f"<< /Type /Catalog /Pages 90 0 R /AcroForm << /Fields [{fld} 0 R] >> >>"
    )
    r = extract_text(b.build(root))
    assert r.text == "empty kids" and r.annots == "kept value"


def test_attachment_past_512_annots_is_inventoried():
    """ADVICE r3 #3: one shared /Annots bomb-guard (1024) across ALL
    annotation walkers — a FileAttachment at index 550 of a 600-annot
    page must appear in the inventory alongside the page's annot text."""
    b = PdfBuilder()
    f1 = b.add(BASE14)
    c = b.add_stream("<< >>", _simple_show("busy page").encode())
    note = b.add(
        "<< /Type /Annot /Subtype /Text /Rect [0 0 5 5] "
        "/Contents (sticky) >>"
    )
    ef = b.add_stream("<< /Type /EmbeddedFile /Params << /Size 7 >> >>",
                      b"payload")
    fs = b.add(
        f"<< /Type /Filespec /F (late.bin) /EF << /F {ef} 0 R >> >>"
    )
    att = b.add(
        "<< /Type /Annot /Subtype /FileAttachment /Rect [10 10 30 30] "
        f"/FS {fs} 0 R >>"
    )
    refs = [f"{note} 0 R"] * 600
    refs[550] = f"{att} 0 R"
    page = b.add(
        f"<< /Type /Page /Parent 90 0 R /MediaBox [0 0 612 792] "
        f"/Resources << /Font << /F1 {f1} 0 R >> >> /Contents {c} 0 R "
        f"/Annots [{' '.join(refs)}] >>"
    )
    b.add(f"<< /Type /Pages /Kids [{page} 0 R] /Count 1 >>", num=90)
    root = b.add("<< /Type /Catalog /Pages 90 0 R >>", num=91)
    r = extract_text(b.build(root))
    assert r.error is None and r.text == "busy page"
    assert r.attachments == "late.bin:7"
    assert r.annots is not None and r.annots.count("sticky") == 599


def _deep_chain(b: PdfBuilder, first: int, leaf: str) -> None:
    """Objects first … first+80 where each references the next and the
    last holds ``leaf``: a chain past the resolver's depth cap."""
    for k in range(first, first + 80):
        b.add(f"{k + 1} 0 R", num=k)
    b.add(leaf, num=first + 80)


def test_deep_filespec_chain_drops_only_its_attachment():
    """A FileAttachment whose /FS /UF sits behind a reference chain past
    the resolver's depth cap loses only its own inventory line: the
    valid attachment after it stays, and both /Contents still read."""
    b = PdfBuilder()
    b.add(BASE14, num=1)
    b.add_stream("<< >>", _simple_show("two files").encode(), num=2)
    _deep_chain(b, 200, "(deep.txt)")
    b.add("<< /Type /Filespec /UF 200 0 R >>", num=10)
    b.add_stream("<< /Type /EmbeddedFile /Params << /Size 2 >> >>", b"ok",
                 num=11)
    b.add("<< /Type /Filespec /F (ok.txt) /EF << /F 11 0 R >> >>", num=12)
    b.add("<< /Type /Annot /Subtype /FileAttachment /Rect [0 0 9 9] "
          "/FS 10 0 R /Contents (first) >>", num=20)
    b.add("<< /Type /Annot /Subtype /FileAttachment /Rect [20 0 29 9] "
          "/FS 12 0 R /Contents (second) >>", num=21)
    b.add("<< /Type /Page /Parent 90 0 R /MediaBox [0 0 612 792] "
          "/Resources << /Font << /F1 1 0 R >> >> /Contents 2 0 R "
          "/Annots [20 0 R 21 0 R] >>", num=30)
    b.add("<< /Type /Pages /Kids [30 0 R] /Count 1 >>", num=90)
    root = b.add("<< /Type /Catalog /Pages 90 0 R >>", num=91)
    r = extract_text(b.build(root))
    assert r.error is None and r.text == "two files"
    assert r.annots == "first\nsecond"
    assert r.attachments == "ok.txt:2"


def _bookmarks_into_name_tree_pdf(n_bookmarks: int, n_names: int = 10_000,
                                  n_pages: int = 4) -> bytes:
    """``n_bookmarks`` outline items, each targeting a /Dest name of a
    ``n_names``-entry /Names /Dests tree (100 names per leaf); bookmark
    i names entry (i·7919) mod n_names, which lands on page
    entry mod ``n_pages``."""
    b = PdfBuilder()
    b.add(BASE14, num=1)
    b.add_stream("<< >>", _simple_show("x").encode(), num=2)
    pages = list(range(10, 10 + n_pages))
    b.add(f"<< /Type /Pages /Kids [{' '.join(f'{p} 0 R' for p in pages)}] "
          f"/Count {n_pages} >>", num=9)
    for p in pages:
        b.add("<< /Type /Page /Parent 9 0 R /MediaBox [0 0 612 792] "
              "/Resources << /Font << /F1 1 0 R >> >> /Contents 2 0 R >>",
              num=p)
    leaves = []
    for start in range(0, n_names, 100):
        keys = range(start, min(start + 100, n_names))
        pairs = " ".join(f"(n{k:05d}) [{pages[k % n_pages]} 0 R /Fit]"
                         for k in keys)
        leaves.append(b.add(f"<< /Limits [(n{keys[0]:05d}) "
                            f"(n{keys[-1]:05d})] /Names [{pairs}] >>"))
    tree = b.add(f"<< /Kids [{' '.join(f'{n} 0 R' for n in leaves)}] >>")
    first = tree + 1
    for i in range(n_bookmarks):
        nxt = f" /Next {first + i + 1} 0 R" if i + 1 < n_bookmarks else ""
        b.add(f"<< /Title (b{i}) /Dest (n{i * 7919 % n_names:05d}){nxt} >>",
              num=first + i)
    outlines = b.add(f"<< /Type /Outlines /First {first} 0 R >>")
    root = b.add(f"<< /Type /Catalog /Pages 9 0 R /Outlines {outlines} 0 R "
                 f"/Names << /Dests {tree} 0 R >> >>")
    return b.build(root)


def test_named_destinations_walk_the_tree_once(monkeypatch):
    """Bookmarks share one named-destination table: visiting a tree
    entry resolves its key string, so the string resolutions of a
    512-bookmark × 10 000-name document stay within one pass over the
    tree plus a few per bookmark (its title and its /Dest name) —
    a per-bookmark tree search would cost millions."""
    from pdfspark.kernel.objects import PdfString

    n_bookmarks, n_names = 512, 10_000
    pdf = _bookmarks_into_name_tree_pdf(n_bookmarks, n_names)
    real = PdfDocument.resolve
    visits = [0]

    def counting_resolve(self, obj, depth=0):
        if isinstance(obj, PdfString):
            visits[0] += 1
        return real(self, obj, depth)

    monkeypatch.setattr(PdfDocument, "resolve", counting_resolve)
    r = extract_text(pdf)
    assert r.error is None
    assert r.outline_pages == "\n".join(
        str(i * 7919 % n_names % 4) for i in range(n_bookmarks))
    assert visits[0] <= n_names + 4 * n_bookmarks, visits[0]


def test_unreadable_bookmark_title_or_field_value_drops_only_itself():
    """An outline item whose /Title, or an AcroForm field whose /V,
    cannot be resolved is skipped; its siblings still read."""
    b = PdfBuilder()
    _deep_chain(b, 200, "(deep)")
    b.add(BASE14, num=1)
    b.add_stream("<< >>", _simple_show("x").encode(), num=2)
    b.add("<< /Type /Page /Parent 90 0 R /MediaBox [0 0 612 792] "
          "/Resources << /Font << /F1 1 0 R >> >> /Contents 2 0 R >>",
          num=30)
    b.add("<< /Type /Pages /Kids [30 0 R] /Count 1 >>", num=90)
    b.add("<< /Title (A) /Dest [30 0 R /Fit] /Next 71 0 R >>", num=70)
    b.add("<< /Title 200 0 R /Next 72 0 R >>", num=71)
    b.add("<< /Title (C) >>", num=72)
    b.add("<< /Type /Outlines /First 70 0 R >>", num=73)
    b.add("<< /FT /Tx /T (a) /V (first) >>", num=60)
    b.add("<< /FT /Tx /T (b) /V 200 0 R >>", num=61)
    b.add("<< /FT /Tx /T (c) /V (third) >>", num=62)
    root = b.add("<< /Type /Catalog /Pages 90 0 R /Outlines 73 0 R "
                 "/AcroForm << /Fields [60 0 R 61 0 R 62 0 R] >> >>",
                 num=91)
    r = extract_text(b.build(root))
    assert r.error is None and r.text == "x"
    assert r.outlines == "A\nC" and r.outline_pages == "0\n-1"
    assert r.annots == "first\nthird"
