"""Span recorder and the single-thread layer replay of the traced run.

The replay calls each kernel layer's public function from outside, one
document at a time, and records one span per call:

    doc                          root, one per document
      kernel.extract             extract_text(buf)       (PDF rows)
      kernel.html_extract        extract_html(buf)       (HTML rows)
      kernel.document.open       PdfDocument(buf)
      kernel.document.pages      doc.pages()
      kernel.filters.decode      doc.page_content(page)  per page
      kernel.fonts.load          load_font(doc, font)    per page font
      kernel.content.tokenize    tokenize_content(data)  per page

The layer replays repeat work that ``extract_text`` does internally, so
``kernel.extract.interp_self_s`` is the extract total minus the replays:
what is left is content interpretation and layout.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# layer calls that repeat work extract_text does internally
REPLAYED = (
    "kernel.document.open", "kernel.document.pages", "kernel.filters.decode",
    "kernel.fonts.load", "kernel.content.tokenize",
)
LAYERS = ("kernel.extract", "kernel.html_extract") + REPLAYED


class SpanRecorder:
    """Spans kept in memory: (id, name, start_ns, end_ns, parent, doc)."""

    def __init__(self) -> None:
        self.spans: list = []

    @contextmanager
    def span(self, name: str, parent, doc: str):
        span_id = len(self.spans)
        rec = [span_id, name, time.perf_counter_ns(), 0, parent, doc]
        self.spans.append(rec)
        try:
            yield span_id
        finally:
            rec[3] = time.perf_counter_ns()

    def as_dicts(self) -> list:
        return [{"id": i, "name": n, "start_ns": s, "end_ns": e,
                 "parent": p, "doc": d} for i, n, s, e, p, d in self.spans]

    def self_seconds(self) -> dict:
        """Per span name: duration minus the time its children cover."""
        child_ns = [0] * len(self.spans)
        for _, _, s, e, parent, _ in self.spans:
            if parent is not None:
                child_ns[parent] += e - s
        out: dict = {}
        for i, name, s, e, _, _ in self.spans:
            out[name] = out.get(name, 0.0) + (e - s - child_ns[i]) / 1e9
        return out

    def total_seconds(self) -> dict:
        out: dict = {}
        for _, name, s, e, _, _ in self.spans:
            out[name] = out.get(name, 0.0) + (e - s) / 1e9
        return out


def _font_dicts(doc, page: dict) -> list:
    res = doc.resolve(page.get("Resources"))
    fonts = doc.resolve(res.get("Font")) if isinstance(res, dict) else None
    if not isinstance(fonts, dict):
        return []
    return [fd for fd in (doc.resolve(v) for v in fonts.values())
            if isinstance(fd, dict)]


def replay(docs: list, rec: SpanRecorder) -> dict:
    """Replay ``docs`` (list of (url, payload bytes)) layer by layer;
    returns the counters recorded at the same boundaries."""
    from pdfspark.kernel.content import tokenize_content
    from pdfspark.kernel.document import PdfDocument
    from pdfspark.kernel.extract import extract_text
    from pdfspark.kernel.fonts import load_font
    from pdfspark.kernel.html_extract import extract_html, looks_like_html
    from pdfspark.kernel.objects import PdfError

    counts = {"docs": 0, "pdf_docs": 0, "html_docs": 0, "objects": 0,
              "pages": 0, "decoded_bytes": 0, "font_loads": 0,
              "fonts_cacheable": 0, "ops": 0, "errors": {}}
    for url, buf in docs:
        head = buf[:1024]
        is_pdf = b"%PDF-" in head
        if not is_pdf and not looks_like_html(head):
            continue  # junk: dropped by the prefilter, never reaches a layer
        counts["docs"] += 1
        with rec.span("doc", None, url) as root:
            if not is_pdf:
                counts["html_docs"] += 1
                with rec.span("kernel.html_extract", root, url):
                    r = extract_html(buf)
                if r.error:
                    counts["errors"][r.error] = counts["errors"].get(r.error, 0) + 1
                continue
            counts["pdf_docs"] += 1
            with rec.span("kernel.extract", root, url):
                r = extract_text(buf)
            if r.error:
                counts["errors"][r.error] = counts["errors"].get(r.error, 0) + 1
            try:
                with rec.span("kernel.document.open", root, url):
                    doc = PdfDocument(buf)
                counts["objects"] += len(doc.xref.entries)
                with rec.span("kernel.document.pages", root, url):
                    pages = doc.pages()
                for page in pages:
                    counts["pages"] += 1
                    with rec.span("kernel.filters.decode", root, url):
                        data = doc.page_content(page)
                    counts["decoded_bytes"] += len(data)
                    for fd in _font_dicts(doc, page):
                        counts["font_loads"] += 1
                        with rec.span("kernel.fonts.load", root, url):
                            font = load_font(doc, fd)
                        # cached process-wide iff a second load returns it
                        counts["fonts_cacheable"] += load_font(doc, fd) is font
                    with rec.span("kernel.content.tokenize", root, url):
                        counts["ops"] += sum(1 for _ in tokenize_content(data))
            except (PdfError, RecursionError):
                pass  # the replay stops where extract_text stopped too
    return counts


def overhead_frac(docs: list, reps: int = 3) -> float:
    """Cost of recording one span per extract call, as a share of the
    untraced calls: (traced - plain) / plain.  Each document runs both
    ways back to back, in alternating order, so drift cancels; each side
    keeps its per-document minimum over ``reps`` rounds."""
    from pdfspark.kernel.extract import extract_document

    rec = SpanRecorder()
    plain = [float("inf")] * len(docs)
    traced = [float("inf")] * len(docs)
    for rep in range(reps):
        for k, (url, buf) in enumerate(docs):
            for side in ((0, 1) if (k + rep) % 2 else (1, 0)):
                t0 = time.perf_counter()
                if side:
                    with rec.span("kernel.extract", None, url):
                        extract_document(buf)
                else:
                    extract_document(buf)
                dt = time.perf_counter() - t0
                if side:
                    traced[k] = min(traced[k], dt)
                else:
                    plain[k] = min(plain[k], dt)
    return (sum(traced) - sum(plain)) / sum(plain)
