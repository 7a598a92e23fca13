"""Seeded input generator for the pages-table benchmark.

Writes, for one workload and one seed:

    <out>/pages/part-NNNNN.parquet   the pages table (url, warc_ts, html,
                                     text, lang), several files
    <out>/expected.parquet           url -> expected_text, expected_error,
                                     kind (the row's source format)
    <out>/summary.json               the corpus summary printed below

The same (workload, seed, scale) gives byte-identical files.  The program
under test only ever sees the parquet; expected outputs are derived from
the sources, never by running the kernel:

- ``pdf``, ``pdf_annot``, ``pdf_post`` and ``html`` rows: the source text;
- ``pdf_multi`` rows: the source text cut into 500-char pages joined by
  ``\\f``;
- ``fixture`` rows: ``Case.expected_text`` / ``Case.expected_error``;
- ``junk`` rows: error ``unknown-format``.

Run as a script to generate and print the summary:

    python3 perfbench/gen.py --workload web_small --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import collections
import datetime
import json
import math
import os
import random
import shutil
import statistics
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

# web_small: fixed per-document costs
WEB_SMALL_DOCS = 5000
WEB_SMALL_FILES = 8
# pdf_heavy: kernel-dominated mix with a page-count tail
HEAVY_MULTI_DOCS = 400
HEAVY_POST_DOCS = 600
HEAVY_FIXTURE_COPIES = 10
HEAVY_MAX_PAGES = 600
HEAVY_FILES = 8
PAGE_CHARS = 500

_WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector index page font glyph cmap xref object filter deflate"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_EPOCH = datetime.datetime(2025, 1, 1)

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
EXPECTED_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("expected_text", pa.string()),
    ("expected_error", pa.string()),
    ("kind", pa.string()),
])


def _words(rng: random.Random, n_chars: int) -> str:
    out, size = [], 0
    while size < n_chars:
        w = rng.choice(_WORDS)
        out.append(w)
        size += len(w) + 1
    return " ".join(out)


def _annot_pdf(text: str, i: int) -> bytes:
    """One-page PDF with the annotation/outline/link/attachment tiers."""
    from pdfspark.docgen import text_to_pdf

    return text_to_pdf(
        text, meta_id=i,
        freetext_annot=(f"note {i}" if i % 5 == 0 else None),
        widget_value=(f"field {i}" if i % 10 == 0 else None),
        outline_titles=([f"ch1 {i}", f"ch2 {i}"] if i % 7 == 0 else None),
        link_uri=(f"https://link.test/{i}" if i % 4 == 0 else None),
        attachment=((f"att{i}.txt", f"payload {i}".encode())
                    if i % 6 == 0 else None),
    )


def _web_small_rows(rng: random.Random, n_docs: int):
    from pdfspark.docgen import text_to_html, text_to_pdf

    base = rng.randrange(10 ** 6) * 10 ** 5  # distinct doc ids per seed
    for k in range(n_docs):
        i = base + k
        lang = rng.choice(_LANGS)
        text = _words(rng, rng.randint(40, 580))
        u = rng.random()
        if u < 0.04:
            yield (f"https://junk.test/{i:012d}.bin",
                   b"\x00\x01JUNK:%d\xff\xfe" % i, lang,
                   None, "unknown-format", "junk", 0)
        elif u < 0.24:
            yield (f"https://corpus.test/{i:012d}.html",
                   text_to_html(text, i, lang), lang, text, None, "html", 1)
        elif u < 0.40:
            yield (f"https://corpus.test/{i:012d}.pdf",
                   _annot_pdf(text, i), lang, text, None, "pdf_annot", 1)
        else:
            yield (f"https://corpus.test/{i:012d}.pdf",
                   text_to_pdf(text, meta_id=i), lang, text, None, "pdf", 1)


def heavy_page_counts(rng: random.Random, n_docs: int) -> list:
    """Log-normal page counts at fixed quantiles, in ``rng``'s order."""
    from statistics import NormalDist

    nd = NormalDist(mu=math.log(10.0), sigma=1.2)
    counts = [max(2, min(HEAVY_MAX_PAGES, round(math.exp(nd.inv_cdf((k + 0.5) / n_docs)))))
              for k in range(n_docs)]
    rng.shuffle(counts)
    return counts


def _pdf_heavy_rows(rng: random.Random, layout: random.Random, n_multi: int,
                    n_post: int, copies: int):
    """The layout (urls and page counts, and with the url the partition a
    document is salted into) comes from ``layout``, the same for every
    seed; ``rng`` picks the text.  A seed therefore cannot move which task
    holds the page-count tail, only what the pages say."""
    from pdfspark.corpus import all_cases
    from pdfspark.docgen import text_to_pdf_multipage, text_to_pdf_postfont

    for i, n_pages in enumerate(heavy_page_counts(layout, n_multi)):
        n_chars = n_pages * PAGE_CHARS - rng.randrange(PAGE_CHARS)
        text = _words(rng, n_chars)[:n_chars]
        expected = "\f".join(text[j:j + PAGE_CHARS]
                             for j in range(0, len(text), PAGE_CHARS))
        yield (f"https://corpus.test/{i:012d}.pdf",
               text_to_pdf_multipage(text, page_chars=PAGE_CHARS, meta_id=i),
               rng.choice(_LANGS), expected, None, "pdf_multi", n_pages)
    for k in range(n_post):
        i = n_multi + k
        text = _words(rng, rng.randint(40, 580))
        yield (f"https://corpus.test/{i:012d}.pdf",
               text_to_pdf_postfont(text, meta_id=i),
               rng.choice(_LANGS), text, None, "pdf_post", 1)
    # PDF-path fixture cases only: rows without the %PDF- magic at byte 0
    # are dropped by extract_pages' prefilter before the kernel
    cases = [c for c in all_cases() if c.pdf.startswith(b"%PDF-")]
    for rep in range(copies):
        for c in cases:
            yield (f"https://fixture.test/{c.case_id}/{rep:012d}.pdf",
                   c.pdf, rng.choice(_LANGS), c.expected_text,
                   c.expected_error, "fixture", c.expected_pages)


def generate(workload: str, seed: int, out_dir: str, scale: float = 1.0) -> dict:
    """Write the workload's corpus under ``out_dir`` (replacing it) and
    return the corpus summary.  ``scale`` shrinks the corpus for
    self-tests; the benchmark always uses 1.0."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "web_small":
        rows = list(_web_small_rows(rng, max(8, int(WEB_SMALL_DOCS * scale))))
        n_files = WEB_SMALL_FILES
        rng.shuffle(rows)
    else:
        layout = random.Random(f"{workload}:layout")
        rows = list(_pdf_heavy_rows(
            rng, layout, max(4, int(HEAVY_MULTI_DOCS * scale)),
            max(2, int(HEAVY_POST_DOCS * scale)),
            max(1, int(HEAVY_FIXTURE_COPIES * scale))))
        n_files = HEAVY_FILES
        layout.shuffle(rows)

    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    pages_dir = os.path.join(out_dir, "pages")
    os.makedirs(pages_dir)
    per_file = -(-len(rows) // n_files)
    for f in range(n_files):
        chunk = rows[f * per_file:(f + 1) * per_file]
        table = pa.table({
            "url": [r[0] for r in chunk],
            "warc_ts": [_EPOCH + datetime.timedelta(hours=(f * per_file + j) % 8760)
                        for j in range(len(chunk))],
            "html": [r[1] for r in chunk],
            "text": [""] * len(chunk),
            "lang": [r[2] for r in chunk],
        }, schema=PAGES_SCHEMA)
        pq.write_table(table, os.path.join(pages_dir, f"part-{f:05d}.parquet"),
                       row_group_size=max(1, len(chunk)))
    expected = pa.table({
        "url": [r[0] for r in rows],
        "expected_text": [r[3] for r in rows],
        "expected_error": [r[4] for r in rows],
        "kind": [r[5] for r in rows],
    }, schema=EXPECTED_SCHEMA)
    pq.write_table(expected, os.path.join(out_dir, "expected.parquet"))

    pages = sorted(r[6] for r in rows if r[6])
    kinds = collections.Counter(r[5] for r in rows)
    summary = {
        "workload": workload,
        "seed": seed,
        "docs": len(rows),
        "files": n_files,
        "payload_bytes": sum(len(r[1]) for r in rows),
        "pages_p50": statistics.median(pages),
        "pages_p99": pages[min(len(pages) - 1, int(0.99 * len(pages)))],
        "pages_max": pages[-1],
        "format_share": {k: round(v / len(rows), 4) for k, v in sorted(kinds.items())},
    }
    summary["payload_mb"] = round(summary["payload_bytes"] / 1e6, 3)
    with open(os.path.join(out_dir, "summary.json"), "w") as fh:
        json.dump(summary, fh, sort_keys=True)
    return summary


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["web_small", "pdf_heavy"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)
    print(json.dumps(generate(args.workload, args.seed, args.out, args.scale),
                     sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
