"""Spark end-to-end: kernel inside mapInPandas, magic-byte prefilter,
metrics, resume idempotence, and the documents→PDF→text roundtrip
(SURVEY.md §5 plan #4/#5)."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from pdfspark.corpus import all_cases
from pdfspark.pipeline import (
    PAGES_SCHEMA,
    doc_id_from_url,
    error_breakdown,
    extract_pages,
    filter_pdf_rows,
    map_rows,
    pages_from_documents,
    pages_from_fixtures,
    partition_metrics,
    run_pipeline,
)

SF_DIR = "/root/testdata/sf0.001"


def test_extract_pages_matches_goldens(spark):
    pages = pages_from_fixtures(spark)
    out = {r.url: r for r in extract_pages(pages).collect()}
    for c in all_cases():
        url = f"https://fixture.test/{c.case_id}/000000.pdf"
        if not c.pdf.startswith(b"%PDF-"):
            assert url not in out  # magic filter dropped it
            continue
        row = out[url]
        assert row.text == c.expected_text, c.case_id
        assert row.error == c.expected_error, c.case_id
        assert row.n_pages == c.expected_pages, c.case_id


def test_magic_filter_pushdown(spark):
    pages = pages_from_fixtures(spark)
    plan = filter_pdf_rows(pages)._jdf.queryExecution().executedPlan().toString()
    # the prefilter must sit in the scan stage, not after an exchange
    assert "Exchange" not in plan
    kept = filter_pdf_rows(pages).count()
    n_pdf = sum(1 for c in all_cases() if c.pdf.startswith(b"%PDF-"))
    assert kept == n_pdf


def test_extract_pages_keeps_prefixed_pdf(spark):
    """A PDF behind leading bytes (web-crawl dirt: a stray CRLF, a whole
    HTTP response header) is extracted by the kernel, so the prefilter
    must let it through."""
    case = next(c for c in all_cases()
                if c.case_id == "t01_hello_classic_xref")
    prefixes = {
        "crlf": b"\r\n",
        "http": (b"HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n"
                 b"Content-Length: %d\r\n\r\n" % len(case.pdf)),
    }
    pages = spark.createDataFrame(
        [(f"https://fixture.test/{name}.pdf", None, prefix + case.pdf, "", "")
         for name, prefix in prefixes.items()], PAGES_SCHEMA)
    out = {r.url: r for r in extract_pages(pages).collect()}
    assert sorted(out) == sorted(f"https://fixture.test/{name}.pdf"
                                 for name in prefixes)
    for row in out.values():
        assert row.text == case.expected_text, row.url
        assert row.error == case.expected_error, row.url


_MAP_ROWS_IN = [
    (0, b"\x00\xff", datetime.datetime(2025, 1, 1, 6), "zero"),
    (1, None, None, None),
    (3, b"%PDF-", datetime.datetime(2025, 3, 1), "three"),
]
_MAP_ROWS_OUT = "n long, k int, blob binary, ts timestamp, s string"


@pytest.mark.parametrize("fn, expected", [
    # row n gives n output rows: 0, 1 and N per input row, None values
    # and the binary/timestamp columns carried through
    (lambda n, blob, ts, s: [(n, k, blob, ts, s) for k in range(n)],
     [(1, 0, None, None, None)]
     + [(3, k, b"%PDF-", datetime.datetime(2025, 3, 1), "three")
        for k in range(3)]),
    # one output row per input row, the all-None row included
    (lambda n, blob, ts, s: [(n, -1, blob, ts, s)],
     [(n, -1, blob, ts, s) for n, blob, ts, s in _MAP_ROWS_IN]),
    # every row of the batch yields nothing: empty, still typed
    (lambda *row: (), []),
], ids=["fan_out", "one_to_one", "all_empty"])
def test_map_rows(spark, fn, expected):
    df = spark.createDataFrame(
        _MAP_ROWS_IN, "n long, blob binary, ts timestamp, s string"
    ).coalesce(1)
    out = map_rows(df, fn, _MAP_ROWS_OUT)
    assert out.schema == spark.createDataFrame([], _MAP_ROWS_OUT).schema
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == sorted(expected)


def test_no_worker_sys_path_bootstrap():
    """Python stages are module-level bodies pickled by reference
    (map_rows, the applyInPandas cell kernels), so the worker imports
    pdfspark before they run and no code under pdfspark/ patches
    sys.path."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "pdfspark"
    offenders = [str(p.relative_to(root)) for p in sorted(root.rglob("*.py"))
                 if "sys.path.insert" in p.read_text(encoding="utf-8")]
    assert offenders == []


def test_document_surface_read_once():
    """One catalog read (PdfDocument.catalog) and one /Annots pass per
    page (extract._page_annots) behind the kernel's metadata columns."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "pdfspark"
    readers = {str(p.relative_to(root)): p.read_text(encoding="utf-8")
               .count('trailer.get("Root")') for p in sorted(root.rglob("*.py"))}
    assert {k: n for k, n in readers.items() if n} == {"kernel/document.py": 1}
    extract = (root / "kernel" / "extract.py").read_text(encoding="utf-8")
    assert extract.count('"Annots"') == 1


def test_documents_roundtrip(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    expected = {r.doc_id: r.text for r in docs.collect()}
    pages = pages_from_documents(spark, SF_DIR)
    out = extract_pages(pages).withColumn("doc_id", doc_id_from_url())
    rows = out.select("doc_id", "text", "error").collect()
    assert len(rows) == len(expected)
    for r in rows:
        assert r.error is None
        assert r.text == expected[r.doc_id], r.doc_id


def test_metrics_and_error_breakdown(spark):
    pages = pages_from_fixtures(spark)
    ext = extract_pages(pages).cache()
    m = partition_metrics(ext).agg(
        F.sum("n_docs").alias("n"), F.sum("n_err").alias("e")
    ).collect()[0]
    cases = [c for c in all_cases() if c.pdf.startswith(b"%PDF-")]
    assert m.n == len(cases)
    assert m.e == sum(1 for c in cases if c.expected_error is not None)
    eb = {r.status: r.n for r in error_breakdown(ext).collect()}
    n_enc = sum(1 for c in cases if c.expected_error == "encrypted")
    assert eb.get("encrypted") == n_enc
    ext.unpersist()


def test_run_pipeline_resume_idempotent(spark, tmp_path):
    out = str(tmp_path / "run1")
    pages = pages_from_fixtures(spark, copies=3).cache()
    r1 = run_pipeline(spark, pages, out, npart=8)
    assert r1["partitions_done"] > 0 and r1["partitions_skipped"] == 0
    first = spark.read.parquet(os.path.join(out, "extracted"))
    n1 = first.count()
    urls1 = sorted(r.url for r in first.select("url").collect())

    # second run over the same input: everything already in the manifest
    r2 = run_pipeline(spark, pages, out, npart=8)
    assert r2["partitions_done"] == 0
    assert r2["partitions_skipped"] == r1["partitions_done"]
    second = spark.read.parquet(os.path.join(out, "extracted"))
    assert second.count() == n1
    assert sorted(r.url for r in second.select("url").collect()) == urls1
    pages.unpersist()


def test_partial_manifest_resume(spark, tmp_path):
    """Simulate a crash after some partitions: pre-seed a partial manifest
    and check only the remainder is processed."""
    out = str(tmp_path / "run2")
    pages = pages_from_fixtures(spark, copies=2).cache()
    full = run_pipeline(spark, pages, str(tmp_path / "ref"), npart=8)
    total = full["partitions_done"]

    # seed: run with manifest then delete half the manifest entries
    r1 = run_pipeline(spark, pages, out, npart=8)
    man_path = os.path.join(out, "manifest")
    man = spark.read.parquet(man_path).collect()
    keep = [r.part_key for r in man][: len(man) // 2]
    spark.createDataFrame(
        [(int(k), 0.0) for k in keep], "part_key int, run_elapsed_s double"
    ).write.mode("overwrite").parquet(man_path)

    r2 = run_pipeline(spark, pages, out, npart=8)
    assert r2["partitions_skipped"] == len(keep)
    assert r2["partitions_done"] == total - len(keep)
    # output still complete + duplicate-free; the batch path keeps every
    # modality the kernel supports (PDF in head OR html-hint), not PDF-only
    from pdfspark.kernel.html_extract import looks_like_html

    ext = spark.read.parquet(os.path.join(out, "extracted"))
    n_supported = sum(
        1 for c in all_cases()
        if b"%PDF-" in c.pdf[:1024] or looks_like_html(c.pdf[:1024])
    ) * 2
    assert ext.count() == n_supported
    assert ext.select("url").distinct().count() == n_supported
    pages.unpersist()


def test_skew_aware_extraction_matches_plain(spark):
    """Two-tier skew path must produce identical results to the plain
    path; giant docs (t25) route through the one-doc-per-task tier."""
    from pdfspark.pipeline import extract_pages_skew_aware

    pages = pages_from_fixtures(spark)
    plain = {r.url: (r.text, r.error) for r in extract_pages(pages).collect()}
    skew = {
        r.url: (r.text, r.error)
        for r in extract_pages_skew_aware(
            pages, nsalt=8, big_cutoff_bytes=2000
        ).collect()
    }
    assert skew == plain


def test_read_write_format_hooks(spark, tmp_path):
    from pdfspark.pipeline import read_pages, write_output

    pages = pages_from_fixtures(spark)
    p = str(tmp_path / "fmt_pages")
    write_output(pages, p, fmt="parquet")
    back = read_pages(spark, p, fmt="parquet")
    assert back.count() == pages.count()
    assert set(back.columns) == set(pages.columns)
    # partitioned variant
    p2 = str(tmp_path / "fmt_part")
    write_output(pages.withColumn("d", F.to_date("warc_ts")), p2,
                 fmt="parquet", partition_by=["d"])
    assert read_pages(spark, p2).count() == pages.count()


def test_read_pages_launches_no_job(spark, tmp_path):
    """The pages schema is fixed, so read_pages gives it to the reader:
    the scan launches no schema-inference job, and hive partition
    columns (``d=…/``) are still discovered."""
    from pdfspark.pipeline import read_pages, write_output

    pages = pages_from_fixtures(spark)
    flat, parted = str(tmp_path / "flat"), str(tmp_path / "parted")
    write_output(pages, flat)
    write_output(pages.withColumn("d", F.to_date("warc_ts")), parted,
                 partition_by=["d"])
    sc = spark.sparkContext
    sc.setJobGroup("read_pages_no_job", "read_pages_no_job")
    try:
        back = read_pages(spark, flat)
        back_parted = read_pages(spark, parted)
        assert back.columns == PAGES_SCHEMA.names
        assert back_parted.columns == PAGES_SCHEMA.names + ["d"]
        assert sc.statusTracker().getJobIdsForGroup("read_pages_no_job") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert back.count() == back_parted.count() == pages.count()


def test_run_pipeline_keeps_html_modality(spark, tmp_path):
    """ADVICE r1: the checkpointed batch path must not silently drop HTML
    rows — the kernel extracts them, so the prefilter must pass them."""
    from pdfspark.pipeline import pages_from_documents, run_pipeline

    pages = pages_from_documents(
        spark, SF_DIR, fmt="mixed"
    ).limit(40).cache()
    out = str(tmp_path / "mixed")
    run_pipeline(spark, pages, out, npart=4)
    ext = spark.read.parquet(os.path.join(out, "extracted"))
    got = {r.url: r.text for r in ext.collect()}
    in_urls = {r.url for r in pages.select("url").collect()}
    assert set(got) == in_urls           # every modality row came through
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    source = {r.doc_id: r.text for r in docs.collect()}
    for url, text in got.items():
        doc_id = int(url.rsplit("/", 1)[1].split(".")[0])
        assert text == source[doc_id], url   # byte-identical text per url
    pages.unpersist()


def test_filter_supported_rows_modalities(spark):
    from pdfspark.pipeline import filter_supported_rows, pages_from_fixtures

    pages = pages_from_fixtures(spark).cache()
    n_all = filter_supported_rows(pages, "all").count()
    n_pdf = filter_supported_rows(pages, "pdf").count()
    n_html = filter_supported_rows(pages, "html").count()
    n_none = filter_supported_rows(pages, "none").count()
    assert n_pdf + n_html == n_all       # modalities partition the corpus
    assert n_html >= 1                   # h01 html case present
    assert n_none >= n_all               # 'none' keeps unknown-format rows
    pages.unpersist()


def test_extract_pages_positions_distributed(spark):
    """Geometry operator end-to-end on Spark: one row per glyph, offsets
    index into the extracted text, plan is the same single-mapInPandas
    shape as the main kernel (no extra exchange)."""
    from pdfspark.pipeline import extract_pages, extract_pages_positions, pages_from_fixtures

    pages = pages_from_fixtures(spark).cache()
    pos = extract_pages_positions(pages)
    plan = pos._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1 and "Exchange" not in plan, plan
    rows = pos.collect()
    assert rows, "no glyph rows"
    texts = {r.url: r.text for r in extract_pages(pages, resalt=False)
             .select("url", "text").collect()}
    by_url = {}
    for r in rows:
        by_url.setdefault(r.url, []).append(r)
    for url, rs in by_url.items():
        t = texts[url]
        assert all(0 <= r.offset < len(t) for r in rs), url
    pages.unpersist()


def test_parquet_scan_width_proxy(spark, tmp_path, monkeypatch):
    """The footer probe must model Spark's actual parallelism:
    min(row_groups, byte_splits) per file — many tiny row groups in a
    small file still scan ~1-wide (review r4 finding #1), and one giant
    row group can't split either. It walks directories recursively, and
    an unknown layout is None, which every caller maps to its scale-safe
    side (widen the scan, assume a large table)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdfspark.pipeline import _parquet_footer_probe
    from pdfspark.queries import QUERIES

    # many tiny row groups: 64 row groups, one 128MB byte split → width 1
    p = str(tmp_path / "many_rg.parquet")
    t = pa.table({"doc_id": list(range(640)),
                  "text": ["x" * 100] * 640})
    pq.write_table(t, p, row_group_size=10)
    assert pq.ParquetFile(p).metadata.num_row_groups == 64
    mpb_key = "spark.sql.files.maxPartitionBytes"
    mpb = spark.conf.get(mpb_key)
    spark.conf.set(mpb_key, str(128 * 1024 * 1024))
    try:
        assert _parquet_footer_probe(spark, p) == (1, 640)
        # with a 4KB split size the row-group count becomes the limiter
        spark.conf.set(mpb_key, "4096")
        width, rows = _parquet_footer_probe(spark, p)
        assert 1 < width <= 64 and rows == 640
        # ... but one giant row group cannot split: width 1
        one_rg = str(tmp_path / "one_rg.parquet")
        pq.write_table(pa.table({"v": [i * 1.37 for i in range(20000)]}),
                       one_rg)
        assert os.path.getsize(one_rg) > 10 * 4096
        assert _parquet_footer_probe(spark, one_rg) == (1, 20000)
    finally:
        spark.conf.set(mpb_key, mpb)

    # no file found → unknown
    assert _parquet_footer_probe(spark, str(tmp_path / "nope.parquet")) is None
    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    assert _parquet_footer_probe(spark, str(empty)) is None

    # hive-partitioned k=v/ directory: every nested footer counts
    hive = tmp_path / "hive" / "orders.parquet"
    for k in range(2):
        (hive / f"k={k}").mkdir(parents=True)
        pq.write_table(
            pa.table({"o_totalprice": [float(k * 400 + i)
                                       for i in range(400)]}),
            str(hive / f"k={k}" / "part-0.parquet"))
    assert _parquet_footer_probe(spark, str(hive)) == (2, 800)
    # ... so percentiles_exact sees 800 rows above the cutover and plans
    # the exact-rank regime (a flat-only probe counted 0 rows here)
    monkeypatch.setenv("SPARK_GRAFT_PCT_SINGLE_BUFFER_ROWS", "500")
    plan = QUERIES["percentiles_exact"](spark, str(hive.parent)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan, plan

    # one unreadable footer → the whole layout is unknown
    (hive / "k=2").mkdir()
    (hive / "k=2" / "part-0.parquet").write_bytes(b"not a parquet file")
    assert _parquet_footer_probe(spark, str(hive)) is None


def test_parse_bytes_conf_suffixes():
    from pdfspark.pipeline import _parse_bytes_conf

    assert _parse_bytes_conf("134217728b") == 128 * 1024 * 1024
    assert _parse_bytes_conf("64m") == 64 * 1024 * 1024
    assert _parse_bytes_conf("1g") == 1 << 30
    assert _parse_bytes_conf("4096") == 4096
    assert _parse_bytes_conf("128mb") == 128 * 1024 * 1024
    assert _parse_bytes_conf("garbage") == 128 * 1024 * 1024
