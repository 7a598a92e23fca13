"""Structured Streaming: the kernel over a file-source stream with
checkpointed exactly-once sink + incremental resume."""

import os

import pytest

from pdfspark.corpus import all_cases
from pdfspark.pipeline import pages_from_fixtures
from pdfspark.streaming import run_stream_once


def test_stream_extracts_and_resumes(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pages = pages_from_fixtures(spark)
    pages.write.mode("overwrite").parquet(in_dir)
    run_stream_once(spark, in_dir, out_dir, ckpt)

    got = spark.read.parquet(out_dir)
    n_pdf = sum(1 for c in all_cases() if c.pdf.startswith(b"%PDF-"))
    assert got.count() == n_pdf
    texts = {r.url: r.text for r in got.collect()}
    for c in all_cases():
        if c.pdf.startswith(b"%PDF-"):
            url = f"https://fixture.test/{c.case_id}/000000.pdf"
            assert texts[url] == c.expected_text, c.case_id

    # add a second batch of files → only the new rows are processed
    pages_from_fixtures(spark, copies=2).filter(
        "url LIKE '%/000001.pdf'"
    ).write.mode("append").parquet(in_dir)
    run_stream_once(spark, in_dir, out_dir, ckpt)
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == 2 * n_pdf
    assert got2.select("url").distinct().count() == 2 * n_pdf


def test_stateful_counts_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-key state survives micro-batches via
    the checkpointed state store."""
    from pdfspark.streaming import extract_stream, read_pages_stream, stateful_url_counts

    in_dir = str(tmp_path / "sin")
    ckpt = str(tmp_path / "sckpt")

    first = pages_from_fixtures(spark)
    first.write.mode("overwrite").parquet(in_dir)

    sink = str(tmp_path / "scounts")

    def drain():
        pages = read_pages_stream(spark, in_dir)
        counts = stateful_url_counts(extract_stream(pages))
        q = (
            counts.writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()

    drain()
    rows1 = {}
    for r in spark.read.parquet(sink).collect():
        rows1[r.doc_lang] = max(rows1.get(r.doc_lang, 0), r.n_docs)
    total1 = sum(rows1.values())
    n_pdf = sum(1 for c in all_cases() if c.pdf.startswith(b"%PDF-"))
    assert total1 == n_pdf

    # second file batch: state must ACCUMULATE, not reset
    pages_from_fixtures(spark, copies=2).filter(
        "url LIKE '%/000001.pdf'"
    ).write.mode("append").parquet(in_dir)
    drain()
    rows2 = {}
    for r in spark.read.parquet(sink).collect():
        rows2[r.doc_lang] = max(rows2.get(r.doc_lang, 0), r.n_docs)
    assert sum(rows2.values()) == 2 * n_pdf
    assert any(rows2[k] > rows1.get(k, 0) for k in rows2)


def test_windowed_metrics_watermarked(spark, tmp_path):
    """Tumbling-window ingest metrics with a watermark — computed from
    the pages stream directly (no unbounded stream-stream join)."""
    from pdfspark.streaming import read_pages_stream, windowed_metrics

    in_dir = str(tmp_path / "win")
    pages_from_fixtures(spark).write.mode("overwrite").parquet(in_dir)
    stream = read_pages_stream(spark, in_dir)
    q = (
        windowed_metrics(stream)
        .writeStream.format("memory")
        .queryName("win_metrics")
        .outputMode("complete")  # append would hold back the last day
        .trigger(availableNow=True)  # of windows behind the watermark
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM win_metrics").collect()
    assert rows
    total = sum(r.n_pages for r in rows)
    n_cases = len(all_cases())
    assert total == n_cases
    n_pdf = sum(1 for c in all_cases() if c.pdf.startswith(b"%PDF-"))
    assert sum(r.n_pdf for r in rows) == n_pdf


def test_windowed_metrics_watermark_drops_late_rows(spark, tmp_path):
    """ROADMAP r1 #5: the watermarked tumbling window under LATE data.
    File-per-trigger batches: (1) on-time day-1 rows, (2) a day-3 row that
    advances the watermark to day 2, (3) a day-1 straggler — beyond the
    1-day watermark, so it must be DROPPED and the finalized day-1 window
    counts must not include it."""
    import datetime
    import time as _time

    from pdfspark.pipeline import PAGES_SCHEMA
    from pdfspark.streaming import run_windowed_metrics_once

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    day1 = datetime.datetime(2025, 1, 1)
    day3 = datetime.datetime(2025, 1, 3)

    def row(ts):
        return ("u://" + ts.isoformat(), ts, b"%PDF-x", "", "en")

    def write(rows):
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        _time.sleep(1.1)  # distinct mtimes => deterministic trigger order

    # run 1: on-time day-1 rows + the day-3 row → the checkpoint ends
    # with watermark = day 2 and the day-1 windows finalized to the sink
    write([row(day1 + datetime.timedelta(minutes=m)) for m in (10, 20, 70, 130)])
    write([row(day3)])
    assert run_windowed_metrics_once(spark, in_dir, out_dir, ckpt)
    # run 2: a day-1 straggler arrives AFTER the watermark passed day 2 —
    # it must be dropped, not re-open or double-count the day-1 windows
    write([row(day1 + datetime.timedelta(minutes=30))])
    assert run_windowed_metrics_once(spark, in_dir, out_dir, ckpt)
    got = {
        r.window_start.isoformat(): (r.n_pages, r.n_pdf)
        for r in spark.read.parquet(out_dir).collect()
    }
    # day-1 windows finalized WITHOUT the late row; day-3 window still
    # open (watermark never passed its end), so absent from append output
    assert got == {
        "2025-01-01T00:00:00": (2, 2),
        "2025-01-01T01:00:00": (1, 1),
        "2025-01-01T02:00:00": (1, 1),
    }


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate urls arriving within the
    watermark window are dropped across micro-batches; distinct urls all
    pass."""
    import datetime
    import time as _time

    from pdfspark.pipeline import PAGES_SCHEMA
    from pdfspark.streaming import run_dedup_stream_once

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2025, 6, 1, 12, 0, 0)

    def row(url, minutes):
        return (url, t0 + datetime.timedelta(minutes=minutes),
                b"%PDF-x", "", "en")

    def write(rows):
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        _time.sleep(1.1)

    write([row("u://a", 0), row("u://a", 1), row("u://b", 2)])  # intra-batch dup
    write([row("u://a", 10), row("u://c", 11)])                 # cross-batch dup

    assert run_dedup_stream_once(spark, in_dir, out_dir, ckpt)
    got = sorted(r.url for r in spark.read.parquet(out_dir).collect())
    assert got == ["u://a", "u://b", "u://c"]


def test_stateful_quota_admits_at_most_n_per_key(spark, tmp_path):
    """Per-key quota across micro-batches: the counter persists in the
    state store, so a second batch cannot re-fill an exhausted key."""
    from pdfspark.streaming import (
        extract_stream,
        read_pages_stream,
        stateful_lang_quota,
    )

    in_dir = str(tmp_path / "qin")
    ckpt = str(tmp_path / "qckpt")
    sink = str(tmp_path / "qout")
    pages_from_fixtures(spark).write.mode("overwrite").parquet(in_dir)

    def drain():
        q = (
            stateful_lang_quota(
                extract_stream(read_pages_stream(spark, in_dir)), quota=3
            )
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(sink)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()

    drain()
    import collections

    got1 = collections.Counter(
        r.doc_lang for r in spark.read.parquet(sink).collect()
    )
    assert got1 and all(v <= 3 for v in got1.values()), got1

    # second wave of documents: exhausted keys admit NOTHING more
    pages_from_fixtures(spark, copies=2).filter(
        "url LIKE '%/000001.pdf'"
    ).write.mode("append").parquet(in_dir)
    drain()
    got2 = collections.Counter(
        r.doc_lang for r in spark.read.parquet(sink).collect()
    )
    assert all(v <= 3 for v in got2.values()), got2


def test_stream_stream_attribution_join(spark, tmp_path):
    """Watermarked interval join: clicks attribute to same-user
    impressions within 30 minutes; result equals the equivalent batch
    join, and removing the time bound is REJECTED by Spark in append
    mode (the unbounded-state misuse the interval condition exists to
    prevent)."""
    import datetime

    from pdfspark.streaming import attribution_join, run_attribution_join_once

    t0 = datetime.datetime(2025, 3, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    imps = [(1, 100, ts(0)), (2, 100, ts(60)), (3, 200, ts(0))]
    clicks = [
        (10, 100, ts(10)),   # attributes to imp 1
        (11, 100, ts(65)),   # attributes to imp 2 (NOT 1: >30min after)
        (12, 200, ts(31)),   # outside imp 3's horizon — no match
        (13, 300, ts(5)),    # no impression for this user
    ]
    imp_dir, click_dir = str(tmp_path / "imp"), str(tmp_path / "click")
    spark.createDataFrame(
        imps, "imp_id long, user_id long, imp_ts timestamp"
    ).write.parquet(imp_dir)
    spark.createDataFrame(
        clicks, "click_id long, user_id long, click_ts timestamp"
    ).write.parquet(click_dir)

    assert run_attribution_join_once(
        spark, imp_dir, click_dir,
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    got = {(r.imp_id, r.click_id)
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {(1, 10), (2, 11)}

    # batch-equivalence: the same interval condition over the same rows
    # as a plain batch join gives the identical pair set (the streaming
    # answer is the batch answer, just with evictable state)
    bi = spark.createDataFrame(
        imps, "imp_id long, user_id long, imp_ts timestamp").alias("i")
    bc = spark.createDataFrame(
        clicks, "click_id long, user_id long, click_ts timestamp").alias("c")
    from pyspark.sql import functions as F

    batch = {
        (r.imp_id, r.click_id)
        for r in bi.join(
            bc,
            F.expr("i.user_id = c.user_id AND c.click_ts >= i.imp_ts AND "
                   "c.click_ts <= i.imp_ts + INTERVAL 30 minutes"),
        ).select("i.imp_id", "c.click_id").collect()
    }
    assert got == batch


def test_stream_content_dedup_before_extraction(spark, tmp_path):
    """Content-hash dedup collapses identical payloads under DIFFERENT
    urls before the kernel runs (mirror-site dedup), intra- and
    cross-batch; distinct payloads all extract."""
    import datetime
    import time as _time

    from pdfspark.pipeline import PAGES_SCHEMA
    from pdfspark.streaming import run_content_dedup_extract_once

    in_dir = str(tmp_path / "cin")
    out_dir = str(tmp_path / "cout")
    ckpt = str(tmp_path / "cckpt")
    cases = {c.case_id: c for c in all_cases()}
    pdf_a = cases["t01_hello_classic_xref"].pdf
    pdf_b = cases["t02_flate"].pdf
    t0 = datetime.datetime(2025, 6, 1, 12, 0, 0)

    def row(url, minutes, payload):
        return (url, t0 + datetime.timedelta(minutes=minutes),
                payload, "", "en")

    def write(rows):
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        _time.sleep(1.1)

    # same bytes at two urls in one batch + the dup again next batch
    write([row("u://mirror1", 0, pdf_a), row("u://mirror2", 1, pdf_a),
           row("u://other", 2, pdf_b)])
    write([row("u://mirror3", 10, pdf_a)])

    assert run_content_dedup_extract_once(spark, in_dir, out_dir, ckpt)
    got = {r.url: r.text for r in spark.read.parquet(out_dir).collect()}
    assert len(got) == 2
    assert got["u://mirror1"] == "Hello World"
    assert got["u://other"] == "Hello Flate"


def test_stream_static_anti_join_drops_historic_content(spark, tmp_path):
    """novel_content_stream: payloads already in the static historic
    digest table are dropped (any url); novel payloads extract. No
    state store involved — the index is a plain parquet table."""
    import datetime

    from pdfspark.pipeline import PAGES_SCHEMA
    from pdfspark.streaming import run_novel_content_extract_once

    in_dir = str(tmp_path / "nin")
    hist_dir = str(tmp_path / "nhist")
    out_dir = str(tmp_path / "nout")
    ckpt = str(tmp_path / "nckpt")
    cases = {c.case_id: c for c in all_cases()}
    pdf_a = cases["t01_hello_classic_xref"].pdf
    pdf_b = cases["t02_flate"].pdf
    t0 = datetime.datetime(2025, 6, 1, 12, 0, 0)

    # historic index: digest of payload A
    spark.createDataFrame([(pdf_a,)], "html binary") \
        .selectExpr("md5(html) AS content_md5") \
        .write.mode("overwrite").parquet(hist_dir)
    rows = [("u://hist-mirror", t0, pdf_a, "", "en"),
            ("u://novel", t0, pdf_b, "", "en")]
    spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)

    assert run_novel_content_extract_once(spark, in_dir, hist_dir,
                                          out_dir, ckpt)
    got = {r.url: r.text for r in spark.read.parquet(out_dir).collect()}
    assert got == {"u://novel": "Hello Flate"}


def test_stream_quality_keeplist_matches_batch_filter(spark, tmp_path):
    """The in-stream keep-list must agree bit-for-bit with the batch
    corpus_quality_filter on the same texts (same integer thresholds,
    different execution surface)."""
    from pdfspark.queries import QUERIES
    from pdfspark.streaming import (
        extract_stream, quality_keeplist_stream, read_pages_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    in_dir = str(tmp_path / "kin")
    sink = str(tmp_path / "kout")
    ckpt = str(tmp_path / "kckpt")
    from pdfspark.pipeline import pages_from_documents

    pages_from_documents(spark, sf_dir).write.mode("overwrite") \
        .parquet(in_dir)
    q = (
        quality_keeplist_stream(extract_stream(read_pages_stream(spark, in_dir)))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    import re

    got = {
        int(re.search(r"/(\d+)\.pdf$", r.url).group(1)): r.keep
        for r in spark.read.parquet(sink).collect()
    }
    want = {r.doc_id: r.keep
            for r in QUERIES["corpus_quality_filter"](spark, sf_dir).collect()}
    assert got == want and sum(want.values()) > 0


def test_quality_keeplist_tokenization_matches_sql_on_control_chars(spark):
    """The stream expression and the batch SQL must agree on texts
    containing the kernel's own separators (\n line breaks, \f page
    joins) — the corpus has none, so pin it with crafted rows."""
    from pdfspark.queries import _POSEXPLODE_SPARK, _QUALITY_FILTER
    from pdfspark.streaming import quality_keeplist_stream

    filler = " ".join(["the"] + ["word%d" % i for i in range(60)])
    rows = [
        ("u://a", filler + " mat\fThe dog is a good dog of the era"),
        ("u://b", filler + " line\nbreak and\ttab of the a to is"),
        ("u://c", filler),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {r.url: r.keep for r in quality_keeplist_stream(df).collect()}
    df.createOrReplaceTempView("documents_kl")
    sql = (
        "WITH corpus AS (SELECT url AS doc_id, text FROM documents_kl),\n"
        "words AS (SELECT doc_id, pos, word FROM corpus "
        + _POSEXPLODE_SPARK + ")"
        + _QUALITY_FILTER.format(alpha_match="word RLIKE '^[A-Za-z]+$'")
    )
    want = {r.doc_id: r.keep for r in spark.sql(sql).collect()}
    assert got == want


def test_minhash_stream_dedup_drain_equals_batch(spark, tmp_path):
    """Drain equivalence for the dedup family (VERDICT r3 next #7): the
    stream-side minhash banding against a static band index must
    produce EXACTLY dedup_incremental_minhash's batch answer — same
    doc_ids, same dup_of attributions, same keep bits — with the stream
    delivering the new increment across MULTIPLE micro-batches
    (maxFilesPerTrigger=1 over several files)."""
    import math

    from pdfspark.queries import QUERIES
    from pdfspark.streaming import build_band_index, run_minhash_stream_dedup_once

    sf_dir = "/root/testdata/sf0.001"
    in_dir = str(tmp_path / "minc")
    idx_dir = str(tmp_path / "mindex")
    out_dir = str(tmp_path / "mout")
    ckpt = str(tmp_path / "mckpt")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter("doc_id < 300").select("doc_id", "text")
    # historic index = the originals' bands, as a maintained index's base
    build_band_index(docs).write.mode("overwrite").parquet(
        f"{idx_dir}/base")
    # the new increment = the synthesized 80%-prefix mutants, split
    # into several parquet files so the drain spans micro-batches
    mutants = [
        (int(r.doc_id) + 1000000,
         r.text[: math.floor(len(r.text) * 0.8)])
        for r in docs.collect() if r.doc_id % 3 == 0
    ]
    third = max(len(mutants) // 3, 1)
    for k in range(3):
        chunk = mutants[k * third:(k + 1) * third] if k < 2 \
            else mutants[2 * third:]
        if chunk:
            spark.createDataFrame(chunk, "doc_id long, text string") \
                .coalesce(1).write.mode("append").parquet(in_dir)
    run_minhash_stream_dedup_once(spark, in_dir, idx_dir, out_dir, ckpt)

    streamed = {
        (r.doc_id, r.dup_of, r.keep)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r.doc_id, r.dup_of, r.keep)
        for r in QUERIES["dedup_incremental_minhash"](spark, sf_dir).collect()
    }
    assert streamed == batch
    assert len(streamed) == len(mutants)
    # the mutants really collide with their originals (recall sanity)
    dups = [d for d, dup, k in streamed if k == 0]
    assert len(dups) >= 0.9 * len(mutants)


def test_domain_window_quota_matches_batch_row_number(spark, tmp_path):
    """Per-domain windowed rate quota (politeness/budget primitive):
    admit at most N per (domain, event-time window), refilling each
    window. For an in-order source (crawl logs), the drained output
    must equal the batch twin — row_number() OVER (PARTITION BY
    domain, window ORDER BY ts, url) <= N — across multiple
    micro-batches."""
    import datetime

    from pdfspark.streaming import domain_window_quota_stream

    in_dir = str(tmp_path / "qin")
    ckpt = str(tmp_path / "qckpt")
    sink = str(tmp_path / "qout")

    base = datetime.datetime(2025, 3, 1, 12, 0, 0)
    rows = []
    # 3 domains × 6 fetches spanning two 1-minute windows, in ts order;
    # slashless and query-string forms included so the stream and the
    # batch twin must agree on HOST extraction (review r4.3 #2)
    for i in range(6):
        for d in ("a.test", "b.test", "c.test"):
            ts = base + datetime.timedelta(seconds=13 * i)
            url = (f"https://{d}?page={i}" if i == 2
                   else f"https://{d}" if i == 4
                   else f"https://{d}/p{i:02d}")
            rows.append((url, ts, b"%PDF-x", "t", "en"))
    rows.sort(key=lambda r: r[1])
    # two files in time order → two micro-batches
    half = len(rows) // 2
    for chunk in (rows[:half], rows[half:]):
        spark.createDataFrame(
            chunk, "url string, warc_ts timestamp, html binary, "
            "text string, lang string"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    pages = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, "
            "text string, lang string")
        .option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    q = (
        domain_window_quota_stream(pages, quota=3, window="1 minute")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()

    got = {(r.domain, r.url) for r in spark.read.parquet(sink).collect()}
    batch = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
        "text string, lang string"
    ).selectExpr(
        "regexp_extract(url, '^https?://([^/?#]+)', 1) AS domain",
        "url", "warc_ts",
        "window(warc_ts, '1 minute').start AS w",
    ).selectExpr(
        "domain", "url",
        "row_number() OVER (PARTITION BY domain, w "
        "ORDER BY warc_ts, url) AS rn",
    ).filter("rn <= 3")
    expect = {(r.domain, r.url) for r in batch.collect()}
    assert got == expect
    # quota really binds: 6 fetches/domain over 2 windows → ≤ 6 admitted,
    # and at least one window dropped something
    assert len(got) < len(rows)


def test_domain_quota_null_ts_and_custom_window(spark, tmp_path):
    """Review r4.2 hardening: a NULL warc_ts row is skipped (never
    wedges the checkpoint replay), arbitrary 'N minutes' windows
    parse, and slashless URLs attribute to their real host instead of
    pooling under ''."""
    import datetime

    import pytest as _pt

    from pdfspark.streaming import (
        _parse_window_seconds,
        domain_window_quota_stream,
    )

    assert _parse_window_seconds("10 minutes") == 600
    assert _parse_window_seconds("1 hour") == 3600
    assert _parse_window_seconds("2 days") == 172800
    with _pt.raises(ValueError):
        _parse_window_seconds("sometimes")

    in_dir = str(tmp_path / "nin")
    ckpt = str(tmp_path / "nckpt")
    sink = str(tmp_path / "nout")
    base = datetime.datetime(2025, 3, 1, 12, 0, 0)
    rows = [
        ("https://a.test/p1", base, b"x", "t", "en"),
        ("https://a.test", base + datetime.timedelta(seconds=1),
         b"x", "t", "en"),  # slashless: still domain a.test
        ("https://b.test/p1", None, b"x", "t", "en"),  # null ts: skipped
        ("https://b.test/p2", base + datetime.timedelta(seconds=2),
         b"x", "t", "en"),
    ]
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
        "text string, lang string"
    ).coalesce(1).write.mode("append").parquet(in_dir)
    pages = spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, "
        "text string, lang string").parquet(in_dir)
    q = (
        domain_window_quota_stream(pages, quota=1, window="10 minutes")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = {(r.domain, r.url) for r in spark.read.parquet(sink).collect()}
    # quota=1 per domain per 10min: a.test admits its EARLIEST row only
    # (the slashless URL grouped correctly); b.test admits p2 (null ts
    # row skipped, not crashed on)
    assert got == {("a.test", "https://a.test/p1"),
                   ("b.test", "https://b.test/p2")}


def test_ivf_assign_stream_equals_batch_sql(spark, tmp_path):
    """Stream-side IVF cell assignment (map-side argmax over a literal
    seed array — no join/shuffle/state) must reproduce the batch SQL
    assign CTE (ROW_NUMBER ... ORDER BY dot DESC, sid) for every
    vector, drained across micro-batches."""
    from pdfspark.streaming import ivf_assign_stream

    sf_dir = "/root/testdata/sf0.001"
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("embeddings")
    assign_sql = """
WITH v AS (
  SELECT vec_id,
    transform(embedding,
      x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings),
seeds AS (SELECT vec_id AS sid, qv AS sv FROM v WHERE vec_id < 8)
SELECT vec_id, sid AS cell FROM (
  SELECT v.vec_id, s.sid,
    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
      aggregate(zip_with(v.qv, s.sv, (a,b) -> a*b), 0L,
                (acc,x) -> acc+x) DESC, s.sid) AS r
  FROM v CROSS JOIN seeds s) t
WHERE r = 1
"""
    expect = {(r.vec_id, r.cell) for r in spark.sql(assign_sql).collect()}
    seeds = [
        (r.vec_id, r.qv)
        for r in spark.sql(
            "SELECT vec_id, transform(embedding, x -> CAST(FLOOR("
            "CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS qv "
            "FROM embeddings WHERE vec_id < 8 ORDER BY vec_id"
        ).collect()
    ]
    # batch-mode sanity first (same code path)
    batch_got = {
        (r.vec_id, r.cell)
        for r in ivf_assign_stream(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"), seeds
        ).collect()
    }
    assert batch_got == expect
    # streamed drain across micro-batches
    in_dir = str(tmp_path / "iin")
    sink = str(tmp_path / "iout")
    ckpt = str(tmp_path / "ickpt")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    embs.filter("vec_id % 2 = 0").coalesce(1).write.parquet(
        in_dir, mode="append")
    embs.filter("vec_id % 2 = 1").coalesce(1).write.parquet(
        in_dir, mode="append")
    stream = (
        spark.readStream.schema(embs.schema)
        .option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    q = (
        ivf_assign_stream(stream, seeds)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = {(r.vec_id, r.cell) for r in spark.read.parquet(sink).collect()}
    assert got == expect
    assert len({c for _, c in got}) > 1  # multiple cells actually used


def test_shard_pack_stream_carry_matches_batch_prefix_scan(spark, tmp_path):
    """Streaming shard packer (VERDICT r4 next #6): token-budget shard
    assignment with the cumulative offset CARRIED across micro-batches
    in applyInPandasWithState. The whole sf0.001 documents table
    streams in three doc_id-ordered files (maxFilesPerTrigger=1, so
    the carry state crosses real micro-batch boundaries); the drained
    output must equal shard_pack_token_budget's distributed two-pass
    prefix scan bit-for-bit — same doc_ids, token counts and shard
    boundaries, including shards that straddle a micro-batch edge."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdfspark.queries import QUERIES
    from pdfspark.streaming import run_shard_pack_stream_once

    sf_dir = "/root/testdata/sf0.001"
    in_dir = tmp_path / "pin"
    out_dir = str(tmp_path / "pout")
    ckpt = str(tmp_path / "pckpt")
    in_dir.mkdir()

    rows = sorted(
        ((int(r.doc_id), r.text) for r in
         spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("doc_id", "text").collect()),
    )
    third = len(rows) // 3
    chunks = [rows[:third], rows[third:2 * third], rows[2 * third:]]
    for k, chunk in enumerate(chunks):
        path = str(in_dir / f"chunk{k}.parquet")
        pq.write_table(
            pa.table(
                {"doc_id": [d for d, _ in chunk],
                 "text": [t for _, t in chunk]},
                schema=pa.schema([("doc_id", pa.int64()),
                                  ("text", pa.string())]),
            ),
            path,
        )
        # explicit increasing mtimes: the file source orders by
        # modification time, and the carry is order-sensitive
        os.utime(path, (1_000_000 + k, 1_000_000 + k))

    run_shard_pack_stream_once(spark, str(in_dir), out_dir, ckpt)

    streamed = {
        (r.doc_id, r.n_tokens, r.shard_id)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r.doc_id, r.n_tokens, r.shard_id)
        for r in QUERIES["shard_pack_token_budget"](spark, sf_dir).collect()
    }
    assert streamed == batch
    assert len(streamed) == len(rows)
    # the carry genuinely spans batches: the first doc of batch 2/3
    # continues the running offset (its shard is not reset to 0)
    first_of_b2 = chunks[1][0][0]
    b2_shard = {s for d, _, s in streamed if d == first_of_b2}
    assert b2_shard != {0}


def test_quality_classifier_stream_matches_batch(spark, tmp_path):
    """In-stream hashed-feature quality scoring (stateless JVM
    expression — no explode/join/shuffle): the drained output must
    equal quality_classifier_linear's batch answer row-for-row, with
    the stream delivering documents across multiple micro-batches."""
    from pdfspark.queries import QUERIES
    from pdfspark.streaming import quality_classifier_stream

    sf_dir = "/root/testdata/sf0.001"
    in_dir = str(tmp_path / "qin")
    sink = str(tmp_path / "qout")
    ckpt = str(tmp_path / "qckpt")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode("append") \
        .parquet(in_dir)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append") \
        .parquet(in_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    q = (
        quality_classifier_stream(stream)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()

    streamed = {
        (r.doc_id, r.score, r.keep)
        for r in spark.read.parquet(sink).collect()
    }
    batch = {
        (r.doc_id, r.score, r.keep)
        for r in QUERIES["quality_classifier_linear"](spark, sf_dir)
        .collect()
    }
    assert streamed == batch
    assert len(streamed) == docs.count()
    assert {k for _, _, k in streamed} == {0, 1}  # both classes occur


def test_watermarked_shard_pack_reorders_within_delay(spark, tmp_path):
    """Late-tolerant shard packer: rows arrive out of order with
    jitter under the watermark delay across THREE micro-batches; the
    emitted rows must equal the batch prefix scan over the
    (ts, doc_id)-sorted input restricted to ts <= final watermark
    (rows inside the final delay window stay buffered), and a row
    arriving beyond the delay is quarantined with shard_id = -1, never
    silently reordered into sealed shards."""
    import hashlib
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdfspark.queries import _SHARD_BUDGET
    from pdfspark.streaming import shard_pack_stream_watermarked

    sf_dir = "/root/testdata/sf0.001"
    in_dir = tmp_path / "win"
    in_dir.mkdir()

    base = sorted(
        (int(r.doc_id), r.text) for r in
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text").collect()
    )
    # event time = 1000 + rank; delivery order = rank + bounded jitter
    # (±15 s < delay 60 s), split into 3 files
    rows = []
    for rank, (doc_id, text) in enumerate(base):
        j = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % 31 - 15
        rows.append((rank + j, 1000 + rank, doc_id, text))
    rows.sort()
    third = len(rows) // 3
    chunks = [rows[:third], rows[third:2 * third], rows[2 * third:]]
    # a hopeless straggler in the last file: ts far behind the frontier
    chunks[2] = chunks[2] + [(0, 1000, 999999, "late words here")]
    for k, chunk in enumerate(chunks):
        path = str(in_dir / f"chunk{k}.parquet")
        doc_ids = [d for _, _, d, _ in chunk]
        tss = [t for _, t, _, _ in chunk]
        texts = [x for _, _, _, x in chunk]
        if k == 0:
            # a null-event-time row must be DROPPED before the state
            # stage (unorderable; review r5.4 #1), never wedge the
            # query or appear in the output
            doc_ids.append(888888)
            tss.append(None)
            texts.append("null ts row")
        pq.write_table(
            pa.table(
                {"doc_id": doc_ids, "ts": tss, "text": texts},
                schema=pa.schema([("doc_id", pa.int64()),
                                  ("ts", pa.int64()),
                                  ("text", pa.string())]),
            ),
            path,
        )
        os.utime(path, (2_000_000 + k, 2_000_000 + k))

    sink = str(tmp_path / "wout")
    ckpt = str(tmp_path / "wckpt")
    stream = (
        spark.readStream.schema("doc_id long, ts long, text string")
        .option("maxFilesPerTrigger", 1).parquet(str(in_dir))
    )
    q = (
        shard_pack_stream_watermarked(stream, delay_s=60)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()

    got = [(r.doc_id, r.n_tokens, r.shard_id)
           for r in spark.read.parquet(sink).collect()]
    quarantined = [(d, s) for d, _, s in got if s == -1]
    assert quarantined == [(999999, -1)]
    assert all(d != 888888 for d, _, _ in got)  # null-ts row dropped

    # batch twin: (ts, doc_id)-sorted prefix scan over ts <= final wm
    max_ts = 1000 + len(base) - 1
    wm = max_ts - 60
    ordered = sorted((1000 + rank, doc_id, text)
                     for rank, (doc_id, text) in enumerate(base))
    expect, offset = set(), 0
    for ts, doc_id, text in ordered:
        n = len([w for w in text.strip().split() if w]) or 1
        if ts <= wm:
            expect.add((doc_id, n, offset // _SHARD_BUDGET))
            offset += n
    emitted = {r for r in got if r[2] != -1}
    # token counts must match the JVM split exactly — compare via the
    # emitted set itself
    assert emitted == expect, (
        sorted(emitted - expect)[:5], sorted(expect - emitted)[:5])
    assert len(emitted) == sum(1 for t, _, _ in ordered if t <= wm)


def test_shard_pack_stream_per_key_packers(spark, tmp_path):
    """Per-key packers (the 10^12-doc fan-out axis): keyed by the
    documents' language column, every key packs its OWN shard
    sequence with its own carry — the drained output must equal a
    per-key prefix scan in doc_id order, across multiple
    micro-batches."""
    from pyspark.sql import Window, functions as F

    from pdfspark.streaming import shard_pack_stream

    sf_dir = "/root/testdata/sf0.001"
    in_dir = str(tmp_path / "kin")
    sink = str(tmp_path / "kout")
    ckpt = str(tmp_path / "kckpt")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text", "lang")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode("append") \
        .parquet(in_dir)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append") \
        .parquet(in_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    q = (
        shard_pack_stream(stream, key_col="lang")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()

    streamed = {
        (r.packer, r.doc_id, r.n_tokens, r.shard_id)
        for r in spark.read.parquet(sink).collect()
    }
    # batch twin: per-lang prefix scan — BUT the stream delivered all
    # even doc_ids before all odd ones, so the carry order is
    # (parity, doc_id) within each key
    w = (Window.partitionBy("lang")
         .orderBy(F.col("doc_id") % 2, "doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    from pdfspark.queries import _SHARD_BUDGET

    tok = docs.select(
        "lang", "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long")
        .alias("n_tokens"),
    )
    batch = {
        (r.lang, r.doc_id, r.n_tokens, r.shard_id)
        for r in tok.withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "lang", "doc_id", "n_tokens",
            F.floor((F.col("cum") - F.col("n_tokens"))
                    / float(_SHARD_BUDGET)).cast("long").alias("shard_id"),
        ).collect()
    }
    assert streamed == batch
    assert len({p for p, _, _, _ in streamed}) > 1  # several packers ran


def test_shard_pack_stream_survives_null_text(spark, tmp_path):
    """One bad document never kills the job — streaming edition
    (ADVICE r5 #1): a NULL text row must NOT wedge shard_pack_stream.
    Without the coalesce guard, size(split(trim(NULL))) is NULL, which
    arrives as NaN in the pandas state function where int() raises;
    the task fails and checkpoint replay re-delivers the same batch
    forever. With the guard, NULL counts exactly like empty text and
    the stream drains; the carry over subsequent rows is unaffected."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdfspark.streaming import run_shard_pack_stream_once

    in_dir = tmp_path / "nin"
    out_dir = str(tmp_path / "nout")
    ckpt = str(tmp_path / "nckpt")
    in_dir.mkdir()
    pq.write_table(
        pa.table(
            {"doc_id": [1, 2, 3, 4],
             "text": ["alpha beta gamma", None, "", "delta"]},
            schema=pa.schema([("doc_id", pa.int64()),
                              ("text", pa.string())]),
        ),
        str(in_dir / "chunk0.parquet"),
    )

    finished = run_shard_pack_stream_once(
        spark, str(in_dir), out_dir, ckpt, timeout_s=120)
    assert finished, "stream wedged on the NULL text row"

    got = {(r.doc_id, r.n_tokens)
           for r in spark.read.parquet(out_dir).collect()}
    null_tok = {n for d, n in got if d == 2}
    empty_tok = {n for d, n in got if d == 3}
    assert null_tok == empty_tok  # NULL counts exactly like empty text
    assert (1, 3) in got and (4, 1) in got  # carry rows intact


def test_substring_excise_stream_matches_batch(spark, tmp_path):
    """Stream-side exact-substring excision vs a static gram index
    (streaming twin of dedup_substring_spans): the drained output must
    equal substring_excise_against_index over the union of all inputs,
    across multiple micro-batches — per-doc independence given the
    static index IS the state-free contract. Fixtures pin the edge
    cases: a doc with a history-duplicated span (excised), an
    untouched doc, a doc that is ONE long history passage (fully
    excised to ''), and a doc shorter than n (never hashed, never
    touched)."""
    from pdfspark.streaming import (
        build_gram_index,
        read_gram_index,
        run_substring_excise_stream_once,
        substring_excise_against_index,
    )

    n = 5
    in_dir = str(tmp_path / "sin")
    idx_dir = str(tmp_path / "sidx")
    out_dir = str(tmp_path / "sout")
    ckpt = str(tmp_path / "sckpt")

    passage = "the quick brown fox jumps over the lazy dog"
    hist = spark.createDataFrame(
        [(1, f"history opens here {passage} and closes here"),
         (2, "another record with wholly different words inside")],
        "doc_id long, text string")
    build_gram_index(hist, n).write.mode("overwrite").parquet(
        f"{idx_dir}/base")

    batches = [
        # span of the history passage embedded mid-doc
        [(100, f"fresh prose then {passage} then fresh prose again")],
        # untouched + fully-excised (the doc IS a history passage)
        [(101, "completely novel sentence with no overlap at all"),
         (102, passage)],
        # shorter than n words: never hashed
        [(103, "tiny doc here")],
    ]
    for chunk in batches:
        spark.createDataFrame(chunk, "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(in_dir)

    assert run_substring_excise_stream_once(
        spark, in_dir, idx_dir, out_dir, ckpt, n=n)

    streamed = {
        (r.doc_id, r.text, r.removed_words)
        for r in spark.read.parquet(out_dir).collect()
    }
    index = read_gram_index(spark, idx_dir).select("h")
    union = spark.createDataFrame(
        [row for chunk in batches for row in chunk],
        "doc_id long, text string")
    batch = {
        (r.doc_id, r.text, r.removed_words)
        for r in substring_excise_against_index(union, index, n).collect()
    }
    assert streamed == batch
    by_id = {d: (t, rm) for d, t, rm in streamed}
    # the embedded passage is excised, the surrounding prose survives
    assert by_id[100][0] == "fresh prose then then fresh prose again"
    assert by_id[100][1] == len(passage.split(" "))
    # untouched doc comes back byte-identical with zero removed
    assert by_id[101] == (
        "completely novel sentence with no overlap at all", 0)
    # a doc that IS a history passage excises to empty
    assert by_id[102] == ("", len(passage.split(" ")))
    # sub-n docs are never hashed, never touched
    assert by_id[103] == ("tiny doc here", 0)


def test_substring_keepfirst_stream_matches_batch(spark, tmp_path):
    """Incremental WITHIN-STREAM keep-first substring dedup (r7 — the
    full streaming twin of dedup_substring_spans): the drained output
    must equal the batch keep-first excision over the union of all
    inputs when batches arrive in doc_id order, across ≥3
    micro-batches. Fixtures pin every cross-batch shape: a
    within-batch dup (batch-first kept, second excised), a
    CROSS-BATCH dup (kept copy in batch 1, later-batch copy excised
    via the accumulated index), a three-way dup spanning all batches
    (only the very first survives), an untouched doc, and a sub-n doc
    (never hashed). The empty index dir on batch 0 must behave as
    no-history."""
    from pdfspark.streaming import (
        covered_slots,
        excise_covered,
        gram_hash_grams,
        keepfirst_dup_spans,
        run_substring_keepfirst_stream_once,
    )
    from pyspark.sql import functions as F

    n = 5
    in_dir = str(tmp_path / "kin")
    idx_dir = str(tmp_path / "kidx")
    out_dir = str(tmp_path / "kout")
    ckpt = str(tmp_path / "kckpt")

    # every surrounding word is unique to its doc, so the only shared
    # 5-grams are the ones fully inside the repeated passage — the
    # covered-slot union is then exactly the passage occurrence and
    # the hand-pins below are closed-form
    passage = "the quick brown fox jumps over the lazy dog"
    tri = "alpha beta gamma delta epsilon zeta"
    batches = [
        # batch 0: the canonical copies + a WITHIN-batch dup pair
        [(1, f"ona onb onc ond {passage} one onf"),
         (2, f"twa twb twc twd {passage} twe twf"),
         (3, f"tha thb thc thd {tri} the thf")],
        # batch 1: cross-batch dup of the passage + untouched + triple
        [(10, f"tea teb tec ted {passage} tee tef"),
         (11, "completely novel sentence with no overlap at all"),
         (12, f"twla twlb twlc twld {tri} twle twlf")],
        # batch 2: three-way dup tail + sub-n doc
        [(20, f"twta twtb twtc twtd {tri} twte twtf"),
         (21, "tiny doc")],
    ]
    import os as _os

    for i, chunk in enumerate(batches):
        spark.createDataFrame(chunk, "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(in_dir)
        # the file source orders by mtime; one file per chunk (just
        # appended = newest) gets an EXPLICIT increasing mtime so
        # maxFilesPerTrigger=1 yields one micro-batch per chunk in
        # doc_id order (the keep-first ordering contract)
        newest = max(
            (f for f in _os.listdir(in_dir) if f.endswith(".parquet")),
            key=lambda f: _os.path.getmtime(_os.path.join(in_dir, f)),
        )
        _os.utime(_os.path.join(in_dir, newest),
                  (1_700_000_000 + i, 1_700_000_000 + i))

    assert run_substring_keepfirst_stream_once(
        spark, in_dir, idx_dir, out_dir, ckpt, n=n)

    streamed = {
        (r.doc_id, r.text, r.removed_words)
        for r in spark.read.parquet(out_dir).collect()
    }
    union = spark.createDataFrame(
        [row for chunk in batches for row in chunk],
        "doc_id long, text string")
    g = union.select("doc_id", F.split("text", " ").alias("ws"))
    spans = keepfirst_dup_spans(gram_hash_grams(union, n))
    batch = {
        (r.doc_id, r.text, r.removed_words)
        for r in excise_covered(g, covered_slots(spans, n)).collect()
    }
    assert streamed == batch
    by_id = {d: (t, rm) for d, t, rm in streamed}
    # within-batch keep-first: doc 1 keeps the passage, doc 2 loses
    # exactly the passage (unique surroundings survive)
    assert by_id[1] == (f"ona onb onc ond {passage} one onf", 0)
    assert by_id[2] == ("twa twb twc twd twe twf",
                        len(passage.split(" ")))
    # cross-batch: the batch-1 copy is excised via the index
    assert by_id[10] == ("tea teb tec ted tee tef",
                         len(passage.split(" ")))
    # three-way dup: only the batch-0 copy survives
    assert by_id[3] == (f"tha thb thc thd {tri} the thf", 0)
    assert by_id[12] == ("twla twlb twlc twld twle twlf",
                         len(tri.split(" ")))
    assert by_id[20] == ("twta twtb twtc twtd twte twtf",
                         len(tri.split(" ")))
    # untouched + sub-n
    assert by_id[11] == (
        "completely novel sentence with no overlap at all", 0)
    assert by_id[21] == ("tiny doc", 0)
    # the index accumulated one increment per micro-batch
    incs = [d for d in _os.listdir(idx_dir) if d.startswith("batch_id=")]
    assert len(incs) == 3
    # REPLAY idempotence: a fresh checkpoint over the SAME index and
    # output dirs re-processes every batch against pre-existing
    # increments — the k<N index read must hide each batch's own
    # (overwritten) increment, so the rerun reproduces the exact same
    # rows instead of self-excising the kept copies
    assert run_substring_keepfirst_stream_once(
        spark, in_dir, idx_dir, out_dir, str(tmp_path / "kckpt2"), n=n)
    replayed = {
        (r.doc_id, r.text, r.removed_words)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert replayed == streamed
    assert len([d for d in _os.listdir(idx_dir)
                if d.startswith("batch_id=")]) == 3


def test_curation_stream_matches_batch_composition(spark, tmp_path):
    """ONE-query curation topology (r7): quality filter → stream-static
    digest anti-join → stateful shard packer, drained across ≥3
    micro-batches, must equal the batch composition computed
    independently in plain Python (same classifier weights, same
    md5-dedup rule, same sequential token pack in doc_id order).
    Fixtures force every path: a negative-score doc (filtered), a
    history-duplicated doc (dropped by the anti-join), and enough
    survivors to close multiple shards."""
    import hashlib
    import os as _os

    from pdfspark.streaming import run_curation_stream_once

    def score(text):
        s = 0
        for w in text.strip().split(" "):
            if not w:
                continue
            b = int(hashlib.md5(w.encode()).hexdigest()[:4], 16) % 64
            s += (b * 7) % 13 - 6
        return s

    # pick words by their actual classifier weights so the fixture is
    # robust to nothing: negative-heavy docs come from repeating a
    # negative-weight word, positive from a positive one
    neg = pos = None
    for cand in ("alpha beta gamma delta epsilon zeta eta theta iota "
                 "kappa lam mu nu xi omicron pi rho sigma tau").split():
        w = score(cand)
        if w < 0 and neg is None:
            neg = cand
        if w > 0 and pos is None:
            pos = cand
    assert neg and pos
    dup_text = f"{pos} {pos} {pos} {pos}"
    batches = [
        [(1, f"{pos} {pos} {pos}"),          # kept
         (2, f"{neg} {neg} {neg} {neg}")],   # filtered (score < 0)
        [(10, dup_text),                     # history dup -> dropped
         (11, f"{pos} {pos} {pos} {pos} {pos}")],
        [(20, f"{pos} {pos}"),
         (21, f"{neg} {pos} {pos} {pos} {pos} {pos} {pos}")],
    ]
    assert score(batches[0][1][1]) < 0 <= score(batches[0][0][1])

    in_dir = str(tmp_path / "cin")
    idx_dir = str(tmp_path / "cidx")
    out_dir = str(tmp_path / "cout")
    ckpt = str(tmp_path / "cckpt")
    spark.createDataFrame(
        [(hashlib.md5(dup_text.encode()).hexdigest(), 900),
         (hashlib.md5(b"unrelated history text").hexdigest(), 901)],
        "digest string, first_doc long").write.mode("overwrite").parquet(
        f"{idx_dir}/base")
    for i, chunk in enumerate(batches):
        spark.createDataFrame(chunk, "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(in_dir)
        newest = max(
            (f for f in _os.listdir(in_dir) if f.endswith(".parquet")),
            key=lambda f: _os.path.getmtime(_os.path.join(in_dir, f)),
        )
        _os.utime(_os.path.join(in_dir, newest),
                  (1_700_000_000 + i, 1_700_000_000 + i))

    budget = 8
    assert run_curation_stream_once(
        spark, in_dir, idx_dir, out_dir, ckpt, budget=budget)

    got = {(r.doc_id, r.n_tokens, r.shard_id)
           for r in spark.read.parquet(out_dir)
           .select("doc_id", "n_tokens", "shard_id").collect()}
    # batch composition, plain Python: filter, dedup, sequential pack
    survivors = [
        (doc_id, text)
        for chunk in batches for doc_id, text in chunk
        if score(text) >= 0
        and hashlib.md5(text.encode()).hexdigest()
        != hashlib.md5(dup_text.encode()).hexdigest()
    ]
    expected, offset = set(), 0
    for doc_id, text in sorted(survivors):
        n = len(text.split())
        expected.add((doc_id, n, offset // budget))
        offset += n
    assert got == expected
    # every path genuinely fired: a filtered doc, a dropped dup, and
    # at least two distinct shards among the survivors
    assert 2 not in {d for d, _, _ in got}
    assert 10 not in {d for d, _, _ in got}
    assert len({s for _, _, s in got}) >= 2


def test_band_index_maintenance_streams_and_compaction(spark, tmp_path):
    """Index-maintenance lifecycle (ROADMAP r8-c): a base generation
    plus an append stream of kept docs plus a tombstone stream must
    compose — read_band_index == build_band_index(survivors) exactly —
    and compaction must fold the delta/tombstone subdirs into a new
    base with an identical live view.  Replaying the append stream
    from a fresh checkpoint must not duplicate index rows (batch_id
    subpath + overwrite contract)."""
    from pyspark.sql import functions as F

    from pdfspark.streaming import (build_band_index, compact_band_index,
                                    read_band_index,
                                    run_band_index_append_stream_once,
                                    run_band_tombstone_stream_once)

    sf_dir = "/root/testdata/sf0.001"
    idx_dir = str(tmp_path / "bandidx")
    adds_dir = str(tmp_path / "adds")
    dels_dir = str(tmp_path / "dels")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter("doc_id < 120").select("doc_id", "text")
    # generation 0: the first 60 docs are the compacted base
    build_band_index(docs.filter("doc_id < 60")).write.mode(
        "overwrite").parquet(f"{idx_dir}/base")
    # append stream: docs 60-119 arrive across 3 micro-batches
    rows = sorted((int(r.doc_id), r.text)
                  for r in docs.filter("doc_id >= 60").collect())
    for k in range(3):
        spark.createDataFrame(rows[k * 20:(k + 1) * 20],
                              "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(adds_dir)
    assert run_band_index_append_stream_once(
        spark, adds_dir, idx_dir, str(tmp_path / "ck_add"))
    # tombstone stream: every 5th doc taken down (base AND delta hits)
    deleted = list(range(0, 120, 5))
    spark.createDataFrame([(i,) for i in deleted], "hist_id long") \
        .coalesce(1).write.mode("append").parquet(dels_dir)
    assert run_band_tombstone_stream_once(
        spark, dels_dir, idx_dir, str(tmp_path / "ck_del"))

    expected = {
        (r.hist_id, r.band, r.sig)
        for r in build_band_index(
            docs.filter(~F.col("doc_id").isin(deleted))).collect()
    }
    live = {(r.hist_id, r.band, r.sig)
            for r in read_band_index(spark, idx_dir).collect()}
    assert live == expected

    # compaction: new generation, identical view, physical subtraction
    gen2 = str(tmp_path / "bandidx_g2")
    n = compact_band_index(spark, idx_dir, gen2, nparts=4)
    assert n == len(expected)
    compacted = {(r.hist_id, r.band, r.sig)
                 for r in read_band_index(spark, gen2).collect()}
    assert compacted == expected
    assert not os.path.isdir(os.path.join(gen2, "delta"))
    assert not os.path.isdir(os.path.join(gen2, "tombstones"))

    # replay idempotence: a fresh checkpoint re-drains every batch;
    # overwrite subpaths must leave the live view unchanged
    assert run_band_index_append_stream_once(
        spark, adds_dir, idx_dir, str(tmp_path / "ck_add2"))
    replayed = spark.read.parquet(f"{idx_dir}/delta")
    assert replayed.count() == replayed.dropDuplicates(
        ["hist_id", "band", "sig"]).count()
    live2 = {(r.hist_id, r.band, r.sig)
             for r in read_band_index(spark, idx_dir).collect()}
    assert live2 == expected


def test_band_index_tombstone_changes_decisions(spark, tmp_path):
    """A tombstoned historic doc must stop matching: a fresh crawl of
    taken-down content is admitted (keep=1), while content whose
    history survives is still dropped as a dup.  Deterministic by
    construction — the new docs are byte-copies of the historic ones,
    so band collision is certain, not probabilistic."""
    from pdfspark.streaming import (build_band_index,
                                    minhash_dedup_decisions,
                                    read_band_index,
                                    run_band_tombstone_stream_once)

    sf_dir = "/root/testdata/sf0.001"
    corpus = {int(r.doc_id): r.text
              for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
              .filter("doc_id < 2").select("doc_id", "text").collect()}
    idx_dir = str(tmp_path / "semidx")
    dels_dir = str(tmp_path / "semdels")
    hist = spark.createDataFrame(
        [(1, corpus[0]), (2, corpus[1])], "doc_id long, text string")
    build_band_index(hist).write.mode("overwrite").parquet(
        f"{idx_dir}/base")
    spark.createDataFrame([(1,)], "hist_id long").coalesce(1) \
        .write.mode("append").parquet(dels_dir)
    assert run_band_tombstone_stream_once(
        spark, dels_dir, idx_dir, str(tmp_path / "ck_sem"))

    batch = spark.createDataFrame(
        [(101, corpus[0]), (102, corpus[1])], "doc_id long, text string")
    idx = read_band_index(spark, idx_dir).persist()
    idx.count()
    try:
        got = {r.doc_id: (r.keep, r.dup_of)
               for r in minhash_dedup_decisions(batch, idx).collect()}
    finally:
        idx.unpersist(blocking=False)
    assert got[101] == (1, None)   # history tombstoned: admitted
    assert got[102] == (0, 2)      # history alive: still a dup


def test_minhash_stream_reads_maintained_band_index(spark, tmp_path):
    """The stream decision face drains against a MAINTAINED band index
    (base + delta increment + tombstone), not a flat snapshot: the
    drained decisions equal minhash_dedup_decisions against
    read_band_index's live view, so delta rows dedup and tombstoned
    history does not."""
    from pdfspark.streaming import (build_band_index,
                                    minhash_dedup_decisions,
                                    read_band_index,
                                    run_band_index_append_stream_once,
                                    run_band_tombstone_stream_once,
                                    run_minhash_stream_dedup_once)

    import random

    rng = random.Random(17)  # 40 docs, no two sharing a band
    rows = [(i, " ".join(f"tok{rng.randrange(5000)}" for _ in range(60)))
            for i in range(40)]
    schema = "doc_id long, text string"
    idx = str(tmp_path / "mbidx")
    build_band_index(spark.createDataFrame(rows[:20], schema)) \
        .write.parquet(f"{idx}/base")
    spark.createDataFrame(rows[20:], schema).coalesce(1) \
        .write.parquet(str(tmp_path / "mbadds"))
    assert run_band_index_append_stream_once(
        spark, str(tmp_path / "mbadds"), idx, str(tmp_path / "mbck_a"))
    dead = [0, 25]
    spark.createDataFrame([(i,) for i in dead], "hist_id long") \
        .coalesce(1).write.parquet(str(tmp_path / "mbdels"))
    assert run_band_tombstone_stream_once(
        spark, str(tmp_path / "mbdels"), idx, str(tmp_path / "mbck_d"))

    # the increment: byte copies of every historic doc, in two files
    copies = [(d + 1000, t) for d, t in rows]
    in_dir = str(tmp_path / "mbin")
    for half in (copies[::2], copies[1::2]):
        spark.createDataFrame(half, schema).coalesce(1) \
            .write.mode("append").parquet(in_dir)
    out = str(tmp_path / "mbout")
    assert run_minhash_stream_dedup_once(
        spark, in_dir, idx, out, str(tmp_path / "mbck"))

    streamed = {(r.doc_id, r.dup_of, r.keep)
                for r in spark.read.parquet(out).collect()}
    live = read_band_index(spark, idx).persist()
    try:
        expected = {
            (r.doc_id, r.dup_of, r.keep)
            for r in minhash_dedup_decisions(
                spark.createDataFrame(copies, schema), live).collect()}
    finally:
        live.unpersist(blocking=False)
    assert streamed == expected
    assert len(streamed) == len(copies)
    dup_of = {d: h for d, h, _ in streamed}
    assert any(20 <= (h or -1) < 40 for h in dup_of.values())  # delta
    assert not set(dup_of.values()) & set(dead)  # tombstones subtracted


def test_live_index_refuses_flat_snapshot(spark, tmp_path):
    """A flat parquet snapshot at the index root is not a maintained
    index: the live view raises instead of reading it as empty history
    (which would keep every duplicate)."""
    import re

    from pdfspark.streaming import read_band_index, read_gram_index

    idx = str(tmp_path / "flat")
    spark.createDataFrame([(1, 0, "s")], "hist_id long, band int, sig string") \
        .write.parquet(idx)
    for read in (read_band_index, read_gram_index):
        with pytest.raises(ValueError, match=re.escape(idx)):
            read(spark, idx)


def test_gram_index_compaction_cross_drain(spark, tmp_path):
    """Cross-drain continuation for the keep-first substring stream:
    drain A's gram increments are folded into a base generation by
    compact_gram_index, then drain B (NEW input dir, FRESH checkpoint,
    batch ids restarting at 0) runs against the compacted index — and
    the union of both drains' outputs must equal the batch keep-first
    excision over ALL docs.  Pins that base is read as history by
    EVERY batch of the new drain (including its batch 0, where the
    k<N rule alone would see no history at all)."""
    import os as _os

    from pyspark.sql import functions as F

    from pdfspark.streaming import (compact_gram_index, covered_slots,
                                    excise_covered, gram_hash_grams,
                                    keepfirst_dup_spans,
                                    run_substring_keepfirst_stream_once)

    n = 5
    passage = "the quick brown fox jumps over the lazy dog"
    drain_a = [
        [(1, f"aa1 aa2 aa3 aa4 {passage} aa5 aa6"),
         (2, "first novel doc with completely unique tokens")],
        [(10, f"ab1 ab2 ab3 ab4 {passage} ab5 ab6")],
    ]
    # doc_ids keep increasing across drains (the crawl contract)
    drain_b = [
        # batch 0 of drain B: dup of an A-drain passage — only base
        # can excise it (k<N sees nothing at batch 0)
        [(100, f"ba1 ba2 ba3 ba4 {passage} ba5 ba6")],
        [(110, "another entirely fresh document body"),
         (111, f"bb1 bb2 bb3 bb4 {passage} bb5 bb6")],
    ]

    def feed(in_dir, chunks, t0):
        for i, chunk in enumerate(chunks):
            spark.createDataFrame(chunk, "doc_id long, text string") \
                .coalesce(1).write.mode("append").parquet(in_dir)
            newest = max(
                (f for f in _os.listdir(in_dir) if f.endswith(".parquet")),
                key=lambda f: _os.path.getmtime(_os.path.join(in_dir, f)))
            _os.utime(_os.path.join(in_dir, newest), (t0 + i, t0 + i))

    in_a = str(tmp_path / "ina")
    idx_a = str(tmp_path / "idxa")
    # one output increment dir PER drain — batch ids restart at 0 in a
    # fresh drain, so sharing a dir would overwrite prior batch_id=N
    # subpaths (production lands each crawl increment in its own dir)
    out_a = str(tmp_path / "outa")
    out_b = str(tmp_path / "outb")
    feed(in_a, drain_a, 1_700_000_000)
    assert run_substring_keepfirst_stream_once(
        spark, in_a, idx_a, out_a, str(tmp_path / "cka"), n=n)

    # between-drain maintenance: fold increments into a new generation
    idx_b = str(tmp_path / "idxb")
    n_digests = compact_gram_index(spark, idx_a, idx_b)
    # one canonical (h, first_doc) row per DIGEST (r8 provenance fold
    # — a digest seen by two increments collapses to min first_doc)
    assert n_digests == spark.read.parquet(f"{idx_a}/batch_id=0") \
        .unionByName(spark.read.parquet(f"{idx_a}/batch_id=1")) \
        .select("h").distinct().count()
    base = spark.read.parquet(f"{idx_b}/base")
    assert sorted(base.columns) == ["first_doc", "h"]
    assert base.groupBy("h").count().where("count > 1").count() == 0
    assert _os.path.isdir(f"{idx_b}/base")

    in_b = str(tmp_path / "inb")
    feed(in_b, drain_b, 1_800_000_000)
    assert run_substring_keepfirst_stream_once(
        spark, in_b, idx_b, out_b, str(tmp_path / "ckb"), n=n)

    streamed = {(r.doc_id, r.text, r.removed_words)
                for r in spark.read.parquet(out_a).collect()} | \
               {(r.doc_id, r.text, r.removed_words)
                for r in spark.read.parquet(out_b).collect()}
    union = spark.createDataFrame(
        [row for chunk in drain_a + drain_b for row in chunk],
        "doc_id long, text string")
    g = union.select("doc_id", F.split("text", " ").alias("ws"))
    spans = keepfirst_dup_spans(gram_hash_grams(union, n))
    batch = {(r.doc_id, r.text, r.removed_words)
             for r in excise_covered(g, covered_slots(spans, n)).collect()}
    assert streamed == batch
    by_id = {d: (t, rm) for d, t, rm in streamed}
    npass = len(passage.split(" "))
    # the drain-B batch-0 dup was excised purely via the compacted base
    assert by_id[100] == ("ba1 ba2 ba3 ba4 ba5 ba6", npass)
    assert by_id[111] == ("bb1 bb2 bb3 bb4 bb5 bb6", npass)
    assert by_id[1] == (f"aa1 aa2 aa3 aa4 {passage} aa5 aa6", 0)
    # compacting the compacted index again is a fixpoint
    idx_c = str(tmp_path / "idxc")
    assert compact_gram_index(spark, idx_b, idx_c) >= n_digests


# family → (increments prefix, tombstone column, index-row id column)
_EDGE_FAMILIES = {
    "band": ("delta/", "hist_id", "hist_id"),
    "gram": ("", "doc_id", "first_doc"),
    "ivf": ("delta/", "vec_id", "vec_id"),
    "digest": ("delta/", "doc_id", "first_doc"),
}


@pytest.mark.parametrize("family", sorted(_EDGE_FAMILIES))
def test_index_live_view_edge_shapes(spark, tmp_path, family):
    """Live-view composition edges the lifecycle tests skip, for every
    maintained-index family: a completely empty index dir (empty
    frame with the family's schema — callers join against it without
    special-casing), increments only (no base), base only with
    tombstones naming unknown ids (no-ops), ALL rows tombstoned (empty
    view; its compaction is an empty base generation), and one id
    tombstoned in two batches (a left-anti join ignores duplicate
    tombstones)."""
    from pyspark.sql import functions as F

    from pdfspark import streaming as S

    sf_dir = "/root/testdata/sf0.001"
    inc, dead_col, key = _EDGE_FAMILIES[family]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter("doc_id < 20").select("doc_id", "text")
    if family == "band":
        rows = S.build_band_index(docs)
    elif family == "gram":
        rows = S.gram_hash_grams(docs).groupBy("h").agg(
            F.min("doc_id").alias("first_doc"))
    elif family == "ivf":
        seeds = _ivf_seeds(spark, sf_dir)
        embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
            .select("vec_id", "embedding").filter("vec_id < 20")
        rows = S.build_ivf_index(embs, seeds)
    else:
        rows = S.build_digest_index(docs)
    read = getattr(S, f"read_{family}_index")
    compact = getattr(S, f"compact_{family}_index")

    def got(df):
        return sorted(tuple(tuple(v) if isinstance(v, list) else v
                            for v in r) for r in df.collect())

    def entomb(d, batch, ids):
        spark.createDataFrame([(i,) for i in ids], f"{dead_col} long") \
            .write.parquet(f"{d}/tombstones/batch_id={batch}")

    expected = got(rows)
    assert expected

    # empty index dir: the family's columns and types, nothing to read
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    view = read(spark, empty)
    assert view.count() == 0
    assert [(f.name, f.dataType) for f in view.schema.fields] == \
        [(f.name, f.dataType) for f in rows.schema.fields]
    if family == "ivf":
        assert S.ivf_topk_decisions(
            embs.filter("vec_id < 3"), view, seeds, k=2).count() == 0

    # increments only (streams ran before any compaction happened)
    donly = str(tmp_path / "donly")
    rows.filter(f"{key} < 10").write.parquet(f"{donly}/{inc}batch_id=0")
    rows.filter(f"{key} >= 10").write.parquet(f"{donly}/{inc}batch_id=1")
    assert got(read(spark, donly)) == expected

    # base only + tombstones of unknown ids = identity
    bonly = str(tmp_path / "bonly")
    rows.write.parquet(f"{bonly}/base")
    entomb(bonly, 0, [999_999, -5])
    assert got(read(spark, bonly)) == expected

    # everything tombstoned → empty view; compaction is an empty base
    dead = str(tmp_path / "dead")
    rows.write.parquet(f"{dead}/base")
    entomb(dead, 0, range(20))
    assert read(spark, dead).count() == 0
    gen2 = str(tmp_path / "deadg2")
    nparts = {} if family == "gram" else {"nparts": 2}
    assert compact(spark, dead, gen2, **nparts) == 0
    assert read(spark, gen2).count() == 0

    # one id tombstoned twice = tombstoned once
    twice = str(tmp_path / "twice")
    rows.write.parquet(f"{twice}/base")
    victim = rows.agg(F.min(key)).first()[0]
    entomb(twice, 0, [victim])
    entomb(twice, 1, [victim])
    assert got(read(spark, twice)) == got(rows.filter(F.col(key) != victim))


def test_minhash_crawl_loop_integration(spark, tmp_path):
    """The full production loop composes: increment 1 is decided
    against the historic index, its KEPT docs' bands are appended by
    the maintenance stream, and increment 2 is then decided against
    the LIVE view — so a dup of an increment-1 keeper (absent from
    history) is dropped with dup_of pointing at the increment-1 doc.
    Byte-copies make every collision deterministic."""
    from pyspark.sql import functions as F

    from pdfspark.streaming import (build_band_index,
                                    minhash_dedup_decisions,
                                    read_band_index,
                                    run_band_index_append_stream_once)

    corpus = {int(r.doc_id): r.text
              for r in spark.read.parquet(
                  "/root/testdata/sf0.001/documents.parquet")
              .filter("doc_id < 4").select("doc_id", "text").collect()}
    idx = str(tmp_path / "loopidx")
    # generation 0: historic corpus = docs 1, 2
    build_band_index(spark.createDataFrame(
        [(1, corpus[0]), (2, corpus[1])], "doc_id long, text string")
    ).write.parquet(f"{idx}/base")

    # increment 1: a dup of history (dropped) + two fresh docs (kept)
    inc1 = spark.createDataFrame(
        [(100, corpus[0]), (101, corpus[2]), (102, corpus[3])],
        "doc_id long, text string")
    live = read_band_index(spark, idx).persist()
    live.count()
    d1 = {r.doc_id: (r.keep, r.dup_of)
          for r in minhash_dedup_decisions(inc1, live).collect()}
    live.unpersist(blocking=False)
    assert d1[100] == (0, 1) and d1[101][0] == 1 and d1[102][0] == 1

    # admitted keepers flow into the index via the append stream
    kept_ids = [i for i, (k, _) in d1.items() if k == 1]
    adds = str(tmp_path / "loopadds")
    inc1.filter(F.col("doc_id").isin(kept_ids)).coalesce(1) \
        .write.mode("append").parquet(adds)
    assert run_band_index_append_stream_once(
        spark, adds, idx, str(tmp_path / "loopck"))

    # increment 2: dup of an increment-1 KEEPER (not in history!),
    # dup of history, and a doc kept in inc1 makes this one a dup too
    inc2 = spark.createDataFrame(
        [(200, corpus[2]), (201, corpus[1])],
        "doc_id long, text string")
    live = read_band_index(spark, idx).persist()
    live.count()
    d2 = {r.doc_id: (r.keep, r.dup_of)
          for r in minhash_dedup_decisions(inc2, live).collect()}
    live.unpersist(blocking=False)
    assert d2[200] == (0, 101)   # caught by the increment-1 keeper
    assert d2[201] == (0, 2)     # still caught by original history


def test_shuffle_nparts_degrades_on_nonnumeric_conf():
    """compact_band_index sizes its repartition from
    spark.sql.shuffle.partitions; a non-numeric conf value (e.g.
    'auto' under some AQE setups) must degrade to the cluster default
    instead of raising ValueError mid-compaction (ADVICE r7)."""
    from pdfspark.streaming import _shuffle_nparts

    class _Conf:
        def __init__(self, v):
            self._v = v

        def get(self, key):
            return self._v

    class _SC:
        defaultParallelism = 7

    class _Fake:
        sparkContext = _SC()

        def __init__(self, v):
            self.conf = _Conf(v)

    assert _shuffle_nparts(_Fake("16")) == 16
    assert _shuffle_nparts(_Fake("auto")) == 7
    assert _shuffle_nparts(_Fake(None)) == 7


def test_gram_index_takedown_canonical_semantics(spark, tmp_path):
    """read_gram_index row-level live-provenance exclusion (r8,
    VERDICT r7 missing #1): a tombstone drops exactly the rows whose
    provenance doc it names; a digest stops excising only when its
    LAST live row is gone — a tombstone on one provenance doc changes
    nothing for a digest that still has another live keeper row."""
    import os as _os

    from pdfspark.streaming import read_gram_index

    idx = str(tmp_path / "idx")
    _os.makedirs(idx)
    # h1 seen by two increments: canonical doc 1 (batch 0), doc 5
    # later; h2 canonical doc 5 only; h3 canonical doc 9 only
    spark.createDataFrame(
        [("h1", 1), ("h2", 5)], "h string, first_doc long"
    ).write.parquet(f"{idx}/batch_id=0")
    spark.createDataFrame(
        [("h1", 5), ("h3", 9)], "h string, first_doc long"
    ).write.parquet(f"{idx}/batch_id=1")

    def live():
        return {r.h for r in read_gram_index(spark, idx).collect()}

    assert live() == {"h1", "h2", "h3"}
    # tombstone doc 5: h2 (sole keeper 5) goes; h1 STAYS — its doc-1
    # keeper row is still live
    spark.createDataFrame([(5,)], "doc_id long").write.parquet(
        f"{idx}/tombstones/batch_id=0")
    assert live() == {"h1", "h3"}
    # tombstone doc 1 too: now h1's last live row is gone
    spark.createDataFrame([(1,)], "doc_id long").write.parquet(
        f"{idx}/tombstones/batch_id=1")
    assert live() == {"h3"}
    # before_batch respects the k<N replay rule AND tombstones
    got = {r.h for r in read_gram_index(spark, idx,
                                        before_batch=1).collect()}
    assert got == set()  # batch 0 had h1 (dead) + h2 (dead)
    # compaction folds tombstones away physically: one canonical row
    # per surviving digest, no tombstones subdir in the new generation
    from pdfspark.streaming import compact_gram_index

    out = str(tmp_path / "gen2")
    assert compact_gram_index(spark, idx, out) == 1
    rows = spark.read.parquet(f"{out}/base").collect()
    assert [(r.h, r.first_doc) for r in rows] == [("h3", 9)]
    assert not _os.path.isdir(f"{out}/tombstones")


def test_gram_index_takedown_stream_lifecycle(spark, tmp_path):
    """End-to-end takedown lifecycle for the keep-first gram index
    (r8, the band-index test shape on the gram family): drain A
    indexes history with provenance; a tombstone stream takes down
    one history doc; drain B's fresh crawl of that doc's content is
    KEPT (its grams stopped excising) while live history still
    excises; compaction folds the tombstones away and the folded
    generation behaves identically for drain C."""
    import os as _os

    from pdfspark.streaming import (compact_gram_index,
                                    run_gram_tombstone_stream_once,
                                    run_substring_keepfirst_stream_once)

    n = 5
    dead = "alpha beta gamma delta epsilon zeta eta"
    live = "one two three four five six seven"

    def feed(in_dir, chunks, t0, schema="doc_id long, text string"):
        for i, chunk in enumerate(chunks):
            spark.createDataFrame(chunk, schema) \
                .coalesce(1).write.mode("append").parquet(in_dir)
            newest = max(
                (f for f in _os.listdir(in_dir) if f.endswith(".parquet")),
                key=lambda f: _os.path.getmtime(_os.path.join(in_dir, f)))
            _os.utime(_os.path.join(in_dir, newest), (t0 + i, t0 + i))

    idx = str(tmp_path / "idx")
    # drain A: docs 1 (the future takedown) and 2 (stays live)
    in_a = str(tmp_path / "ina")
    feed(in_a, [[(1, f"a1 a2 a3 a4 {dead} a5"),
                 (2, f"b1 b2 b3 b4 {live} b5")]], 1_700_000_000)
    assert run_substring_keepfirst_stream_once(
        spark, in_a, idx, str(tmp_path / "outa"),
        str(tmp_path / "cka"), n=n)
    # between-drain compaction folds drain A into a base generation
    # (the cross-drain contract: a fresh drain's k<N rule only sees
    # its OWN increments — prior drains must live in base)
    gen1 = str(tmp_path / "gen1")
    compact_gram_index(spark, idx, gen1)

    # takedown stream lands on the live generation: doc 1 is removed
    dels = str(tmp_path / "dels")
    feed(dels, [[(1,)]], 1_710_000_000, schema="doc_id long")
    assert run_gram_tombstone_stream_once(
        spark, dels, gen1, str(tmp_path / "ckt"))

    # drain B: doc 100 recrawls doc 1's content (must be KEPT — the
    # canonical copy no longer exists), doc 101 copies doc 2's
    # content (still excised — live history)
    in_b = str(tmp_path / "inb")
    feed(in_b, [[(100, f"c1 c2 c3 c4 {dead} c5"),
                 (101, f"d1 d2 d3 d4 {live} d5")]], 1_720_000_000)
    out_b = str(tmp_path / "outb")
    assert run_substring_keepfirst_stream_once(
        spark, in_b, gen1, out_b, str(tmp_path / "ckb"), n=n)
    got = {r.doc_id: (r.text, r.removed_words)
           for r in spark.read.parquet(out_b).collect()}
    assert got[100] == (f"c1 c2 c3 c4 {dead} c5", 0)
    assert got[101] == ("d1 d2 d3 d4 d5", len(live.split(" ")))

    # compaction folds the tombstone away; doc 100's fresh copy is
    # now the canonical provenance for the dead passage's grams, so
    # drain C sees it as live history again
    gen2 = str(tmp_path / "gen2")
    compact_gram_index(spark, gen1, gen2)
    assert not _os.path.isdir(f"{gen2}/tombstones")
    base = {(r.h, r.first_doc)
            for r in spark.read.parquet(f"{gen2}/base").collect()}
    assert all(fd != 1 for _, fd in base)
    assert any(fd == 100 for _, fd in base)  # recrawl became canonical
    in_c = str(tmp_path / "inc")
    feed(in_c, [[(200, f"e1 e2 e3 e4 {dead} e5"),
                 (201, f"f1 f2 f3 f4 {live} f5")]], 1_730_000_000)
    out_c = str(tmp_path / "outc")
    assert run_substring_keepfirst_stream_once(
        spark, in_c, gen2, out_c, str(tmp_path / "ckc"), n=n)
    got_c = {r.doc_id: (r.text, r.removed_words)
             for r in spark.read.parquet(out_c).collect()}
    assert got_c[200] == ("e1 e2 e3 e4 e5", len(dead.split(" ")))
    assert got_c[201] == ("f1 f2 f3 f4 f5", len(live.split(" ")))


def test_gram_index_read_matches_bruteforce_randomized(spark, tmp_path):
    """Randomized pin of read_gram_index/compact_gram_index semantics
    (r8): over random (h, first_doc) rows split across base + several
    increments with random doc_id tombstones, the live view must
    equal the brute-force set {rows whose first_doc is not
    tombstoned} restricted to base ∪ {batch_id < k} when draining,
    and compaction must equal the distinct live rows with no
    tombstones subdir in the new generation."""
    import os as _os
    import random as _random

    from pdfspark.streaming import compact_gram_index, read_gram_index

    rnd = _random.Random(88)
    for case in range(3):
        idx = str(tmp_path / f"ridx{case}")
        _os.makedirs(idx)
        rows = [(f"h{rnd.randrange(12)}", rnd.randrange(8))
                for _ in range(rnd.randrange(5, 25))]
        n_inc = rnd.randrange(1, 4)
        base_rows = rows[: len(rows) // 2]
        inc_rows = rows[len(rows) // 2:]
        if base_rows:
            spark.createDataFrame(base_rows, "h string, first_doc long") \
                .write.parquet(f"{idx}/base")
        chunks = [inc_rows[i::n_inc] for i in range(n_inc)]
        for k, chunk in enumerate(chunks):
            spark.createDataFrame(chunk or [("hx", 999)],
                                  "h string, first_doc long") \
                .write.parquet(f"{idx}/batch_id={k}")
            if not chunk:
                chunks[k] = [("hx", 999)]
        tombs = sorted({rnd.randrange(8) for _ in range(rnd.randrange(4))})
        if tombs:
            spark.createDataFrame([(t,) for t in tombs], "doc_id long") \
                .write.parquet(f"{idx}/tombstones/batch_id=0")

        def brute(upto=None):
            live = list(base_rows)
            for k, chunk in enumerate(chunks):
                if upto is None or k < upto:
                    live += chunk
            return {(h, fd) for h, fd in live if fd not in set(tombs)}

        got = {(r.h, r.first_doc)
               for r in read_gram_index(spark, idx).collect()}
        assert got == brute(), (case, tombs)
        for k in range(n_inc + 1):
            got_k = {(r.h, r.first_doc)
                     for r in read_gram_index(spark, idx,
                                              before_batch=k).collect()}
            assert got_k == brute(upto=k), (case, k, tombs)
        out = str(tmp_path / f"rgen{case}")
        n = compact_gram_index(spark, idx, out)
        assert n == len(brute())
        folded = {(r.h, r.first_doc)
                  for r in spark.read.parquet(f"{out}/base").collect()}
        assert folded == brute()
        assert not _os.path.isdir(f"{out}/tombstones")


def _ivf_seeds(spark, sf_dir="/root/testdata/sf0.001"):
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("embeddings")
    return [
        (r.vec_id, r.qv)
        for r in spark.sql(
            "SELECT vec_id, transform(embedding, x -> CAST(FLOOR("
            "CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS qv "
            "FROM embeddings WHERE vec_id < 8 ORDER BY vec_id"
        ).collect()
    ]


def test_ivf_index_maintenance_streams_and_compaction(spark, tmp_path):
    """Third index family (r8): the IVF/ANN index follows the same
    lifecycle grammar as the band and gram indexes — append stream
    deltas compose with base through read_ivf_index exactly equal to
    the batch build over the union; a fresh-checkpoint replay leaves
    the view unchanged; a tombstone removes a vector from the view
    immediately; compaction folds tombstones physically into a
    cell-bucketed new generation."""
    import os as _os

    from pdfspark.streaming import (build_ivf_index, compact_ivf_index,
                                    read_ivf_index,
                                    run_ivf_index_append_stream_once,
                                    run_ivf_tombstone_stream_once)

    sf_dir = "/root/testdata/sf0.001"
    seeds = _ivf_seeds(spark, sf_dir)
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding").filter("vec_id < 60")

    def rows(df):
        return {(r.vec_id, r.cell, tuple(r.qv)) for r in df.collect()}

    expect = rows(build_ivf_index(embs, seeds))

    in_dir = str(tmp_path / "vin")
    idx = str(tmp_path / "vidx")
    for i, pred in enumerate(["vec_id % 2 = 0", "vec_id % 2 = 1"]):
        embs.filter(pred).coalesce(1).write.mode("append").parquet(in_dir)
        newest = max(
            (f for f in _os.listdir(in_dir) if f.endswith(".parquet")),
            key=lambda f: _os.path.getmtime(_os.path.join(in_dir, f)))
        _os.utime(_os.path.join(in_dir, newest),
                  (1_700_000_000 + i, 1_700_000_000 + i))
    assert run_ivf_index_append_stream_once(
        spark, in_dir, idx, str(tmp_path / "vck"), seeds)
    assert rows(read_ivf_index(spark, idx)) == expect

    # fresh-checkpoint replay over the same dirs: view unchanged
    assert run_ivf_index_append_stream_once(
        spark, in_dir, idx, str(tmp_path / "vck2"), seeds)
    assert rows(read_ivf_index(spark, idx)) == expect

    # takedown: vec 20 stops being retrievable immediately
    dels = str(tmp_path / "vdels")
    spark.createDataFrame([(20,)], "vec_id long").coalesce(1) \
        .write.parquet(dels)
    assert run_ivf_tombstone_stream_once(
        spark, dels, idx, str(tmp_path / "vckt"))
    live = rows(read_ivf_index(spark, idx))
    assert live == {t for t in expect if t[0] != 20}

    # compaction folds the tombstone physically, cell-bucketed base
    gen2 = str(tmp_path / "vgen2")
    n = compact_ivf_index(spark, idx, gen2, nparts=4)
    assert n == len(expect) - 1
    assert not _os.path.isdir(f"{gen2}/tombstones")
    assert rows(read_ivf_index(spark, gen2)) == live
    # compaction fixpoint
    gen3 = str(tmp_path / "vgen3")
    assert compact_ivf_index(spark, gen2, gen3, nparts=4) == n


def test_ivf_takedown_changes_search_decisions(spark, tmp_path):
    """A tombstoned vector must vanish from similarity results the
    moment its tombstone lands: the query's former top-1 (computed
    from the live view itself, so deterministic by construction)
    drops out and the former rank-2 becomes the new top-1."""
    from pdfspark.streaming import (build_ivf_index, ivf_topk_decisions,
                                    read_ivf_index)

    sf_dir = "/root/testdata/sf0.001"
    seeds = _ivf_seeds(spark, sf_dir)
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding").filter("vec_id < 120")
    idx = str(tmp_path / "sidx")
    build_ivf_index(embs, seeds).write.parquet(f"{idx}/base")
    queries = embs.filter("vec_id >= 100 and vec_id < 103")

    before = ivf_topk_decisions(
        queries, read_ivf_index(spark, idx), seeds, k=2).collect()
    by_q = {}
    for r in before:
        by_q.setdefault(r.query_id, {})[r.rank] = (r.vec_id, r.dot)
    qid = sorted(by_q)[0]
    top1, top2 = by_q[qid][1], by_q[qid][2]
    assert top1[1] >= top2[1]

    spark.createDataFrame([(top1[0],)], "vec_id long").write.parquet(
        f"{idx}/tombstones/batch_id=0")
    after = {
        r.rank: (r.vec_id, r.dot)
        for r in ivf_topk_decisions(
            queries.filter(f"vec_id = {qid}"),
            read_ivf_index(spark, idx), seeds, k=1).collect()
    }
    assert after[1] == top2


def test_ivf_index_cross_drain_and_search(spark, tmp_path):
    """Cross-drain continuation for the IVF family (mirrors the gram
    family's): drain A appends two micro-batches, a takedown lands,
    compaction folds everything into a fresh cell-bucketed generation,
    then drain B (NEW input dir, FRESH checkpoint, batch ids
    restarting at 0) appends into the NEW generation — the final live
    view must equal the batch build over all live vectors, and
    ivf_topk_decisions over the maintained view must decide exactly
    what it decides over a directly-built batch index of the same
    live set.  Pins the cadence contract: fresh drains restart
    batch_id at 0, so they target the post-compaction generation dir
    (delta/batch_id=N subpaths would collide in the old one)."""
    import os as _os

    from pdfspark.streaming import (build_ivf_index, compact_ivf_index,
                                    ivf_topk_decisions, read_ivf_index,
                                    run_ivf_index_append_stream_once,
                                    run_ivf_tombstone_stream_once)

    sf_dir = "/root/testdata/sf0.001"
    seeds = _ivf_seeds(spark, sf_dir)
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")

    def rows(df):
        return {(r.vec_id, r.cell, tuple(r.qv)) for r in df.collect()}

    def feed(in_dir, preds, t0):
        for i, pred in enumerate(preds):
            embs.filter(pred).coalesce(1).write.mode("append") \
                .parquet(in_dir)
            newest = max(
                (f for f in _os.listdir(in_dir) if f.endswith(".parquet")),
                key=lambda f: _os.path.getmtime(_os.path.join(in_dir, f)))
            _os.utime(_os.path.join(in_dir, newest), (t0 + i, t0 + i))

    # drain A: vectors 0..39 across two micro-batches
    in_a = str(tmp_path / "xina")
    idx_a = str(tmp_path / "xidxa")
    feed(in_a, ["vec_id < 40 and vec_id % 2 = 0",
                "vec_id < 40 and vec_id % 2 = 1"], 1_700_000_000)
    assert run_ivf_index_append_stream_once(
        spark, in_a, idx_a, str(tmp_path / "xcka"), seeds)

    # takedown of vector 10 between drains
    dels = str(tmp_path / "xdels")
    spark.createDataFrame([(10,)], "vec_id long").coalesce(1) \
        .write.parquet(dels)
    assert run_ivf_tombstone_stream_once(
        spark, dels, idx_a, str(tmp_path / "xckt"))

    # between-drain maintenance: fold into a fresh generation
    idx_b = str(tmp_path / "xidxb")
    n = compact_ivf_index(spark, idx_a, idx_b, nparts=4)
    assert n == 39
    assert not _os.path.isdir(f"{idx_b}/tombstones")

    # drain B: vectors 40..79, fresh checkpoint, batch ids restart at
    # 0 — lands delta/batch_id=0 in the NEW generation (no collision)
    in_b = str(tmp_path / "xinb")
    feed(in_b, ["vec_id >= 40 and vec_id < 80"], 1_800_000_000)
    assert run_ivf_index_append_stream_once(
        spark, in_b, idx_b, str(tmp_path / "xckb"), seeds)
    assert _os.path.isdir(f"{idx_b}/delta/batch_id=0")

    live_batch = build_ivf_index(
        embs.filter("vec_id < 80 and vec_id <> 10"), seeds)
    view = read_ivf_index(spark, idx_b)
    assert rows(view) == rows(live_batch)

    # search over the maintained view == search over the batch index
    queries = embs.filter("vec_id >= 100 and vec_id < 105")

    def decisions(idx):
        return {(r.query_id, r.rank, r.vec_id, r.dot)
                for r in ivf_topk_decisions(queries, idx, seeds,
                                             k=3).collect()}

    assert decisions(view) == decisions(live_batch)
    # vector 10 is unretrievable through the maintained view
    assert all(t[2] != 10 for t in decisions(view))


def test_ivf_search_stream_drain_equals_batch(spark, tmp_path):
    """Query face of the IVF family: a drained (vec_id, embedding)
    query stream searched per micro-batch against the cached live
    view must union to exactly ivf_topk_decisions over the same view
    (drain == batch), takedowns already applied; a fresh-checkpoint
    replay overwrites its own batch_id=N subpaths and leaves the
    union unchanged (exactly-once sink)."""
    import os as _os

    from pdfspark.streaming import (build_ivf_index, ivf_topk_decisions,
                                    read_ivf_index,
                                    run_ivf_search_stream_once)

    sf_dir = "/root/testdata/sf0.001"
    seeds = _ivf_seeds(spark, sf_dir)
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")

    idx = str(tmp_path / "qidx")
    build_ivf_index(embs.filter("vec_id < 90"), seeds) \
        .write.parquet(f"{idx}/base")
    spark.createDataFrame([(4,), (11,)], "vec_id long") \
        .write.parquet(f"{idx}/tombstones/batch_id=0")

    queries = embs.filter("vec_id >= 100 and vec_id < 110")
    in_dir = str(tmp_path / "qin")
    for i, pred in enumerate(["vec_id < 105", "vec_id >= 105"]):
        queries.filter(pred).coalesce(1).write.mode("append") \
            .parquet(in_dir)
        newest = max(
            (f for f in _os.listdir(in_dir) if f.endswith(".parquet")),
            key=lambda f: _os.path.getmtime(_os.path.join(in_dir, f)))
        _os.utime(_os.path.join(in_dir, newest),
                  (1_700_000_000 + i, 1_700_000_000 + i))

    out = str(tmp_path / "qout")
    assert run_ivf_search_stream_once(
        spark, in_dir, idx, out, str(tmp_path / "qck"), seeds, k=2)

    def rows(df):
        return {(r.query_id, r.rank, r.vec_id, r.dot)
                for r in df.collect()}

    drained = rows(spark.read.parquet(out)
                   .select("query_id", "rank", "vec_id", "dot"))
    batch = rows(ivf_topk_decisions(
        queries, read_ivf_index(spark, idx), seeds, k=2))
    assert drained == batch
    assert drained and all(t[2] not in (4, 11) for t in drained)

    # fresh-checkpoint replay: same subpaths overwritten, union same
    assert run_ivf_search_stream_once(
        spark, in_dir, idx, out, str(tmp_path / "qck2"), seeds, k=2)
    assert rows(spark.read.parquet(out)
                .select("query_id", "rank", "vec_id", "dot")) == batch


def test_ivf_assign_expr_ties_and_negative_dots(spark):
    """Crafted discriminators for the struct-sort argmax that real
    embeddings never produce: duplicate seed vectors force an EXACT
    dot tie, which must resolve to the SMALLER sid (matching the SQL
    assign CTE's ORDER BY dot DESC, sid); all-negative dots pick the
    least negative cell; a zero vector ties with every seed at dot 0
    and lands in the smallest sid's cell."""
    from pdfspark.streaming import ivf_assign_expr

    seeds = [(3, [1, 0]), (5, [1, 0]), (9, [0, -1])]  # 3 and 5 equal
    df = spark.createDataFrame(
        [(1, [2, 0]),    # s3=2, s5=2 (tie), s9=0   -> cell 3
         (2, [-4, 1]),   # s3=-4, s5=-4, s9=-1     -> cell 9
         (3, [0, 0]),    # every dot 0             -> cell 3
         (4, [0, -7])],  # s3=0, s5=0, s9=7        -> cell 9
        "vec_id long, qv array<long>")
    got = {(r.vec_id, r.cell)
           for r in df.select("vec_id", ivf_assign_expr(seeds)).collect()}
    assert got == {(1, 3), (2, 9), (3, 3), (4, 9)}


def test_ivf_index_read_matches_bruteforce_randomized(spark, tmp_path):
    """Randomized pin of read_ivf_index/compact_ivf_index semantics
    (parity with the gram family's randomized pin): over random
    (vec_id, cell, qv) rows split across base + several deltas with
    random vec_id tombstones, the live view must equal the brute-force
    set {rows whose vec_id is not tombstoned}, and compaction must
    equal the live rows with no tombstones subdir and a fixpoint
    second fold."""
    import os as _os
    import random as _random

    from pdfspark.streaming import compact_ivf_index, read_ivf_index

    rnd = _random.Random(127)
    for case in range(3):
        idx = str(tmp_path / f"vridx{case}")
        _os.makedirs(idx)
        n_rows = rnd.randrange(5, 25)
        rows = [(vid, rnd.randrange(4),
                 [rnd.randrange(-9, 10) for _ in range(3)])
                for vid in rnd.sample(range(40), n_rows)]
        n_deltas = rnd.randrange(0, 4)
        base_rows = rows[: len(rows) // 2]
        delta_rows = rows[len(rows) // 2:]
        schema = "vec_id long, cell long, qv array<long>"
        if base_rows:
            spark.createDataFrame(base_rows, schema) \
                .write.parquet(f"{idx}/base")
        if n_deltas and delta_rows:
            chunks = [delta_rows[i::n_deltas] for i in range(n_deltas)]
            for k, chunk in enumerate(chunks):
                spark.createDataFrame(chunk or [(999, 0, [0, 0, 0])],
                                      schema) \
                    .write.parquet(f"{idx}/delta/batch_id={k}")
                if not chunk:
                    delta_rows.append((999, 0, [0, 0, 0]))
        else:
            delta_rows = []
        tombs = sorted({rnd.randrange(40)
                        for _ in range(rnd.randrange(5))})
        if tombs:
            spark.createDataFrame([(t,) for t in tombs], "vec_id long") \
                .write.parquet(f"{idx}/tombstones/batch_id=0")

        def brute():
            return {(v, c, tuple(q)) for v, c, q in base_rows + delta_rows
                    if v not in set(tombs)}

        got = {(r.vec_id, r.cell, tuple(r.qv))
               for r in read_ivf_index(spark, idx).collect()}
        assert got == brute(), (case, tombs)
        out = str(tmp_path / f"vrgen{case}")
        n = compact_ivf_index(spark, idx, out, nparts=2)
        assert n == len(brute()), (case, tombs)
        folded = {(r.vec_id, r.cell, tuple(r.qv))
                  for r in spark.read.parquet(f"{out}/base").collect()}
        assert folded == brute()
        assert not _os.path.isdir(f"{out}/tombstones")
        out2 = str(tmp_path / f"vrgen2{case}")
        assert compact_ivf_index(spark, out, out2, nparts=2) == n


def test_ivf_recenter_seeds(spark):
    """Centroid refresh: element-wise mean of each cell's live vectors
    in pinned FLOOR(x+0.5) integer milli-units; an empty cell keeps
    its old seed verbatim; output feeds straight back into
    ivf_assign_expr (cells move toward their members: after
    recentering on a hand case, each member's dot with its OWN new
    centroid strictly beats the other cell's)."""
    from pdfspark.streaming import ivf_assign_expr, ivf_recenter_seeds

    seeds = [(0, [10, 0]), (1, [0, 10]), (2, [-10, -10])]
    idx = spark.createDataFrame(
        [(100, 0, [9, 1]), (101, 0, [4, 2]),   # cell 0: mean (6.5, 1.5)
         (102, 1, [-1, 7])],                   # cell 1: exact (-1, 7)
        "vec_id long, cell long, qv array<long>")
    got = ivf_recenter_seeds(idx, seeds)
    assert got == [(0, [7, 2]),    # floor(6.5+.5)=7, floor(1.5+.5)=2
                   (1, [-1, 7]),
                   (2, [-10, -10])]  # empty cell keeps its seed

    # refreshed seeds drop straight into the assignment expression and
    # keep each member in its own cell on this hand case
    assign = {r.vec_id: r.cell for r in idx.select(
        "vec_id", ivf_assign_expr(got)).collect()}
    assert assign == {100: 0, 101: 0, 102: 1}

    # negative-mean rounding follows the same convention:
    # mean(-3, -4) = -3.5 -> floor(-3.0) = -3
    idx2 = spark.createDataFrame(
        [(1, 2, [-3, 0]), (2, 2, [-4, 1])],
        "vec_id long, cell long, qv array<long>")
    got2 = ivf_recenter_seeds(idx2, seeds)
    assert got2[2] == (2, [-3, 1])  # floor(-3.5+.5), floor(0.5+.5)


def test_ivf_tombstone_wins_until_compaction(spark, tmp_path):
    """PINNED POLICY (review follow-up): IVF tombstones key on the
    bare vec_id with no provenance, so (a) a re-append of a
    taken-down id BEFORE compaction stays dead — the subtraction
    matches every generation's rows for that id — and (b) the next
    compaction folds the id away entirely; (c) re-admission is
    effective only when it lands AFTER the compaction that folded the
    tombstone. An id, once removed, never resurrects by accident."""
    import os as _os

    from pdfspark.streaming import (build_ivf_index, compact_ivf_index,
                                    read_ivf_index)

    sf_dir = "/root/testdata/sf0.001"
    seeds = _ivf_seeds(spark, sf_dir)
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    idx = str(tmp_path / "tidx")
    build_ivf_index(embs.filter("vec_id < 30"), seeds) \
        .write.parquet(f"{idx}/base")
    spark.createDataFrame([(20,)], "vec_id long") \
        .write.parquet(f"{idx}/tombstones/batch_id=0")

    # (a) re-append of id 20 into a delta while the tombstone is live:
    # the new row is subtracted too — the id stays dead
    build_ivf_index(embs.filter("vec_id = 20"), seeds) \
        .write.parquet(f"{idx}/delta/batch_id=0")
    ids = {r.vec_id for r in read_ivf_index(spark, idx).collect()}
    assert 20 not in ids and len(ids) == 29

    # (b) compaction in this state folds id 20 away entirely
    gen2 = str(tmp_path / "tgen2")
    assert compact_ivf_index(spark, idx, gen2, nparts=2) == 29
    assert not _os.path.isdir(f"{gen2}/tombstones")

    # (c) re-admission AFTER the folding compaction is effective
    build_ivf_index(embs.filter("vec_id = 20"), seeds) \
        .write.parquet(f"{gen2}/delta/batch_id=0")
    ids2 = {r.vec_id for r in read_ivf_index(spark, gen2).collect()}
    assert 20 in ids2 and len(ids2) == 30


def test_tri_family_takedown_cadence(spark, tmp_path):
    """Capstone: ONE taken-down identity (doc/hist/vec 10) flows
    through all three index families in the production cadence —
    admit, index, takedown via each family's tombstone stream,
    compact between drains, re-admit. Per-family semantics compose:
    the band index stops matching the moment the tombstone lands (a
    recrawl byte-copy is kept and becomes the new keeper); the gram
    index stops excising recrawled content (the new crawl becomes
    the digest's keeper); the IVF index makes the vector
    unretrievable immediately and a post-compaction re-append is
    searchable again."""
    import os as _os

    from pyspark.sql import functions as F

    from pdfspark.streaming import (
        build_ivf_index, compact_band_index, compact_gram_index,
        compact_ivf_index, ivf_topk_decisions, minhash_dedup_decisions,
        read_band_index, read_gram_index, read_ivf_index,
        run_band_index_append_stream_once, run_band_tombstone_stream_once,
        run_gram_tombstone_stream_once, run_ivf_index_append_stream_once,
        run_ivf_tombstone_stream_once, run_substring_keepfirst_stream_once)

    passage = "the quick brown fox jumps"
    t10 = f"aa1 aa2 aa3 aa4 {passage} aa5"
    t11 = "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10"

    def feed(path, rows, schema, t0=1_700_000_000):
        for i, chunk in enumerate(rows):
            spark.createDataFrame(chunk, schema).coalesce(1) \
                .write.mode("append").parquet(path)
            newest = max(
                (f for f in _os.listdir(path) if f.endswith(".parquet")),
                key=lambda f: _os.path.getmtime(_os.path.join(path, f)))
            _os.utime(_os.path.join(path, newest), (t0 + i, t0 + i))

    # ---- admit increment 1 (docs 10, 11) into all three families
    idx_b = str(tmp_path / "fb1")
    feed(str(tmp_path / "bin1"), [[(10, t10), (11, t11)]],
         "doc_id long, text string")
    assert run_band_index_append_stream_once(
        spark, str(tmp_path / "bin1"), idx_b, str(tmp_path / "bck1"))

    idx_g = str(tmp_path / "fg1")
    feed(str(tmp_path / "gin1"), [[(10, t10), (11, t11)]],
         "doc_id long, text string")
    assert run_substring_keepfirst_stream_once(
        spark, str(tmp_path / "gin1"), idx_g, str(tmp_path / "gout1"),
        str(tmp_path / "gck1"), n=5)

    idx_v = str(tmp_path / "fv1")
    seeds = [(0, [1000, 0]), (1, [0, 1000])]
    feed(str(tmp_path / "vin1"),
         [[(10, [1.0, 0.0]), (11, [0.0, 1.0])]],
         "vec_id long, embedding array<float>")
    assert run_ivf_index_append_stream_once(
        spark, str(tmp_path / "vin1"), idx_v, str(tmp_path / "vck1"),
        seeds)

    # ---- live behavior before the takedown
    live_b = read_band_index(spark, idx_b).persist(); live_b.count()
    d = {r.doc_id: (r.keep, r.dup_of) for r in minhash_dedup_decisions(
        spark.createDataFrame([(20, t10)], "doc_id long, text string"),
        live_b).collect()}
    live_b.unpersist(blocking=False)
    assert d[20] == (0, 10)                      # byte-copy dropped

    idx_g2 = str(tmp_path / "fg2")               # compact between drains
    compact_gram_index(spark, idx_g, idx_g2)
    feed(str(tmp_path / "gin2"),
         [[(21, f"bb1 bb2 bb3 bb4 {passage} bb5")]],
         "doc_id long, text string")
    assert run_substring_keepfirst_stream_once(
        spark, str(tmp_path / "gin2"), idx_g2, str(tmp_path / "gout2"),
        str(tmp_path / "gck2"), n=5)
    out2 = {r.doc_id: (r.text, r.removed_words) for r in
            spark.read.parquet(str(tmp_path / "gout2")).collect()}
    assert out2[21] == ("bb1 bb2 bb3 bb4 bb5", 5)  # passage excised

    queries = spark.createDataFrame([(100, [0.9, 0.1])],
                                    "vec_id long, embedding array<float>")
    top = ivf_topk_decisions(
        queries, read_ivf_index(spark, idx_v), seeds, k=1).collect()
    assert [(r.query_id, r.vec_id) for r in top] == [(100, 10)]

    # ---- the SAME identity (10) is taken down across all three
    feed(str(tmp_path / "bdel"), [[(10,)]], "hist_id long",
         t0=1_800_000_000)
    assert run_band_tombstone_stream_once(
        spark, str(tmp_path / "bdel"), idx_b, str(tmp_path / "bckt"))
    feed(str(tmp_path / "gdel"), [[(10,)]], "doc_id long",
         t0=1_800_000_000)
    assert run_gram_tombstone_stream_once(
        spark, str(tmp_path / "gdel"), idx_g2, str(tmp_path / "gckt"))
    feed(str(tmp_path / "vdel"), [[(10,)]], "vec_id long",
         t0=1_800_000_000)
    assert run_ivf_tombstone_stream_once(
        spark, str(tmp_path / "vdel"), idx_v, str(tmp_path / "vckt"))

    # immediate effects: recrawl kept; vector unretrievable
    live_b = read_band_index(spark, idx_b).persist(); live_b.count()
    d = {r.doc_id: r.keep for r in minhash_dedup_decisions(
        spark.createDataFrame([(30, t10)], "doc_id long, text string"),
        live_b).collect()}
    live_b.unpersist(blocking=False)
    assert d[30] == 1                            # history no longer dups
    assert ivf_topk_decisions(
        queries, read_ivf_index(spark, idx_v), seeds, k=1).count() == 0

    # ---- compact all three between drains (tombstones fold away)
    idx_b2 = str(tmp_path / "fb2")
    compact_band_index(spark, idx_b, idx_b2, nparts=2)
    idx_g3 = str(tmp_path / "fg3")
    compact_gram_index(spark, idx_g2, idx_g3)
    idx_v2 = str(tmp_path / "fv2")
    compact_ivf_index(spark, idx_v, idx_v2, nparts=2)
    for p in (idx_b2, idx_g3, idx_v2):
        assert not _os.path.isdir(f"{p}/tombstones")

    # ---- re-admission into the new generations
    feed(str(tmp_path / "bin2"), [[(30, t10)]],
         "doc_id long, text string", t0=1_900_000_000)
    assert run_band_index_append_stream_once(
        spark, str(tmp_path / "bin2"), idx_b2, str(tmp_path / "bck2"))
    live_b = read_band_index(spark, idx_b2).persist(); live_b.count()
    d = {r.doc_id: (r.keep, r.dup_of) for r in minhash_dedup_decisions(
        spark.createDataFrame([(40, t10)], "doc_id long, text string"),
        live_b).collect()}
    live_b.unpersist(blocking=False)
    assert d[40] == (0, 30)                      # 30 is the new keeper

    feed(str(tmp_path / "gin3"),
         [[(31, f"cc1 cc2 cc3 cc4 {passage} cc5")]],
         "doc_id long, text string", t0=1_900_000_000)
    assert run_substring_keepfirst_stream_once(
        spark, str(tmp_path / "gin3"), idx_g3, str(tmp_path / "gout3"),
        str(tmp_path / "gck3"), n=5)
    out3 = {r.doc_id: (r.text, r.removed_words) for r in
            spark.read.parquet(str(tmp_path / "gout3")).collect()}
    assert out3[31] == (f"cc1 cc2 cc3 cc4 {passage} cc5", 0)  # KEPT
    live_g = {(r.h, r.first_doc)
              for r in read_gram_index(spark, idx_g3).collect()}
    assert 31 in {fd for _, fd in live_g}        # 31 = new keeper

    feed(str(tmp_path / "vin2"), [[(30, [1.0, 0.0])]],
         "vec_id long, embedding array<float>", t0=1_900_000_000)
    assert run_ivf_index_append_stream_once(
        spark, str(tmp_path / "vin2"), idx_v2, str(tmp_path / "vck2"),
        seeds)
    top = ivf_topk_decisions(
        queries, read_ivf_index(spark, idx_v2), seeds, k=1).collect()
    assert [(r.query_id, r.vec_id) for r in top] == [(100, 30)]


def test_ivf_recentered_compaction(spark, tmp_path):
    """compact_ivf_index_recentered: the new base must hold exactly
    the live (non-tombstoned) vectors, each sitting in its argmax
    cell under the REFRESHED centroids (consistency: re-running the
    assignment expression over the new base changes nothing); row
    counts match the plain compaction; tombstones turn physical; and
    search over the new generation with the returned seeds works
    end-to-end."""
    import os as _os

    from pdfspark.streaming import (build_ivf_index,
                                    compact_ivf_index_recentered,
                                    ivf_assign_expr, ivf_topk_decisions,
                                    read_ivf_index)

    sf_dir = "/root/testdata/sf0.001"
    seeds = _ivf_seeds(spark, sf_dir)
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    idx = str(tmp_path / "rcidx")
    build_ivf_index(embs.filter("vec_id < 200"), seeds) \
        .write.parquet(f"{idx}/base")
    spark.createDataFrame([(7,), (14,)], "vec_id long") \
        .write.parquet(f"{idx}/tombstones/batch_id=0")

    gen2 = str(tmp_path / "rcgen2")
    new_seeds, n = compact_ivf_index_recentered(spark, idx, gen2, seeds)
    assert n == 198
    assert not _os.path.isdir(f"{gen2}/tombstones")
    assert [s for s, _ in new_seeds] == [s for s, _ in seeds]
    assert new_seeds != seeds  # centroids actually moved

    base = spark.read.parquet(f"{gen2}/base")
    ids = {r.vec_id for r in base.select("vec_id").collect()}
    assert len(ids) == 198 and 7 not in ids and 14 not in ids
    # every vector sits in its argmax cell under the new geometry
    mismatch = base.select(
        "vec_id", "cell", ivf_assign_expr(new_seeds).alias("re_cell")
    ).where("cell <> re_cell").count()
    assert mismatch == 0

    # searching the new generation with the returned seeds works
    top = ivf_topk_decisions(
        embs.filter("vec_id >= 300 and vec_id < 303"),
        read_ivf_index(spark, gen2), new_seeds, k=1)
    assert top.count() == 3


def test_digest_index_maintenance_lifecycle(spark, tmp_path):
    """Fourth index family (late r8): the exact-dedup digest index
    follows the family grammar — append stream deltas compose into
    the live view exactly equal to the batch build; replay is
    idempotent; decisions dedup against history AND within-batch
    keep-first; a keeper takedown stops the digest deduping
    immediately (a recrawl of taken-down content is KEPT) while live
    history still dups; the kept recrawl becomes the new keeper;
    compaction folds tombstones physically and is a fixpoint."""
    import os as _os

    from pdfspark.streaming import (build_digest_index,
                                    compact_digest_index,
                                    digest_dedup_decisions,
                                    read_digest_index,
                                    run_digest_index_append_stream_once,
                                    run_digest_tombstone_stream_once)

    ta = "alpha beta gamma delta epsilon zeta"
    tb = "one two three four five six seven"
    tc = "fresh novel content nobody crawled before"

    def feed(path, chunks, t0=1_700_000_000):
        for i, chunk in enumerate(chunks):
            spark.createDataFrame(chunk, "doc_id long, text string") \
                .coalesce(1).write.mode("append").parquet(path)
            newest = max(
                (f for f in _os.listdir(path) if f.endswith(".parquet")),
                key=lambda f: _os.path.getmtime(_os.path.join(path, f)))
            _os.utime(_os.path.join(path, newest), (t0 + i, t0 + i))

    def rows(df):
        return {(r.digest, r.first_doc) for r in df.collect()}

    idx = str(tmp_path / "didx")
    feed(str(tmp_path / "din"), [[(10, ta)], [(11, tb)]])
    assert run_digest_index_append_stream_once(
        spark, str(tmp_path / "din"), idx, str(tmp_path / "dck"))
    expect = rows(build_digest_index(spark.createDataFrame(
        [(10, ta), (11, tb)], "doc_id long, text string")))
    assert rows(read_digest_index(spark, idx)) == expect
    # fresh-checkpoint replay: view unchanged
    assert run_digest_index_append_stream_once(
        spark, str(tmp_path / "din"), idx, str(tmp_path / "dck2"))
    assert rows(read_digest_index(spark, idx)) == expect

    # decisions: history dup, within-batch keep-first, fresh keep
    live = read_digest_index(spark, idx)
    batch = spark.createDataFrame(
        [(20, ta), (30, tc), (31, tc)], "doc_id long, text string")
    d = {r.doc_id: (r.keep, r.dup_of)
         for r in digest_dedup_decisions(batch, live).collect()}
    assert d == {20: (0, 10), 30: (1, None), 31: (0, 30)}

    # keeper takedown: ta's digest stops deduping IMMEDIATELY
    spark.createDataFrame([(10,)], "doc_id long").coalesce(1) \
        .write.parquet(str(tmp_path / "ddel"))
    assert run_digest_tombstone_stream_once(
        spark, str(tmp_path / "ddel"), idx, str(tmp_path / "dckt"))
    live = read_digest_index(spark, idx)
    d = {r.doc_id: (r.keep, r.dup_of) for r in digest_dedup_decisions(
        spark.createDataFrame([(40, ta), (41, tb)],
                              "doc_id long, text string"),
        live).collect()}
    assert d[40] == (1, None)    # recrawl of taken-down content KEPT
    assert d[41] == (0, 11)      # live history still dups

    # compact (folds tombstone), re-admit 40 as the new keeper
    gen2 = str(tmp_path / "dgen2")
    n = compact_digest_index(spark, idx, gen2, nparts=2)
    assert n == 1 and not _os.path.isdir(f"{gen2}/tombstones")
    feed(str(tmp_path / "din2"), [[(40, ta)]], t0=1_900_000_000)
    assert run_digest_index_append_stream_once(
        spark, str(tmp_path / "din2"), gen2, str(tmp_path / "dck3"))
    d = {r.doc_id: (r.keep, r.dup_of) for r in digest_dedup_decisions(
        spark.createDataFrame([(50, ta)], "doc_id long, text string"),
        read_digest_index(spark, gen2)).collect()}
    assert d[50] == (0, 40)      # the recrawl is the new keeper
    # compaction fixpoint
    gen3 = str(tmp_path / "dgen3")
    assert compact_digest_index(spark, gen2, gen3, nparts=2) == 2


def test_digest_index_feeds_curation_stream(spark, tmp_path):
    """Production composition of the fourth family: the curation
    stream reads the maintained digest index directly (its
    read_digest_index live view). After a keeper takedown, a recrawl
    of the taken-down content SURVIVES curation — it is no longer
    history — while a copy of live history is still dropped by the
    digest anti-join."""
    import hashlib
    import os as _os

    from pdfspark.streaming import (run_curation_stream_once,
                                    run_digest_index_append_stream_once,
                                    run_digest_tombstone_stream_once)

    def score(text):
        s = 0
        for w in text.strip().split(" "):
            if not w:
                continue
            b = int(hashlib.md5(w.encode()).hexdigest()[:4], 16) % 64
            s += (b * 7) % 13 - 6
        return s

    pos = next(w for w in ("alpha beta gamma delta epsilon zeta eta "
                           "theta iota kappa").split() if score(w) > 0)
    tx, ty = f"{pos} {pos} {pos}", f"{pos} {pos} {pos} {pos}"

    def feed(path, chunks, schema, t0=1_700_000_000):
        for i, chunk in enumerate(chunks):
            spark.createDataFrame(chunk, schema).coalesce(1) \
                .write.mode("append").parquet(path)
            newest = max(
                (f for f in _os.listdir(path) if f.endswith(".parquet")),
                key=lambda f: _os.path.getmtime(_os.path.join(path, f)))
            _os.utime(_os.path.join(path, newest), (t0 + i, t0 + i))

    # maintained index: keepers 10 (tx) and 11 (ty); then 10 taken down
    idx = str(tmp_path / "cfidx")
    feed(str(tmp_path / "cfin"), [[(10, tx), (11, ty)]],
         "doc_id long, text string")
    assert run_digest_index_append_stream_once(
        spark, str(tmp_path / "cfin"), idx, str(tmp_path / "cfck"))
    spark.createDataFrame([(10,)], "doc_id long").coalesce(1) \
        .write.parquet(str(tmp_path / "cfdel"))
    assert run_digest_tombstone_stream_once(
        spark, str(tmp_path / "cfdel"), idx, str(tmp_path / "cfckt"))

    feed(str(tmp_path / "cfbatch"), [[(100, tx), (101, ty)]],
         "doc_id long, text string", t0=1_800_000_000)
    out = str(tmp_path / "cfout")
    assert run_curation_stream_once(
        spark, str(tmp_path / "cfbatch"), idx, out,
        str(tmp_path / "cfckc"))
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert 100 in kept       # recrawl of taken-down content survives
    assert 101 not in kept   # live history still dedups


def test_digest_decisions_match_bruteforce_randomized(spark):
    """Randomized pin of digest_dedup_decisions against an independent
    Python brute force: tiny alphabet so digest collisions are common
    (history dups, within-batch dups, takedown re-admissions all occur
    by volume), random keeper takedowns. Decision rule: historic
    keeper wins if its digest is live; else the batch's min doc_id is
    the keeper and every other batch copy points at it."""
    import hashlib
    import random as _random

    from pdfspark.streaming import (build_digest_index,
                                    digest_dedup_decisions)

    rnd = _random.Random(128)
    texts = [f"t{k}" for k in range(6)]
    for case in range(4):
        hist = [(i, rnd.choice(texts)) for i in range(rnd.randrange(3, 10))]
        batch = [(100 + i, rnd.choice(texts))
                 for i in range(rnd.randrange(2, 12))]
        tombs = {i for i, _ in hist if rnd.random() < 0.4}

        hist_df = spark.createDataFrame(hist, "doc_id long, text string")
        idx = build_digest_index(hist_df)
        dead = spark.createDataFrame(
            [(t,) for t in sorted(tombs)] or [(-1,)], "doc_id long")
        live = idx.join(dead, idx["first_doc"] == dead["doc_id"],
                        "left_anti")
        got = {r.doc_id: (r.keep, r.dup_of) for r in
               digest_dedup_decisions(
                   spark.createDataFrame(batch,
                                         "doc_id long, text string"),
                   live).collect()}

        # independent brute force
        keeper = {}
        for i, t in hist:
            h = hashlib.md5(t.encode()).hexdigest()
            keeper[h] = min(keeper.get(h, i), i)
        live_keeper = {h: k for h, k in keeper.items() if k not in tombs}
        batch_min = {}
        for i, t in batch:
            h = hashlib.md5(t.encode()).hexdigest()
            batch_min[h] = min(batch_min.get(h, i), i)
        expect = {}
        for i, t in batch:
            h = hashlib.md5(t.encode()).hexdigest()
            if h in live_keeper:
                expect[i] = (0, live_keeper[h])
            elif i != batch_min[h]:
                expect[i] = (0, batch_min[h])
            else:
                expect[i] = (1, None)
        assert got == expect, (case, sorted(tombs))


def test_drain_without_timeout_reports_completion(spark, tmp_path):
    """timeout_s=None waits until the drain is done, so a completed
    drain must report True on both sinks: the file sink
    (run_shard_pack_stream_once) and foreachBatch
    (run_digest_index_append_stream_once)."""
    from pdfspark.streaming import (read_digest_index,
                                    run_digest_index_append_stream_once,
                                    run_shard_pack_stream_once)

    in_dir = str(tmp_path / "in")
    spark.createDataFrame([(1, "a b c"), (2, "d e")],
                          "doc_id long, text string") \
        .write.parquet(f"{in_dir}/part0")
    out = str(tmp_path / "packed")
    assert run_shard_pack_stream_once(
        spark, f"{in_dir}/part0", out, str(tmp_path / "ck1"),
        timeout_s=None) is True
    assert spark.read.parquet(out).count() == 2

    idx = str(tmp_path / "didx")
    assert run_digest_index_append_stream_once(
        spark, f"{in_dir}/part0", idx, str(tmp_path / "ck2"),
        timeout_s=None) is True
    assert read_digest_index(spark, idx).count() == 2
