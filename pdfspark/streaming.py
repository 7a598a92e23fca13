"""Structured Streaming ingestion variant (SURVEY.md §2B streaming row).

The north rule's resume path is batch + manifest (pipeline.py); streaming
is the optional continuous-ingest mode: a file-source ``readStream`` over
the pages table directory, the SAME extraction kernel (mapInPandas works
unchanged on streaming DataFrames), watermarked tumbling-window metrics,
and a checkpointed sink.

At scale: maxFilesPerTrigger bounds per-micro-batch work; the checkpoint
directory carries source offsets so a killed job resumes exactly where it
stopped — the streaming twin of the batch manifest.
"""

from __future__ import annotations

import functools
import os
import re
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdfspark.pipeline import PAGES_SCHEMA, extract_pages, map_rows
from pdfspark.textops import minhash_band_sigs


_DOCS_SCHEMA = "doc_id long, text string"


def _read_parquet_stream(spark: SparkSession, input_dir: str, schema: str,
                         max_files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def read_pages_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    return _read_parquet_stream(spark, input_dir, PAGES_SCHEMA,
                                max_files_per_trigger)


def extract_stream(pages: DataFrame) -> DataFrame:
    """Same kernel, streaming source: the batch extract_pages stage
    without its salting shuffle (a stream's micro-batches are already
    bounded by maxFilesPerTrigger)."""
    return extract_pages(pages, resalt=False)


def windowed_metrics(pages: DataFrame) -> DataFrame:
    """Watermarked tumbling-window ingest metrics keyed on warc_ts (late
    rows beyond 1 day are dropped deterministically).

    Computed from the pages stream DIRECTLY — joining the extraction
    output back to pages would be an unbounded stream-stream join (no
    watermark can evict its state); per-document extraction metrics come
    from the stateful counter (stateful_url_counts) instead."""
    return (
        pages.withWatermark("warc_ts", "1 day")
        .groupBy(F.window("warc_ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(
                F.when(
                    F.expr("substring(html, 1, 5)") == F.lit(b"%PDF-"), 1
                ).otherwise(0)
            ).alias("n_pdf"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_pages",
            "n_pdf",
        )
    )


def stateful_url_counts(extracted: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): a
    running per-lang document/char counter that survives across
    micro-batches through the state store — the pattern a streaming
    dedup/quota operator at 10^12 scale needs (state is per-key,
    checkpointed, replayed exactly-once on recovery)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        n_docs, n_chars = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n_docs += len(pdf)
            n_chars += int(pdf["n_chars"].fillna(0).sum())
        state.update((n_docs, n_chars))
        yield pd.DataFrame(
            {"doc_lang": [key[0]], "n_docs": [n_docs], "n_chars": [n_chars]}
        )

    return (
        extracted.fillna({"doc_lang": "und"})
        .groupBy("doc_lang")
        .applyInPandasWithState(
            update,
            outputStructType="doc_lang string, n_docs bigint, n_chars bigint",
            stateStructType="n_docs bigint, n_chars bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _await_drain(writer, checkpoint_dir: str,
                 timeout_s: Optional[int]) -> bool:
    """The one drain shell under both sinks: start ``writer`` with a
    checkpointed, exactly-once Trigger.AvailableNow query, wait up to
    ``timeout_s`` (None = until done), and stop it on exit. True iff
    the drain COMPLETED; False leaves the remainder pending in the
    checkpoint for the next call."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
    finally:
        q.stop()
    # without a timeout, awaitTermination returns None once the query
    # has terminated (a failed query raises instead)
    return timeout_s is None or bool(finished)


def _drain_to_parquet(
    df: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int],
    output_mode: Optional[str] = None,
) -> bool:
    """File-sink drain for every run_*_once entry point whose output is
    the stream itself: Spark's transactional parquet sink (the
    _spark_metadata manifest keeps replays after partial writes
    exactly-once without a batch_id-keyed subpath)."""
    w = df.writeStream.format("parquet")
    if output_mode is not None:
        w = w.outputMode(output_mode)
    return _await_drain(w.option("path", output_dir), checkpoint_dir,
                        timeout_s)


def run_stream_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int] = 120,
) -> bool:
    """Drain all available input once (Trigger.AvailableNow) with exactly-
    once file-sink semantics, then stop — the batch-compatible way to run
    the streaming pipeline in tests and cron-style ingest.

    Returns True iff the drain COMPLETED within timeout_s; False means the
    query was stopped mid-ingest (remaining files stay pending in the
    checkpoint and the next call resumes them)."""
    pages = read_pages_stream(spark, input_dir)
    return _drain_to_parquet(extract_stream(pages), output_dir,
                             checkpoint_dir, timeout_s)


def run_windowed_metrics_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int] = 120,
    max_files_per_trigger: int = 1,
) -> bool:
    """Drain the input through the WATERMARKED windowed aggregation in
    append mode: a window row reaches the sink only once the watermark
    passes its end, and rows older than the watermark are dropped — the
    late-data contract tests pin. One file per trigger so the watermark
    advances between micro-batches deterministically."""
    pages = read_pages_stream(spark, input_dir, max_files_per_trigger)
    return _drain_to_parquet(windowed_metrics(pages), output_dir,
                             checkpoint_dir, timeout_s,
                             output_mode="append")


def dedup_stream(pages: DataFrame, within: str = "1 hour") -> DataFrame:
    """Streaming exact dedup by url with BOUNDED state:
    dropDuplicatesWithinWatermark keeps a url's key only until the
    watermark passes it, so state is O(urls per watermark window) — the
    only dedup shape that survives an unbounded 10^12-doc crawl stream
    (plain dropDuplicates would accrete state forever)."""
    return pages.withWatermark("warc_ts", within) \
        .dropDuplicatesWithinWatermark(["url"])


def run_dedup_stream_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int] = 120,
    within: str = "1 hour",
) -> bool:
    pages = read_pages_stream(spark, input_dir, max_files_per_trigger=1)
    return _drain_to_parquet(dedup_stream(pages, within), output_dir,
                             checkpoint_dir, timeout_s)


def content_dedup_stream(pages: DataFrame, within: str = "1 hour") -> DataFrame:
    """Streaming exact CONTENT dedup: key on md5 of the raw payload
    bytes rather than url, so mirror-site/alias duplicates collapse
    BEFORE the extraction kernel spends CPU on them — at crawl scale the
    kernel is the expensive stage, so dedup-then-extract is the right
    pipeline order. State is one 32-hex-digest key per distinct payload,
    evicted once the watermark passes it (bounded, like dedup_stream).
    The JVM computes the digest (F.md5) — no Python in the hot path."""
    return (
        pages.withColumn("content_md5", F.md5(F.col("html")))
        .withWatermark("warc_ts", within)
        .dropDuplicatesWithinWatermark(["content_md5"])
    )


def run_content_dedup_extract_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int] = 120,
    within: str = "1 hour",
) -> bool:
    """Drain pages → content dedup → extraction kernel in ONE streaming
    query (the stateful dedup feeds mapInPandas directly): exactly-once
    output of extracted text for each distinct payload."""
    pages = read_pages_stream(spark, input_dir, max_files_per_trigger=1)
    deduped = content_dedup_stream(pages, within)
    return _drain_to_parquet(extract_stream(deduped), output_dir,
                             checkpoint_dir, timeout_s)


def novel_content_stream(pages: DataFrame,
                         historic_digests: DataFrame) -> DataFrame:
    """Stream-STATIC anti join: drop incoming payloads whose content
    digest already exists in the historic corpus's digest table — the
    state-free streaming twin of dedup_incremental_minhash. Unlike
    dropDuplicatesWithinWatermark there is NO state store at all: the
    historic index is a static table (at 10^12 scale: bucketed by
    digest, or broadcast when the daily increment dwarfs it), re-read
    per micro-batch, so the operator survives unbounded streams with
    zero eviction concerns. The JVM computes md5; Python sees nothing
    until the kernel stage downstream."""
    return (
        pages.withColumn("content_md5", F.md5(F.col("html")))
        .join(historic_digests, "content_md5", "left_anti")
    )


def run_novel_content_extract_once(
    spark: SparkSession,
    input_dir: str,
    historic_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int] = 120,
) -> bool:
    """Drain pages → anti-join vs the historic digest parquet → extract,
    in one streaming query with an exactly-once sink."""
    historic = spark.read.parquet(historic_dir)
    pages = read_pages_stream(spark, input_dir, max_files_per_trigger=1)
    return _drain_to_parquet(
        extract_stream(novel_content_stream(pages, historic)),
        output_dir, checkpoint_dir, timeout_s)


def attribution_join(
    impressions: DataFrame,
    clicks: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream INTERVAL join (impression → click attribution): a
    click matches an impression of the same user within ``horizon`` after
    it. Both sides carry watermarks AND the join condition bounds event
    time on both sides — the two requirements that make the state store
    evictable: an impression can be dropped once the click watermark
    passes imp_ts + horizon, a click once the impression watermark passes
    click_ts. Spark ACCEPTS an unbounded inner stream-stream join (it
    only rejects unbounded OUTER joins) — the state simply grows forever,
    which is why the interval condition is load-bearing at crawl scale
    even though nothing forces it."""
    i = impressions.withWatermark("imp_ts", watermark).alias("i")
    c = clicks.withWatermark("click_ts", watermark).alias("c")
    return i.join(
        c,
        F.expr(
            "i.user_id = c.user_id AND "
            "c.click_ts >= i.imp_ts AND "
            f"c.click_ts <= i.imp_ts + INTERVAL {horizon}"
        ),
    ).select(
        F.col("i.imp_id"), F.col("i.user_id"),
        F.col("c.click_id"), F.col("i.imp_ts"), F.col("c.click_ts"),
    )


def run_attribution_join_once(
    spark: SparkSession,
    imp_dir: str,
    click_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int] = 120,
) -> bool:
    imp_schema = "imp_id long, user_id long, imp_ts timestamp"
    click_schema = "click_id long, user_id long, click_ts timestamp"
    imps = spark.readStream.schema(imp_schema).parquet(imp_dir)
    clicks = spark.readStream.schema(click_schema).parquet(click_dir)
    return _drain_to_parquet(attribution_join(imps, clicks), output_dir,
                             checkpoint_dir, timeout_s)


def stateful_lang_quota(extracted: DataFrame, quota: int = 5) -> DataFrame:
    """Streaming per-key QUOTA operator (applyInPandasWithState): admit at
    most ``quota`` documents per language across the whole stream, drop
    the rest — the shape of dedup/rate-limit/budget operators at crawl
    scale. State is one counter per key: checkpointed, exactly-once on
    recovery, bounded by the key cardinality."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def admit(key, pdfs, state):
        import pandas as pd

        (used,) = state.get if state.exists else (0,)
        out = []
        for pdf in pdfs:
            for url in pdf["url"]:
                if used < quota:
                    used += 1
                    out.append({"doc_lang": key[0], "url": url})
        state.update((used,))
        yield pd.DataFrame(out, columns=["doc_lang", "url"])

    return (
        extracted.fillna({"doc_lang": "und"})
        .groupBy("doc_lang")
        .applyInPandasWithState(
            admit,
            outputStructType="doc_lang string, url string",
            stateStructType="used bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def quality_keeplist_stream(extracted: DataFrame) -> DataFrame:
    """In-stream corpus quality keep-list: the SAME integer
    cross-multiplied Gopher thresholds as the batch
    `corpus_quality_filter` (length floor, mean-word-length band,
    alphabetic ratio, duplicate ceiling, stopword presence), emitted
    per document as it streams past. Entirely JVM-side higher-order
    functions over the split word array — stateless, no Python, no
    state store — so the operator adds nothing to checkpoint size and
    applies at any stream rate."""
    # tokenize EXACTLY like the batch filter's split(text, ' ') — a
    # \s+ split would disagree on kernel output, whose pinned policy
    # inserts \n at line breaks and \f between pages (those must stay
    # glued to their words, as in the batch oracle)
    words = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
        lambda w: w != "",
    )
    n_words = F.size(words)
    n_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("^[A-Za-z]+$")))
    n_distinct = F.size(F.array_distinct(words))
    stop_hits = F.size(
        F.array_intersect(
            words, F.array(*[F.lit(w) for w in
                             ("the", "a", "of", "and", "to", "is")])
        )
    )
    keep = (
        (n_words >= 40)
        & (n_chars * 100 >= 250 * n_words)
        & (n_chars * 100 <= 1200 * n_words)
        & (n_alpha * 10 >= 7 * n_words)
        & ((n_words - n_distinct) * 10 <= 5 * n_words)
        & (stop_hits > 0)
    )
    return extracted.select(
        "url", F.when(keep, 1).otherwise(0).alias("keep")
    )


# ----------------------------------------------------- stream-side minhash

_STREAM_BANDS_SCHEMA = "doc_id long, band int, sig string"
_BAND_INDEX_SCHEMA = "hist_id long, band int, sig string"


def _plain_band_rows(doc_id, text):
    """map_rows fn: (doc_id, text) → (doc_id, band, sig) — the SAME Arrow
    minhash kernel as the batch LSH queries (textops), without the batch
    harness's synthesized mutants (a stream carries real rows)."""
    return [(doc_id, band, sig) for band, sig in minhash_band_sigs(str(text))]


def build_band_index(docs: DataFrame) -> DataFrame:
    """Historic band index from a (doc_id, text) corpus: (band, sig,
    hist_id) rows — the precomputed table the incremental/stream dedup
    topologies join against. At 10^12 scale this is written bucketed by
    (band, sig) once per corpus rebuild."""
    return map_rows(
        docs.select("doc_id", "text"), _plain_band_rows, _STREAM_BANDS_SCHEMA
    ).withColumnRenamed("doc_id", "hist_id")


def sized_bands(band_index: DataFrame) -> DataFrame:
    """The hot-band filter of a band index — (band, sig) buckets at or
    under the cap (shared constant with dedup_incremental_minhash).
    Static per index: compute (and persist) ONCE per stream, not per
    micro-batch."""
    from pdfspark.queries import _HOT_BAND_CAP

    return (
        band_index.groupBy("band", "sig")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") <= _HOT_BAND_CAP)
        .select("band", "sig")
    )


def minhash_dedup_decisions(batch_docs: DataFrame,
                            band_index: DataFrame,
                            hist_sized: Optional[DataFrame] = None,
                            ) -> DataFrame:
    """One increment's keep/drop decisions against a STATIC band index:
    band the new docs (Arrow kernel), hash-join colliding (band, sig)
    buckets — hot bands above the cap dropped exactly as in
    dedup_incremental_minhash — and keep a doc iff NO band collides
    (dup_of = smallest colliding historic doc otherwise). New docs are
    never compared against each other: that is the incremental
    contract, and what makes the streaming form state-free.

    ``band_index`` is consumed by TWO plans (the hot-band aggregation
    and the collision join) — if it comes straight from
    build_band_index (a mapInPandas), persist() it first or the
    minhash kernel runs twice (CLAUDE.md multi-consumer rule); a
    parquet-backed index re-reads instead, and callers draining a
    stream should pass a precomputed ``hist_sized`` so the aggregation
    doesn't rerun per micro-batch."""
    bands = map_rows(batch_docs.select("doc_id", "text"), _plain_band_rows,
                     _STREAM_BANDS_SCHEMA)
    if hist_sized is None:
        hist_sized = sized_bands(band_index)
    hits = (
        bands.join(band_index, ["band", "sig"])
        .join(hist_sized, ["band", "sig"])
        .groupBy("doc_id")
        .agg(F.min("hist_id").alias("dup_of"))
    )
    return (
        batch_docs.select("doc_id").distinct()
        .join(hits, "doc_id", "left")
        .select(
            "doc_id", "dup_of",
            F.when(F.col("dup_of").isNull(), F.lit(1)).otherwise(F.lit(0))
            .alias("keep"),
        )
    )


def _drain_foreachbatch_once(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    on_batch,
    checkpoint_dir: str,
    timeout_s: Optional[int],
) -> bool:
    """foreachBatch drain for every maintenance/decision stream:
    one-file micro-batches from a parquet directory into ``on_batch``.
    Callers own the per-batch body (each body writes its own
    exactly-once ``batch_id=N`` subpath) and any cached-state
    cleanup, so a fix to the drain contract lands everywhere at
    once."""
    src = _read_parquet_stream(spark, input_dir, schema)
    return _await_drain(src.writeStream.foreachBatch(on_batch),
                        checkpoint_dir, timeout_s)


def run_minhash_stream_dedup_once(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int] = 120,
) -> bool:
    """Stream-side minhash banding vs the static historic band index
    (VERDICT r3 next #7; builder ROADMAP #5): drain a (doc_id, text)
    stream, deciding keep/drop per micro-batch via foreachBatch — the
    blessed topology when the reference side is a static table: zero
    state store (the index never changes mid-stream, and increments are
    never self-compared). Sink is EXACTLY-ONCE: checkpointed source
    offsets make each micro-batch replay deterministic, and every batch
    lands in its own ``batch_id=N`` subpath with mode("overwrite") — a
    retried batch overwrites its own partial output instead of
    appending duplicate decision rows (ADVICE r4 #2; a blind append
    sink would only be at-least-once). Readers see one partitioned
    parquet table under output_dir. Completes the
    streaming-equals-batch story for the dedup family: the drained
    output must equal dedup_incremental_minhash's batch answer
    (test-pinned drain equivalence). ``index_dir`` is a maintained
    band index, read once through read_band_index (base + increments
    − tombstones) before the drain starts."""
    # static per stream: cache the live index and its hot-band filter so
    # no micro-batch re-reads the parquet or reruns the aggregation
    index = read_band_index(spark, index_dir).persist()
    hist_sized = sized_bands(index).persist()
    hist_sized.count()  # materialize both caches before the first batch

    def decide(batch_df: DataFrame, batch_id: int) -> None:
        # batch_id-keyed subpath + overwrite = idempotent replay; the
        # Hive-style name doubles as a discoverable partition column
        minhash_dedup_decisions(batch_df, index, hist_sized).write.mode(
            "overwrite"
        ).parquet(f"{output_dir}/batch_id={batch_id}")

    try:
        return _drain_foreachbatch_once(
            spark, input_dir, _DOCS_SCHEMA, decide,
            checkpoint_dir, timeout_s)
    finally:
        hist_sized.unpersist(blocking=False)
        index.unpersist(blocking=False)


# ------------------------------------------------- per-domain window quota

def _parse_window_seconds(window: str) -> int:
    """'N second(s)/minute(s)/hour(s)/day(s)' → seconds. Raises on
    anything else — a silently mis-bucketed quota is worse than an
    error at stream construction."""
    parts = window.strip().split()
    units = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
    if len(parts) == 2:
        unit = parts[1].rstrip("s")
        if parts[0].isdigit() and unit in units:
            return int(parts[0]) * units[unit]
    raise ValueError(f"unsupported window {window!r}")


def domain_window_quota_stream(pages: DataFrame, quota: int = 3,
                               window: str = "1 hour") -> DataFrame:
    """Crawl-politeness / budget primitive: admit at most ``quota``
    documents per (domain, event-time window) across the stream —
    stateful_lang_quota's windowed sibling (that one is a TOTAL cap;
    this one REFILLS each window). State per domain is a single
    (window_start, used) pair: rows in the current window count
    against the quota, a row in a NEWER window resets it, and a LATE
    row from an OLDER window is dropped (quota decisions are monotone
    — re-admitting after the budget moved on would double-spend it).
    Within each micro-batch a group's rows are CONCATENATED across
    Arrow chunks and sorted once by (warc_ts, url) — a big domain
    split across maxRecordsPerBatch chunks must not be chunk-sorted —
    so admission is deterministic for in-order sources (crawl logs are
    written in fetch order); the batch twin is row_number() OVER
    (PARTITION BY domain, window ORDER BY ts, url) <= quota, and
    equality is test-pinned. Window bucketing floors the epoch, which
    matches Spark's window() exactly when the session timezone is UTC
    (build_session pins it). Null timestamps are skipped (one bad row
    must never wedge the checkpoint replay loop)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    win_s = _parse_window_seconds(window)

    def admit(key, pdfs, state):
        import pandas as pd

        (win_start, used) = state.get if state.exists else (-1, 0)
        rows = []
        chunks = list(pdfs)
        if not chunks:  # timeout-style invocation: nothing to admit
            state.update((win_start, used))
            yield pd.DataFrame(columns=["domain", "url", "warc_ts"])
            return
        pdf = pd.concat(chunks, ignore_index=True)
        pdf = pdf[pdf["warc_ts"].notna()]
        pdf = pdf.sort_values(["warc_ts", "url"])
        for url, ts in zip(pdf["url"], pdf["warc_ts"]):
            w = (int(ts.timestamp()) // win_s) * win_s
            if w > win_start:
                win_start, used = w, 0
            elif w < win_start:
                continue  # late row from a spent window
            if used < quota:
                used += 1
                rows.append({"domain": key[0], "url": url,
                             "warc_ts": ts})
        state.update((win_start, used))
        yield pd.DataFrame(
            rows, columns=["domain", "url", "warc_ts"])

    with_domain = pages.withColumn(
        "domain", F.regexp_extract("url", r"^https?://([^/?#]+)", 1)
    )
    return with_domain.groupBy("domain").applyInPandasWithState(
        admit,
        outputStructType="domain string, url string, warc_ts timestamp",
        stateStructType="win_start long, used long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------- stream quality classification

def quality_classifier_score_expr(col: str = "text") -> "F.Column":
    """The hashed-feature linear score of quality_classifier_linear as
    ONE pure JVM column expression — what a document STREAM needs
    (no explode, no join, no shuffle, no state): fold the token array,
    hashing each token into the 64-bucket space (md5, engine- and
    batch-identical) and adding the bucket's weight inline. The weight
    formula ((b*7)%13-6) is the same deterministic stand-in as the
    batch query's broadcast table; swap both for trained weights
    together."""
    # coalesce: NULL text must score 0 like empty text (a NULL array
    # would otherwise propagate score=NULL into the sink — review
    # r5.2 #3); token-less docs therefore score 0 / keep 1 here while
    # the batch explode+group form emits no row for them at all
    return F.expr(
        f"aggregate("
        f"  filter(split(trim(coalesce({col}, '')), ' '), w -> w != ''),"
        f"  CAST(0 AS BIGINT),"
        f"  (acc, w) -> acc"
        f"    + ((CAST(conv(substr(md5(w), 1, 4), 16, 10) AS BIGINT)"
        f"        % 64) * 7) % 13 - 6"
        f")"
    ).alias("score")


def quality_classifier_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, text) stream → (doc_id, score, keep): the in-stream
    twin of quality_classifier_linear, entirely map-side. Works
    unchanged on batch DataFrames — the drain-equals-batch test relies
    on exactly that. Edge divergence by design: a TOKEN-LESS doc
    (NULL, empty or all-space text) scores 0 / keep 1 here but emits
    NO row from the batch explode+group form; the synthetic corpus has
    no such docs, and a production caller should decide which contract
    it wants before registering the pair as oracle twins."""
    scored = docs.select("doc_id", quality_classifier_score_expr())
    return scored.select(
        "doc_id", "score",
        F.when(F.col("score") >= 0, F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("keep"),
    )


def curation_stream(docs: DataFrame, hist_digests: DataFrame,
                    budget: Optional[int] = None) -> DataFrame:
    """ONE streaming query for the crawl-increment curation topology
    (r7 — the in-stream twin of the batch curation_pipeline):
    quality filter (map-side classifier score ≥ 0, zero shuffle) →
    history dedup (md5 digest stream-static LEFT OUTER join against
    the historic digest table + null-probe filter — the anti-join
    shape Structured Streaming runs stateless; at scale the static
    side is the corpus digest table, bucketed on digest) →
    token-budget shard packing (the stateful one-row-per-packer
    carry). Every stage IS the shared implementation of its
    standalone twin (quality_classifier_score_expr,
    shard_pack_stream) so none of the three policies can fork; with
    in-order batches the drain equals the batch composition
    filter→anti-join→sequential-pack (test-pinned)."""
    kept = (
        docs.select("doc_id", "text", quality_classifier_score_expr())
        .where(F.col("score") >= 0)
        .withColumn("digest", F.md5(F.coalesce("text", F.lit(""))))
    )
    hist = hist_digests.select(F.col("digest").alias("h_digest"))
    deduped = (
        kept.join(hist, kept["digest"] == hist["h_digest"], "left_outer")
        .where(F.col("h_digest").isNull())
        .select("doc_id", "text")
    )
    return shard_pack_stream(deduped, budget=budget)


def run_curation_stream_once(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    budget: Optional[int] = None,
    timeout_s: Optional[int] = 120,
) -> bool:
    """Drain a (doc_id, text) parquet stream through curation_stream
    against the maintained digest index at ``index_dir`` (its
    read_digest_index live view, read once before the drain), into the
    transactional parquet file sink (exactly-once via the
    _spark_metadata manifest, like the standalone packer runner)."""
    hist = read_digest_index(spark, index_dir).select("digest").persist()
    hist.count()  # materialize before the first batch
    docs = _read_parquet_stream(spark, input_dir, _DOCS_SCHEMA)
    try:
        return _drain_to_parquet(curation_stream(docs, hist, budget=budget),
                                 output_dir, checkpoint_dir, timeout_s,
                                 output_mode="append")
    finally:
        hist.unpersist(blocking=False)


# ------------------------------------------ maintained-index lifecycle
# The four maintained indexes (minhash band, keep-first gram, IVF/ANN,
# exact-dedup digest) share ONE lifecycle, spelled once below; each
# family's public functions bind only their schema, keys and
# bucketing. On disk an index generation is ``base/`` (the last
# compaction) plus ``batch_id=N`` increments (under ``delta/``, or the
# index root for gram) plus ``tombstones/batch_id=N`` takedowns.

def _run_delta_append_stream_once(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: str,
    build,
    timeout_s: Optional[int],
    into: str = "delta",
) -> bool:
    """Drain ``input_dir`` and land each micro-batch's ``build(batch)``
    rows at ``index_dir/<into>/batch_id=N`` with mode("overwrite") —
    ``into`` is "delta" for appends, "tombstones" for takedowns.

    Exactly-once by subpath + overwrite (ADVICE r4 #2): checkpointed
    source offsets make a replayed batch deterministic, and it
    overwrites its own partial subpath instead of appending duplicate
    rows (a blind append sink would only be at-least-once). Index rows
    are immutable once written: a takedown never rewrites them, readers
    subtract it and compaction makes the subtraction physical.

    Cadence: a FRESH drain restarts batch ids at 0, so its increments
    must land in the post-compaction generation dir — two fresh drains
    into one dir would overwrite each other's ``batch_id=N``. Land
    tombstones BETWEEN decision drains: tombstone reads are not
    batch-gated (a takedown applies to all history the moment it
    lands), so one landing mid-drain would change what a replayed
    batch decides."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        build(batch_df).write.mode("overwrite").parquet(
            f"{index_dir}/{into}/batch_id={batch_id}")

    return _drain_foreachbatch_once(spark, input_dir, schema, write,
                                    checkpoint_dir, timeout_s)


def _run_tombstone_stream_once(spark: SparkSession, dels_dir: str,
                               index_dir: str, checkpoint_dir: str,
                               key_col: str,
                               timeout_s: Optional[int]) -> bool:
    """Delete side of every family: a single-key takedown stream →
    distinct tombstone rows. The per-family wrappers own what a
    tombstone means (a bare id vs keeper provenance)."""
    return _run_delta_append_stream_once(
        spark, dels_dir, index_dir, checkpoint_dir, f"{key_col} long",
        lambda b: b.select(key_col).distinct(), timeout_s,
        into="tombstones")


def subtract_tombstones(idx: DataFrame, dels: DataFrame, key: str,
                        dead_col: str) -> DataFrame:
    """Drop every ``idx`` row whose ``key`` appears in ``dels[dead_col]``:
    ONE LeftAnti EQUI-join, the tombstone side tiny and broadcast in
    practice, so the corpus-sized index never shuffles on the read
    path. No distinct() on the tombstone side — a left-anti join
    ignores duplicate right keys. Shared by every live view and the
    batch takedown queries (queries.ann_index_takedown,
    dedup_digest_takedown, dedup_gram_takedown) so the faces can never
    fork. A ``dels`` derived from the same table as ``idx`` must name
    its column apart from ``key``, or both sides resolve to one
    attribute."""
    return idx.join(dels, idx[key] == dels[dead_col], "left_anti")


def _read_live_index(spark: SparkSession, index_dir: str, schema: str,
                     key: str, dead_col: str, increments: str = "delta",
                     before_batch: Optional[int] = None) -> DataFrame:
    """Live view of a maintained index: ``base`` plus the
    ``index_dir/<increments>/batch_id=k`` increments (k < before_batch
    when given) as ONE multi-path parquet scan, minus the rows whose
    ``key`` is tombstoned (``tombstones/*``, column ``dead_col``).
    Returns the ``schema`` columns; an index with nothing to read is
    an empty frame of that schema, so callers join against it without
    special-casing. The base stays bucketed from the last compaction
    and increments are small, so the tombstone anti-join is the only
    join on the read path and no full-index aggregation runs at read
    cadence (that happens in compaction).

    A flat snapshot (parquet files loose at the top of ``index_dir``)
    raises ValueError: reading it as "no base, no increments" would
    mean no history, i.e. keep every duplicate."""
    if os.path.isdir(index_dir) and any(
            f.endswith(".parquet") for f in os.listdir(index_dir)):
        raise ValueError(
            f"{index_dir} holds loose parquet files: a maintained index "
            "is base/ plus batch_id=N increments, so write a flat "
            "snapshot to <index_dir>/base")
    paths = []
    base = os.path.join(index_dir, "base")
    if os.path.isdir(base):
        paths.append(base)
    inc = os.path.join(index_dir, increments)
    for d in sorted(os.listdir(inc)) if os.path.isdir(inc) else []:
        m = re.fullmatch(r"batch_id=(\d+)", d)
        if m and (before_batch is None or int(m.group(1)) < before_batch):
            paths.append(os.path.join(inc, d))
    if not paths:
        return spark.createDataFrame([], schema)
    idx = spark.read.parquet(*paths).select(
        *[f.split()[0] for f in schema.split(",")])
    tomb = os.path.join(index_dir, "tombstones")
    if os.path.isdir(tomb) and os.listdir(tomb):
        idx = subtract_tombstones(idx, spark.read.parquet(tomb), key,
                                  dead_col)
    return idx


def _shuffle_nparts(spark) -> int:
    """spark.sql.shuffle.partitions as an int, degrading to the
    cluster default when the conf is non-numeric (e.g. 'auto' under
    some AQE setups) — compaction sizing must never raise on a conf
    string it doesn't control."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        return spark.sparkContext.defaultParallelism


def _write_generation(spark: SparkSession, live: DataFrame, out_dir: str,
                      nparts: Optional[int], *bucket: str) -> int:
    """The compaction write: fold a live view (base ∪ increments −
    tombstones) into a fresh base generation at ``out_dir/base``,
    repartitioned by ``bucket`` columns when given, and return its row
    count. Tombstone subtraction turns physical and ``out_dir`` starts
    with no increments and no tombstones subdir, so the read-side
    anti-join cost resets to zero.

    Never compacts in place: ``out_dir`` is a NEW generation dir, and
    the caller switches its readers (and the next drain's index_dir)
    to it only after success — the old generation stays readable until
    then, so a reader mid-scan is never torn. Run BETWEEN drains:
    compacting mid-drain would fold a half-written increment into
    base. Why compaction exists: every micro-batch adds an increment
    subdir and every takedown a tombstone file; at crawl cadence the
    listing cost, not the data volume, is what grows without bound."""
    if bucket:
        live = live.repartition(nparts or _shuffle_nparts(spark), *bucket)
    out = os.path.join(out_dir, "base")
    live.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count()


# --------------------------------------- digest-index maintenance (late r8)
# The FOURTH index family — exact-dedup content digests, the index
# curation_stream/dedup_new_pages consume but nothing maintained until
# now. Rows are (digest, first_doc) KEEPER PROVENANCE, the gram
# family's semantics at document granularity: a takedown of the keeper
# must stop the digest from deduping (keep-first admitted only the
# keeper; once it is removed the content no longer exists in the
# corpus, so a fresh crawl of it must be KEPT), and a kept recrawl
# re-enters the digest with itself as the new keeper.

_DIGEST_INDEX_SCHEMA = "digest string, first_doc long"


def build_digest_index(docs: DataFrame) -> DataFrame:
    """(digest, first_doc) rows from a (doc_id, text) corpus treated
    as already keep-first-deduped: one row per distinct content md5,
    keeper = min doc_id. ONE implementation for the batch build and
    the append stream's per-batch increments. Scale shape: map-side
    combined groupBy over 32-hex digests — digest-only shuffle."""
    return docs.select(
        "doc_id", F.md5(F.coalesce("text", F.lit(""))).alias("digest")
    ).groupBy("digest").agg(F.min("doc_id").alias("first_doc"))


def run_digest_index_append_stream_once(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int] = 120,
) -> bool:
    """Digest-index maintenance, append side: ADMITTED (doc_id, text)
    docs → (digest, first_doc) deltas. Admitted docs passed the dedup
    decision, so their digests are new to history by construction —
    each batch contributes its own keep-first rows (min doc_id per
    digest handles a within-batch tie)."""
    return _run_delta_append_stream_once(
        spark, input_dir, index_dir, checkpoint_dir, _DOCS_SCHEMA,
        build_digest_index, timeout_s)


def run_digest_tombstone_stream_once(
    spark: SparkSession,
    dels_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int] = 120,
) -> bool:
    """Digest-index maintenance, delete side: (doc_id) takedowns →
    tombstones under ``index_dir/tombstones/batch_id=N``. Like the
    gram family, subtraction is by KEEPER PROVENANCE (rows whose
    first_doc is tombstoned), not by digest — so a kept recrawl of
    taken-down content re-enters the index as its own keeper without
    waiting for compaction."""
    return _run_tombstone_stream_once(
        spark, dels_dir, index_dir, checkpoint_dir, "doc_id", timeout_s)


def read_digest_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Live view of a maintained digest index: (digest, first_doc)
    rows minus every row whose KEEPER is tombstoned.
    curation_stream's hist_digests input is
    ``read_digest_index(...).select(F.col("digest"))`` (it only needs
    membership)."""
    return _read_live_index(spark, index_dir, _DIGEST_INDEX_SCHEMA,
                            "first_doc", "doc_id")


def compact_digest_index(spark: SparkSession, index_dir: str,
                         out_dir: str, nparts: Optional[int] = None) -> int:
    """Compact into a digest-bucketed base generation of distinct
    (digest, first_doc) ROWS, not distinct digests — a digest can
    legally hold two live keepers only via replay edges, and distinct()
    keeps the semantics (same rule as compact_gram_index)."""
    return _write_generation(
        spark, read_digest_index(spark, index_dir).distinct(), out_dir,
        nparts, "digest")


def digest_dedup_decisions(batch_docs: DataFrame,
                           live_index: DataFrame) -> DataFrame:
    """Exact-dedup decisions for a crawl increment against the
    maintained digest index: (doc_id, keep, dup_of) where dup_of is
    the historic KEEPER (NULL when kept). Within-batch copies resolve
    keep-first against the batch's own min doc_id. One digest
    equi-join against history plus one map-side-combined self-groupBy
    — digest-only shuffles, the exact-dedup scale shape."""
    d = batch_docs.select(
        "doc_id", F.md5(F.coalesce("text", F.lit(""))).alias("digest"))
    hist = live_index.groupBy("digest").agg(
        F.min("first_doc").alias("hist_keeper"))
    batch_first = d.groupBy("digest").agg(
        F.min("doc_id").alias("batch_keeper"))
    return (
        d.join(hist, "digest", "left_outer")
        .join(batch_first, "digest")
        .select(
            "doc_id",
            F.when(F.col("hist_keeper").isNotNull(), F.lit(0))
            .when(F.col("doc_id") != F.col("batch_keeper"), F.lit(0))
            .otherwise(F.lit(1)).alias("keep"),
            F.when(F.col("hist_keeper").isNotNull(), F.col("hist_keeper"))
            .when(F.col("doc_id") != F.col("batch_keeper"),
                  F.col("batch_keeper"))
            .alias("dup_of"),
        )
    )


# ------------------------------------------------------ stream shard packer

def shard_pack_stream(docs: DataFrame, budget: Optional[int] = None,
                      key_col: Optional[str] = None) -> DataFrame:
    """Streaming twin of shard_pack_token_budget (VERDICT r4 next #6 /
    ROADMAP #5): assign each arriving document a training-shard id by
    its STARTING token offset in arrival order, with the cumulative
    token count carried across micro-batches in a one-row state. Token
    counting runs JVM-side before the stateful stage (the SAME
    whitespace split as the batch twin), so Python only cumsums. A
    micro-batch's rows are CONCATENATED across Arrow chunks then
    sorted once by doc_id (the r4 chunk-sort gotcha); for an in-order
    source the drained output therefore equals the batch two-pass
    prefix scan bit-for-bit (test-pinned drain==batch).

    Scale note: one packer key is one sequential state row — inherent
    to sequence packing, where every shard boundary depends on all
    prior tokens. At 10^12 docs you run MANY independent packers: pass
    ``key_col`` (language, domain bucket, source shard) and each key
    packs its own shard sequence in parallel, each with a
    single-bigint state; the output then carries the key as
    ``packer`` (shards are namespaced per key). The default
    single-key form is the one the global batch oracle can check; the
    per-key drain is pinned against a per-key prefix scan
    (test_shard_pack_stream_per_key_packers)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from pdfspark.queries import _SHARD_BUDGET

    if budget is None:
        budget = _SHARD_BUDGET
    keyed = key_col is not None
    out_cols = (["packer"] if keyed else []) \
        + ["doc_id", "n_tokens", "shard_id"]

    def pack(key, pdfs, state):
        import pandas as pd

        (offset,) = state.get if state.exists else (0,)
        chunks = list(pdfs)
        if not chunks:
            state.update((offset,))
            yield pd.DataFrame(columns=out_cols)
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
        rows = []
        for doc_id, n in zip(pdf["doc_id"], pdf["n_tokens"]):
            row = {"doc_id": int(doc_id), "n_tokens": int(n),
                   "shard_id": offset // budget}
            if keyed:
                row["packer"] = key[0]
            rows.append(row)
            offset += int(n)
        state.update((int(offset),))
        yield pd.DataFrame(rows, columns=out_cols)

    # coalesce: NULL text must count 0 tokens, not propagate NULL —
    # a NULL n_tokens arrives as NaN in the pandas state function
    # where int() raises, and checkpoint replay then re-delivers the
    # same batch forever (same guard as the watermarked variant).
    tok = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))),
                       r"\s+")).cast("long")
        .alias("n_tokens"),
        (F.col(key_col).cast("string") if keyed else F.lit(0))
        .alias("packer"),
    )
    out_schema = ("packer string, " if keyed else "") \
        + "doc_id long, n_tokens long, shard_id long"
    return tok.groupBy("packer").applyInPandasWithState(
        pack,
        outputStructType=out_schema,
        stateStructType="next_offset long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_shard_pack_stream_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int] = 120,
) -> bool:
    """Drain a (doc_id, text) parquet stream through shard_pack_stream
    into a parquet sink. The file sink is Spark's transactional
    streaming sink (_spark_metadata manifest), so replays after partial
    writes stay exactly-once without a batch_id-keyed subpath."""
    docs = _read_parquet_stream(spark, input_dir, _DOCS_SCHEMA)
    return _drain_to_parquet(shard_pack_stream(docs), output_dir,
                             checkpoint_dir, timeout_s, output_mode="append")


def shard_pack_stream_watermarked(docs: DataFrame,
                                  delay_s: int = 60,
                                  budget: Optional[int] = None,
                                  ) -> DataFrame:
    """Late-data-tolerant shard packer: the in-order packer's contract
    breaks if the source delivers out of order (crawl logs have
    bounded jitter), so this variant holds a REORDER BUFFER in state —
    rows wait until the manually-tracked watermark (max event time
    seen minus ``delay_s``) passes them, then emit in (ts, doc_id)
    order with the same cumulative-offset carry. Rows later than an
    already-emitted frontier would break determinism; the watermark
    guarantees that can't happen for jitter ≤ delay_s, and a row
    arriving LATER than the watermark (> delay_s out of order) is
    dropped with shard_id = -1 (an explicit quarantine row, never a
    silent reorder of sealed shards). State per packer key is
    (next_offset, max_ts, parallel buffer arrays) — bounded by the
    source's jitter window, not the stream length.

    Drain contract (test-pinned): the emitted rows equal the batch
    prefix scan over the (ts, doc_id)-sorted ADMITTED input — rows
    that arrived within the delay — restricted to ts ≤ final
    watermark. Quarantined rows are excluded from the scan entirely
    (their tokens never enter the offset stream), so a batch oracle
    must filter them out too, not merely sort by ts (review r5.4 #5);
    rows inside the final delay window stay buffered (a live stream
    emits them as the watermark advances)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from pdfspark.queries import _SHARD_BUDGET

    if budget is None:
        budget = _SHARD_BUDGET

    def pack(key, pdfs, state):
        import pandas as pd

        if state.exists:
            offset, max_ts, b_doc, b_ts, b_tok = state.get
            buf = list(zip(b_ts, b_doc, b_tok))
        else:
            offset, max_ts, buf = 0, -(1 << 62), []
        # the frontier sealed by PRIOR emissions: a row at or before it
        # arrived > delay_s out of order — quarantine (-1), because
        # emitting it now would put its tokens after shards its ts
        # belongs before
        frontier = max_ts - delay_s
        chunks = list(pdfs)
        rows = []
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            for doc_id, ts, n in zip(pdf["doc_id"], pdf["ts_s"],
                                     pdf["n_tokens"]):
                ts = int(ts)
                if ts <= frontier:
                    rows.append({"doc_id": int(doc_id),
                                 "n_tokens": int(n), "shard_id": -1})
                    continue
                buf.append((ts, int(doc_id), int(n)))
                max_ts = max(max_ts, ts)
        wm = max_ts - delay_s
        buf.sort()
        keep = []
        for ts, doc_id, n in buf:
            if ts <= wm:
                rows.append({"doc_id": doc_id, "n_tokens": n,
                             "shard_id": offset // budget})
                offset += n
            else:
                keep.append((ts, doc_id, n))
        state.update((int(offset), int(max_ts),
                      [d for _, d, _ in keep],
                      [t for t, _, _ in keep],
                      [n for _, _, n in keep]))
        yield pd.DataFrame(rows,
                           columns=["doc_id", "n_tokens", "shard_id"])

    # null-ts rows are unorderable — drop them JVM-side BEFORE the
    # stateful stage (the CLAUDE.md null-event-time rule: one bad row
    # must never wedge the checkpoint replay loop — a NaN in the
    # pandas long column would raise in int()); null text coalesces so
    # n_tokens stays non-null (review r5.4 #1)
    tok = docs.filter(F.col("ts").isNotNull()).select(
        "doc_id",
        F.col("ts").cast("long").alias("ts_s"),
        F.size(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))),
                       r"\s+")).cast("long").alias("n_tokens"),
        F.lit(0).alias("packer"),
    )
    return tok.groupBy("packer").applyInPandasWithState(
        pack,
        outputStructType="doc_id long, n_tokens long, shard_id long",
        stateStructType=("next_offset long, max_ts long, "
                        "buf_doc array<long>, buf_ts array<long>, "
                        "buf_tok array<long>"),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------- stream IVF assignment

def ivf_assign_expr(seeds) -> "F.Column":
    """Nearest-centroid cell id as a PURE column expression over the
    quantized vector column ``qv`` (the pinned ×1000 BIGINT convention):
    ``seeds`` is the bounded [(sid, [int, …]), …] centroid list (the
    8-row IVF seed convention), inlined as an array-of-structs literal
    so assignment runs entirely map-side in the JVM — no join, no
    shuffle, no state; exactly what an embedding STREAM needs (window
    functions and stateful argmax are unavailable there). Ties break
    to the smallest sid, matching the batch assign CTE's
    ROW_NUMBER ... ORDER BY dot DESC, sid."""
    seed_structs = F.array(*[
        F.struct(
            F.lit(int(sid)).alias("sid"),
            F.array(*[F.lit(int(x)) for x in sv]).alias("sv"),
        )
        for sid, sv in seeds
    ])
    scored = F.transform(
        seed_structs,
        lambda s: F.struct(
            F.aggregate(
                F.zip_with(F.col("qv"), s["sv"], lambda a, b: a * b),
                F.lit(0).cast("long"), lambda acc, x: acc + x,
            ).alias("dot"),
            (-s["sid"]).alias("neg_sid"),
        ),
    )
    # struct ordering: (dot, neg_sid) ascending → the LAST element has
    # the max dot, ties resolved to the largest neg_sid = smallest sid
    return (-F.element_at(F.array_sort(scored), -1)["neg_sid"]) \
        .cast("long").alias("cell")


def quantize_embedding_col(col: str = "embedding") -> "F.Column":
    """The pinned ×1000 integer quantization as a column (shared by
    batch and stream paths — CAST DOUBLE inside the lambda, FLOOR+0.5,
    per the float32-lambda oracle gotcha)."""
    return F.transform(
        F.col(col),
        lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast("long"),
    ).alias("qv")


def ivf_assign_stream(embs: DataFrame, seeds) -> DataFrame:
    """Embedding stream → (vec_id, cell): quantize + nearest-centroid
    per micro-batch, fully map-side (the scale path: cell assignment
    never shuffles; downstream per-cell search co-partitions on the
    cell id). Works unchanged on batch DataFrames — the
    drain-equals-batch test relies on exactly that."""
    return embs.select(
        "vec_id", quantize_embedding_col("embedding")
    ).select("vec_id", ivf_assign_expr(seeds))


# ------------------------------------------- IVF index maintenance (r8)
# The third index family (after the minhash band index and the
# keep-first gram index): a maintained ANN index over a growing
# embedding corpus, on the shared index lifecycle (compaction
# re-buckets by cell). Rows are (vec_id, cell, qv): the quantized
# vector is STORED in the index so per-cell search never joins back
# to the raw corpus.

_IVF_INDEX_SCHEMA = ("vec_id long, cell long, qv array<long>")


def build_ivf_index(embs: DataFrame, seeds) -> DataFrame:
    """(vec_id, cell, qv) index rows from a (vec_id, embedding)
    corpus: pinned ×1000 quantization + map-side nearest-centroid
    assignment (no join, no shuffle). ONE implementation for the
    batch build and the append stream — the cell assignment must
    never fork from ivf_assign_stream's."""
    return embs.select(
        "vec_id", quantize_embedding_col("embedding")
    ).select("vec_id", ivf_assign_expr(seeds), "qv")


def run_ivf_index_append_stream_once(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    seeds,
    timeout_s: Optional[int] = 120,
) -> bool:
    """ANN-index maintenance, append side: admitted (vec_id,
    embedding) rows → (vec_id, cell, qv) deltas. Assignment is
    map-side per batch — the stream carries no state and no shuffle;
    compaction (not the crawl) pays the cell re-bucketing."""
    return _run_delta_append_stream_once(
        spark, input_dir, index_dir, checkpoint_dir,
        "vec_id long, embedding array<float>",
        functools.partial(build_ivf_index, seeds=seeds), timeout_s)


def run_ivf_tombstone_stream_once(
    spark: SparkSession,
    dels_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int] = 120,
) -> bool:
    """ANN-index maintenance, delete side: (vec_id) takedowns →
    tombstones. A taken-down vector must stop being retrievable the
    moment its tombstone lands (similarity search over removed content
    is itself a takedown violation).

    PINNED POLICY — tombstones key on the BARE vec_id, no provenance
    (unlike the gram family's keeper rows): the subtraction matches
    every generation's rows for that id, so a re-append of a
    taken-down id BEFORE the next compaction stays dead, and that
    compaction folds the id away entirely. Re-admission of a
    taken-down identity is effective only when it lands AFTER the
    compaction that folded its tombstone (production re-admission
    therefore follows the between-drain compaction; both halves are
    test-pinned). This is the right default for takedowns — an id,
    once removed, must not resurrect by accident."""
    return _run_tombstone_stream_once(
        spark, dels_dir, index_dir, checkpoint_dir, "vec_id", timeout_s)


def read_ivf_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Live view of a maintained IVF index: (vec_id, cell, qv) rows
    minus tombstoned vec_ids, the exact shape ivf_topk_decisions
    consumes."""
    return _read_live_index(spark, index_dir, _IVF_INDEX_SCHEMA, "vec_id",
                            "vec_id")


def compact_ivf_index(spark: SparkSession, index_dir: str,
                      out_dir: str, nparts: Optional[int] = None) -> int:
    """Compact into a cell-bucketed base generation: repartitioning by
    cell co-locates per-cell search after compaction (the read path
    itself never shuffles the index)."""
    return _write_generation(spark, read_ivf_index(spark, index_dir),
                             out_dir, nparts, "cell")


def _ivf_decisions_cell(k, qpdf, lpdf):
    """Cogrouped applyInPandas body of ivf_topk_decisions: one cell's
    top-``k`` live rows per query by exact int64 dot, self kept."""
    import numpy as np
    import pandas as pd

    from pdfspark.textops import cell_topk

    qid, rank, vid, dot = cell_topk(
        qpdf["query_id"].to_numpy(),
        np.array(list(qpdf["q_qv"]), dtype=np.int64),
        lpdf["vec_id"].to_numpy(), np.array(list(lpdf["qv"]), dtype=np.int64),
        k, cosine=False, skip_self=False)
    return pd.DataFrame({"query_id": qid, "rank": rank, "vec_id": vid,
                         "dot": dot})


def ivf_topk_decisions(query_embs: DataFrame, live_index: DataFrame,
                       seeds, k: int = 1) -> DataFrame:
    """Top-k most-similar index vectors (integer dot product over the
    pinned ×1000 quantization) within each query's IVF cell, against
    a MAINTAINED index view. Scale shape: query assignment is
    map-side (the seed argmax stays a column expression); candidates
    only ever form WITHIN a cell (bucketed, never all-pairs — the
    ann_ivf_bucketed contract). Ties break to the smaller vec_id.
    Returns (query_id, rank, vec_id, dot).

    r9 (guide §4.2): scoring + ranking run as exact int64 NumPy per
    cell via cogrouped applyInPandas, replacing the former per-pair
    interpreted zip_with fold + per-query window — measured ~20× on the
    sf1.0 sweep (ann_index_takedown 53 s → seconds) with identical
    output (int64 dots are exact; textops.cell_topk's lexsort reproduces
    the (dot DESC, vec_id ASC) tie-break). cell_topk tiles queries and
    index rows, so per-task memory is O(_BLOCK²) at any cell size."""
    from pyspark.sql import types as T

    q = query_embs.select(
        F.col("vec_id").alias("query_id"),
        quantize_embedding_col("embedding"),
    ).select(
        "query_id", F.col("qv").alias("q_qv"), ivf_assign_expr(seeds)
    )
    schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("rank", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("dot", T.LongType()),
    ])
    body = functools.partial(_ivf_decisions_cell, int(k))
    body.__name__ = "ivf_decisions_cell"  # the plan names the stage after it
    return q.groupBy("cell").cogroup(
        live_index.groupBy("cell")
    ).applyInPandas(body, schema)


def compact_ivf_index_recentered(
    spark: SparkSession, index_dir: str, out_dir: str, seeds,
    nparts: Optional[int] = None,
):
    """The full re-bucketing compaction ivf_recenter_seeds' docstring
    defers to: refresh the centroids from the live view (one k-means
    step), REASSIGN every live vector to its new argmax cell, and
    write the re-bucketed base generation at ``out_dir/base``.
    Returns (new_seeds, row_count) — the caller must search the new
    generation with the returned seeds (cell ids keep their sids but
    their geometry moved). Counters centroid drift after many append
    drains without touching the crawl path: assignment cost is paid
    here, at compaction cadence, never per-batch."""
    live = read_ivf_index(spark, index_dir)
    new_seeds = ivf_recenter_seeds(live, seeds)
    rebucketed = live.select("vec_id", "qv").select(
        "vec_id", ivf_assign_expr(new_seeds), "qv")
    return new_seeds, _write_generation(spark, rebucketed, out_dir, nparts,
                                        "cell")


def ivf_recenter_seeds(live_index: DataFrame, seeds) -> list:
    """Centroid refresh at compaction cadence (one k-means-style step
    over the live index): each cell's new centroid is the element-wise
    mean of its LIVE quantized vectors, rounded back to integer
    milli-units with the pinned FLOOR(x + 0.5) convention; a cell with
    no live vectors keeps its old seed (stable geometry — cell ids
    never reshuffle, so existing index rows stay valid until the next
    full re-bucketing compaction chooses to reassign). Returns the
    same [(sid, [int, …])] shape ivf_assign_expr consumes.

    Scale shape: one posexplode + groupBy(cell, dim) partial-aggregated
    mean — the result is centroids × dims rows (config-sized, never
    corpus-sized), so the driver collect is bounded by construction."""
    dim_means = (
        live_index.select("cell", F.posexplode("qv").alias("dim", "x"))
        .groupBy("cell", "dim")
        .agg(F.avg("x").alias("m"))
        .select(
            "cell", "dim",
            F.expr("CAST(FLOOR(m + 0.5) AS BIGINT)").alias("q"),
        )
    )
    by_cell = {}
    # bounded collect: centroids × dims rows (e.g. 8 × 64), config-sized
    for r in dim_means.collect():
        by_cell.setdefault(r.cell, {})[r.dim] = r.q
    out = []
    for sid, sv in seeds:
        dims = by_cell.get(int(sid))
        if dims is None:
            out.append((int(sid), [int(x) for x in sv]))
        else:
            # invariant (ADVICE r8 #3): a refreshed centroid must keep
            # the seed's dimensionality — a short qv in the live view
            # would silently shrink it and truncate later zip_with dots
            if len(dims) != len(sv):
                raise ValueError(
                    f"ivf_recenter_seeds: cell {sid} refreshed to "
                    f"{len(dims)} dims, seed has {len(sv)}")
            out.append((int(sid), [dims[d] for d in sorted(dims)]))
    return out


def run_ivf_search_stream_once(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    seeds,
    k: int = 1,
    timeout_s: Optional[int] = 120,
) -> bool:
    """Stream-side similarity search vs the maintained IVF index
    (the query face of the third index family, mirroring
    run_minhash_stream_dedup_once's stream-static topology): drain a
    (vec_id, embedding) query stream, searching each micro-batch via
    foreachBatch against the STATIC live view — read_ivf_index
    composed ONCE and cached, because the index never changes
    mid-drain (appends and takedowns land between drains, the family
    cadence contract). Zero state store, zero per-batch index reads.
    Sink is EXACTLY-ONCE: each batch's (query_id, rank, vec_id, dot)
    decisions land in their own ``batch_id=N`` subpath with
    mode("overwrite"), so a replayed batch overwrites its own partial
    output. The drained union must equal ivf_topk_decisions over the
    same live view (test-pinned drain equivalence)."""
    live = read_ivf_index(spark, index_dir).persist()
    live.count()  # materialize the cache before the first batch

    def search(batch_df: DataFrame, batch_id: int) -> None:
        ivf_topk_decisions(batch_df, live, seeds, k=k).write.mode(
            "overwrite"
        ).parquet(f"{output_dir}/batch_id={batch_id}")

    try:
        return _drain_foreachbatch_once(
            spark, input_dir, "vec_id long, embedding array<float>",
            search, checkpoint_dir, timeout_s)
    finally:
        live.unpersist(blocking=False)


# --------------------------------------- stream substring excision vs index

def gram_hash_grams(docs: DataFrame, n: int = 20) -> DataFrame:
    """(doc_id, p, h) word-level n-gram digests of a (doc_id, text)
    corpus — one md5 per overlapping n-gram, computed as a single JVM
    expression (transform/sequence/slice/md5: no Python in the path).
    Shared by the index build and the per-batch probe so both sides
    hash identically."""
    return docs.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).where(F.size("ws") >= n).select(
        "doc_id",
        F.posexplode(F.expr(
            f"transform(sequence(0, size(ws) - {n}),"
            f" i -> md5(array_join(slice(ws, i + 1, {n}), ' ')))"
        )).alias("p", "h"),
    )


def build_gram_index(docs: DataFrame, n: int = 20) -> DataFrame:
    """Historic n-gram digest index from a (doc_id, text) corpus: one
    (h, first_doc) row per DISTINCT digest of an overlapping word
    n-gram, keeper = min doc_id — the maintained gram index's row
    shape, written as its ``base``, which the streaming excision joins
    against (the streaming sibling of dedup_substring_spans'
    self-groupBy dup set; at 10^12 scale this is written bucketed by
    digest once per corpus rebuild)."""
    return gram_hash_grams(docs, n).groupBy("h").agg(
        F.min("doc_id").alias("first_doc"))


def covered_slots(spans: DataFrame, n: int) -> DataFrame:
    """(doc_id, p) span origins → the DISTINCT (doc_id, i) word slots
    they cover — bounded fan-out of n rows per span. Shared by the
    batch dedup (queries.dedup_substring_spans) and the streaming
    excision so a span can never mean different slots in the two."""
    return spans.select(
        "doc_id", F.explode(F.expr(f"sequence(p, p + {n - 1})")).alias("i")
    ).distinct()


def excise_covered(docs_ws: DataFrame, covered: DataFrame) -> DataFrame:
    """Rebuild each doc minus its covered word slots: ``docs_ws`` is
    (doc_id, ws array), ``covered`` is (doc_id, i) slots to remove; a
    word survives iff no covering slot exists (left-anti equi-join),
    and cleaned text reassembles order-pinned
    (array_sort(collect_list(struct)) — the CLAUDE.md cross-engine
    rebuild idiom). Returns (doc_id, text, removed_words); on
    single-space-normalized corpora (the ``ws = split(text, ' ')``
    regime both callers use) docs with nothing removed come back
    byte-identical — with irregular whitespace the split/array_join
    rebuild preserves empty tokens only while untouched (ADVICE r6
    scope note) — and fully-covered docs come back ''. ONE
    implementation for the batch query and its streaming
    twin (review r6.1 #3) — a divergence here would silently split
    drain-equals-batch."""
    toks = docs_ws.select("doc_id", F.posexplode("ws").alias("i", "w"))
    kept = toks.join(covered, ["doc_id", "i"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "w"))),
                lambda x: x["w"],
            ),
            " ",
        ).alias("txt"),
        F.count(F.lit(1)).alias("kept_words"),
    )
    return (
        docs_ws.select("doc_id", F.size("ws").alias("total"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("txt", F.lit("")).alias("text"),
            (F.col("total") - F.coalesce("kept_words", F.lit(0)))
            .cast("long").alias("removed_words"),
        )
    )


def keepfirst_dup_spans(grams: DataFrame) -> DataFrame:
    """(doc_id, p) origins of every n-gram occurrence that is NOT the
    corpus-global first occurrence of its digest: self-groupBy on the
    digest (map-side-combined count + min over the (doc_id·2²⁰ + p)
    occurrence key) joined back as a plain equi-join — Catalyst
    broadcasts the dup set at toy SFs and shuffles at scale, both
    correct. ONE implementation for the batch query
    (queries.dedup_substring_spans) and the incremental keep-first
    stream (r7) — the Lee-et-al keep-first rule must never fork."""
    key = (F.col("doc_id") * F.lit(1048576) + F.col("p")).cast("long")
    dups = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"), F.min(key).alias("first_key"))
        .where(F.col("c") > 1)
        .select("h", "first_key")
    )
    return (
        grams.join(dups, "h")
        .where(key != F.col("first_key"))
        .select("doc_id", "p")
    )


def run_substring_keepfirst_stream_once(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    n: int = 20,
    timeout_s: Optional[int] = 120,
) -> bool:
    """Incremental WITHIN-STREAM keep-first substring dedup (r7 — the
    full streaming twin of dedup_substring_spans, one step beyond the
    static-index excision): each micro-batch excises (a) every n-gram
    occurrence whose digest already appeared in an EARLIER batch
    (accumulated index hit) and (b) every within-batch occurrence that
    is not the batch-first (shared keepfirst_dup_spans), then appends
    its own distinct digests to the index for the batches after it.
    When batches arrive in occurrence-key order (doc_ids nondecreasing
    across batches — the crawl-increment contract, same ordering the
    minhash incremental assumes), the drained output EQUALS the batch
    dedup_substring_spans over the union of all inputs (test-pinned
    across ≥3 micro-batches): the global-first occurrence of any gram
    lives in the earliest batch holding it and is batch-first there,
    so it is kept; same-batch later occurrences fall to (b) and
    later-batch occurrences to (a).

    Exactly-once on BOTH sinks: output rows land in batch_id=N
    subpaths with overwrite (ADVICE r4 #2), and the index increment is
    itself a batch_id=N overwrite subpath — a replayed batch rewrites
    its own increment instead of appending duplicate digests. The
    index read for batch N unions only subdirs k < N, so a replay
    never sees its own half-written increment and self-excises the
    copy it should keep. At 100-TB scale the index is the corpus's
    distinct-digest table — bucketed by digest on a real deployment;
    here plain parquet subdirs keep the sandbox shape identical.

    Cross-drain continuation: an ``index_dir/base`` subdir (written by
    compact_gram_index between drains) is read as history by EVERY
    batch — so the next crawl increment runs as a NEW drain (new input
    dir, fresh checkpoint, batch ids restarting at 0) against all
    prior drains' digests, and the k<N rule only ever applies to the
    current drain's own increments.

    Takedown provenance (r8, VERDICT r7 missing #1): index rows are
    ``(h, first_doc)`` — a digest enters the index at the first batch
    where LIVE history lacks it, with provenance = that batch's
    keep-first keeper (min doc_id).  The history read goes through
    read_gram_index, which drops every row whose provenance doc is
    tombstoned (``index_dir/tombstones``, written by
    run_gram_tombstone_stream_once) and a digest stops excising the
    moment its last live row is gone — so after a takedown a fresh
    crawl of that content is KEPT, not excised against a copy that no
    longer exists, and once that recrawl is kept its own row makes
    the digest live history again (new keeper).  An already-live
    digest never gains a second row, so excised later copies can
    never ghost-resurrect it after their source's takedown.  With no
    tombstones the read-side digest set is identical to the r7
    index-everything behavior (a digest enters at its first appearing
    batch and stays), so drain==batch is unchanged."""

    def excise(batch_df: DataFrame, batch_id: int) -> None:
        g = batch_df.select("doc_id", F.split("text", " ").alias("ws"))
        grams = gram_hash_grams(batch_df, n)
        # two consumers (span build + increment anti-join) — persist
        # so the index scan doesn't run twice per batch
        hist = read_gram_index(
            spark, index_dir, before_batch=batch_id
        ).select("h").persist()
        try:
            spans = keepfirst_dup_spans(grams).unionByName(
                grams.join(hist, "h").select("doc_id", "p")
            )
            excise_covered(g, covered_slots(spans, n)).write.mode(
                "overwrite"
            ).parquet(f"{output_dir}/batch_id={batch_id}")
            # increment = digests LIVE history lacks, with this
            # batch's keep-first keeper as provenance (min doc_id —
            # the occurrence-key min's doc component)
            grams.join(hist, "h", "left_anti").groupBy("h").agg(
                F.min("doc_id").alias("first_doc")
            ).write.mode("overwrite").parquet(
                f"{index_dir}/batch_id={batch_id}"
            )
        finally:
            hist.unpersist(blocking=False)

    return _drain_foreachbatch_once(
        spark, input_dir, _DOCS_SCHEMA, excise,
        checkpoint_dir, timeout_s)


def substring_excise_against_index(batch_docs: DataFrame,
                                   gram_index: DataFrame,
                                   n: int = 20) -> DataFrame:
    """One increment's span excision against a STATIC digest index:
    every word n-gram of a batch doc whose digest hits the index marks
    its n word slots covered (history grams excise ALL stream
    occurrences — there is no keep-first here: the kept canonical copy
    lives in the history corpus the index was built from), and a word
    survives iff no covering span exists. Returns (doc_id, text,
    removed_words) with cleaned text rebuilt order-pinned.

    Per-doc independent given the static index, so draining a stream
    through this per micro-batch equals running it once over the
    union — the state-free streaming contract, same as the minhash
    incremental. All joins are digest / (doc_id, i) equi-joins; the
    covered fan-out is bounded at n rows per hit."""
    g = batch_docs.select("doc_id", F.split("text", " ").alias("ws"))
    spans = (
        gram_hash_grams(batch_docs, n)
        .join(gram_index, "h")
        .select("doc_id", "p")
    )
    return excise_covered(g, covered_slots(spans, n))


def run_substring_excise_stream_once(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    n: int = 20,
    timeout_s: Optional[int] = 120,
) -> bool:
    """Stream-side exact-substring excision vs a static historic gram
    index (the streaming twin of dedup_substring_spans, ROADMAP r7
    #3a): drain a (doc_id, text) stream, excising history-duplicated
    spans per micro-batch via foreachBatch — zero state store (the
    index never changes mid-stream and docs are never compared to each
    other). Sink is EXACTLY-ONCE by the same batch_id=N subpath +
    overwrite contract as the minhash stream dedup (ADVICE r4 #2).
    Drain equals the batch function over the union of all inputs
    (test-pinned). ``index_dir`` is a maintained gram index, read once
    through read_gram_index before the drain starts."""
    index = read_gram_index(spark, index_dir).select("h").persist()
    index.count()  # materialize before the first batch

    def excise(batch_df: DataFrame, batch_id: int) -> None:
        substring_excise_against_index(batch_df, index, n).write.mode(
            "overwrite"
        ).parquet(f"{output_dir}/batch_id={batch_id}")

    try:
        return _drain_foreachbatch_once(
            spark, input_dir, _DOCS_SCHEMA, excise,
            checkpoint_dir, timeout_s)
    finally:
        index.unpersist(blocking=False)


# ----------------------------------------- band-index maintenance (ROADMAP r8-c)

def run_band_index_append_stream_once(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int] = 120,
) -> bool:
    """Index-maintenance stream, append side: kept (doc_id, text) docs
    → (hist_id, band, sig) deltas via build_band_index. The minhash
    band index is not static — every admitted crawl increment must
    become history for the increments after it."""
    return _run_delta_append_stream_once(
        spark, input_dir, index_dir, checkpoint_dir, _DOCS_SCHEMA,
        build_band_index, timeout_s)


def run_band_tombstone_stream_once(
    spark: SparkSession,
    dels_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int] = 120,
) -> bool:
    """Index-maintenance stream, delete side: (hist_id) deletions
    (takedowns, recrawl invalidations) → tombstones. A doc must stop
    matching the moment its tombstone lands: otherwise a fresh crawl
    of a taken-down page would be dropped as a dup of history that no
    longer exists. Like the IVF family, tombstones key on the bare
    hist_id: a re-admission of a taken-down id is effective only after
    the compaction that folds its tombstone away."""
    return _run_tombstone_stream_once(
        spark, dels_dir, index_dir, checkpoint_dir, "hist_id", timeout_s)


def read_band_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Live view of a maintained band index: (hist_id, band, sig) rows
    minus tombstoned hist_ids, the exact shape minhash_dedup_decisions
    consumes."""
    return _read_live_index(spark, index_dir, _BAND_INDEX_SCHEMA,
                            "hist_id", "hist_id")


def compact_band_index(spark: SparkSession, index_dir: str,
                       out_dir: str, nparts: Optional[int] = None) -> int:
    """Compact into a base generation repartitioned by (band, sig), so
    post-compaction collision joins co-locate bucket-wise."""
    return _write_generation(spark, read_band_index(spark, index_dir),
                             out_dir, nparts, "band", "sig")


_GRAM_INDEX_SCHEMA = "h string, first_doc long"


def run_gram_tombstone_stream_once(
    spark: SparkSession,
    dels_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    timeout_s: Optional[int] = 120,
) -> bool:
    """Gram-index maintenance, delete side (r8, VERDICT r7 missing
    #1): (doc_id) takedowns → tombstones. Why keeper-level is exact:
    keep-first excised every non-keeper copy from the corpus text, so
    the keeper is the ONLY live occurrence — once it is taken down the
    gram no longer exists in the corpus and a fresh crawl of that
    content must be kept, not excised.

    Cadence: drain==batch holds only when the tombstone set is fixed
    for the whole keep-first drain (a replayed batch would otherwise
    excise less than its first attempt; the batch_id=N overwrite keeps
    the sink consistent either way).

    Unlike the bare-id band/IVF subtraction, gram tombstones kill
    only rows whose PROVENANCE doc is the taken-down id — a kept
    recrawl writes a fresh keeper row, so re-admission works without
    waiting for compaction (the provenance design's whole point)."""
    return _run_tombstone_stream_once(
        spark, dels_dir, index_dir, checkpoint_dir, "doc_id", timeout_s)


def read_gram_index(spark: SparkSession, index_dir: str,
                    before_batch: Optional[int] = None) -> DataFrame:
    """Live view of a maintained keep-first gram index: ``base`` plus
    the ``batch_id=k`` increments at the index root (k < before_batch
    when draining — the replay-safety rule) minus every row whose
    provenance doc is tombstoned. Returns (h, first_doc) rows;
    excision callers select("h") and join.

    Live-provenance semantics: a row means "doc first_doc is the
    keeper whose admission made this digest history" (the write side
    adds a digest only at the first batch where live history lacked
    it), so row-level tombstone subtraction is exact — a digest keeps
    excising while its keeper is live and stops the moment the keeper
    is taken down. A recrawl kept after a takedown writes a fresh
    row and the digest becomes live history again (its new keeper);
    excised later copies never added rows, so they can't
    ghost-resurrect a digest after its keeper's takedown."""
    return _read_live_index(spark, index_dir, _GRAM_INDEX_SCHEMA,
                            "first_doc", "doc_id", increments="",
                            before_batch=before_batch)


def compact_gram_index(spark: SparkSession, index_dir: str,
                       out_dir: str) -> int:
    """Compact a keep-first gram index into a base generation of
    distinct live-provenance (h, first_doc) rows (not bucketed here; by
    digest on a real deployment). A digest whose last live keeper was
    taken down is absent from the new generation. Between drains
    means after run_substring_keepfirst_stream_once returns True: a
    half-written increment folded into base would make the replayed
    batch see its own digests as history and self-excise the copy it
    should keep (the hazard the k<N read rule exists to prevent)."""
    return _write_generation(
        spark, read_gram_index(spark, index_dir).distinct(), out_dir, None)
