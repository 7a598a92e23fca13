"""The Spark job around the kernel (SURVEY.md §2B, §3 "our pipeline's
lifecycle"):

    read → filter(magic bytes) → salt/repartition → mapInPandas(kernel)
         → write output + metrics + lineage manifest;  resume = left-anti
           join against the manifest of completed partition keys.

Design rules (SURVEY.md §4): everything relational is plain DataFrame API
so Catalyst gives predicate pushdown / column pruning / AQE for free; the
ONLY Python-side stage is the vectorized Arrow kernel (one ``mapInPandas``,
zero row-wise ``udf()``); a document never crosses a partition boundary
mid-parse.

Scale notes (100 TB / 1000-executor framing):
- Salting: the salt ``pmod(xxhash64(url), P)`` randomizes giant-PDF
  placement so no partition accumulates the skew tail. P is the
  session's ``spark.sql.shuffle.partitions``. ``build_session`` sets it
  to the core count, so a local run's Python stage is ONE wave: every
  extra task pays the Arrow boundary and worker hand-off again, and a
  second wave leaves cores idle behind its last task (salt-count sweep
  on local[4], perfbench corpora, pass wall vs n=8, 8 interleaved
  rounds: n=4 7-12% faster, n=16 9-22% and n=32 24-60% slower). On a
  cluster whose size tail is heavy, P ≈ 2-4× total cores lets the
  scheduler balance giant-PDF skew dynamically, at that fixed cost per
  extra task; set the shuffle partitions to choose. Rows
  are placed on partition ``salt`` directly
  (``repartitionById``): a hash-repartition on the salt would hash it a
  second time, and the P salt values then collide onto fewer than P
  partitions (8 salts on 4 of 8), which doubles the slowest task. AQE
  handles residual skew on the relational side.
- The kernel bounds memory per task: one Arrow batch at a time
  (``spark.sql.execution.arrow.maxRecordsPerBatch``) + a per-document
  decode-size guard in the kernel (document.py ``_MAX_DECODED_STREAM``).
- Resume is manifest-based (deterministic partition keys + dynamic
  partition overwrite ⇒ idempotent replay), not streaming state.
"""

from __future__ import annotations

import functools
import os
import time
from typing import Callable, Iterable, Iterator, Optional, Tuple, Union

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

# ------------------------------------------------------------------ session

def build_session(
    cores: Optional[int] = None,
    shuffle_partitions: Optional[int] = None,
    app: str = "pdfspark",
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    """Local-mode session tuned per /opt guide: AQE on, Arrow on, shuffle
    partitions = cores (not 200): the salted kernel stage then runs in
    one wave (module docstring)."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or cores
    # Scan split size (guide §6): the default 128m leaves a ~126 MB
    # multi-row-group parquet file as a ONE-task scan — at the driver's
    # sf1.0 that serializes every lineitem query on a single core. 16m
    # splits it to its row-group count (~21 MB groups ⇒ 6-wide) with no
    # extra exchange anywhere. Scale-dependent, so env-parameterised:
    # on a production cluster scanning TB inputs set
    # SPARK_GRAFT_MAX_PARTITION_BYTES=512m-1g (fewer, larger map tasks
    # feeding shuffles — guide §2.2/§6.1); the local default only has to
    # out-parallelize single-file testdata.
    max_part_bytes = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.files.maxPartitionBytes", max_part_bytes)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", REPO_ROOT)
        # pyspark.daemon with a cheap per-task importlib.invalidate_caches()
        # (pdfspark/worker_daemon.py); the daemon imports it from REPO_ROOT
        .config("spark.python.daemon.module", "pdfspark.worker_daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ------------------------------------------------------------------ schemas

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("page", T.IntegerType()),
            T.StructField("start", T.LongType()),
            T.StructField("end", T.LongType()),
        ]
    )
)

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("error", T.StringType()),
        T.StructField("doc_lang", T.StringType()),
        T.StructField("doc_title", T.StringType()),
        T.StructField("created", T.StringType()),
        T.StructField("annots_text", T.StringType()),
        T.StructField("outlines_text", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("pdf_bytes", T.LongType()),
        T.StructField("kernel_ms", T.DoubleType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("links_uri", T.StringType()),
        T.StructField("attachments", T.StringType()),
        T.StructField("page_labels", T.StringType()),
        T.StructField("outline_pages", T.StringType()),
    ]
)

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def read_pages(spark: SparkSession, source: str,
               fmt: str = "parquet") -> DataFrame:
    """Source abstraction for the pages table (the north rule names
    Iceberg; this sandbox ships no Iceberg runtime jar, so parquet is the
    tested path and iceberg resolves through the same format hook when
    the catalog is configured):

    - fmt='parquet': ``source`` is a path.
    - fmt='iceberg': ``source`` is a catalog table name
      (``spark.read.format('iceberg').load(name)``); requires the
      iceberg-spark-runtime jar + catalog conf on the cluster.
    Partition pruning on date_trunc(warc_ts) works identically in both.
    """
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(source)
    # the schema is fixed: given, the scan launches no schema-inference
    # job (hive partition columns such as ``d=…/`` are still discovered)
    return spark.read.schema(PAGES_SCHEMA).format(fmt).load(source)


def write_output(df: DataFrame, target: str, fmt: str = "parquet",
                 partition_by: Optional[list] = None) -> None:
    """Sink twin of read_pages: parquet path or ``writeTo`` an Iceberg
    table (idempotent replace via dynamic overwrite either way)."""
    if fmt == "iceberg":
        w = df.writeTo(target)
        (w.overwritePartitions() if partition_by else w.createOrReplace())
        return
    w = df.write.mode("overwrite").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(target)


def _parse_bytes_conf(v: str) -> int:
    """Spark byte-size conf → bytes: bare digits, '…b', or k/m/g/t
    suffixes (optionally with a trailing 'b', e.g. '64m', '1g',
    '134217728b'). Unparseable values fall back to Spark's 128 MB
    default rather than silently mis-sizing the scan-width probe."""
    s = str(v).strip().lower()
    mult = 1
    if s.endswith("b"):
        s = s[:-1]
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("t", 1 << 40)):
        if s.endswith(suffix):
            s, mult = s[:-1], m
            break
    try:
        return int(s) * mult
    except ValueError:
        return 128 * 1024 * 1024


def _parquet_footer_probe(spark: SparkSession,
                          path: str) -> Optional[Tuple[int, int]]:
    """``(scan_width, num_rows)`` of a parquet file or directory, read
    from the FOOTERS alone (no Spark job — never
    ``df.rdd.getNumPartitions()`` in a per-invocation path, VERDICT r3
    wrong #3).

    One recursive walk reads every ``*.parquet`` footer below ``path``, so
    hive-partitioned ``k=v/`` directories count like flat ones. Spark
    splits a file into ceil(bytes / maxPartitionBytes) byte ranges (the
    session's ``spark.sql.files.maxPartitionBytes``), but a
    parquet task only yields rows for row groups whose midpoint falls in
    its range — so the EFFECTIVE width is min(row_groups, byte_splits) per
    file (64 tiny row groups in a 10 MB file still scan ~1-wide; one giant
    row group in a 1 GB file also scans 1-wide), summed across files.

    ``None`` = unknown layout (no file found, or a footer unreadable).
    Every caller maps it to its scale-safe side: treat the scan as narrow
    (widen it) and the table as large."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        files = [path]
    else:
        files = [os.path.join(d, f) for d, _, names in os.walk(path)
                 for f in names if f.endswith(".parquet")]
    if not files:
        return None
    mpb = _parse_bytes_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    width = rows = 0
    try:
        for f in files:
            meta = pq.ParquetFile(f).metadata
            byte_splits = max(1, -(-os.path.getsize(f) // mpb))
            width += min(meta.num_row_groups, byte_splits)
            rows += meta.num_rows
    except (OSError, pa.ArrowException):
        return None
    return width, rows


def _table_repartitioned(spark: SparkSession, sf_dir: str, name: str,
                         key: str) -> DataFrame:
    """``<name>.parquet`` widened to the session's shuffle parallelism
    when the file's row-group layout would scan narrower (the driver's
    testdata is a single row group ⇒ 1-task scans, BASELINE.md).
    CONDITIONAL: at real scale the footer probe sees a wide scan and no
    exchange is added — the repartition only fires for narrow single-
    file inputs, where the downstream per-row work would otherwise run
    single-core (guide §2.5 input skew)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    probe = _parquet_footer_probe(spark, path)
    if probe is None or probe[0] < nparts:
        df = df.repartition(nparts, key)
    return df


def _documents_repartitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet widened (see _table_repartitioned). The
    shuffle moves only (doc_id, text, lang) rows — never PDF bytes."""
    return _table_repartitioned(spark, sf_dir, "documents", "doc_id")


# ------------------------------------------------------------ row-map stage

def _map_rows_batches(fn, names, batches):
    """mapInPandas body of map_rows. Module-level, so it is pickled by
    reference: the worker imports this module (and with it ``pdfspark``)
    before the body runs, and ``fn`` needs no ``sys.path`` set-up."""
    import pandas as pd

    for b in batches:
        records = [out for row in b.itertuples(index=False, name=None)
                   for out in fn(*row)]
        yield pd.DataFrame(records, columns=names)


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]],
             schema: Union[T.StructType, str]) -> DataFrame:
    """The one row-wise Python stage: a single ``mapInPandas`` that calls
    ``fn(*values)`` once per input row, values in ``df.columns`` order.
    ``fn`` returns an iterable of output tuples in ``schema`` order, so
    one input row gives 0, 1 or N output rows; each Arrow batch is built
    from those records in one ``pd.DataFrame(records, columns=names)``."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    body = functools.partial(_map_rows_batches, fn,
                             [f.name for f in schema.fields])
    # the plan names the stage after fn, not after the partial
    body.__name__ = fn.__name__
    return df.mapInPandas(body, schema)


# ------------------------------------------------------------------- kernel

def _extract_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    """mapInPandas body: Arrow batches of (url, html) in, extraction rows
    out. Rows accumulate one list per column: that beats per-row dicts
    when pandas assembles the Arrow batch (profiled ~8% on the
    distributed path)."""
    import pandas as pd
    from pyspark import TaskContext

    from pdfspark.kernel.extract import extract_document

    tc = TaskContext.get()
    part_id = tc.partitionId() if tc is not None else -1
    col_names = [f.name for f in EXTRACT_SCHEMA.fields]
    for pdf_batch in batches:
        cols = {name: [] for name in col_names}
        for url, html in zip(pdf_batch["url"], pdf_batch["html"]):
            buf = bytes(html) if html is not None else b""
            t0 = time.perf_counter()
            r = extract_document(buf)
            elapsed = (time.perf_counter() - t0) * 1000.0
            cols["url"].append(url)
            cols["text"].append(r.text)
            cols["spans"].append(
                [{"page": s.page, "start": s.start, "end": s.end}
                 for s in r.spans]
            )
            cols["n_pages"].append(r.n_pages)
            cols["error"].append(r.error)
            cols["doc_lang"].append(r.lang)
            cols["doc_title"].append(r.title)
            cols["created"].append(r.created)
            cols["annots_text"].append(r.annots)
            cols["outlines_text"].append(r.outlines)
            cols["n_chars"].append(len(r.text) if r.text is not None else 0)
            cols["pdf_bytes"].append(len(buf))
            cols["kernel_ms"].append(elapsed)
            cols["part_id"].append(part_id)
            cols["links_uri"].append(r.links)
            cols["attachments"].append(r.attachments)
            cols["page_labels"].append(r.page_labels)
            cols["outline_pages"].append(r.outline_pages)
        yield pd.DataFrame(cols, columns=col_names)


def filter_pdf_rows(pages: DataFrame) -> DataFrame:
    """Magic-byte prefilter — pushed to the scan by Catalyst so non-PDF
    rows are dropped before the kernel sees them (SURVEY.md §2B row 2).
    The ``pdf`` modality of filter_supported_rows: ``%PDF-`` anywhere in
    the first 1 KB, so a PDF behind web-crawl dirt reaches the kernel."""
    return filter_supported_rows(pages, "pdf")


# SQL twin of kernel.html_extract.looks_like_html + extract_document's
# %PDF--in-head tolerance: the prefilter must never drop a row the kernel
# would have extracted (it may keep a few the kernel then error-rows).
_SUPPORTED_PRED = {
    "pdf": "instr(cast(substring(html, 1, 1024) as string), '%PDF-') > 0",
    "html": (
        "lower(cast(substring(html, 1, 256) as string)) rlike "
        r"'^[\\s]*(<!doctype[\\s]+html|<html|<head|<body|<\\?xml|<!--)'"
        " OR instr(lower(cast(substring(html, 1, 1024) as string)),"
        " '<html') > 0"
    ),
}


def filter_supported_rows(pages: DataFrame,
                          modalities: str = "all") -> DataFrame:
    """Modality-aware prefilter: keep rows the extraction kernel supports.

    ``modalities``: 'pdf' | 'html' | 'all' (PDF-or-HTML) | 'none' (no
    prefilter — every input row reaches the kernel and unsupported ones
    come back as error='unknown-format' rows instead of being dropped)."""
    if modalities == "none":
        return pages.filter(F.col("html").isNotNull())
    preds = ([_SUPPORTED_PRED["pdf"], _SUPPORTED_PRED["html"]]
             if modalities == "all" else [_SUPPORTED_PRED[modalities]])
    return pages.filter(
        F.col("html").isNotNull() & F.expr(" OR ".join(f"({p})" for p in preds))
    )


def extract_pages(
    pages: DataFrame,
    prefilter: bool = True,
    resalt: bool = True,
) -> DataFrame:
    """filter → salt/repartition → kernel. The one kernel placement,
    chosen by what the caller holds:

    - ``resalt=True``: a url-hash salt into the session's shuffle
      partitions (= cores from ``build_session``: one wave of Python
      tasks; ≈ 2-4× cores on a cluster with a heavy size tail, module
      docstring).
    - ``resalt=False``: the caller's own partitioning, when it already
      distributed the rows (e.g. the generator salts by doc_id) —
      shuffling PDF bytes a second time is pure cost; at 100 TB that
      exchange IS the bottleneck."""
    if prefilter:
        pages = filter_pdf_rows(pages)
    pages = pages.select("url", "html")
    if resalt:
        salts = int(pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        # giant-PDF skew: the url hash spreads the size tail uniformly;
        # one doc = one row, so partition cost ≈ sum of its doc sizes.
        # The salt IS the partition id (placed directly, no re-hash)
        pages = pages.repartitionById(
            salts, F.pmod(F.xxhash64("url"), F.lit(salts)).cast("int"))
    return pages.mapInPandas(_extract_batches, EXTRACT_SCHEMA)


POSITIONS_SCHEMA = (
    "url string, page int, offset long, x double, y double, w double"
)


def extract_pages_struct(pages: DataFrame) -> DataFrame:
    """Opt-in Tagged-PDF extraction: content-order text PLUS the
    structure-order linearization (struct_text, None for untagged docs).
    Same zero-extra-shuffle mapInPandas shape as extract_pages."""
    from pdfspark.kernel.extract import extract_text

    def struct_row(url, html):
        r = extract_text(bytes(html) if html is not None else b"",
                         structure=True)
        return [(url, r.text, r.struct_text)]

    return map_rows(filter_pdf_rows(pages).select("url", "html"), struct_row,
                    "url string, text string, struct_text string")


def extract_pages_positions(pages: DataFrame) -> DataFrame:
    """Opt-in geometric extraction: one row per glyph with device-space
    (x, y) — the input for downstream word-break/column detection. Runs
    the kernel's per-glyph path (≈2.4× the batched decode cost), so it is
    a SEPARATE operator rather than a column on the hot extraction path;
    same zero-extra-shuffle mapInPandas shape as extract_pages."""
    from pdfspark.kernel.extract import extract_text

    def glyph_rows(url, html):
        r = extract_text(bytes(html) if html is not None else b"",
                         positions=True)
        return [(url, gp.page, gp.offset, gp.x, gp.y, gp.w)
                for gp in r.glyph_positions or []]

    return map_rows(filter_pdf_rows(pages).select("url", "html"), glyph_rows,
                    POSITIONS_SCHEMA)


def columns_reading_order_extract(spark: SparkSession, sf_dir: str,
                                  fmt: str = "pdf_2col",
                                  layout: str = "fixed") -> DataFrame:
    """Fused harness for the layout-analysis operator: synthesize PDFs
    whose content-stream order defeats plain linearization — fmt
    'pdf_2col' (two columns written row-major), 'pdf_kerned' (words
    positioned by kerns with no space glyphs), 'pdf_narrow_gutter'
    (ragged 40pt gutter, needs layout='density') — extract with glyph
    positions, reconstruct READING order (kernel/layout.py, ``layout``
    mode passed through). Same single-Python-stage shape as
    roundtrip_extract; output is (url, text) where text must be
    byte-identical to the source — a full byte-identity oracle for
    geometry-aware reading order."""
    from pdfspark.kernel.extract import extract_text
    from pdfspark.kernel.layout import reading_order_text

    def reading_order_row(doc_id, text, lang):
        url, buf = _synth_page(int(doc_id), text, lang, fmt, 0)
        r = extract_text(buf, positions=True)
        return [(url, reading_order_text(r, layout=layout))]

    return map_rows(_documents_repartitioned(spark, sf_dir)
                    .select("doc_id", "text", "lang"),
                    reading_order_row, "url string, text string")


def table_cells_extract(spark: SparkSession, sf_dir: str,
                        fmt: str = "pdf_table",
                        flagged: bool = False,
                        spanned: bool = False,
                        continued: bool = False) -> DataFrame:
    """Fused harness for structured table extraction (layout tier 3):
    synthesize grid PDFs whose content streams are written cell-by-cell
    in COLUMN order (fmt 'pdf_table' — plain linearization provably
    interleaves rows), extract with glyph positions, and emit ONE ROW
    PER CELL via layout.table_cells — (url, row_idx, col_idx,
    cell_text), each cell byte-identical to its source word pair. Same
    single-Python-stage shape as roundtrip_extract; the 1→N cell
    explosion happens inside the Arrow batch, so no array column ever
    crosses the driver boundary (CLAUDE.md scalar-output rule).

    ``flagged=True`` adds the tier-4b header flag (layout.
    table_cells_flagged) as an ``is_header`` 0/1 long column — long,
    not boolean, so the driver's pandas canonicalization sorts it the
    same way DuckDB's CAST(… AS BIGINT) does. ``spanned=True`` adds
    the tier-5 ``col_span`` long column (layout.table_cells_spanned)
    instead. ``continued=True`` reads one logical table paginated
    across pages (layout.table_cells_continued, tier 5c): row_idx
    continues across page boundaries; not combinable with
    flagged/spanned (the paginated fmt is the plain grid)."""
    from pdfspark.kernel.extract import extract_text
    from pdfspark.kernel.layout import _table_cells_full, table_cells_continued

    def cell_rows(doc_id, text, lang):
        url, buf = _synth_page(int(doc_id), text, lang, fmt, 0)
        r = extract_text(buf, positions=True)
        # table_cells is the full surface minus the flag/span columns —
        # one loop serves all three shapes, unused columns are simply
        # dropped (review r6.1 #5); the continued shape swaps in the
        # cross-page row offsets
        cells = (
            [t + (False, 1) for t in table_cells_continued(r)]
            if continued else _table_cells_full(r)
        )
        return [(url, row_idx, col_idx, cell)
                + ((int(is_hdr),) if flagged else ())
                + ((col_span,) if spanned else ())
                for _pg, row_idx, col_idx, cell, is_hdr, col_span in cells]

    schema = "url string, row_idx long, col_idx long, cell_text string"
    if flagged:
        schema += ", is_header long"
    if spanned:
        schema += ", col_span long"
    return map_rows(_documents_repartitioned(spark, sf_dir)
                    .select("doc_id", "text", "lang"), cell_rows, schema)


# ------------------------------------------------- metrics / lineage tables

def partition_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition metrics row (SURVEY.md §2B aggregation row): doc/error
    counts, byte totals, kernel-latency percentiles."""
    return extracted.groupBy("part_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_err"),
        F.sum("pdf_bytes").alias("bytes_in"),
        F.sum("n_chars").alias("chars_out"),
        F.percentile_approx("kernel_ms", 0.5).alias("p50_ms"),
        F.percentile_approx("kernel_ms", 0.95).alias("p95_ms"),
        F.max("kernel_ms").alias("max_ms"),
    )


def error_breakdown(extracted: DataFrame) -> DataFrame:
    return (
        extracted.groupBy(F.coalesce("error", F.lit("ok")).alias("status"))
        .agg(F.count("*").alias("n"))
        .orderBy("status")
    )


# --------------------------------------------------- checkpointed batch run

# run_pipeline's lineage manifest: one row per completed partition key
_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("part_key", T.IntegerType()),
        T.StructField("run_elapsed_s", T.DoubleType()),
    ]
)


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of the Hadoop ``FileSystem`` that
    owns its scheme (local, ``hdfs://``, ``s3a://``, …) under the
    session's Hadoop configuration."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    npart: int = 64,
    modalities: str = "all",
) -> dict:
    """Checkpoint-based resumable batch run (the north rule's resume path).

    Idempotence scheme: every url maps to a deterministic
    ``part_key = pmod(xxhash64(url), npart)``; output parquet is
    partitioned by part_key and written with dynamic partition overwrite,
    so replaying a partition REPLACES its directory instead of duplicating
    rows. A manifest parquet lists completed part_keys; on resume they are
    anti-joined away. Killing the job between stages never produces a
    manifest entry without its (complete) output partition, because the
    manifest append happens only after the output write returns.
    """
    out_data = os.path.join(output_dir, "extracted")
    out_manifest = os.path.join(output_dir, "manifest")
    out_metrics = os.path.join(output_dir, "metrics")

    # the idempotence scheme REQUIRES dynamic partition overwrite; with the
    # Spark default (static) a resume would truncate completed output —
    # enforce it here instead of trusting the caller's session config
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    keyed = pages.withColumn(
        "part_key", F.pmod(F.xxhash64("url"), F.lit(npart)).cast("int")
    )
    done_keys: set = set()
    # a missing manifest means nothing is done yet; it is not read, so a
    # clean first run logs no FileNotFoundException. Known schemas: the
    # reads launch no schema-inference job
    if _path_exists(spark, out_manifest):
        done = spark.read.schema(_MANIFEST_SCHEMA).parquet(out_manifest)
        done_keys = {r.part_key for r in done.select("part_key").distinct().collect()}
    todo = keyed.filter(~F.col("part_key").isin(done_keys)) if done_keys else keyed
    if len(done_keys) >= npart:
        # every partition key is in the manifest: nothing to replay —
        # resume must be O(manifest), not O(corpus)
        return {
            "elapsed_s": 0.0,
            "partitions_done": 0,
            "partitions_skipped": len(done_keys),
        }

    t0 = time.time()
    # ORDER MATTERS AT SCALE: the kernel runs NARROW on the input
    # partitioning (raw PDF bytes never cross an exchange); only the
    # extracted text + metrics shuffle on part_key for the partitioned
    # write — for crawl corpora text is a small fraction of the PDF bytes,
    # so this exchange is the cheap one.
    extracted = extract_pages(filter_supported_rows(todo, modalities),
                              prefilter=False, resalt=False)
    keyed_out = extracted.withColumn(
        "part_key", F.pmod(F.xxhash64("url"), F.lit(npart)).cast("int")
    )
    (
        keyed_out.repartition("part_key")
        .write.mode("overwrite")
        .partitionBy("part_key")
        .parquet(out_data)
    )
    elapsed = time.time() - t0

    written = spark.read.schema(EXTRACT_SCHEMA).parquet(out_data)
    # every run processes its ENTIRE todo, so afterwards every one of the
    # npart keys is complete — including keys with zero input rows. Record
    # them all: that makes the complete-manifest early exit above fire on
    # the next resume even for sparse corpora (O(manifest), never a scan).
    new_keys = [k for k in range(npart) if k not in done_keys]
    # lineage manifest: one row per completed partition key
    manifest_rows = spark.createDataFrame(
        [(int(k), elapsed) for k in new_keys], _MANIFEST_SCHEMA)
    manifest_rows.write.mode("append").parquet(out_manifest)
    # metrics: ONLY this run's partitions (part_id is a per-run task id —
    # aggregating across runs would blend unrelated executions), appended
    # with the run's elapsed time as the run marker
    this_run = written.filter(F.col("part_key").isin(new_keys))
    (
        partition_metrics(this_run)
        .withColumn("run_elapsed_s", F.lit(elapsed))
        .write.mode("append")
        .parquet(out_metrics)
    )
    return {
        "elapsed_s": elapsed,
        "partitions_done": len(new_keys),
        "partitions_skipped": len(done_keys),
    }


# -------------------------------------------- synthetic pages-table sources

def pages_from_documents(spark: SparkSession, sf_dir: str,
                         non_pdf_every: int = 0,
                         fmt: str = "pdf") -> DataFrame:
    """Deterministically wrap the driver's ``documents`` table into a
    Common-Crawl-style pages table (BASELINE.json input_hint schema): each
    document's text becomes a one-page Flate-compressed PDF in the ``html``
    binary column. Generation runs distributed inside mapInPandas — no
    driver-side loop, scales with the input.

    The source parquet is often a single row-group (1 task); repartition
    on doc_id BEFORE the generator so both generation and the downstream
    kernel parallelize — the shuffle moves only (doc_id, text) rows, never
    PDF bytes, and the output is already salt-distributed so callers pass
    ``extract_pages(..., resalt=False)``."""
    import datetime

    epoch = datetime.datetime(2025, 1, 1)

    def page_row(doc_id, text, lang):
        i = int(doc_id)
        url, html = _synth_page(i, text, lang, fmt, non_pdf_every)
        return [(url, epoch + datetime.timedelta(hours=i % 8760), html, "",
                 lang)]

    return map_rows(_documents_repartitioned(spark, sf_dir)
                    .select("doc_id", "text", "lang"), page_row, PAGES_SCHEMA)


def doc_id_from_url() -> "F.Column":
    """The ``doc_id`` column parsed back out of a _synth_page url
    (``https://corpus.test/{i:08d}.pdf``)."""
    return (F.regexp_extract("url", r"/(\d+)\.pdf$", 1).cast("long")
            .alias("doc_id"))


def _synth_page(i: int, text: str, lang, fmt: str,
                non_pdf_every: int) -> tuple:
    """One synthetic (url, payload) row — shared by pages_from_documents
    and the fused roundtrip path."""
    from pdfspark.docgen import text_to_html, text_to_pdf, text_to_pdf_multipage

    if non_pdf_every and i % non_pdf_every == 0:
        # undecodable junk: exercises error='unknown-format'
        html = b"\x00\x01JUNK:%d\xff\xfe" % i
    elif fmt == "html" or (fmt == "mixed" and i % 2 == 1):
        html = text_to_html(text, i, lang or "en")
    elif fmt == "pdf_multi":
        html = text_to_pdf_multipage(text, meta_id=i)
    elif fmt == "pdf_outline_dests":
        # multipage with destination-resolving bookmarks on every 7th
        # doc (r7): ch1→page 0 (explicit /Dest array), ch2→middle page
        # (catalog /Dests name), ch3→last page (GoTo action through
        # the /Names /Dests tree) — page count mirrors the generator's
        # 60-char pagination so the oracle is closed-form
        n_p = (max(len(text), 1) + 59) // 60
        od = ([(f"ch1 {i}", 0), (f"ch2 {i}", n_p // 2),
               (f"ch3 {i}", n_p - 1)] if i % 7 == 0 else None)
        html = text_to_pdf_multipage(text, page_chars=60, meta_id=i,
                                     outline_dests=od)
    elif fmt == "pdf_labels":
        # multipage with a /PageLabels number tree (r7): fixed 60-char
        # pages + the fixed PAGE_LABELS_TREE ranges, so the per-page
        # label column is closed-form in the page count (oracle:
        # i/ii/A-5/A-6/cover…)
        from pdfspark.docgen import PAGE_LABELS_TREE

        html = text_to_pdf_multipage(text, page_chars=60, meta_id=i,
                                     page_labels=PAGE_LABELS_TREE)
    elif fmt == "pdf_2col":
        from pdfspark.docgen import text_to_pdf_two_column

        html = text_to_pdf_two_column(text, meta_id=i)
    elif fmt == "pdf_kerned":
        from pdfspark.docgen import text_to_pdf_kerned

        html = text_to_pdf_kerned(text, meta_id=i)
    elif fmt == "pdf_cjk":
        from pdfspark.docgen import text_to_pdf_cjk_kerned

        html = text_to_pdf_cjk_kerned(text, meta_id=i)
    elif fmt == "pdf_narrow_gutter":
        from pdfspark.docgen import text_to_pdf_narrow_gutter

        html = text_to_pdf_narrow_gutter(text, meta_id=i)
    elif fmt == "pdf_post":
        from pdfspark.docgen import text_to_pdf_postfont

        html = text_to_pdf_postfont(text, meta_id=i)
    elif fmt == "pdf_table":
        from pdfspark.docgen import text_to_pdf_table

        html = text_to_pdf_table(text, meta_id=i)
    elif fmt == "pdf_table_sparse":
        from pdfspark.docgen import text_to_pdf_table

        html = text_to_pdf_table(text, meta_id=i, skip_every=5)
    elif fmt == "pdf_vertical":
        from pdfspark.docgen import text_to_pdf_vertical

        html = text_to_pdf_vertical(text, meta_id=i)
    elif fmt == "pdf_rtl":
        # Hebrew transliteration, lines stored in visual (reversed)
        # order — needs layout='rtl' to read back (tier 4c)
        from pdfspark.docgen import text_to_pdf_rtl

        html = text_to_pdf_rtl(text, meta_id=i)
    elif fmt == "pdf_bidi":
        # mixed RTL/LTR lines in visual order (LTR runs un-reversed)
        # — needs layout='bidi' to read back (tier 5a)
        from pdfspark.docgen import text_to_pdf_bidi

        html = text_to_pdf_bidi(text, meta_id=i)
    elif fmt == "pdf_table_ragged":
        # sparse cells + vertically-centered 2-row spans (tier 4a)
        from pdfspark.docgen import text_to_pdf_table

        html = text_to_pdf_table(text, meta_id=i, skip_every=5,
                                 rowspan_every=11)
    elif fmt == "pdf_table_header":
        # row 0 at 15pt over a 12pt body (tier 4b header flag)
        from pdfspark.docgen import text_to_pdf_table

        html = text_to_pdf_table(text, meta_id=i, header_size=15.0)
    elif fmt == "pdf_table_colspan":
        # every 7th cell a horizontal 2-column span (tier 5 colspan)
        from pdfspark.docgen import text_to_pdf_table

        html = text_to_pdf_table(text, meta_id=i, colspan_every=7)
    elif fmt == "pdf_table_multipage":
        # one logical table paginated 4 rows/page (tier 5c row
        # continuation); stops identical across pages by design
        from pdfspark.docgen import text_to_pdf_table

        html = text_to_pdf_table(text, meta_id=i, rows_per_page=4)
    elif fmt == "pdf_layout_mix":
        # heterogeneous layouts, chosen deterministically per doc:
        # plain flow / two-column visual order / kern-positioned words
        from pdfspark.docgen import text_to_pdf_kerned, text_to_pdf_two_column

        html = (text_to_pdf(text, meta_id=i) if i % 3 == 0
                else text_to_pdf_two_column(text, meta_id=i) if i % 3 == 1
                else text_to_pdf_kerned(text, meta_id=i))
    elif fmt == "pdf_tagged":
        from pdfspark.docgen import text_to_pdf_tagged

        html = text_to_pdf_tagged(text, meta_id=i)
    elif fmt == "pdf_annot":
        # deterministic annotation/outline/link/attachment tiers for the
        # oracle: %10 → FreeText + Widget, %5 → FreeText, %7 → two
        # bookmarks, %4 → Link /URI action, %6 → embedded file
        html = text_to_pdf(
            text, meta_id=i,
            freetext_annot=(f"note {i}" if i % 5 == 0 else None),
            widget_value=(f"field {i}" if i % 10 == 0 else None),
            outline_titles=([f"ch1 {i}", f"ch2 {i}"] if i % 7 == 0 else None),
            link_uri=(f"https://link.test/{i}" if i % 4 == 0 else None),
            attachment=((f"att{i}.txt", f"payload {i}".encode())
                        if i % 6 == 0 else None),
        )
    else:
        html = text_to_pdf(text, meta_id=i)
    return f"https://corpus.test/{i:08d}.pdf", html


def roundtrip_extract(spark: SparkSession, sf_dir: str,
                      fmt: str = "pdf") -> DataFrame:
    """FUSED synth→extract for the roundtrip harness queries.

    ``pages_from_documents → extract_pages`` is the production shape (the
    real input is a pages table; generation exists only to synthesize the
    corpus from the driver's documents.parquet). Run separately, the
    synthetic PDF bytes cross an Arrow boundary twice (gen out, kernel
    in) — pure harness overhead, ~35% of the roundtrip wall at sf0.1.
    Here ONE Python stage synthesizes each document and extracts it in
    the same loop, so payload bytes never leave the worker. Plan shape:
    scan → repartition(doc_id) → single mapInPandas (plan-asserted in
    tests/test_plans.py). The unfused production path stays exercised by
    pdf_spans / pdf_error_rows / pdf_multipage_* / pdf_extract_skew_aware
    and scripts/submit_extract.py.

    Emits only (url, text): the roundtrip queries project everything
    else away anyway, but mapInPandas is opaque to Catalyst, so a full
    extraction schema would still be assembled on the Python side —
    including the array<struct> spans column, the slowest pandas→Arrow
    conversion of the batch (guide §4.1; measured ~14% of the flagship
    wall at sf1.0)."""
    from pdfspark.kernel.extract import extract_document

    def roundtrip_row(doc_id, text, lang):
        url, buf = _synth_page(int(doc_id), text, lang, fmt, 0)
        return [(url, extract_document(buf).text)]

    return map_rows(_documents_repartitioned(spark, sf_dir)
                    .select("doc_id", "text", "lang"),
                    roundtrip_row, "url string, text string")


def pages_from_fixtures(spark: SparkSession, copies: int = 1) -> DataFrame:
    """The golden corpus as a pages table (driver smoke + pipeline tests)."""
    import datetime

    from pdfspark.corpus import all_cases

    rows = []
    epoch = datetime.datetime(2025, 1, 1)
    for rep in range(copies):
        for i, c in enumerate(all_cases()):
            rows.append(
                (
                    f"https://fixture.test/{c.case_id}/{rep:06d}.pdf",
                    epoch + datetime.timedelta(hours=i),
                    c.pdf,
                    "",
                    ["en", "de", "ja", "zh", ""][i % 5],
                )
            )
    return spark.createDataFrame(rows, PAGES_SCHEMA)
