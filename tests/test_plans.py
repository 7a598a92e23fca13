"""Physical-plan shape assertions (SURVEY.md §4): the plans must be the
ones we'd want at 100 TB — filters pushed to the scan, column pruning,
broadcast joins for dims, no stray exchanges on the no-shuffle paths."""

import random
import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") >= "1995-01-01").select(
        "l_orderkey", "l_extendedprice"
    )
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan, plan


def test_column_pruning_in_read_schema(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    # the scan must read exactly the 2 projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan, plan


def test_q5_uses_broadcast_joins_for_dims(spark):
    from pdfspark.queries import QUERIES

    df = QUERIES["q5_region_revenue"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_extraction_no_shuffle_when_presalted(spark):
    from pdfspark.pipeline import extract_pages, pages_from_fixtures

    pages = pages_from_fixtures(spark)
    plan = plan_of(extract_pages(pages, resalt=False))
    # the kernel stage must not introduce an exchange
    assert "Exchange" not in plan, plan


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def salt_partitions(df) -> int:
    """Partition count of the plan's url-hash salt exchange."""
    m = re.search(r"Exchange shufflepartitionidpassthrough\(.*\), "
                  r"(\d+)\), REPARTITION_BY_NUM", plan_of(df))
    assert m, plan_of(df)
    return int(m.group(1))


@pytest.fixture
def shuffle_partitions(spark):
    """Set ``spark.sql.shuffle.partitions`` (the salt count) for one
    test and restore it after."""
    before = spark.conf.get(SHUFFLE_PARTITIONS)
    yield lambda n: spark.conf.set(SHUFFLE_PARTITIONS, str(n))
    spark.conf.set(SHUFFLE_PARTITIONS, before)


def test_extraction_salting_is_single_exchange(spark, shuffle_partitions):
    """Salting is ONE exchange that places each row on its salt directly:
    a hash-repartition on the salt hashes it again and collides the salts
    onto fewer partitions (8 salts on 4 of 8)."""
    from pdfspark.pipeline import extract_pages, pages_from_fixtures

    shuffle_partitions(8)
    pages = pages_from_fixtures(spark)
    plan = plan_of(extract_pages(pages, resalt=True))
    assert plan.count("Exchange") == 1, plan
    assert "shufflepartitionidpassthrough" in plan.lower(), plan

    pages = pages_from_fixtures(spark, copies=2)
    parts = {r.part_id for r in
             extract_pages(pages).select("part_id").collect()}
    assert len(parts) == 8, parts


def test_extraction_salts_one_partition_per_task_slot(spark, shuffle_partitions):
    """``build_session``'s default shuffle partitions are the core count,
    so the salt count is one partition per task slot: local[4] salts
    into 4 and the kernel stage runs in one wave; a shuffle partition
    count set on purpose is kept."""
    from pdfspark.pipeline import build_session, extract_pages, pages_from_fixtures

    # the session exists, so this applies build_session's settings to it
    session = build_session(cores=4, app="pdfspark-tests")
    assert session.conf.get(SHUFFLE_PARTITIONS) == "4"
    pages = pages_from_fixtures(session, copies=2)
    assert salt_partitions(extract_pages(pages)) == 4
    parts = {r.part_id for r in
             extract_pages(pages).select("part_id").collect()}
    assert parts == {0, 1, 2, 3}, parts
    shuffle_partitions(8)
    assert salt_partitions(extract_pages(pages)) == 8


def test_skew_query_salts_one_partition_per_slot(spark, shuffle_partitions):
    """The registered skew query drives ``extract_pages``' url-hash salt:
    its kernel stage plans exactly one partition per shuffle partition
    (4 under ``build_session(cores=4)``; 32 at 32 cores)."""
    from pdfspark.pipeline import build_session
    from pdfspark.queries import QUERIES

    # build_session resets the shared session's shuffle partitions; the
    # fixture restores them
    session = build_session(cores=4, app="pdfspark-tests")
    assert session.conf.get(SHUFFLE_PARTITIONS) == "4"
    df = QUERIES["pdf_extract_skew_aware"](session, SF_DIR)
    assert salt_partitions(df) == 4
    assert plan_of(df).lower().count("shufflepartitionidpassthrough") == 1


def test_roundtrip_is_single_fused_python_stage(spark):
    """The flagship roundtrip fuses synth+kernel into ONE mapInPandas
    (synthetic payload bytes never cross an Arrow boundary) and carries at
    most one exchange (the doc_id repartition)."""
    from pdfspark.queries import QUERIES

    for name in ("pdf_extract_roundtrip", "html_extract_roundtrip"):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert plan.count("MapInPandas") == 1, (name, plan)
        assert plan.count("Exchange") <= 1, (name, plan)


def test_r3_scan_side_operators_are_shuffle_free(spark):
    """PII scrubbing and stratified sampling are pure maps/filters: they
    must evaluate inside the scan stage with ZERO exchanges (at 100 TB a
    stray shuffle here would move the whole corpus); paragraph dedup may
    shuffle exactly once (the md5 groupBy)."""
    from pdfspark.queries import QUERIES

    for name in ("text_pii_scrub", "sample_stratified"):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert "Exchange" not in plan, (name, plan)
    plan = plan_of(QUERIES["dedup_paragraph_exact"](spark, SF_DIR))
    assert plan.count("Exchange") == 1, plan
    # the sample's scan reads exactly the two projected columns
    plan = plan_of(QUERIES["sample_stratified"](spark, SF_DIR))
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, plan


def test_q1_whole_stage_codegen(spark):
    from pdfspark.queries import QUERIES

    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    df.collect()  # AQE finalizes the plan only on execution
    plan = plan_of(df)
    # '*(n)' is the WholeStageCodegen marker in plan toString; the partial
    # aggregate must sit inside a codegen stage (map-side combine)
    assert "isFinalPlan=true" in plan, plan
    assert "*(1) HashAggregate" in plan and "partial" in plan, plan


def test_top_orders_is_take_ordered(spark):
    from pdfspark.queries import QUERIES

    df = QUERIES["top_orders_global"](spark, SF_DIR)
    plan = plan_of(df)
    # global top-k must be TakeOrderedAndProject, never a full Sort
    assert "TakeOrderedAndProject" in plan, plan


def test_bucketed_join_has_no_exchange(spark):
    """Bucketing (SURVEY §2B salting/bucketing row): pre-bucketing both
    join sides on the key removes the shuffle entirely — the co-location
    strategy for repeated joins at 100 TB."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .mode("overwrite").saveAsTable("li_b"))
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .mode("overwrite").saveAsTable("ord_b"))
    # disable auto-broadcast so the plan shows the big-big join shape the
    # bucketing is for (at 100 TB neither side broadcasts)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_b").hint("merge").join(
            spark.table("ord_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).groupBy("o_orderstatus").agg(F.count("*").alias("n"))
        j.collect()
        plan = plan_of(j)
        assert "SortMergeJoin" in plan, plan
        # everything below the join must be scan-only: bucket co-location
        # means NO exchange feeds either join side
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange" not in join_part, plan
        assert "Bucketed: true" in join_part, plan
        # sanity: result matches the unbucketed join
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey) \
            .groupBy("o_orderstatus").agg(F.count("*").alias("n"))
        assert sorted(map(tuple, j.collect())) == \
            sorted(map(tuple, plain.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_partition_pruning_on_date(spark, tmp_path):
    """warc_ts-derived partition column prunes at the source (the
    100 TB pages table is date-partitioned; a day's job reads a day)."""
    from pdfspark.pipeline import pages_from_fixtures, write_output

    pages = pages_from_fixtures(spark, copies=2)
    p = str(tmp_path / "pruned")
    write_output(
        pages.withColumn("day", F.date_format("warc_ts", "yyyy-MM-dd")),
        p, partition_by=["day"],
    )
    df = spark.read.parquet(p).filter(F.col("day") == "2025-01-01")
    plan = plan_of(df)
    assert "PartitionFilters: [isnotnull(day" in plan, plan
    total_days = (
        pages.select(F.date_format("warc_ts", "yyyy-MM-dd").alias("d"))
        .distinct().count()
    )
    assert total_days > 1
    assert df.count() < pages.count()


def test_neardup_is_bucket_join_not_cartesian(spark):
    """embedding_cosine_neardup must pair vectors WITHIN IVF cells —
    never an all-pairs product of the base table. r9 shape: assignment
    is the shared SQL CTE (8-row seed broadcast is the only allowed
    nested loop, qv attach is a hash join), pair formation is one NumPy
    Gram matmul per cell inside applyInPandas (FlatMapGroupsInPandas) —
    no per-pair join at all, so nothing quadratic ever crosses an
    exchange; per-task memory is bounded by the cell size the centroid
    count controls."""
    from pdfspark.queries import QUERIES

    df = QUERIES["embedding_cosine_neardup"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    # per-cell NumPy pair stage + hash join attaching qv to assignment
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan, plan


def test_ann_numpy_base_is_bounded(spark):
    """The NumPy ANN broadcast must never collect an unbounded base."""
    import pdfspark.queries as q

    src = open(q.__file__).read()
    fn = src.split("def ann_numpy_topk")[1].split("\ndef ")[0]
    assert ".collect()" not in fn.replace(
        "limit(_ANN_BASE_CAP + 1).collect()", ""
    ), "unbounded collect in ann_numpy_topk"


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The bucketized interval join must hash on the bucket key; a naive
    BETWEEN join would be a BroadcastNestedLoopJoin evaluating the range
    predicate events x windows times."""
    from pdfspark.queries import QUERIES

    df = QUERIES["range_join_events_windows"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_asof_join_is_windowed_not_joined(spark):
    """The as-of composition must be a single-pass window over the union
    — no Join operator at all, one exchange on the partition key."""
    from pdfspark.queries import QUERIES

    df = QUERIES["asof_join_last_click"](spark, SF_DIR)
    plan = plan_of(df)
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # user_id hash + AQE reads


def test_decontamination_is_hash_join_not_cartesian(spark):
    """The benchmark-overlap join must hash on the shingle key (the
    tiny benchmark side broadcasts); an all-pairs product of corpus
    shingles would be the 100x death sentence."""
    from pdfspark.queries import QUERIES

    df = QUERIES["decontaminate_ngram_overlap"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_incremental_dedup_joins_on_band_key(spark):
    """Batch-vs-index dedup must pair new and historic docs through
    (band, sig) hash joins — no cartesian, no nested loop — and the
    band table must be materialized (InMemoryTableScan) so the minhash
    kernel runs ONCE, not once per consumer."""
    from pdfspark.queries import QUERIES

    df = QUERIES["dedup_incremental_minhash"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_shard_packing_window_is_not_single_partition(spark):
    """The two-pass prefix scan must never fall back to a global
    single-task window — the intra-block cumsum is partitioned by
    block and the block offsets arrive by broadcast."""
    from pdfspark.queries import QUERIES

    df = QUERIES["shard_pack_token_budget"](spark, SF_DIR)
    plan = plan_of(df)
    assert "SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_curation_pipeline_plan_shape(spark):
    """End-to-end curation composes filter → dedup → pack without
    losing any stage's scale property: no single-task window (the
    pack scan stays two-pass), offsets arrive by broadcast, and the
    dedup exchange is digest-only — `text` is projected away before
    the groupBy(h) shuffle, so no exchange carries the document
    body."""
    from pdfspark.queries import QUERIES

    df = QUERIES["curation_pipeline"](spark, SF_DIR)
    plan = plan_of(df)
    assert "SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_shard_pack_sections_plan_shape(spark):
    """Section-aware packing keeps both parents' scale properties:
    the two-pass scan never collapses to a single-task window, block
    offsets arrive by broadcast, and section/heading text stays
    inside the fused Python stage — no exchange carries it (only the
    encoded key + token count shuffle)."""
    from pdfspark.queries import QUERIES

    df = QUERIES["shard_pack_sections"](spark, SF_DIR)
    plan = plan_of(df)
    assert "SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "section_text" not in line, line
            assert "heading_text" not in line, line


def test_aqe_splits_skewed_join_partitions(spark):
    """The third skew tool (after url-hash salting and hot-key caps):
    AQE's runtime skew-join split. One hot key holds ~90% of the fact
    rows; with skew thresholds scaled to the data, the final adaptive
    plan must mark the sort-merge join skew=true — proof the pipeline
    can lean on runtime re-planning where pre-salting is impossible
    (ad-hoc joins on unknown key distributions)."""
    # two gotchas, found empirically: the skew estimate reads COMPRESSED
    # shuffle bytes (a constant payload lz4s to nothing — use md5), and
    # Spark 4's OptimizeSkewedJoin only engages with the coalesce
    # framework enabled (do NOT disable coalescePartitions)
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(0, 100_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k",
            "concat(md5(CAST(id AS STRING)),"
            " md5(CAST(id+1 AS STRING))) AS payload",
        )
        dim = spark.range(0, 100_000).selectExpr("id AS k", "id AS v")
        j = fact.join(dim, "k").selectExpr("sum(length(payload)) AS s")
        [row] = j.collect()
        assert row["s"] == 100_000 * 64
        plan = plan_of(j)
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan  # the AQEShuffleRead marker
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_late_r3_operators_have_no_cartesian(spark):
    """The closing-batch operators must pair rows through hash joins:
    funnel stages co-partition on user_id, commonness joins the derived
    vocabulary, shard materialization joins the assignment. The only
    nested loop allowed anywhere is sample_match_distribution's 1-row
    target broadcast (same allowance as the 8-row IVF seed)."""
    from pdfspark.queries import QUERIES

    for name in ("events_funnel", "text_unigram_commonness",
                 "shard_materialize"):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
    plan = plan_of(QUERIES["sample_match_distribution"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_r4_webtext_operators_plan_shape(spark):
    """boilerplate_line_removal pairs chunks through hash joins (no
    cartesian/nested-loop); text_char_entropy's (doc_id, char) agg is
    map-side combined (partial HashAggregate before the exchange); the
    length-decile window reads ONLY doc_id (length computed in the scan
    stage — text never enters the window's shuffled payload)."""
    from pdfspark.queries import QUERIES

    plan = plan_of(QUERIES["boilerplate_line_removal"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    plan = plan_of(QUERIES["text_char_entropy"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    # partial aggregation: at least two HashAggregate levels around the
    # doc_id/char exchange (partial_count then count)
    assert plan.count("HashAggregate") >= 2, plan

    plan = plan_of(QUERIES["doc_length_percentile_buckets"](spark, SF_DIR))
    # r5 scale shape (VERDICT r4 next #3): cutpoints come from the
    # approx_percentile sketch (partial_ aggregation before its
    # exchange — mergeable, map-side combined), assignment is a one-row
    # broadcast against the lens table. No window operator, no global
    # sort: the former exact-NTILE single-partition sort is gone.
    import re

    # \b keeps the check off approx_perceNTILE( matches
    assert not re.search(r"\bntile\(", plan.lower()), plan
    assert "Window" not in plan, plan
    assert "Sort " not in plan, plan
    assert "partial_approx_percentile" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_r5_pipeline_operators_plan_shape(spark):
    """decontaminate_span_excise (r9 shape) folds the size-bounded
    broadcast excerpt list over the corpus in ONE mapInPandas stage —
    no join at all (never a CartesianProduct or nested loop), no text
    shuffle beyond the scan-widening doc_id repartition;
    quality_classifier_linear broadcasts the 64-row weight table
    (BroadcastHashJoin) and partial-aggregates the per-doc score
    before its exchange."""
    from pdfspark.queries import QUERIES

    plan = plan_of(QUERIES["decontaminate_span_excise"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" in plan, plan

    plan = plan_of(QUERIES["quality_classifier_linear"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_exact_decontamination_broadcasts_excerpts(spark):
    """decontaminate_exact_substring (r9 shape): the size-bounded
    excerpt list broadcasts to workers and every doc is scanned in ONE
    mapInPandas pass — no join at all (never a CartesianProduct or
    nested loop), no shuffle of text beyond the scan-widening doc_id
    repartition, and no hits-per-doc exchange (the per-doc aggregation
    happens inside the pass)."""
    from pdfspark.queries import QUERIES

    plan = plan_of(QUERIES["decontaminate_exact_substring"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_substring_span_dedup_is_shuffle_join_not_broadcast(spark):
    """dedup_substring_spans (r6): every join is keyed on the digest
    or (doc_id, i) — an EQUI-join that Catalyst may broadcast at toy
    SFs and shuffles at scale, but NEVER a nested loop or cartesian;
    the dup detection must partial-aggregate (map-side combined
    count/min) before its exchange; the word-survival test is a plain
    equi-anti-join."""
    from pdfspark.queries import QUERIES

    plan = plan_of(QUERIES["dedup_substring_spans"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # partial + final aggregation around the digest exchange
    assert plan.count("HashAggregate") >= 2, plan
    # the anti-join survival test exists and is an equi-join
    assert "LeftAnti" in plan, plan


def test_gram_takedown_plan_shape(spark):
    """dedup_gram_takedown (r8): same scale contract as
    dedup_substring_spans — every join is keyed on the digest,
    first_doc/doc_id or (doc_id, i), never a nested loop or
    cartesian; the provenance index partial-aggregates before its
    exchange; the takedown exclusion AND the word-survival test are
    equi-anti-joins (≥2 LeftAnti)."""
    from pdfspark.queries import QUERIES

    plan = plan_of(QUERIES["dedup_gram_takedown"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("LeftAnti") >= 2, plan


def test_keepfirst_stream_batch_plan_shape(spark):
    """The incremental keep-first stream's per-batch excision (r7)
    keeps the batch query's scale shape: digest / (doc_id, i)
    equi-joins only (never a nested loop or cartesian), map-side
    partial + final aggregation around the dup-detection exchange,
    and a LeftAnti word-survival join — with the accumulated-index
    probe unioned in as one more digest equi-join."""
    from pyspark.sql import functions as F

    from pdfspark.streaming import (
        covered_slots, excise_covered, gram_hash_grams,
        keepfirst_dup_spans)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text")
    index = docs.limit(10).select(
        F.md5("text").alias("h"))  # stand-in accumulated index
    g = docs.select("doc_id", F.split("text", " ").alias("ws"))
    grams = gram_hash_grams(docs, 20)
    spans = keepfirst_dup_spans(grams).unionByName(
        grams.join(index, "h").select("doc_id", "p"))
    plan = plan_of(excise_covered(g, covered_slots(spans, 20)))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "LeftAnti" in plan, plan
    assert "Union" in plan, plan


def test_r6_fused_extractors_are_single_python_stage(spark):
    """Every r6 extraction entrant is the same fused shape as the
    flagship: ONE mapInPandas (synth + kernel in a single Arrow pass,
    payload bytes never cross a stage boundary) and at most one
    exchange (the doc_id repartition) — the shape that scales to
    10^12 docs because the corpus streams through exactly one Python
    stage with no shuffle of document content."""
    from pdfspark.queries import QUERIES

    for name in ("pdf_vertical_reading_order", "pdf_rtl_reading_order",
                 "pdf_table_sparse", "pdf_table_ragged",
                 "pdf_table_header_flag", "pdf_table_cells",
                 "pdf_table_colspan", "pdf_table_multipage",
                 "pdf_bidi_reading_order",
                 "html_table_cells", "html_table_spans",
                 "html_heading_outline", "html_section_chunks",
                 "html_list_items"):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert plan.count("MapInPandas") == 1, (name, plan)
        assert plan.count("Exchange") <= 1, (name, plan)


def test_longest_repeat_is_pure_map(spark):
    """text_longest_repeat is the 100-TB pure-map shape: ONE
    mapInPandas directly over the scan, ZERO exchanges (a stray
    shuffle here would move the whole corpus), and the scan reads
    only the two projected columns."""
    from pdfspark.queries import QUERIES

    plan = plan_of(QUERIES["text_longest_repeat"](spark, SF_DIR))
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_band_index_live_view_plan_shape(spark, tmp_path):
    """read_band_index (late r7) must stay scale-correct: the
    tombstone subtraction is ONE hist_id LeftAnti EQUI-join (no nested
    loop, no cartesian — tombstones broadcast in practice via AQE),
    base and delta are read by ONE multi-path parquet scan, and the
    dedup-decision consumer downstream keeps its banded equi-join
    shape."""
    from pdfspark.streaming import (build_band_index,
                                    minhash_dedup_decisions,
                                    read_band_index)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .filter("doc_id < 40").select("doc_id", "text")
    idx = str(tmp_path / "pidx")
    bands = build_band_index(docs)
    bands.filter("hist_id < 20").write.parquet(f"{idx}/base")
    bands.filter("hist_id >= 20").write.parquet(f"{idx}/delta/batch_id=0")
    docs.limit(5).select(docs.doc_id.alias("hist_id")).write.parquet(
        f"{idx}/tombstones/batch_id=0")

    live = read_band_index(spark, idx)
    plan = plan_of(live)
    assert plan.count("LeftAnti") == 1, plan
    # two scans: the tombstones, and ONE over both index paths (base
    # and delta/batch_id=0) — the only one that reads the sig column
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 2, plan
    index_scans = [ln for ln in scans if "sig:string" in ln]
    assert len(index_scans) == 1, plan
    assert "InMemoryFileIndex(2 paths)" in index_scans[0], plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    decisions = minhash_dedup_decisions(
        docs.filter("doc_id >= 45"), live)
    plan = plan_of(decisions)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_gram_index_live_view_plan_shape(spark, tmp_path):
    """read_gram_index (r8) must stay scale-correct: the takedown
    subtraction is ONE first_doc=doc_id LeftAnti EQUI-join against
    the tiny tombstone list (broadcast in practice) and the
    corpus-sized index side pays NO aggregation on the read path —
    live-provenance rows made the per-digest canonical-resolution
    groupBy unnecessary (the full-index distinct happens only in
    compact_gram_index, at compaction cadence)."""
    from pdfspark.streaming import read_gram_index

    idx = str(tmp_path / "gidx")
    rows = spark.createDataFrame(
        [(f"h{i}", i % 7) for i in range(40)],
        "h string, first_doc long")
    rows.filter("first_doc < 4").write.parquet(f"{idx}/base")
    rows.filter("first_doc >= 4").write.parquet(f"{idx}/batch_id=0")
    spark.createDataFrame([(2,), (5,)], "doc_id long").write.parquet(
        f"{idx}/tombstones/batch_id=0")

    live = read_gram_index(spark, idx)
    plan = plan_of(live)
    assert plan.count("LeftAnti") == 1, plan
    # the 100-TB pin: zero aggregation keyed on the DIGEST anywhere —
    # and none on the tombstone side either (a left-anti join ignores
    # duplicate tombstones); base + increments are one multi-path
    # FileScan
    assert "HashAggregate" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_index_live_view_and_search_plan_shape(spark, tmp_path):
    """read_ivf_index + ivf_topk_decisions (r8; r9 NumPy rewrite) must
    stay scale-correct: the tombstone subtraction is one vec_id
    LeftAnti equi-join; query cell assignment is MAP-SIDE (no join for
    assignment — the seed argmax is a column expression); candidates
    only form WITHIN a cell — r9 shape: one exact int64 NumPy matmul
    per cell inside cogrouped applyInPandas (FlatMapCoGroupsInPandas),
    never a cartesian/nested loop and never a single global
    partition."""
    from pdfspark.streaming import (build_ivf_index, ivf_topk_decisions,
                                    read_ivf_index)

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .select("vec_id", "embedding").filter("vec_id < 40")
    seeds = [
        (r.vec_id, r.qv)
        for r in embs.filter("vec_id < 8").selectExpr(
            "vec_id",
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
            "*1000 + 0.5) AS BIGINT)) AS qv").collect()
    ]
    idx = str(tmp_path / "pvidx")
    build_ivf_index(embs, seeds).write.parquet(f"{idx}/base")
    spark.createDataFrame([(3,)], "vec_id long").write.parquet(
        f"{idx}/tombstones/batch_id=0")

    live = read_ivf_index(spark, idx)
    plan = plan_of(live)
    assert plan.count("LeftAnti") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    dec = ivf_topk_decisions(embs.filter("vec_id >= 30"), live, seeds)
    plan = plan_of(dec)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_ann_index_takedown_plan_shape(spark):
    """ann_index_takedown (#127, late r8; r9 NumPy rewrite): the
    registered query's full plan keeps the maintained-index scale
    contract — the tombstone subtraction is a LeftAnti EQUI-join,
    candidates only form WITHIN a cell (r9: the per-cell cogrouped
    NumPy stage, FlatMapCoGroupsInPandas — never a cartesian or
    nested loop, never a single global partition)."""
    from pdfspark.queries import QUERIES

    plan = plan_of(QUERIES["ann_index_takedown"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti" in plan, plan
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_digest_takedown_plan_shape(spark):
    """dedup_digest_takedown (#128, late r8): digest-only shuffles end
    to end — the index build partial-aggregates before its exchange,
    the takedown exclusion is an equi-LeftAnti, decisions join on the
    digest; never a cartesian or nested loop."""
    from pdfspark.queries import QUERIES

    plan = plan_of(QUERIES["dedup_digest_takedown"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "LeftAnti" in plan, plan


def test_digest_index_live_view_plan_shape(spark, tmp_path):
    """read_digest_index (fourth family) must stay scale-correct on
    the read path: base and deltas are one multi-path scan (no
    digest-keyed aggregation at read cadence — the fold happens at
    compaction), the takedown subtraction is ONE broadcast keeper
    LeftAnti EQUI-join, never a cartesian or nested loop."""
    from pdfspark.streaming import build_digest_index, read_digest_index

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text").filter("doc_id < 40")
    idx = str(tmp_path / "dpidx")
    build_digest_index(docs.filter("doc_id < 20")) \
        .write.parquet(f"{idx}/base")
    build_digest_index(docs.filter("doc_id >= 20")) \
        .write.parquet(f"{idx}/delta/batch_id=0")
    spark.createDataFrame([(3,)], "doc_id long").write.parquet(
        f"{idx}/tombstones/batch_id=0")

    plan = plan_of(read_digest_index(spark, idx))
    assert plan.count("LeftAnti") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashAggregate(keys=[digest" not in plan, plan


def test_table_repartitioned_is_conditional(spark, tmp_path):
    """r9 scan widening must be CONDITIONAL (the 100 TB contract): a
    single-row-group file narrower than the session parallelism gets
    exactly one widening exchange, while an input already scanning at
    least as wide as the session gets NONE — at real scale the footer
    probe sees a wide scan and the helper must add zero cost."""
    from pdfspark.pipeline import _table_repartitioned

    narrow = str(tmp_path / "narrow")
    spark.range(1000).selectExpr("id AS doc_id", "'x' AS text") \
        .coalesce(1).write.parquet(f"{narrow}/t.parquet")
    plan = plan_of(_table_repartitioned(spark, narrow, "t", "doc_id"))
    assert "Exchange" in plan, plan

    wide = str(tmp_path / "wide")
    # 12 files ≥ the test session's 8 shuffle partitions ⇒ no widening
    spark.range(1200).selectExpr("id AS doc_id", "'x' AS text") \
        .repartition(12).write.parquet(f"{wide}/t.parquet")
    plan = plan_of(_table_repartitioned(spark, wide, "t", "doc_id"))
    assert "Exchange" not in plan, plan


def test_ann_bruteforce_widening_is_conditional(spark, tmp_path):
    """ann_bruteforce_topk widens embeddings through
    _table_repartitioned: an embeddings dir that already scans at least
    as wide as the session (≥ spark.sql.shuffle.partitions files)
    plans no hash exchange on vec_id."""
    from pdfspark.queries import QUERIES

    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = str(tmp_path / "wide")
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .repartition(nparts).write.parquet(f"{wide}/embeddings.parquet")
    plan = plan_of(QUERIES["ann_bruteforce_topk"](spark, wide))
    assert "hashpartitioning(vec_id" not in plan, plan


def test_ann_ivf_recall_plans_in_a_fresh_session(spark):
    """ann_ivf_recall reads the embeddings_wide view ann_bruteforce_topk
    also reads; it must register that view itself, so it plans even
    when it is the first ANN query a session runs."""
    from pdfspark.queries import QUERIES

    spark.catalog.dropTempView("embeddings_wide")
    plan = plan_of(QUERIES["ann_ivf_recall"](spark, SF_DIR))
    assert "hashpartitioning(vec_id" in plan, plan  # testdata: one row group


def test_ivf_recenter_refuses_short_centroid(spark):
    """r9 invariant (ADVICE r8 #3): a refreshed centroid whose live
    vectors carry fewer dims than the seed must raise loudly instead
    of silently shrinking (later zip_with dots would truncate)."""
    import pytest as _pytest

    from pdfspark.streaming import ivf_recenter_seeds

    live = spark.createDataFrame(
        [(10, 0, [1, 2])],  # 2-dim live vector in cell 0
        "vec_id long, cell int, qv array<long>")
    seeds = [(0, [1, 2, 3])]  # 3-dim seed
    with _pytest.raises(ValueError, match="refreshed to 2 dims"):
        ivf_recenter_seeds(live, seeds)
    # and an empty cell keeps its seed without raising
    empty = spark.createDataFrame([], "vec_id long, cell int, qv array<long>")
    assert ivf_recenter_seeds(empty, seeds) == [(0, [1, 2, 3])]


# adversarial percentile corpora: duplicates, integral positions, N=1/2,
# equal neighbours, wide random values (one seeded draw, in this order)
_rng = random.Random(7)
_PCT_EDGE_CORPORA = {
    "n1": [42.0],
    "n2": [1.0, 2.0],
    "n21_integral": [float(i) for i in range(21)],
    "all_equal": [5.5] * 100,
    "dups_heavy": [float(_rng.choice([1, 2, 2, 2, 3])) for _ in range(997)],
    "two_vals": [0.1] * 50 + [0.3] * 50,
    "rand_money": [round(_rng.uniform(1, 500000), 2) for _ in range(12345)],
    "neg_and_pos": [_rng.uniform(-1e6, 1e6) for _ in range(333)],
    "dups_n21_integral": [5.5] * 9 + [7.25] * 7 + [9.0] * 5,
}


@pytest.mark.parametrize("corpus", ["sf0.001", *_PCT_EDGE_CORPORA])
def test_percentiles_exact_rank_branch_is_conditional_and_identical(
        spark, tmp_path, monkeypatch, corpus):
    """r9: percentiles_exact has two regimes, one result. At toy size
    the single-buffer percentile() aggregate stays (cheapest measured);
    above the footer-probe cutover the exact-rank two-pass plan takes
    over — a range exchange instead of an all-values aggregation
    buffer — and the rows must be identical (the interpolation mirrors
    Percentile.getPercentile including its integral-position and
    equal-neighbour fast paths)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdfspark.queries import QUERIES

    d = SF_DIR
    if corpus in _PCT_EDGE_CORPORA:
        d = str(tmp_path)
        pq.write_table(
            pa.table({"o_totalprice": pa.array(_PCT_EDGE_CORPORA[corpus],
                                               pa.float64())}),
            f"{d}/orders.parquet")

    # "percentile(" is the aggregate; the word alone is in the tmp path
    small = QUERIES["percentiles_exact"](spark, d)
    assert "percentile(" in plan_of(small), plan_of(small)

    monkeypatch.setenv("SPARK_GRAFT_PCT_SINGLE_BUFFER_ROWS", "0")
    big = QUERIES["percentiles_exact"](spark, d)
    big_plan = plan_of(big)
    assert "rangepartitioning" in big_plan, big_plan
    assert "percentile(" not in big_plan, big_plan
    assert small.collect() == big.collect()
