"""Plan-shape pins: the scale-critical physical-plan properties.

Correctness tests prove the answers right; these prove the plans stay
the plans we designed — a regression that silently adds a shuffle to the
kernel pass or stops broadcasting a dim would still return correct rows
while becoming a 100 TB disaster.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from barks_ocr_spark.operators import extraction
from barks_ocr_spark.plans import queries as Q
from sparkjobs import group_jobs

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_kernel_pass_has_no_shuffle(spark):
    # spread=False: the pin asserts the KERNEL pass adds no shuffle on
    # top of its input; the r7 scan-spread repartition is input-side
    docs = Q._spanized_docs(spark, SF, spread=False)
    # pass 2 with a precomputed heading set: pure Scan → MapInArrow
    plan = _plan(extraction.extract(docs, repeating=frozenset()))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def _stage_tasks(spark, group: str, action) -> list[int]:
    """Task count of every stage the jobs run by ``action`` ran."""
    return [n for job in group_jobs(spark, group, action) for n in job]


def test_extraction_task_cap_merges_partitions_without_shuffle(spark):
    """``num_partitions`` caps pass 2 at n tasks by merging the input's
    partitions (narrow coalesce), never by a doc_id shuffle; a cap at or
    above the partition count leaves the partitions as they are."""
    # 13 input partitions with no Exchange of their own
    docs = spark.range(0, 130, 1, 13).select(
        F.format_string("doc%07d", "id").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.format_string("the duck found nugget %d today.", "id").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )

    for cap, tasks in [(4, 4), (13, 13), (20, 13), (None, 13)]:
        out = extraction.extract(docs, repeating=frozenset(), num_partitions=cap)
        plan = _plan(out)
        assert "Exchange" not in plan
        assert "MapInArrow" in plan
        ran = _stage_tasks(
            spark,
            f"extract-cap-{cap}",
            lambda: out.write.format("noop").mode("overwrite").save(),
        )
        assert ran == [tasks], (cap, ran)


def test_driver_side_tables_plan_as_local_scans(spark):
    """Tables built on the driver from collected values — the heavy
    hitters' top-k (and its empty form), the curated integrity terms and
    the pipeline's lineage rows — plan as a ``LocalTableScan`` held in
    the plan, never as ``Scan ExistingRDD``, whose collect starts one
    Python task per partition."""
    from barks_ocr_spark.operators import index, pipeline, sketches
    from barks_ocr_spark.operators.cacheutil import unpersist_intermediates

    docs = Q.load(spark, SF, "documents")
    words = spark.sql("SELECT * FROM VALUES ('duck'), ('nugget') AS t(word)")
    _manifest, lineage = pipeline.clean_corpus_with_lineage(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        n=3,
        budget_tokens=400,
        min_words=30,
        min_mean_word_len=4.0,
    )
    tables = {
        "heavy_hitters": sketches.heavy_hitters(docs, k=5),
        "heavy_hitters_empty": sketches.heavy_hitters(docs.limit(0), k=5),
        "missing_terms": index.index_integrity_missing_terms(words, ["Duck", "zebra"]),
        "lineage": lineage,
    }
    try:
        for name, df in tables.items():
            plan = _plan(df)
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (name, plan)
        assert tables["heavy_hitters"].count() == 5
        assert tables["heavy_hitters_empty"].count() == 0
        assert [r["term"] for r in tables["missing_terms"].collect()] == ["zebra"]
        # the column names, types and nullability of the list-built tables
        for name, ddl in (
            ("heavy_hitters", "word string, n_occurrences long"),
            ("heavy_hitters_empty", "word string, n_occurrences long"),
            ("missing_terms", "term string"),
            ("lineage", "stage string, docs_in long, docs_out long"),
        ):
            assert tables[name].schema == DataType.fromDDL(ddl), name
    finally:
        unpersist_intermediates()


def test_extract_spans_scan_prunes_columns(spark):
    docs = Q._spanized_docs(spark, SF)
    plan = _plan(extraction.extract(docs, repeating=frozenset()))
    # only doc_id + text feed the spanizer; the scan must not read the
    # other document columns (lang, source, n_chars)
    scan = plan.split("FileScan", 1)[1][:400]
    assert "lang" not in scan and "n_chars" not in scan


def test_shipping_priority_broadcasts_dims(spark):
    plan = _plan(Q.q_shipping_priority(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_shipping_priority_pushes_filters_to_scan(spark):
    plan = _plan(Q.q_shipping_priority(spark, SF))
    assert "PushedFilters: [" in plan
    # at least one scan carries a real pushed predicate, not just []
    assert any(
        "PushedFilters: [I" in seg or "PushedFilters: [Less" in seg
        or "PushedFilters: [Greater" in seg or "PushedFilters: [EqualTo" in seg
        for seg in plan.split("FileScan")[1:]
    )


def test_word_index_aggregates_partially(spark):
    plan = _plan(Q.q_word_index(spark, SF))
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_minhash_signature_agg_is_partial(spark):
    from barks_ocr_spark.operators import dedup

    docs = Q.load(spark, SF, "documents")
    sh = dedup.shingle_table(docs).select("doc_id", "shingle")
    plan = _plan(dedup.minhash_signatures_from_shingles(sh, k=8))
    assert "partial_min" in plan


def test_topk_cosine_is_takeordered_not_full_sort(spark):
    plan = _plan(Q.q_topk_cosine(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_dedup_corpus_keeplist_is_broadcast_anti_join(spark):
    plan = _plan(Q.q_dedup_corpus(spark, SF))
    # the loser list joins the corpus broadcast + anti: the fat corpus
    # side must never reshuffle on doc_id for the keep-list filter
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_hyphen_dups_broadcasts_hyphenated_sliver(spark):
    plan = _plan(Q.q_index_hyphen_dups(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_scores_is_zero_shuffle_kernel(spark):
    # per-doc signals must not pay a corpus exchange: scan → pandas
    # kernel projection only (r4 "What's wrong" 4)
    plan = _plan(Q.q_repetition_scores(spark, SF))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan


def test_repetition_relational_aggregates_partially(spark):
    # the A/B reference form keeps its map-side combine pin
    from barks_ocr_spark.operators import textstats
    from barks_ocr_spark.plans.queries import load

    df = textstats.repetition_scores_relational(load(spark, SF, "documents"))
    assert "partial_count" in _plan(df)


def test_pii_redact_is_pure_projection(spark):
    plan = _plan(Q.q_pii_redact(spark, SF))
    assert "Exchange" not in plan  # zero shuffle at any scale


def test_contamination_never_shuffles_corpus(spark):
    # eval grams broadcast; the fat corpus side must not exchange other
    # than the final per-doc aggregate (which is doc-local)
    plan = _plan(Q.q_contamination(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_budget_sample_never_sorts_a_whole_group_in_one_task(spark):
    # r4's scale-killer: Window.partitionBy(group) funnels an entire
    # source through ONE task's sort. The two-phase shape must (a) run
    # the exact window per (group, md5-bucket) so sort parallelism is
    # 16^bucket_chars per group, (b) broadcast the tiny bucket table,
    # (c) map-side combine the bucket totals.
    plan = _plan(Q.q_budget_sample(spark, SF))
    windows = [
        seg.split("\n", 1)[0] for seg in plan.split("Window [")[1:]
    ]
    exact = [w for w in windows if "_rk" in w]
    assert exact, "exact running-sum window missing from plan"
    for w in exact:
        assert "_bk" in w, f"exact window not bucket-partitioned: {w}"
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_chunk_dedup_counts_on_hash_not_text(spark):
    # the repeated-chunk count aggregate and anti-join must key on
    # xxhash64(chunk) (8 bytes), never raw chunk text — keying on text
    # ships every sentence through the corpus-proportional shuffle
    plan = _plan(Q.q_chunk_dedup(spark, SF))
    assert "xxhash64" in plan
    assert "HashAggregate(keys=[chunk" not in plan
    # chunk text may ride only the doc_id-keyed reassembly aggregate
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        keys = seg.split(")", 1)[0]
        if keys.startswith("_ck"):
            agg_above = plan.split("Exchange hashpartitioning(" + keys)[0]
            assert "partial_collect_list" not in agg_above.rsplit("\n", 2)[-1]


def test_domain_cap_never_sorts_a_whole_group_in_one_task(spark):
    # same two-phase contract as budget_sample: the exact row_number
    # window must partition on (group, md5-bucket), never group alone
    plan = _plan(Q.q_domain_cap(spark, SF))
    windows = [seg.split("\n", 1)[0] for seg in plan.split("Window [")[1:]]
    exact = [w for w in windows if "row_number" in w]
    assert exact, "row_number window missing from plan"
    for w in exact:
        assert "_bk" in w, f"rank window not bucket-partitioned: {w}"
    assert "BroadcastHashJoin" in plan
    # and the rank filter must reach InferWindowGroupLimit: map tasks
    # pre-trim to cap rows per (group, bucket) before the shuffle, so
    # even the boundary bucket's reduce sort is cap-bounded
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_per_group_topk_queries_pretrim_map_side(spark):
    # O3 per-partition limits: the rank filter must compile to a
    # Partial+Final WindowGroupLimit, so each map task emits at most k
    # rows per group into the shuffle instead of the whole group
    for q in (Q.q_top3_customers_per_nation, Q.q_top_users_per_event_type):
        plan = _plan(q(spark, SF))
        assert "WindowGroupLimit" in plan and "Partial" in plan, q.__name__


def test_simhash_kernel_signatures_are_zero_shuffle(spark):
    from barks_ocr_spark.operators import dedup

    docs = Q.load(spark, SF, "documents")
    plan = _plan(dedup.simhash_signatures_kernel(docs))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan


def test_clean_corpus_pipeline_shape(spark):
    # gate + scrub fuse into projections (no join between them), the
    # decontam keep-list anti-joins broadcast, the budget stage windows
    # per (group, bucket): the whole prep pipeline never SortMergeJoins
    plan = _plan(Q.q_clean_corpus(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "LeftAnti" in plan and "LeftSemi" in plan
    windows = [seg.split("\n", 1)[0] for seg in plan.split("Window [")[1:]]
    assert any("_rk" in w and "_bk" in w for w in windows)
