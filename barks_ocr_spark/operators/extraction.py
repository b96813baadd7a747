"""The flagship extraction job: interleaved docs → ordered span arrays.

Physical shape (designed for a 10^12-doc table):

  Pass 1 (tiny shuffle): heading candidates, distinct per doc →
      groupBy(variant).agg(count(*)) → filter ≥3. Candidates are rare
      (headers/page-number-shaped spans only) and short strings, so this
      aggregate is a few MB at any corpus size; the surviving set is
      collected and broadcast (`books/src/book_pages.py:295-321`'s
      two-pass repeated-heading rule, distributed).

  Pass 2 (narrow, shuffle-free): mapInArrow over the docs table's own
      splits runs the whole per-document kernel (kernels/arrowspans.py)
      on Arrow batches. Every document's work is intra-row, so this stage
      scales linearly with executors — no join, no shuffle, no skewed
      keys. A task cap merges splits with a narrow coalesce, never a
      shuffle. Skewed giant docs (splash pages with 100× spans) are
      stragglers, not hot shuffle keys. A table of at least
      SPREAD_MIN_BYTES with fewer splits than the session's cores is
      spread by doc_id when it is read (load_documents(spread=True),
      which job.py uses); giant docs clustered in one parquet row group
      still share one task.

All string work is vectorized Arrow/RE2 inside the batch — no per-row
Python UDFs anywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from barks_ocr_spark.kernels import textnorm as tn
from barks_ocr_spark.schemas import DOCUMENTS_SPANS_SCHEMA


def heading_candidates_arrow(docs: DataFrame) -> DataFrame:
    """(doc_id, variant) heading candidates, distinct per document, from
    the Arrow kernel (kernels/arrowspans.heading_candidates_batch).

    The per-span regex work runs as RE2 passes inside mapInArrow, with
    the pandas-`str.strip` whitespace and Unicode-digit semantics of the
    golden kernel (parity pinned by tests/test_arrow_kernel.py).
    """
    import pyarrow as pa

    from barks_ocr_spark.kernels import arrowspans

    def _gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield arrowspans.heading_candidates_batch(batch)

    # ship only the text strings across the Arrow boundary — pass 1
    # never reads kind/media_ref/offset bytes. Plain nested-field
    # extraction (spans.text), NOT filter+transform HOFs: the field path
    # is a codegen'd GetArrayStructFields while the HOF pair evaluates
    # interpreted lambdas per span (measured 1.99s → 1.60s for the
    # candidate scan at 32 cores on 2.4M docs, identical output — media
    # spans carry empty text, which the kernel's nonempty gate drops).
    return docs.select("doc_id", F.col("spans.text").alias("texts")).mapInArrow(
        _gen, "doc_id string, variant string"
    )


def repeating_headings_counted(docs: DataFrame) -> DataFrame:
    """variants appearing on ≥3 distinct docs, with their distinct-doc
    counts (A7). Returns DataFrame[variant, n_docs]."""
    # The kernel emits (doc_id, variant) pairs ALREADY distinct per
    # document (batch-local dedup + one row per doc per batch), so the
    # distinct-doc count is a plain count(*) — no distinct-expand, the
    # aggregate shuffles 33k partial counts instead of re-deduplicating
    # 3.8M pairs (measured 9.3s → 7.4s for the pass-1 aggregate at 32
    # cores on 2.4M docs).
    return (
        heading_candidates_arrow(docs)
        .groupBy("variant")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= tn.RUNNING_HEADER_REPEAT_THRESHOLD)
    )


def repeating_headings(docs: DataFrame) -> DataFrame:
    """variants appearing on ≥3 distinct docs (A7). Returns DataFrame[variant]."""
    return repeating_headings_counted(docs).select("variant")


# Driver-memory bound on the broadcast heading set. Genuine running
# headers number in the hundreds; 100k × ~80 chars ≈ 8 MB, far under any
# driver heap, while an adversarial corpus (every doc sharing millions
# of heading-shaped spans) can no longer OOM the driver.
DEFAULT_MAX_REPEATING_VARIANTS = 100_000


def repeating_heading_set(
    docs: DataFrame,
    max_variants: int = DEFAULT_MAX_REPEATING_VARIANTS,
) -> frozenset[str]:
    """Pass-1 result as the driver-side broadcast set, with a BOUNDED
    collect: at most ``max_variants`` variants, chosen deterministically
    by (n_docs desc, variant asc) — the most-repeated headers are the
    real boilerplate, so truncation drops the least-load-bearing tail
    first and every run/partitioning keeps the identical set. The
    orderBy+limit plans as a distributed TakeOrdered, so the driver
    never holds more than the cap. Truncation is logged: silent caps
    read as full coverage when they aren't."""
    rows = (
        repeating_headings_counted(docs)
        .orderBy(F.desc("n_docs"), "variant")
        .limit(max_variants + 1)
        .collect()
    )
    if len(rows) > max_variants:
        import logging

        logging.getLogger(__name__).warning(
            "repeating-heading set truncated to %d variants "
            "(deterministic top by repeat count); corpus has more — "
            "raise max_variants if headers are being missed",
            max_variants,
        )
        rows = rows[:max_variants]
    return frozenset(r["variant"] for r in rows)


def inject_page_scans(docs: DataFrame, page_scans: DataFrame) -> DataFrame:
    """J9: prepend a synthetic full-page-scan media span at reading-order
    head for docs present in ``page_scans``
    (`books/src/llama-parse-build-epub.py:1080-1122`).

    ``page_scans`` is a small dim table → broadcast left join, no shuffle
    of the fat docs side.
    """
    scan = F.broadcast(page_scans.withColumnRenamed("media_ref", "_scan_ref"))
    joined = docs.join(scan, "doc_id", "left")
    scan_span = F.struct(
        F.lit("media").alias("kind"),
        F.lit("").alias("text"),
        F.col("_scan_ref").alias("media_ref"),
        F.lit(-1).cast("int").alias("offset"),
    )
    return joined.withColumn(
        "spans",
        F.when(
            F.col("_scan_ref").isNotNull(),
            F.concat(F.array(scan_span), F.col("spans")),
        ).otherwise(F.col("spans")),
    ).drop("_scan_ref")


def extract(
    docs: DataFrame,
    page_scans: DataFrame | None = None,
    repeating: frozenset[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Full extraction: returns (doc_id, spans) with the output contract
    of kernels/spans.py (span-sequence equality key: kind, text,
    media_ref, order).

    Pass 2 runs via mapInArrow on raw RecordBatches
    (kernels/arrowspans.py): no Python-object span materialization, RE2
    string passes on contiguous buffers — ~4× faster per core than the
    golden pandas kernel (kernels/spans.py) and far lighter on memory
    bandwidth, which is what multi-core scaling is bound by.
    Byte-identical output to the pandas kernel is pinned by
    tests/test_arrow_kernel.py and the e2e golden tests.

    The kernel runs on ``docs``' own partitions: pass 2 adds no shuffle.
    ``num_partitions`` caps the kernel at that many tasks, merging
    partitions with a narrow ``coalesce`` — a no-op when ``docs`` already
    has that many or fewer; ``None`` leaves the partitions as they are.
    Being narrow, the merge also caps the stage that produces ``docs``
    (its scan, or the anti-join of ``ExtractionJob.run``). Output is
    identical at any partitioning.
    """
    import pyarrow as pa

    from barks_ocr_spark.kernels import arrowspans

    spark = docs.sparkSession
    if repeating is None:
        # bounded deterministic collect — see repeating_heading_set
        repeating = repeating_heading_set(docs)
    bc = spark.sparkContext.broadcast(repeating)

    if page_scans is not None:
        docs = inject_page_scans(docs, page_scans)
    if num_partitions is not None:
        docs = docs.coalesce(num_partitions)

    def _gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rep = bc.value
        for batch in batches:
            yield arrowspans.extract_batch(batch, rep)

    return docs.select("doc_id", "spans").mapInArrow(_gen, DOCUMENTS_SPANS_SCHEMA)


def extraction_metrics(result: DataFrame) -> DataFrame:
    """Per-partition lineage metrics (A10/R6): pages processed, spans
    emitted, OCR-empty rate (docs with zero text spans)."""
    text_spans = F.size(F.filter("spans", lambda s: s["kind"] == F.lit("text")))
    return (
        result.select(
            F.spark_partition_id().alias("partition_id"),
            F.size("spans").alias("n_spans"),
            (text_spans == 0).cast("int").alias("is_empty"),
        )
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("pages_processed"),
            F.sum("n_spans").alias("spans_emitted"),
            F.sum("is_empty").alias("docs_empty"),
            F.avg("is_empty").alias("ocr_empty_rate"),
        )
    )


# Below this size the doc_id shuffle of load_documents(spread=True)
# costs as much as the kernel work it parallelizes. Measured at local[4],
# single-row-group tables, pass 2 with the heading set precomputed,
# kernel in one task vs spread to 4: 1.2 MB 0.65 s vs 0.67 s, 2.4 MB
# 0.83-1.07 s vs 0.75-0.82 s, 4.7 MB 1.6-2.0 s vs 1.14 s, 12 MB 3.4-3.6 s
# vs 2.3 s.
SPREAD_MIN_BYTES = 2 * 1024 * 1024


def load_documents(
    spark: SparkSession, path: str, spread: bool = False
) -> DataFrame:
    """Read an interleaved-docs parquet/Iceberg table.

    ``spread=True`` hash-partitions the table by doc_id into the
    session's parallelism when its scan has fewer splits than that and
    it holds at least ``SPREAD_MIN_BYTES``. Parquet cannot split a row
    group, so a small table in one or a few files otherwise runs pass 2
    in at most as many kernel tasks as it has row groups. A table with
    enough splits is read as it is and pays no shuffle."""
    df = spark.read.parquet(path)
    if spread:
        par = spark.sparkContext.defaultParallelism
        if (
            df.rdd.getNumPartitions() < par
            and _table_bytes(spark, path) >= SPREAD_MIN_BYTES
        ):
            df = df.repartition(par, "doc_id")
    return df


def _table_bytes(spark: SparkSession, path: str) -> int:
    """Bytes under ``path``, through the Hadoop FileSystem API (works
    for file://, hdfs://, s3a:// alike)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(jpath).getLength()


def fold_footnote_items(items: DataFrame) -> DataFrame:
    """A8 footnote sessionization over a flat labeled-item table
    (doc_id, pos, text, is_footnote, ...): consecutive footnote items
    fold into their marker-started head item; everything else passes
    through (`books/src/llama-parse-build-epub.py:376-411`).

    Shuffle shape: one hash partition on doc_id (grouped-map needs whole
    documents); the fold itself is the vectorized layout kernel."""
    from barks_ocr_spark.kernels import layout

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        return layout.fold_footnotes(pdf)

    return items.groupBy("doc_id").applyInPandas(_fold, items.schema)
