"""Idempotent resumable extraction job (SURVEY.md §2.9, R1-R6).

Semantics rebuilt from the reference:
- R1 skip-if-output-exists (`pipeline/batch_ocr.py:83-86`) → left-anti
  join of input docs against already-committed result doc_ids.
- R3 job-state gating / R5 backup lineage → snapshot commits: results
  only become visible when the manifest commit lands, so a killed run
  re-processes its uncommitted work and never duplicates committed work.
- R6 checkpoint-on-progress (`tools/florence_check.py:867-931`) → a
  checkpoint table row per (snapshot, partition) with lineage metrics.

At 10^12 docs the anti-join is doc_id-hash against the result table's
doc_id column only (column-pruned scan) — shuffle on the join key with
AQE; or, with Iceberg, a metadata-level NOT IN over snapshot files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from barks_ocr_spark.operators import extraction
from barks_ocr_spark.schemas import DOCUMENTS_SPANS_SCHEMA
from barks_ocr_spark.sources.snapshots import SnapshotTable

_DONE_IDS = StructType([DOCUMENTS_SPANS_SCHEMA["doc_id"]])


class ExtractionJob:
    """Resumable extraction over a docs table into a snapshot table."""

    def __init__(self, result_path: str, checkpoint_path: str) -> None:
        self.results = SnapshotTable(result_path)
        self.checkpoints = SnapshotTable(checkpoint_path)

    def pending(
        self, spark: SparkSession, docs: DataFrame, version_col: str | None = None
    ) -> DataFrame:
        """Docs not yet present in any committed snapshot (R1); with
        ``version_col``, also docs whose input version is NEWER than the
        version they were last processed at (R2 — the reference's
        mtime-freshness rule, `pipeline/gemini_grouper.py:131-136`,
        keyed on an explicit monotonic version instead of wall clock)."""
        if version_col is None:
            # the results' doc_id is the extraction output's: a known
            # type, so the anti-join side is read without inference
            done = self.results.read(spark, schema=_DONE_IDS)
            return docs if done is None else docs.join(done, "doc_id", "left_anti")
        done = self.results.read(spark)
        if done is None:
            return docs
        if version_col in done.columns:
            latest = done.groupBy("doc_id").agg(
                F.max(version_col).alias("_done_version")
            )
            return (
                docs.join(latest, "doc_id", "left")
                .filter(
                    F.col("_done_version").isNull()
                    | (F.col(version_col) > F.col("_done_version"))
                )
                .drop("_done_version")
            )
        return docs.join(done.select("doc_id"), "doc_id", "left_anti")

    def run(
        self,
        spark: SparkSession,
        docs: DataFrame,
        page_scans: DataFrame | None = None,
        num_partitions: int | None = None,
        version_col: str | None = None,
    ) -> dict:
        """Process all pending docs; commit one snapshot + checkpoint rows.

        Returns a summary dict. Calling again after success is a no-op
        (zero pending) that stops after counting the pending docs, before
        pass 1 and the kernel; calling after a mid-run kill re-processes only
        the uncommitted docs — exactly-once in effect. With
        ``version_col`` (a monotonic version column on ``docs``),
        updated docs are re-processed and the version is recorded with
        the result (R2); read the latest per doc via
        :meth:`read_results_latest`.
        """
        pending = self.pending(spark, docs, version_col=version_col)
        # Materialize the pending docs once: their count is the run's doc
        # count (pass 2 emits one row per doc), an empty remainder skips
        # pass 1 and the kernel, and pass 2 reads the cached rows instead
        # of re-running the anti-join. A first run's pending is ``docs``
        # itself: no anti-join to save, and its count is a pruned scan.
        cached = pending is not docs
        if cached:
            pending = pending.persist()
        try:
            n = pending.count()
            if n == 0:
                return {"snapshot_id": self.results.last_snapshot_id(), "docs": 0}
            # The repeated-heading set (≥3 distinct docs) MUST come from
            # the FULL docs table, not the pending remainder: a resumed
            # run that recomputed it over pending-only would classify
            # boilerplate differently than one uninterrupted run (a header
            # on 4 docs with 3 already committed would survive the resumed
            # pass), breaking the exactly-once-in-effect determinism and
            # the reference's whole-book two-pass rule
            # (books/src/book_pages.py:295-321).
            repeating = extraction.repeating_heading_set(docs)
            result = extraction.extract(
                pending,
                page_scans=page_scans,
                repeating=repeating,
                num_partitions=num_partitions,
            )
            if version_col is not None:
                result = result.join(
                    pending.select("doc_id", version_col), "doc_id"
                )
            # Metrics + data from the same computation: the snapshot
            # write fills the cache the metrics read.
            result = result.persist()
            try:
                sid = self.results.append(result, meta={"docs": n})
                metrics = extraction.extraction_metrics(result).withColumn(
                    "snapshot_id", F.lit(sid).cast("long")
                )
                self.checkpoints.append(
                    metrics.select(
                        "partition_id",
                        "snapshot_id",
                        "pages_processed",
                        "spans_emitted",
                        "docs_empty",
                        "ocr_empty_rate",
                    ),
                    meta={"snapshot_id": sid},
                )
                return {"snapshot_id": sid, "docs": n}
            finally:
                result.unpersist()
        finally:
            if cached:
                pending.unpersist()

    def read_results(self, spark: SparkSession) -> DataFrame | None:
        return self.results.read(spark)

    def read_results_latest(
        self, spark: SparkSession, version_col: str
    ) -> DataFrame | None:
        """Latest-version row per doc (the R2 view: superseded results
        stay in earlier snapshots as lineage, like Iceberg time travel)."""
        done = self.results.read(spark)
        if done is None:
            return None
        from pyspark.sql.window import Window

        w = Window.partitionBy("doc_id").orderBy(F.desc(version_col))
        return (
            done.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )

    def read_checkpoints(self, spark: SparkSession) -> DataFrame | None:
        return self.checkpoints.read(spark)
