"""Idempotent resume: kill-and-rerun semantics, zero duplicate spans."""

from __future__ import annotations

from barks_ocr_spark.datagen import docs as dg
from barks_ocr_spark.schemas import DOCUMENTS_SPANS_SCHEMA
from barks_ocr_spark.sources.checkpoint import ExtractionJob
from barks_ocr_spark.sources.snapshots import SnapshotTable


def test_snapshot_table_commit_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df1 = spark.range(3).selectExpr("cast(id as string) as doc_id")
    df2 = spark.range(3, 5).selectExpr("cast(id as string) as doc_id")
    s0 = t.append(df1)
    s1 = t.append(df2)
    assert (s0, s1) == (0, 1)
    assert t.read(spark).count() == 5
    assert t.read(spark, upto_snapshot=0).count() == 3  # time travel


def test_partial_run_then_resume_no_duplicates(spark, tmp_path):
    docs_pdf = dg.gen_documents(120, seed=21)
    docs = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SPANS_SCHEMA)
    job = ExtractionJob(str(tmp_path / "res"), str(tmp_path / "ckpt"))

    # simulate a partial (killed-after-commit) run: first 50 docs only
    first_half = docs.filter("doc_id < 'doc0000050'")
    r1 = job.run(spark, first_half)
    assert r1["docs"] == 50

    # full rerun: must process ONLY the remaining 70
    r2 = job.run(spark, docs)
    assert r2["docs"] == 70

    # third run: everything committed → no-op
    r3 = job.run(spark, docs)
    assert r3["docs"] == 0

    result = job.read_results(spark)
    assert result.count() == 120
    assert result.select("doc_id").distinct().count() == 120  # zero dupes

    ckpt = job.read_checkpoints(spark)
    rows = ckpt.collect()
    assert sum(r["pages_processed"] for r in rows) == 120
    snap_ids = {r["snapshot_id"] for r in rows}
    assert snap_ids == {0, 1}


def test_resume_uses_full_corpus_heading_set(spark, tmp_path):
    """A killed-and-resumed job must emit byte-identical spans to one
    uninterrupted run: the repeated-heading (≥3 distinct docs) set must
    come from the FULL docs table, not the pending remainder.

    Plant: heading 'CHRONICLE 9' on docs 0,1,2,8. Full corpus count = 4
    (boilerplate, stripped everywhere). If the resumed run recomputed the
    set over pending docs only (5..9), the count there is 1 and doc 8
    would keep the heading — a span-level divergence."""
    import pandas as pd

    from barks_ocr_spark.operators import extraction

    rows = []
    for i in range(10):
        spans = []
        if i in (0, 1, 2, 8):
            spans.append(
                {"kind": "text", "text": "CHRONICLE 9", "media_ref": "", "offset": 0}
            )
        spans.append(
            {
                "kind": "text",
                "text": f"the duck found nugget number {i} today.",
                "media_ref": "",
                "offset": len(spans),
            }
        )
        rows.append({"doc_id": f"doc{i:07d}", "spans": spans})
    docs = spark.createDataFrame(pd.DataFrame(rows), schema=DOCUMENTS_SPANS_SCHEMA)

    def as_map(df):
        return {
            r["doc_id"]: [tuple(s) for s in r["spans"]] for r in df.collect()
        }

    full = as_map(extraction.extract(docs))
    assert all("CHRONICLE" not in s[1] for spans in full.values() for s in spans)

    # Emulate a run killed after committing its first batch: that batch
    # was extracted under the full-corpus heading set (the killed run saw
    # the whole table), then the job resumes over the full table.
    rep = frozenset(
        r["variant"]
        for r in extraction.repeating_headings(docs).collect()
    )
    first = docs.filter("doc_id < 'doc0000005'")
    # the kernel-task cap changes the checkpoint rows, never the spans
    for cap in (None, 1):
        job = ExtractionJob(
            str(tmp_path / f"res{cap}"), str(tmp_path / f"ckpt{cap}")
        )
        job.results.append(extraction.extract(first, repeating=rep))
        r = job.run(spark, docs, num_partitions=cap)
        assert r["docs"] == 5
        assert as_map(job.read_results(spark)) == full
        ckpt = job.read_checkpoints(spark).collect()
        assert sum(row["pages_processed"] for row in ckpt) == 5
    # cap 1: one kernel task, so one checkpoint row
    assert len(ckpt) == 1


def test_noop_rerun_does_no_extraction_work(spark, tmp_path, monkeypatch):
    """A rerun with nothing pending commits nothing and skips pass 1 and
    the kernel: the snapshot manifests and the checkpoint table stay as
    they were, and neither extraction step is ever called. Covers the
    plain anti-join and the version-freshness (R2) resume."""
    from pyspark.sql import functions as F

    from barks_ocr_spark.operators import extraction

    docs = spark.createDataFrame(
        dg.gen_documents(40, seed=5), schema=DOCUMENTS_SPANS_SCHEMA
    ).withColumn("version", F.lit(1).cast("long"))
    jobs = {}
    for version_col in (None, "version"):
        job = ExtractionJob(
            str(tmp_path / f"res-{version_col}"), str(tmp_path / f"ckpt-{version_col}")
        )
        assert job.run(spark, docs, version_col=version_col)["docs"] == 40
        jobs[version_col] = job

    def refuse(*_args, **_kwargs):
        raise AssertionError("extraction work ran on a no-op rerun")

    monkeypatch.setattr(extraction, "repeating_heading_set", refuse)
    monkeypatch.setattr(extraction, "extract", refuse)
    for version_col, job in jobs.items():
        results, checkpoints = job.results.snapshots(), job.checkpoints.snapshots()
        ckpt_rows = sorted(map(tuple, job.read_checkpoints(spark).collect()))
        r = job.run(spark, docs, version_col=version_col)
        assert r == {"snapshot_id": results[-1]["snapshot_id"], "docs": 0}
        assert job.results.snapshots() == results
        assert job.checkpoints.snapshots() == checkpoints
        assert sorted(map(tuple, job.read_checkpoints(spark).collect())) == ckpt_rows


def test_uncommitted_snapshot_invisible(spark, tmp_path):
    """Crash between data write and manifest commit → data invisible."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(2).selectExpr("cast(id as string) as doc_id"))
    # simulate crash: data dir exists but no manifest entry
    orphan = tmp_path / "t" / "snap-000099"
    spark.range(9).selectExpr("cast(id as string) as doc_id").write.parquet(str(orphan))
    assert t.read(spark).count() == 2
