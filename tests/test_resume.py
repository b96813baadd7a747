"""Idempotent resume: kill-and-rerun semantics, zero duplicate spans."""

from __future__ import annotations

import os
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from barks_ocr_spark.datagen import docs as dg
from barks_ocr_spark.operators import extraction
from barks_ocr_spark.schemas import DOCUMENTS_SPANS_SCHEMA
from barks_ocr_spark.sources.checkpoint import ExtractionJob
from barks_ocr_spark.sources.snapshots import SnapshotTable
from sparkjobs import group_jobs


def _versioned_docs(spark, n, seed):
    return spark.createDataFrame(
        dg.gen_documents(n, seed=seed), schema=DOCUMENTS_SPANS_SCHEMA
    ).withColumn("version", F.lit(1).cast("long"))


def _spans_by_doc(df):
    return {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in df.collect()}


def test_snapshot_table_commit_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df1 = spark.range(3).selectExpr("cast(id as string) as doc_id")
    df2 = spark.range(3, 5).selectExpr("cast(id as string) as doc_id", "id as version")
    s0 = t.append(df1)
    s1 = t.append(df2)
    assert (s0, s1) == (0, 1)
    # recorded schemas merge: a column snapshot 0 lacks reads as null there
    assert sorted(map(tuple, t.read(spark).collect())) == [
        ("0", None), ("1", None), ("2", None), ("3", 3), ("4", 4)
    ]
    assert t.read(spark, upto_snapshot=0).columns == ["doc_id"]  # time travel
    assert t.read(spark, upto_snapshot=0).count() == 3


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

    full = _spans_by_doc(extraction.extract(docs))
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
        assert _spans_by_doc(job.read_results(spark)) == full
        ckpt = job.read_checkpoints(spark).collect()
        assert sum(row["pages_processed"] for row in ckpt) == 5
    # cap 1: one kernel task, so one checkpoint row
    assert len(ckpt) == 1


@pytest.fixture(scope="module")
def committed_jobs(spark, tmp_path_factory):
    """A plain and a version-freshness (R2) job, each with one run
    committed over the same 40 versioned docs."""
    docs = _versioned_docs(spark, 40, seed=5)
    root = tmp_path_factory.mktemp("committed")
    jobs = {}
    for version_col in (None, "version"):
        job = ExtractionJob(
            str(root / f"res-{version_col}"), str(root / f"ckpt-{version_col}")
        )
        assert job.run(spark, docs, version_col=version_col)["docs"] == 40
        jobs[version_col] = job
    return docs, jobs


def test_noop_rerun_does_no_extraction_work(spark, committed_jobs, monkeypatch):
    """A rerun with nothing pending commits nothing and skips pass 1 and
    the kernel: the snapshot manifest and the checkpoint rows stay as
    they were, and neither extraction step is ever called. Covers the
    plain anti-join and the version-freshness (R2) resume."""
    docs, jobs = committed_jobs

    def refuse(*_args, **_kwargs):
        raise AssertionError("extraction work ran on a no-op rerun")

    monkeypatch.setattr(extraction, "repeating_heading_set", refuse)
    monkeypatch.setattr(extraction, "extract", refuse)
    for version_col, job in jobs.items():
        results = job.results.snapshots()
        ckpt_rows = sorted(map(tuple, job.read_checkpoints(spark).collect()))
        r = job.run(spark, docs, version_col=version_col)
        assert r == {"snapshot_id": results[-1]["snapshot_id"], "docs": 0}
        assert job.results.snapshots() == results
        assert sorted(map(tuple, job.read_checkpoints(spark).collect())) == ckpt_rows


def test_resume_reads_start_no_job(spark, committed_jobs):
    """Every schema a resume read needs is in the results manifest, so
    building the pending docs or a committed-table view infers no file
    footer and starts no Spark job."""
    docs, jobs = committed_jobs
    builds = {
        "pending": lambda: jobs[None].pending(spark, docs),
        "pending-versioned": lambda: jobs["version"].pending(
            spark, docs, version_col="version"
        ),
        "latest": lambda: jobs["version"].read_results_latest(spark, "version"),
    }
    for version_col, job in jobs.items():
        builds[f"results-{version_col}"] = lambda job=job: job.read_results(spark)
        builds[f"checkpoints-{version_col}"] = lambda job=job: job.read_checkpoints(spark)
    for name, build in builds.items():
        assert group_jobs(spark, f"resume-read-{name}", build) == [], name


class _Killed(Exception):
    """A run killed at an injected point."""


def _kill_lineage_write(monkeypatch, ckpt: Path) -> None:
    write = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if path.startswith(str(ckpt)):
            raise _Killed(path)
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def _kill_manifest_replace(monkeypatch, _ckpt: Path) -> None:
    replace = os.replace

    def killed(src, dst):
        if Path(dst).name == "_snapshots.json":
            raise _Killed(dst)
        return replace(src, dst)

    monkeypatch.setattr(os, "replace", killed)


@pytest.fixture(scope="module")
def fault_corpus(spark):
    """60 versioned docs and the spans of one uninterrupted extract."""
    docs = _versioned_docs(spark, 60, seed=17)
    return docs, _spans_by_doc(extraction.extract(docs.drop("version")))


@pytest.mark.parametrize(
    ("kill", "version_col"),
    [
        (_kill_lineage_write, None),
        (_kill_manifest_replace, None),
        (_kill_manifest_replace, "version"),
    ],
)
def test_killed_commit_reruns_to_one_uninterrupted_run(
    spark, tmp_path, monkeypatch, fault_corpus, kill, version_col
):
    """A run killed inside its commit (lineage written or not) publishes
    nothing; the rerun then commits the same docs once, with lineage for
    every committed snapshot."""
    docs, full = fault_corpus
    ckpt = tmp_path / "ckpt"
    job = ExtractionJob(str(tmp_path / "res"), str(ckpt))
    with monkeypatch.context() as m:
        kill(m, ckpt)
        with pytest.raises(_Killed):
            job.run(spark, docs, version_col=version_col)
    assert job.run(spark, docs, version_col=version_col) == {"snapshot_id": 0, "docs": 60}

    results = job.read_results(spark)
    assert results.count() == results.select("doc_id").distinct().count()
    assert _spans_by_doc(results) == full
    pages = Counter()
    for row in job.read_checkpoints(spark).collect():
        pages[row["snapshot_id"]] += row["pages_processed"]
    assert pages == {s["snapshot_id"]: s["meta"]["docs"] for s in job.results.snapshots()}
    assert not (ckpt / "_snapshots.json").exists()


def test_uncommitted_snapshot_invisible(spark, tmp_path):
    """Crash between data write and manifest commit → data invisible."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(2).selectExpr("cast(id as string) as doc_id"))
    # simulate crash: data dir exists but no manifest entry
    orphan = tmp_path / "t" / "snap-000099"
    spark.range(9).selectExpr("cast(id as string) as doc_id").write.parquet(str(orphan))
    assert t.read(spark).count() == 2
