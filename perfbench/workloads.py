"""The three benchmark workloads: ``extract``, ``resume`` and ``hygiene``.

Each workload registers its cached inputs with a session, runs one
*unit* of work per :meth:`run_unit` call and checks every output it
produces against the reference built with the inputs. A unit is:

- ``extract``: one flagship two-pass ``extraction.extract`` over the
  span corpus, every span materialized (hashed per document in the JVM
  and collected), checked per document against the golden pandas kernel;
- ``resume``: a cycle over a base snapshot committed at set-up — each
  increment a resumed ``ExtractionJob.run`` that commits it, then one
  no-op rerun — checked as "committed union == one uninterrupted
  extract, every doc exactly once, the no-op commits nothing";
- ``hygiene``: ``pipeline.clean_corpus_with_lineage`` at the production
  point, then the four dedup operators, each result checked against a
  DuckDB reference.

Calls into the layers run under ``tracer.span``: a no-op when tracing is
off, so the traced and untraced runs execute the same calls.
"""

from __future__ import annotations

import inspect
import itertools
import json
import shutil
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import inputs as inp

# Partitions for the pass-2 repartition that spreads giant docs.
EXTRACT_PARTITIONS_PER_CORE = 2


@dataclass
class Unit:
    """What one unit of work did and how its outputs checked out."""

    docs: int
    ok: int
    attempted: int
    # wall times of the unit's individual commits (resume only)
    commits_s: list[float] = field(default_factory=list)


def _hash_rows(df) -> dict[str, int]:
    """doc_id -> 64-bit hash of the doc's whole span array, computed in
    the JVM so every span is materialized without shipping it back."""
    from pyspark.sql import functions as F

    return {r[0]: r[1] for r in df.select("doc_id", F.xxhash64("spans")).collect()}


def _span_keys(table) -> dict[str, list[tuple]]:
    """doc_id -> span sequence (kind, text, media_ref, offset)."""
    out = {}
    for doc_id, spans in zip(table.column("doc_id").to_pylist(), table.column("spans").to_pylist()):
        out[doc_id] = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
    return out


class Workload:
    name = ""
    # units run before timing, until units run at a steady speed (the
    # first ones run several times slower while the JIT and the Python
    # workers settle)
    warmup_units = 1

    def __init__(self, inputs: inp.Inputs, work: Path, cores: int, tracer) -> None:
        self.inputs = inputs
        self.work = work
        self.cores = cores
        self.tracer = tracer

    def register(self, spark) -> None:
        """Input registration, part of every set-up round."""
        raise NotImplementedError

    def prepare_checks(self, spark) -> None:
        """Load reference outputs (once, untimed)."""

    def run_unit(self, spark) -> Unit:
        raise NotImplementedError

    def check_unit(self, spark) -> tuple[int, int]:
        """Checks of the last unit that need work of their own, kept out
        of the unit's wall time: (ok, attempted)."""
        return 0, 0

    def final_check(self, spark) -> tuple[int, int]:
        """An extra, stricter check after the timed phase: (ok, attempted)."""
        return 0, 0

    def install_wrappers(self) -> None:
        """Traced runs: wrap package functions called inside the layers."""

    def kernel_docs(self) -> list:
        """Arrow batches the standalone kernel measurement runs on."""
        return []

    def unit_metrics(self, spans, selft, incl) -> dict[str, list[float]]:
        """Per-layer samples from the spans of one traced unit."""
        return {}


# ── extract ─────────────────────────────────────────────────────────────


class Extract(Workload):
    name = "extract"
    warmup_units = 3

    def register(self, spark) -> None:
        from barks_ocr_spark.operators import extraction

        self.docs = extraction.load_documents(spark, str(self.inputs.path("docs.parquet")))
        self.n_docs = self.docs.count()

    def prepare_checks(self, spark) -> None:
        self.ref = _hash_rows(spark.read.parquet(str(self.inputs.path("golden.parquet"))))

    def _extract(self):
        from barks_ocr_spark.operators import extraction

        return extraction.extract(self.docs, num_partitions=EXTRACT_PARTITIONS_PER_CORE * self.cores)

    def run_unit(self, spark) -> Unit:
        out = self._extract()
        with self.tracer.span("extraction.pass2"):
            got = _hash_rows(out)
        ok = sum(1 for d, h in self.ref.items() if got.get(d) == h)
        attempted = max(len(self.ref), len(got))
        return Unit(self.n_docs, ok, attempted)

    def final_check(self, spark) -> tuple[int, int]:
        """Exact span-sequence equality (kind, text, media_ref, order)
        for every document, without hashing."""
        import pyarrow.parquet as pq

        got = _span_keys(self._extract().toArrow())
        want = _span_keys(pq.read_table(self.inputs.path("golden.parquet")))
        ok = sum(1 for d, spans in want.items() if got.get(d) == spans)
        return ok, max(len(want), len(got))

    def install_wrappers(self) -> None:
        _wrap_extraction(self.tracer)

    def kernel_docs(self) -> list:
        return _batches(self.inputs.path("docs.parquet"))

    def unit_metrics(self, spans, selft, incl):
        out = _extraction_metrics(spans, incl)
        for s in spans:
            if s.name == "extraction.pass2":
                i = incl[s.span_id]
                out["extraction.pass2_s"] = [s.duration]
                out["extraction.pass2_cpu_s"] = [i["executor_cpu_s"]]
                out["extraction.pass2_tasks"] = [i["tasks"]]
                out["extraction.pass2_executor_run_s"] = [i["executor_run_s"]]
        return out


def _wrap_extraction(tracer) -> None:
    from barks_ocr_spark.operators import extraction

    tracer.wrap(extraction, "repeating_heading_set", "extraction.pass1")
    tracer.wrap(extraction, "extract", "extraction.build")


def _extraction_metrics(spans, incl) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for s in spans:
        if s.name in ("extraction.pass1", "extraction.build"):
            key = s.name
            out.setdefault(f"{key}_s", []).append(s.duration)
            out.setdefault(f"{key}_jobs", []).append(incl[s.span_id]["jobs"])
    return out


def _batches(path: Path, rows: int = 2048) -> list:
    """The workload's docs as the 2048-row Arrow batches Spark hands the
    kernel (``spark.sql.execution.arrow.maxRecordsPerBatch``)."""
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=["doc_id", "spans"]).combine_chunks()
    return table.to_batches(max_chunksize=rows)


# ── resume ──────────────────────────────────────────────────────────────


def _tree_size(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


class Resume(Workload):
    name = "resume"
    # every set-up round commits the base snapshot through the same job,
    # which is the warm-up
    warmup_units = 0

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.n_inc = self.inputs.meta["increments"]
        self.state = self.work / "resume"
        self.pristine = self.work / "resume-base"

    def _job(self, root: Path):
        from barks_ocr_spark.sources.checkpoint import ExtractionJob

        return ExtractionJob(str(root / "results"), str(root / "checkpoints"))

    def _docs(self, spark, n_inc: int):
        paths = [self.inputs.path("base.parquet")]
        paths += [self.inputs.path(f"inc{i:02d}.parquet") for i in range(n_inc)]
        return spark.read.parquet(*map(str, paths))

    def _parts(self) -> int:
        return EXTRACT_PARTITIONS_PER_CORE * self.cores

    def register(self, spark) -> None:
        """Commit the base snapshot into fresh tables, and keep a copy of
        that state so every unit resumes from the same base."""
        shutil.rmtree(self.state, ignore_errors=True)
        r = self._job(self.state).run(spark, self._docs(spark, 0), num_partitions=self._parts())
        if r["docs"] != self.inputs.meta["base_docs"]:
            raise RuntimeError(f"base commit wrote {r['docs']} docs")
        shutil.rmtree(self.pristine, ignore_errors=True)
        shutil.copytree(self.state, self.pristine)
        self.base_files = _tree_size(self.pristine)

    def prepare_checks(self, spark) -> None:
        self.ref = _hash_rows(spark.read.parquet(str(self.inputs.path("golden.parquet"))))
        self.inc_sizes = [
            spark.read.parquet(str(self.inputs.path(f"inc{i:02d}.parquet"))).count()
            for i in range(self.n_inc)
        ]

    def run_unit(self, spark) -> Unit:
        job = self._job(self.state)
        ok, attempted, new_docs, commits = 0, 0, 0, []
        for i in range(self.n_inc):
            docs = self._docs(spark, i + 1)
            t0 = time.perf_counter()
            with self.tracer.span("checkpoint.run"):
                r = job.run(spark, docs, num_partitions=self._parts())
            commits.append(time.perf_counter() - t0)
            new_docs += r["docs"]
            attempted += 1
            ok += r["docs"] == self.inc_sizes[i]
        before = job.results.last_snapshot_id()
        with self.tracer.span("checkpoint.noop_run"):
            r = job.run(spark, docs, num_partitions=self._parts())
        attempted += 1
        ok += r["docs"] == 0 and job.results.last_snapshot_id() == before
        files, size = _tree_size(self.state)
        self.tracer.attr("snapshots.files", files)
        self.tracer.attr("snapshots.bytes_written", size - self.base_files[1])
        return Unit(new_docs, ok, attempted, commits)

    def check_unit(self, spark) -> tuple[int, int]:
        """Every doc committed exactly once and equal to one uninterrupted
        extract; then back to the base state for the next unit."""
        from pyspark.sql import functions as F

        rows = self._job(self.state).read_results(spark).select("doc_id", F.xxhash64("spans")).collect()
        got: dict[str, list[int]] = {}
        for d, h in rows:
            got.setdefault(d, []).append(h)
        ok = sum(1 for d, h in self.ref.items() if got.get(d) == [h])
        shutil.rmtree(self.state)
        shutil.copytree(self.pristine, self.state)
        return ok, max(len(self.ref), len(got))

    def install_wrappers(self) -> None:
        from barks_ocr_spark.sources.checkpoint import ExtractionJob
        from barks_ocr_spark.sources.snapshots import SnapshotTable

        _wrap_extraction(self.tracer)
        self.tracer.wrap(ExtractionJob, "pending", "checkpoint.pending")
        self.tracer.wrap(SnapshotTable, "append", "snapshots.append")
        self.tracer.wrap(SnapshotTable, "read", "snapshots.read")

    def kernel_docs(self) -> list:
        return list(
            itertools.chain.from_iterable(
                _batches(self.inputs.path(f"inc{i:02d}.parquet")) for i in range(self.n_inc)
            )
        )

    def unit_metrics(self, spans, selft, incl):
        out = _extraction_metrics(spans, incl)
        names = {
            "checkpoint.pending": "checkpoint.pending_s",
            "checkpoint.run": "checkpoint.run_s",
            "checkpoint.noop_run": "checkpoint.noop_run_s",
            "snapshots.append": "snapshots.append_s",
            "snapshots.read": "snapshots.read_s",
        }
        for s in spans:
            if s.name in names:
                out.setdefault(names[s.name], []).append(s.duration)
            for k, v in s.attrs.items():
                out.setdefault(k, []).append(v)
        return out


# ── hygiene ─────────────────────────────────────────────────────────────

DEDUP_OPS = ("exact", "jaccard", "minhash", "simhash")


class Hygiene(Workload):
    name = "hygiene"

    def register(self, spark) -> None:
        from pyspark.sql import functions as F

        docs = spark.read.parquet(str(self.inputs.path("documents.parquet")))
        self.n_docs = docs.count()
        is_eval = F.col("doc_id") % inp.HYGIENE_EVAL_MOD == 0
        self.corpus = docs.filter(~is_eval)
        self.eval_docs = docs.filter(is_eval)
        self.texts = docs.select("doc_id", "text")

    def prepare_checks(self, spark) -> None:
        refs = json.loads(self.inputs.path("references.json").read_text())
        self.ref = {k: [tuple(_tuplify(r)) for r in v["rows"]] for k, v in refs.items()}
        fp: dict[str, list[int]] = {}
        for doc_id, f in self.ref["fingerprints"]:
            fp.setdefault(f, []).append(doc_id)
        self.fp = {d: f for f, ds in fp.items() for d in ds}
        self.same_fp_pairs = sorted(
            (a, b) for ds in fp.values() for a in ds for b in ds if a < b
        )
        import pandas as pd

        texts = pd.read_parquet(self.inputs.path("documents.parquet"), columns=["doc_id", "text"])
        self.raw_text = dict(zip(texts["doc_id"], texts["text"]))
        self.candidates = []

    def _dedup(self, op: str):
        from barks_ocr_spark.operators import dedup

        if op == "exact":
            return dedup.exact_duplicates(self.texts)
        if op == "jaccard":
            return dedup.ngram_jaccard_pairs(self.texts, threshold=inp.HYGIENE_JACCARD)
        if op == "minhash":
            return dedup.minhash_near_duplicates(self.texts, threshold=inp.HYGIENE_JACCARD)
        return dedup.simhash_near_duplicates(self.texts, max_hamming=inp.HYGIENE_MAX_HAMMING)

    def _matches(self, key: str, df, rows) -> bool:
        from barks_ocr_spark.oracle import canon

        return canon([tuple(r) for r in rows], [c.lower() for c in df.columns]) == self.ref[key]

    def run_unit(self, spark) -> Unit:
        from barks_ocr_spark.operators import pipeline
        from barks_ocr_spark.operators.cacheutil import unpersist_intermediates

        ok = 0
        with self.tracer.span("pipeline.build"):
            manifest, lineage = pipeline.clean_corpus_with_lineage(
                self.corpus,
                self.eval_docs,
                n=inp.HYGIENE_NGRAM,
                budget_tokens=inp.HYGIENE_BUDGET_TOKENS,
                min_words=inp.HYGIENE_MIN_WORDS,
                min_mean_word_len=inp.HYGIENE_MIN_MEAN_WORD_LEN,
            )
        with self.tracer.span("pipeline.run"):
            m_rows = manifest.collect()
            l_rows = lineage.collect()
            self.tracer.attr("pipeline.docs_out", len(m_rows))
        ok += self._matches("manifest", manifest, m_rows)
        ok += self._matches("lineage", lineage, l_rows)
        for op in DEDUP_OPS:
            with self.tracer.span(f"dedup.{op}.build"):
                df = self._dedup(op)
            with self.tracer.span(f"dedup.{op}.run"):
                rows = df.collect()
                self.tracer.attr(f"dedup.{op}.pairs", len(rows))
            if op == "simhash":
                ok += self._simhash_ok(rows)
            else:
                ok += self._matches(op, df, rows)
            if op == "minhash" and self.tracer.enabled and self.candidates:
                self._candidate_yield(rows)
        unpersist_intermediates()
        return Unit(self.n_docs, ok, 2 + len(DEDUP_OPS))

    def _simhash_ok(self, rows) -> bool:
        """SimHash bit votes are engine-specific, so the checked part is
        the one an exact reference fixes: every pair within the hamming
        budget, and the pairs of fingerprint-equal docs exactly the
        reference's (identical text => identical simhash)."""
        if any(r["hamming"] > inp.HYGIENE_MAX_HAMMING for r in rows):
            return False
        same = sorted(
            (r["doc_a"], r["doc_b"]) for r in rows if self.fp[r["doc_a"]] == self.fp[r["doc_b"]]
        )
        return same == self.same_fp_pairs

    def _candidate_yield(self, rows) -> None:
        """Verified pairs of distinct texts per LSH candidate pair. The
        operator runs LSH over distinct texts, so output doc pairs are
        mapped back to text pairs before counting."""
        cand = self.candidates.pop()
        with self.tracer.span("dedup.minhash.candidates"):
            n_cand = cand.count()
        t = self.raw_text
        verified = {
            tuple(sorted((t[r["doc_a"]], t[r["doc_b"]])))
            for r in rows
            if t[r["doc_a"]] != t[r["doc_b"]]
        }
        self.tracer.attr("dedup.minhash.candidate_yield", len(verified) / n_cand if n_cand else 0.0)

    def install_wrappers(self) -> None:
        from barks_ocr_spark.operators import dedup, pipeline

        tracer = self.tracer
        tracer.wrap(dedup, "minhash_lsh_candidates", "dedup.minhash.lsh_candidates", self.candidates.append)
        # count() calls made by the lineage function itself are the
        # lineage actions; other jobs under pipeline.build run during
        # DataFrame construction
        lineage_code = inspect.unwrap(pipeline.clean_corpus_with_lineage).__code__
        df_class = type(self.texts)
        count = df_class.count

        def traced_count(df):
            if sys._getframe(1).f_code is lineage_code:
                with tracer.span("pipeline.lineage_count"):
                    return count(df)
            return count(df)

        tracer.patch(df_class, "count", traced_count)

    def unit_metrics(self, spans, selft, incl):
        out: dict[str, list[float]] = {}
        lineage = sum(incl[s.span_id]["jobs"] for s in spans if s.name == "pipeline.lineage_count")
        for s in spans:
            i = incl[s.span_id]
            for k, v in s.attrs.items():
                out.setdefault(k, []).append(v)
            if s.name == "pipeline.build":
                out["pipeline.build_s"] = [s.duration]
                out["pipeline.lineage_jobs"] = [lineage]
                out["pipeline.build_jobs"] = [i["jobs"] - lineage]
            elif s.name == "pipeline.run":
                out["pipeline.run_s"] = [s.duration]
            elif s.name.startswith("dedup.") and s.name.rsplit(".", 1)[1] in ("build", "run"):
                op, phase = s.name.split(".")[1:]
                out.setdefault(f"dedup.{op}.{phase}_s", []).append(s.duration)
                if phase == "build":
                    out.setdefault(f"dedup.{op}.build_jobs", []).append(i["jobs"])
                for key, counter in (("shuffle_bytes", "shuffle_write_bytes"), ("spill_bytes", "spill_bytes")):
                    acc = out.setdefault(f"dedup.{op}.{key}", [0.0])
                    acc[0] += i[counter]
        return out


def _tuplify(row: list) -> list:
    return [tuple(v) if isinstance(v, list) else v for v in row]


WORKLOADS = {w.name: w for w in (Extract, Resume, Hygiene)}
