"""Composable corpus-hygiene pipeline: Gopher gate → PII scrub →
eval-set decontamination → per-group token-budget sampling as ONE
declarative plan, with optional per-stage drop lineage.

This is the end-to-end training-data prep a 100 TB run executes: the
gate and scrub are passthrough projections fused into the corpus scan
(no joins between them), the decontamination flag pass broadcast
semi-joins eval grams, the flagged-list anti-join is AQE-sized, and the
budget stage is the two-phase bucket boundary refinement. The scrubbed
intermediate feeds THREE scans (decontam flag, decontam anti-join,
budget sizing), so it is persisted — the sf-scale analog of the stage
checkpoint a production run would write between scrub and decontam
(measured: 9.3 s → ~5 s at sf0.1 without the triple recompute of the
gate kernel + scrub regexes). Building the plan runs no Spark job: the
first action fills the cache.

The audited form, :func:`clean_corpus_with_lineage`, runs the pipeline
once: ``DataFrame.observe`` row counts at the stage boundaries, filled by
one action over the persisted manifest, which it returns cached
(released by ``cacheutil.unpersist_intermediates``).

Operating points: ``n`` (decontam n-gram) and ``budget_tokens`` are
REQUIRED thinking, not defaults to ship blindly — production runs use
n = 8 (decontam.DEFAULT_NGRAM, the published 8-to-13-gram window's low
end) and real per-source budgets; tiny-vocabulary test fixtures need a
smaller n to collide at all (the demo registry query uses n = 3,
documented at decontam.py:39-42; the production-point registry query
``clean_corpus_prod`` runs n = 8). Both points are oracle-green.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from barks_ocr_spark.operators import decontam, sampling, textstats
from barks_ocr_spark.operators.cacheutil import persist_tracked
from barks_ocr_spark.session import local_table

# the stage boundaries the audited form counts, in pipeline order
_OBSERVED_STAGES = ("input", "scrubbed", "cleaned", "manifest")


def clean_corpus(
    corpus: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int,
    budget_tokens: int,
    group_col: str = "source",
    min_words: int = 50,
    min_mean_word_len: float = 3.0,
) -> DataFrame:
    """The manifest-only form: returns (doc_id, group, n_tokens,
    cum_tokens) for the final mix. See the module docstring for the plan
    shape and :func:`clean_corpus_with_lineage` for the audited form."""
    return _build(
        corpus,
        eval_docs,
        n=n,
        budget_tokens=budget_tokens,
        group_col=group_col,
        min_words=min_words,
        min_mean_word_len=min_mean_word_len,
    )


def clean_corpus_with_lineage(
    corpus: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int,
    budget_tokens: int,
    group_col: str = "source",
    min_words: int = 50,
    min_mean_word_len: float = 3.0,
    lineage_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The audited form: returns (manifest, lineage) where lineage is
    one row per stage — (stage, docs_in, docs_out) — the drop-lineage
    counters a production run logs next to its outputs (the same
    discipline as extraction_metrics: progress must be observable from
    tables, not logs). Counting requires running the stages, so this
    form EXECUTES the pipeline, once: a ``DataFrame.observe`` row count
    rides each stage boundary (gate input, scrubbed, cleaned, manifest)
    and one action — a ``count()`` of the persisted manifest — fills
    them all. The returned manifest is that cached table, so reading it
    runs no stage again; like every operator cache it is released by
    :func:`~barks_ocr_spark.operators.cacheutil.unpersist_intermediates`.
    ``lineage_path`` additionally appends the counters to a parquet sink
    so successive runs accumulate an audit trail."""
    # unnamed: each Observation gets a unique name, so the plans of two
    # calls in one session never carry the same metric name
    observed = {stage: Observation() for stage in _OBSERVED_STAGES}
    manifest = _build(
        corpus,
        eval_docs,
        n=n,
        budget_tokens=budget_tokens,
        group_col=group_col,
        min_words=min_words,
        min_mean_word_len=min_mean_word_len,
        observed=observed,
    )
    manifest = persist_tracked(manifest)
    manifest.count()
    n_in, n_scrubbed, n_cleaned, n_sampled = (
        observed[stage].get["docs"] for stage in _OBSERVED_STAGES
    )
    lineage = local_table(
        corpus.sparkSession,
        [
            # the scrub is a row-preserving projection over the gated
            # rows — one count serves both stage rows
            ("gopher_gate", n_in, n_scrubbed),
            ("pii_scrub", n_scrubbed, n_scrubbed),
            ("decontaminate", n_scrubbed, n_cleaned),
            ("budget_sample", n_cleaned, n_sampled),
        ],
        "stage string, docs_in long, docs_out long",
    )
    if lineage_path is not None:
        lineage.write.mode("append").parquet(lineage_path)
    return manifest, lineage


def _build(
    corpus: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int,
    budget_tokens: int,
    group_col: str,
    min_words: int,
    min_mean_word_len: float,
    observed: dict[str, Observation] | None = None,
) -> DataFrame:
    """The manifest plan; with ``observed`` (stage -> Observation, the
    stages of ``_OBSERVED_STAGES``) each stage boundary also carries a
    row-count observation, otherwise the plan has none."""

    def observe(df: DataFrame, stage: str) -> DataFrame:
        if observed is None:
            return df
        return df.observe(observed[stage], F.count(F.lit(1)).alias("docs"))

    gated = (
        textstats.gopher_filter(
            observe(corpus, "input"),
            min_words=min_words,
            min_mean_word_len=min_mean_word_len,
            passthrough=("text", group_col),
        )
        .filter("keep")
        .select("doc_id", "text", group_col)
    )
    scrubbed = persist_tracked(
        observe(
            textstats.pii_redact(gated, passthrough=(group_col,)).select(
                "doc_id", F.col("text_redacted").alias("text"), group_col
            ),
            "scrubbed",
        )
    )
    # no eager count: the first action fills the cache once for all
    # its readers. With pyspark 4.1.2 at local[4] on the 800-doc
    # benchmark hygiene corpus, dropping the former count took the
    # build from 10 jobs to 9 and left the lineage action at 7 jobs
    # (build + lineage 2.77/2.76 s before, 2.24/2.52 s after)
    cleaned = observe(decontam.decontaminate(scrubbed, eval_docs, n=n), "cleaned")
    return observe(
        sampling.budget_sample(cleaned, group_col, budget_tokens), "manifest"
    )
