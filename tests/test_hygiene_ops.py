"""Training-data hygiene operators: repetition scores, PII redaction,
benchmark decontamination (operators/textstats.py, operators/decontam.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from barks_ocr_spark.operators import decontam, textstats
from sparkjobs import group_jobs
from test_plan_shapes import SF


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ── repetition_scores ──────────────────────────────────────────────────
def test_repetition_all_same_word(spark):
    out = textstats.repetition_scores(_docs(spark, [(1, "x x x x")])).collect()[0]
    assert out["top_unigram_frac"] == 1.0
    assert out["top_bigram_frac"] == 1.0  # "x x" three times
    assert out["dup_trigram_frac"] == 1.0  # "x x x" twice


def test_repetition_all_distinct(spark):
    out = textstats.repetition_scores(_docs(spark, [(1, "a b c d e")])).collect()[0]
    assert out["top_unigram_frac"] == 0.2
    assert out["top_bigram_frac"] == 0.25
    assert out["dup_trigram_frac"] == 0.0


def test_repetition_short_docs(spark):
    # 1 word: no bigrams/trigrams → 0.0, not null/error
    # 2 words: one bigram (frac 1.0), no trigrams
    rows = {
        r["doc_id"]: r
        for r in textstats.repetition_scores(
            _docs(spark, [(1, "solo"), (2, "a b")])
        ).collect()
    }
    assert rows[1]["top_unigram_frac"] == 1.0
    assert rows[1]["top_bigram_frac"] == 0.0
    assert rows[1]["dup_trigram_frac"] == 0.0
    assert rows[2]["top_bigram_frac"] == 1.0
    assert rows[2]["dup_trigram_frac"] == 0.0


def test_repetition_mixed_case_whitespace(spark):
    # lowercased + whitespace-split like the other textstats ops
    out = textstats.repetition_scores(
        _docs(spark, [(1, "  The THE the  ")])
    ).collect()[0]
    assert out["top_unigram_frac"] == 1.0


# ── pii_redact ─────────────────────────────────────────────────────────
def test_pii_redact_counts_and_text(spark):
    out = textstats.pii_redact(
        _docs(
            spark,
            [
                (1, "mail a.b+c@ex-amp.le.org or b@x.io call 555-0147 now"),
                (2, "clean text with no pii at all"),
                (3, "5555-01234 is not a phone and a@b is not an email"),
            ],
        )
    ).collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[1]["n_emails"] == 2 and rows[1]["n_phones"] == 1
    assert (
        rows[1]["text_redacted"]
        == "mail [EMAIL] or [EMAIL] call [PHONE] now"
    )
    assert rows[2]["n_emails"] == 0 and rows[2]["n_phones"] == 0
    assert rows[2]["text_redacted"] == "clean text with no pii at all"
    # \b guards: digit-prefixed phone shape and TLD-less email don't fire
    assert rows[3]["n_emails"] == 0 and rows[3]["n_phones"] == 0


# ── decontam ───────────────────────────────────────────────────────────
def test_word_ngrams_short_doc_empty(spark):
    df = _docs(spark, [(1, "a b c d"), (2, "a b c d e")]).select(
        "doc_id", decontam.word_ngrams(F.col("text"), 5).alias("g")
    )
    rows = {r["doc_id"]: r["g"] for r in df.collect()}
    assert rows[1] == []  # 4 words < n=5: no partial grams
    assert rows[2] == ["a b c d e"]


def test_word_ngrams_canonicalized_distinct(spark):
    df = _docs(spark, [(1, "A b! a B a b")]).select(
        decontam.word_ngrams(F.col("text"), 2).alias("g")
    )
    assert df.collect()[0]["g"] == ["a b", "b a"]  # distinct, canon text


def test_contamination_counts(spark):
    corpus = _docs(
        spark,
        [
            (1, "a quick brown fox jumps high"),  # 2/4 trigrams hit
            (2, "totally different words here now"),  # 0 hits → dropped
            (3, "quick brown fox"),  # 1/1 hit
        ],
    )
    eval_docs = _docs(spark, [(100, "a quick brown fox story")])
    out = {
        r["doc_id"]: r
        for r in decontam.contamination(corpus, eval_docs, n=3).collect()
    }
    assert set(out) == {1, 3}
    assert out[1]["n_grams"] == 4 and out[1]["n_contaminated"] == 2
    assert out[1]["contam_frac"] == 0.5
    assert out[3]["n_grams"] == 1 and out[3]["n_contaminated"] == 1


def test_contamination_eval_grams_broadcast(spark):
    """The eval-gram side must broadcast: the corpus never reshuffles."""
    corpus = _docs(spark, [(1, "a b c d e")])
    eval_docs = _docs(spark, [(9, "a b c")])
    plan = decontam.contamination(corpus, eval_docs, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


# ── remove_repeated_chunks ─────────────────────────────────────────────
def test_chunk_dedup_strips_shared_boilerplate(spark):
    from barks_ocr_spark.operators import dedup

    docs = _docs(
        spark,
        [
            (1, "unique body one. all rights reserved"),
            (2, "unique body two. all rights reserved"),
            (3, "only unique content here"),
        ],
    )
    out = {r["doc_id"]: r for r in dedup.remove_repeated_chunks(docs).collect()}
    assert out[1]["text_clean"] == "unique body one"
    assert out[1]["n_chunks"] == 2 and out[1]["n_removed"] == 1
    assert out[2]["text_clean"] == "unique body two"
    assert out[3]["text_clean"] == "only unique content here"
    assert out[3]["n_removed"] == 0


def test_chunk_dedup_fully_boilerplate_doc_survives_empty(spark):
    from barks_ocr_spark.operators import dedup

    docs = _docs(spark, [(1, "same thing"), (2, "same thing"), (3, "else")])
    out = {r["doc_id"]: r for r in dedup.remove_repeated_chunks(docs).collect()}
    assert set(out) == {1, 2, 3}  # removal never drops rows
    assert out[1]["text_clean"] == "" and out[1]["n_removed"] == 1
    assert out[3]["text_clean"] == "else"


def test_chunk_dedup_preserves_order_and_intra_doc_repeats(spark):
    from barks_ocr_spark.operators import dedup

    # "dup" repeats only WITHIN doc 1 → not cross-doc → kept, in order
    docs = _docs(spark, [(1, "a part. dup. b part. dup"), (2, "other")])
    out = {r["doc_id"]: r for r in dedup.remove_repeated_chunks(docs).collect()}
    assert out[1]["text_clean"] == "a part. dup. b part. dup"


# ── budget_sample ──────────────────────────────────────────────────────
def test_budget_sample_kept_set_and_crossing_doc(spark):
    from barks_ocr_spark.operators import sampling
    from pyspark.sql import functions as F

    rows = [(i, "g", "w " * 10) for i in range(20)]  # 10 tokens each
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = sampling.budget_sample(df, "source", 25).orderBy("cum_tokens").collect()
    # md5 order: 3rd doc crosses the 25-token line and is kept; 4th is not
    assert [r["cum_tokens"] for r in out] == [10, 20, 30]
    # determinism across partitionings
    out2 = sampling.budget_sample(df.repartition(7), "source", 25).orderBy(
        "cum_tokens"
    ).collect()
    assert [r["doc_id"] for r in out] == [r["doc_id"] for r in out2]


def test_budget_sample_per_group_independence(spark):
    from barks_ocr_spark.operators import sampling

    rows = [(i, f"g{i % 2}", "w " * 5) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = sampling.budget_sample(df, "source", 11).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["source"], []).append(r["cum_tokens"])
    # each group independently keeps docs until its own 11-token budget
    assert sorted(by_g) == ["g0", "g1"]
    assert all(sorted(v) == [5, 10, 15] for v in by_g.values())


def test_repetition_kernel_matches_relational(spark):
    # the zero-shuffle kernel and the relational formulation must agree
    # bit-for-bit — including empty text, whitespace-only text, tab
    # edges (Spark trim strips spaces only), and repetition-heavy docs
    rows = [
        (1, "x x x x"),
        (2, "a b c d e"),
        (3, ""),
        (4, "   "),
        (5, "\tlead tab"),
        (6, "one two one two one two one"),
        (7, "Mixed   CASE  mixed case MIXED"),
        (8, "w"),
        (9, "p q p q p q p q p q p q p q"),
    ]
    docs = _docs(spark, rows)
    a = sorted(map(tuple, textstats.repetition_scores(docs).collect()))
    b = sorted(
        map(tuple, textstats.repetition_scores_relational(docs).collect())
    )
    assert a == b


def test_chunk_dedup_chunkless_docs_emit_zero_rows_not_vanish(spark):
    # empty, whitespace-only, and delimiter-only texts yield zero
    # chunks; the doc must still appear as (doc_id, '', 0, 0)
    from barks_ocr_spark.operators import dedup as dd

    docs = _docs(
        spark,
        [(1, ""), (2, "   "), (3, ".  .  . "), (4, "real body here")],
    )
    out = {r["doc_id"]: r for r in dd.remove_repeated_chunks(docs).collect()}
    assert set(out) == {1, 2, 3, 4}
    for i in (1, 2, 3):
        assert (out[i]["text_clean"], out[i]["n_chunks"], out[i]["n_removed"]) == ("", 0, 0)
    assert out[4]["n_chunks"] == 1 and out[4]["text_clean"] == "real body here"


def test_pii_redact_type_family(spark):
    rows = [
        (1, "mail a.b+c@ex-ample.co.uk now"),
        (2, "call 555-123-4567 or (202) 555-0147 or 555.867.5309 or 555-0199"),
        (3, "ssn 123-45-6789 stays distinct from phones"),
        (4, "host 10.0.0.1 and version 1.2.3.4 both flag"),
        (5, "clean text with numbers 12345 and date 2024-01-02"),
    ]
    out = {r["doc_id"]: r for r in textstats.pii_redact(_docs(spark, rows)).collect()}
    assert out[1]["n_emails"] == 1 and "[EMAIL]" in out[1]["text_redacted"]
    # the 10-digit phone must be consumed whole, not double-counted as
    # an inner 555-XXXX exchange match
    assert out[2]["n_phones"] == 4
    assert out[2]["text_redacted"] == "call [PHONE] or [PHONE] or [PHONE] or [PHONE]"
    assert out[3]["n_ssn"] == 1 and out[3]["n_phones"] == 0
    assert "[SSN]" in out[3]["text_redacted"]
    assert out[4]["n_ipv4"] == 2  # loose quad: version strings over-flag by design
    assert out[5]["text_redacted"] == rows[4][1]
    assert all(
        out[5][c] == 0 for c in ("n_emails", "n_phones", "n_ssn", "n_ipv4")
    )


def test_pii_counts_are_per_stage(spark):
    # an email whose local part looks like a phone is redacted as ONE
    # email; the phone stage sees no digits left
    rows = [(1, "reach 555-123-4567@example.com today")]
    out = textstats.pii_redact(_docs(spark, rows)).collect()[0]
    assert out["n_emails"] == 1 and out["n_phones"] == 0
    assert out["text_redacted"] == "reach [EMAIL] today"


def test_decontaminate_removes_only_colliding_docs(spark):
    eval_docs = _docs(spark, [(100, "the secret eval answer is forty two")])
    corpus = _docs(
        spark,
        [
            (1, "contains the secret eval answer is forty two verbatim"),
            (2, "totally unrelated clean document body"),
            (3, "another clean one with no overlap at all"),
        ],
    )
    out = decontam.decontaminate(corpus, eval_docs, n=5)
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 3]
    # survivors keep the full input schema
    assert out.columns == corpus.columns


def test_decontaminate_anti_join_is_broadcast(spark):
    # the anti-join side carries NO forced hint (a pathological flag
    # rate must be allowed to degrade to a shuffled anti-join instead of
    # OOMing the driver) — AQE converts the tiny flagged list to a
    # broadcast at RUNTIME, so assert the final adaptive plan
    eval_docs = _docs(spark, [(100, "a b c d e f g h")])
    corpus = _docs(spark, [(1, "x y z"), (2, "a b c d e f g h i")])
    out = decontam.decontaminate(corpus, eval_docs, n=8)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_gopher_filter_rules_and_reasons(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and then rests "
            "under the old oak tree while watching clouds drift past the "
            "quiet meadow in warm afternoon light today"),  # clean
        (2, "short doc"),  # too_few_words
        (3, " ".join(["spark"] * 40)),  # no stopwords + repeated grams
    ]
    out = {
        r["doc_id"]: r
        for r in textstats.gopher_filter(
            _docs(spark, rows), min_words=20, min_stopword_ratio=0.05
        ).collect()
    }
    assert out[1]["keep"] and out[1]["failed"] == ""
    assert not out[2]["keep"] and "too_few_words" in out[2]["failed"]
    assert not out[3]["keep"]
    assert "too_few_stopwords" in out[3]["failed"]
    assert "repeated_bigrams" in out[3]["failed"]
    assert "repeated_trigrams" in out[3]["failed"]


def test_gopher_filter_is_zero_shuffle(spark):
    plan = (
        textstats.gopher_filter(_docs(spark, [(1, "a b c")]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_corpus_stats_rollup(spark):
    rows = [
        (1, "a b c", "s1"),
        (2, "a b c", "s1"),   # exact dup of 1 → distinct=2 in s1
        (3, "d e", "s1"),
        (4, "x y z w", "s2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in textstats.corpus_stats(docs).collect()}
    assert out["s1"]["n_docs"] == 3 and out["s1"]["n_distinct"] == 2
    assert out["s1"]["ws_tokens"] == 8
    assert out["s2"]["n_docs"] == 1 and out["s2"]["ws_tokens"] == 4
    # map-side combine pinned: the aggregate must partial before shuffle
    plan = (
        textstats.corpus_stats(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_count" in plan or "partial_sum" in plan


def test_normalize_unicode_composes_and_flags(spark):
    rows = [
        (1, "plain ascii stays"),
        (2, "cafe\u0301 needs composing"),  # decomposed: e + combining acute
        (3, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.normalize_unicode(docs).collect()}
    assert out[1]["text_norm"] == "plain ascii stays" and not out[1]["changed"]
    assert out[2]["text_norm"] == "caf\u00e9 needs composing" and out[2]["changed"]
    assert out[3]["text_norm"] is None and not out[3]["changed"]
    plan = (
        textstats.normalize_unicode(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


# ── NFC ∘ dedup composition ────────────────────────────────────────────
def test_nfc_dedup_requires_normalization(spark):
    from barks_ocr_spark.operators import dedup

    # composed é vs decomposed e+U+0301: identical rendering, different
    # bytes — canonical_text strips the non-ASCII chars ASYMMETRICALLY
    # ('caf' vs 'cafe'), so exact dedup misses the pair without NFC
    rows = [(1, "same body caf\u00e9"), (2, "same body cafe\u0301")]
    docs = _docs(spark, rows)
    assert dedup.exact_duplicates(docs).count() == 0
    normed = textstats.normalize_unicode(docs).select(
        "doc_id", F.col("text_norm").alias("text")
    )
    groups = dedup.exact_duplicates(normed).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["doc_ids"] == [1, 2]


# ── clean_corpus pipeline lineage ──────────────────────────────────────
_CLEAN_BODY = (
    "the quick brown fox jumps over a lazy dog near the riverbank "
    "while birds sing softly above"
)


def test_clean_corpus_lineage_counters(spark, tmp_path):
    from barks_ocr_spark.operators import pipeline

    corpus = spark.createDataFrame(
        [
            (1, _CLEAN_BODY, "src0"),                              # clean, kept
            (2, "x x x x x x x x x x", "src0"),                    # gated out
            (3, _CLEAN_BODY + " alpha beta gamma end", "src0"),    # contaminated
            (4, "mail someone@example.com and " + _CLEAN_BODY, "src1"),  # scrubbed
        ],
        "doc_id long, text string, source string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "contains alpha beta gamma inside")],
        "doc_id long, text string",
    )
    sink = str(tmp_path / "lineage")
    manifest, lineage = pipeline.clean_corpus_with_lineage(
        corpus,
        eval_docs,
        n=3,
        budget_tokens=10_000,
        min_words=5,
        min_mean_word_len=1.0,
        lineage_path=sink,
    )
    rows = {r["stage"]: (r["docs_in"], r["docs_out"]) for r in lineage.collect()}
    assert rows == {
        "gopher_gate": (4, 3),      # doc 2 dropped (repetition)
        "pii_scrub": (3, 3),        # row-preserving projection
        "decontaminate": (3, 2),    # doc 3 dropped (eval trigram)
        "budget_sample": (2, 2),    # budget way above corpus size
    }
    assert sorted(r["doc_id"] for r in manifest.collect()) == [1, 4]
    # the sink accumulates an audit trail across runs
    assert spark.read.parquet(sink).count() == 4
    pipeline.clean_corpus_with_lineage(
        corpus,
        eval_docs,
        n=3,
        budget_tokens=10_000,
        min_words=5,
        min_mean_word_len=1.0,
        lineage_path=sink,
    )
    assert spark.read.parquet(sink).count() == 8


def _lineage_by_counts(corpus, eval_docs, *, n, budget_tokens, min_words, min_mean_word_len):
    """Differential oracle: the pipeline composed stage by stage with one
    ``count()`` per stage boundary — the four-count lineage form the
    observed counts replaced, each count re-running a prefix of the plan.
    Returns the manifest and the sorted lineage rows."""
    from barks_ocr_spark.operators import sampling
    from barks_ocr_spark.operators.cacheutil import persist_tracked

    gated = (
        textstats.gopher_filter(
            corpus,
            min_words=min_words,
            min_mean_word_len=min_mean_word_len,
            passthrough=("text", "source"),
        )
        .filter("keep")
        .select("doc_id", "text", "source")
    )
    scrubbed = persist_tracked(
        textstats.pii_redact(gated, passthrough=("source",)).select(
            "doc_id", F.col("text_redacted").alias("text"), "source"
        )
    )
    scrubbed.count()
    cleaned = decontam.decontaminate(scrubbed, eval_docs, n=n)
    manifest = sampling.budget_sample(cleaned, "source", budget_tokens)
    n_in = corpus.count()
    n_scrubbed = scrubbed.count()
    n_cleaned = cleaned.count()
    n_sampled = manifest.count()
    lineage = [
        ("budget_sample", n_cleaned, n_sampled),
        ("decontaminate", n_scrubbed, n_cleaned),
        ("gopher_gate", n_in, n_scrubbed),
        ("pii_scrub", n_scrubbed, n_scrubbed),
    ]
    return manifest, lineage


# the registry's demo operating point over the sf0.001 documents: every
# stage drops rows (gate, decontam at n = 3, a truncating budget)
_DEMO_POINT = dict(n=3, budget_tokens=400, min_words=30, min_mean_word_len=4.0)


def _demo_split(docs):
    return (
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
    )


def _observed(corpus, eval_docs):
    from barks_ocr_spark.operators import pipeline

    manifest, lineage = pipeline.clean_corpus_with_lineage(corpus, eval_docs, **_DEMO_POINT)
    return _rows(manifest), _rows(lineage)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_lineage_matches_four_count_oracle(spark):
    """The observed lineage and the manifest equal the four-count form at
    two corpus partitionings, and again on a second call in the same
    session with the first call's caches still held: cache reuse must
    neither zero nor double a count."""
    from barks_ocr_spark.operators.cacheutil import unpersist_intermediates

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    try:
        for parts in (1, 7):
            corpus, eval_docs = _demo_split(docs.repartition(parts))
            manifest, lineage = _lineage_by_counts(corpus, eval_docs, **_DEMO_POINT)
            want = (_rows(manifest), lineage)
            unpersist_intermediates()
            counts = {stage: (i, o) for stage, i, o in lineage}
            assert counts["gopher_gate"][1] < counts["gopher_gate"][0]
            assert counts["decontaminate"][1] < counts["decontaminate"][0]
            assert counts["budget_sample"][1] < counts["budget_sample"][0]
            assert _observed(corpus, eval_docs) == want, parts
            assert _observed(corpus, eval_docs) == want, parts
            unpersist_intermediates()
    finally:
        unpersist_intermediates()


def test_lineage_runs_one_action_and_caches_the_manifest(spark, tmp_path):
    """The audited call runs fewer jobs than the four-count form, and the
    manifest it returns is its cache: collecting it is one single-stage
    job, and it still works after the source files are gone."""
    import shutil

    from barks_ocr_spark.operators import pipeline
    from barks_ocr_spark.operators.cacheutil import unpersist_intermediates

    src = tmp_path / "documents.parquet"
    shutil.copy(f"{SF}/documents.parquet", src)
    corpus, eval_docs = _demo_split(spark.read.parquet(str(src)))
    out = {}
    try:
        oracle_jobs = group_jobs(
            spark,
            "lineage-four-counts",
            lambda: out.setdefault("want", _lineage_by_counts(corpus, eval_docs, **_DEMO_POINT)),
        )
        want_manifest, want_lineage = _rows(out["want"][0]), out["want"][1]
        unpersist_intermediates()
        observed_jobs = group_jobs(
            spark,
            "lineage-observed",
            lambda: out.setdefault(
                "got", pipeline.clean_corpus_with_lineage(corpus, eval_docs, **_DEMO_POINT)
            ),
        )
        assert len(observed_jobs) < len(oracle_jobs), (observed_jobs, oracle_jobs)
        manifest, lineage = out["got"]
        src.unlink()
        collect_jobs = group_jobs(
            spark, "lineage-manifest", lambda: out.setdefault("rows", _rows(manifest))
        )
        assert len(collect_jobs) == 1 and len(collect_jobs[0]) == 1, collect_jobs
        assert out["rows"] == want_manifest
        assert _rows(lineage) == want_lineage
    finally:
        unpersist_intermediates()


# ─── c4_line_filter ──────────────────────────────────────────────────────

def test_c4_line_filter_rules(spark):
    docs = spark.createDataFrame(
        [
            # every rule on one page: keeps 3 prose lines
            (
                1,
                "This is a real sentence with enough words.\n"
                "too short.\n"
                "no terminal punctuation at all here\n"
                "Enable javascript to view this page today.\n"
                "Lorem Ipsum dolor sit amet consectetur adipiscing.\n"
                "function f() { return 1; }\n"
                'He said the quote ends with a double quote."\n'
                "Another perfectly ordinary prose sentence ends here!",
            ),
            (2, None),                      # null text
            (3, ""),                        # empty text
            (4, "One single line that is long enough to survive fine."),
        ],
        "doc_id long, text string",
    )
    from barks_ocr_spark.operators import textstats

    rows = {
        r["doc_id"]: r for r in textstats.c4_line_filter(docs).collect()
    }
    r1 = rows[1]
    assert r1["n_lines"] == 8 and r1["n_kept"] == 3
    assert r1["clean_text"].splitlines() == [
        "This is a real sentence with enough words.",
        'He said the quote ends with a double quote."',
        "Another perfectly ordinary prose sentence ends here!",
    ]
    assert r1["keep_doc"] is True  # 3 terminal marks survive
    assert rows[2]["n_lines"] == 0 and rows[2]["keep_doc"] is False
    assert rows[2]["clean_text"] == ""
    assert rows[3]["n_lines"] == 0 and rows[3]["keep_doc"] is False
    r4 = rows[4]
    assert r4["n_kept"] == 1 and r4["n_sentences"] == 1
    assert r4["keep_doc"] is False  # one sentence < min_sentences


def test_c4_line_filter_is_zero_shuffle(spark):
    from barks_ocr_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "A line of prose that is long enough.")],
        "doc_id long, text string",
    )
    plan = (
        textstats.c4_line_filter(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_word_ngrams_matches_zipwith_reference(spark):
    """word_ngrams now delegates to the single-regex shingle builder;
    pin byte-identity against the original zip_with formulation (the
    documented contract: distinct grams, first-occurrence order, empty
    for docs shorter than n) across the tricky shapes — exactly-n
    words, duplicate grams, punctuation canonicalization, null."""
    def zipwith_form(text, n):
        from barks_ocr_spark.operators.textstats import canonical_text

        ws = F.split(canonical_text(text), " ")
        m = F.greatest(F.size(ws) - (n - 1), F.lit(0))
        acc = F.slice(ws, 1, m)
        for k in range(2, n + 1):
            acc = F.zip_with(
                acc, F.slice(ws, k, m), lambda a, b: F.concat_ws(" ", a, b)
            )
        return F.array_distinct(acc)

    docs = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight"),   # exactly 8
            (2, "a b c d e f g"),                             # 7 < 8 → empty
            (3, "x y x y x y x y x y x y"),                   # duplicate grams
            (4, "Hello, World! Hello, World! and more words here now ok"),
            (5, None),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    for n in (2, 3, 8):
        got = docs.select(
            "doc_id", decontam.word_ngrams(F.col("text"), n).alias("g")
        ).collect()
        want = docs.select(
            "doc_id", zipwith_form(F.col("text"), n).alias("g")
        ).collect()
        # the one deliberate contract difference: NULL text is an empty
        # array now (the zip_with form returned SQL NULL; explode of
        # either is zero rows, so no consumer distinguished them)
        want_vals = [
            (r["doc_id"], r["g"] if r["g"] is not None else []) for r in want
        ]
        assert [(r["doc_id"], r["g"]) for r in got] == want_vals, f"n={n}"


def test_positive_class_rewrites_match_negated(spark):
    """The r7 positive-range character classes (textstats.NON_CANON_RE /
    NON_WORD_WS_RE / NON_BPE_ALNUM_RE — a ~9× regexp_replace win over
    java.util.regex's negated-class path) must delete EXACTLY the same
    characters as the negated originals: checked char-by-char over the
    whole BMP plus supplementary-plane samples."""
    from barks_ocr_spark.operators import textstats as ts

    # every BMP code point (minus surrogates, which are not valid in
    # UTF-8 strings) + supplementary samples (emoji, CJK ext, max)
    chars = [chr(c) for c in range(0x0000, 0xD800)]
    chars += [chr(c) for c in range(0xE000, 0x10000)]
    chars += [chr(c) for c in (0x10000, 0x1F600, 0x20000, 0x10FFFF)]
    blob = "".join(chars)
    step = 4096
    rows = [(i, blob[i : i + step]) for i in range(0, len(blob), step)]
    df = spark.createDataFrame(rows, "id long, text string")
    for pos, neg in [
        (ts.NON_CANON_RE, r"[^a-z0-9\s]"),
        (ts.NON_WORD_WS_RE, r"[^\w\s]"),
        (ts.NON_BPE_ALNUM_RE, "[^A-Za-z0-9 ]"),
    ]:
        got = df.select(
            "id", F.regexp_replace("text", pos, "").alias("t")
        ).collect()
        want = df.select(
            "id", F.regexp_replace("text", neg, "").alias("t")
        ).collect()
        assert sorted((r["id"], r["t"]) for r in got) == sorted(
            (r["id"], r["t"]) for r in want
        ), f"positive-class rewrite diverges for {neg}"


def test_repetition_kernel_vectorized_matches_loop():
    # the r7b vectorized kernel must be byte-identical to the original
    # Counter-per-doc loop form on adversarial edges and random corpora
    import random

    import pandas as pd

    from barks_ocr_spark.operators import textstats

    edge = pd.Series(
        [
            "",
            "   ",
            "a",
            "a a",
            "a a a a a",
            "x y x y x y",
            "the the the quick",
            None,
            "A b C a B c a b c",
            " lead trail ",
            "\t\ntabs\nnew\tlines\t\n",
            "sp an",  # non-ASCII whitespace stays inside a token
            "   ",
        ]
    )
    rng = random.Random(5)
    vocab = ["w%d" % i for i in range(40)] + ["the", "a", "", "x y"]
    rand = pd.Series(
        [
            " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 60)))
            for _ in range(500)
        ]
    )
    for batch in (edge, rand):
        got = textstats._repetition_scores_batch(batch)
        want = textstats._repetition_scores_batch_loop(batch)
        pd.testing.assert_frame_equal(got, want)
