"""Text-analysis operators for a large-scale training-data pipeline:
language ID, quality scoring, token counting, content fingerprinting.

All pure built-in `pyspark.sql.functions` expressions (whole-stage
codegen, no Python in the hot path), each with an exact ANSI-SQL oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from barks_ocr_spark.kernels import textnorm as tn

# Function words used as the English signal for the n-gram-free
# heuristic language ID (stopword-hit-rate).
_EN_MARKERS = sorted(tn.STOP_WORDS)

# Positive-range character classes (r7, guide §1.2 per-task work):
# java.util.regex evaluates a NEGATED class ([^...]) via a per-char
# CharPredicate complement that defeats its fast range scan — measured
# 2.05 s vs 0.22 s at sf1.0 / local[32] for the identical delete set.
# Each constant below is the exact complement of its keep set over the
# full code-point range (controls, ASCII punctuation, and everything
# ≥ 0x7F spelled as ranges); equivalence to the negated forms is pinned
# char-by-char over the BMP + supplementary samples by
# test_positive_class_rewrites_match_negated. The DuckDB oracles keep
# the original negated spellings (RE2 has no such penalty, and oracle
# SQL is frozen); the keep sets are identical.
#
# complement of [a-z0-9\s] (Java \s = [ \t\n\x0B\f\r]):
NON_CANON_RE = "[\\x00-\\x08\\x0e-\\x1f!-/:-`{-~\\x7f-\\x{10FFFF}]"
# complement of [\w\s] (Java \w = [a-zA-Z0-9_]):
NON_WORD_WS_RE = "[\\x00-\\x08\\x0e-\\x1f!-/:-@\\[-^`{-~\\x7f-\\x{10FFFF}]"
# complement of [A-Za-z0-9 ] (note: bare space only — tabs/newlines are
# tokens here, exactly as in the negated original):
NON_BPE_ALNUM_RE = "[\\x00-\\x1f!-/:-@\\[-`{-~\\x7f-\\x{10FFFF}]"

# BPE-ish token regex: letter runs, digit runs, or single non-space
# symbols — a deterministic proxy for subword token counting.
# (Third alternative is the positive-class spelling of [^A-Za-z0-9 ].)
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|" + NON_BPE_ALNUM_RE


def words_col(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def lang_id(docs: DataFrame, text_col: str = "text", threshold: float = 0.2) -> DataFrame:
    """Heuristic language ID: share of whitespace tokens that are English
    function words; ≥ threshold → 'en', else 'unknown'."""
    words = words_col(F.col(text_col))
    hits = F.size(F.filter(words, lambda w: w.isin(_EN_MARKERS)))
    total = F.size(words)
    ratio = F.when(total > 0, hits / total).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        ratio.alias("en_ratio"),
        F.when(ratio >= threshold, F.lit("en")).otherwise(F.lit("unknown")).alias("lang_pred"),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features: length, word count, mean word length,
    punctuation ratio, stopword ratio — the usual pretraining filters."""
    text = F.col(text_col)
    words = words_col(text)
    n_chars = F.length(text)
    n_words = F.size(words)
    # NON_WORD_WS_RE == [^\w\s] (positive-class spelling, see top of file)
    n_punct = n_chars - F.length(F.regexp_replace(text, NON_WORD_WS_RE, ""))
    stop_hits = F.size(F.filter(words, lambda w: w.isin(_EN_MARKERS)))
    mean_wlen = F.when(
        n_words > 0,
        (F.length(F.regexp_replace(text, r"\s+", "")) / n_words),
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_m"),
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0).alias("punct_ratio"),
        F.when(n_words > 0, stop_hits / n_words).otherwise(0.0).alias("stopword_ratio"),
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count per doc."""
    text = F.col(text_col)
    ws = F.size(words_col(text))
    bpe = F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
    )


def repetition_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    n-gram OCCURRENCES accounted for by the most frequent unigram /
    bigram, and the fraction of trigram occurrences that belong to a
    trigram seen more than once — the standard pretraining repetition
    filter family. (Occurrence fractions, not token or character
    fractions: the bigram denominator is the bigram count, one less
    than the token count.)

    Plan shape: scan → pandas_udf projection, ZERO shuffle. Every
    signal is a pure function of one document, so a relational form
    (explode + three keyed aggregates) pays a corpus-sized exchange of
    per-token gram text for a per-document computation — measured
    1.90 s relational vs 0.28 s kernel at sf0.1 / local[32], a gap that
    widens with corpus size. Here each Arrow batch of documents is
    scored by one vectorized numpy pass (see _repetition_scores_batch);
    at 100 TB this is a scan-only job. Tokenization (lower, trim
    spaces, split on ``\\s+``), zero-denominator and HALF_UP rounding
    semantics are those of the Spark SQL expressions; the relational
    form is kept in tests/test_hygiene_ops.py as the differential
    oracle.

    Null-text docs produce no output row (as in the relational form,
    where a null text explodes to zero gram rows)."""
    kernel = F.pandas_udf(
        _repetition_scores_batch,
        "top_unigram_frac double, top_bigram_frac double,"
        " dup_trigram_frac double",
    )
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select("doc_id", kernel(F.col(text_col)).alias("_r"))
        .select("doc_id", "_r.*")
    )


def _repetition_scores_batch(texts: pd.Series) -> pd.DataFrame:
    """Per-batch kernel: vectorized Gopher repetition signals for one
    Arrow batch of documents. Replicates the Spark-expression semantics
    exactly: lower → trim(' ') → split on ASCII ``\\s+`` (keeping
    leading/trailing empty tokens, '' → ['']), HALF_UP rounding to 6
    places via the shortest-roundtrip decimal string (the same digits
    Java's BigDecimal.valueOf sees in F.round).

    r7b: the Counter-per-doc loop became batch-level numpy — factorize
    the flat token stream once, then per-doc top-count / duplicate-sum
    via np.unique on (doc, code)-combined int64 keys and a segmented
    reduceat; n-gram identity uses code pairs, which equals string
    identity because tokens cannot contain the ' ' joiner (it is split
    away). Measured 3.5 s → 1.5 s single-core for a 50k-doc corpus
    pass, byte-identical output (pinned against the loop form, kept in
    tests/test_hygiene_ops.py, by
    test_repetition_kernel_vectorized_matches_loop, incl. the
    empty/whitespace/single-token edges)."""
    import re

    import numpy as np

    ws_re = re.compile(r"\s+", re.ASCII)
    round6 = _round6

    toks = [ws_re.split(str(t).lower().strip(" ")) for t in texts]
    n = np.array([len(w) for w in toks], dtype=np.int64)
    nd = len(toks)
    flat = np.empty(int(n.sum()), dtype=object)
    pos = 0
    for w in toks:
        flat[pos : pos + len(w)] = w
        pos += len(w)
    codes, uniques = pd.factorize(flat)
    codes = codes.astype(np.int64)
    nu = max(len(uniques), 1)
    doc_idx = np.repeat(np.arange(nd, dtype=np.int64), n)

    def seg_top(keys, doc_of_key):
        # top count per doc over int64 keys whose high part is the doc
        res = np.zeros(nd, dtype=np.int64)
        if len(keys) == 0:
            return res
        ukeys, counts = np.unique(keys, return_counts=True)
        kdoc = doc_of_key(ukeys)  # ascending (keys sorted, doc in high bits)
        starts = np.searchsorted(kdoc, np.arange(nd), side="left")
        ends = np.searchsorted(kdoc, np.arange(nd), side="right")
        nonempty = starts < ends
        if nonempty.any():
            res[nonempty] = np.maximum.reduceat(counts, starts[nonempty])
        return res

    top_uni = seg_top(doc_idx * nu + codes, lambda k: k // nu)

    if len(flat) > 1:
        same = doc_idx[:-1] == doc_idx[1:]
        b1, b2 = codes[:-1][same], codes[1:][same]
        bdoc = doc_idx[:-1][same]
    else:
        b1 = b2 = bdoc = np.zeros(0, dtype=np.int64)
    if len(b1):
        _, binv = np.unique(b1 * nu + b2, return_inverse=True)
        nb = max(int(binv.max()) + 1, 1)
        top_bi = seg_top(bdoc * nb + binv, lambda k: k // nb)
    else:
        top_bi = np.zeros(nd, dtype=np.int64)

    dup_tri = np.zeros(nd, dtype=np.int64)
    if len(flat) > 2:
        same3 = (doc_idx[:-2] == doc_idx[1:-1]) & (doc_idx[1:-1] == doc_idx[2:])
        t1 = codes[:-2][same3]
        tdoc = doc_idx[:-2][same3]
        if len(t1):
            _, p2i = np.unique(
                codes[1:-1][same3] * nu + codes[2:][same3], return_inverse=True
            )
            n2 = max(int(p2i.max()) + 1, 1)
            tkey = (tdoc * np.int64(n2) + p2i) * nu + t1
            tu, tc = np.unique(tkey, return_counts=True)
            kdoc = tu // (np.int64(n2) * nu)
            mask = tc > 1
            dup_tri = np.bincount(
                kdoc[mask], weights=tc[mask], minlength=nd
            ).astype(np.int64)

    den_b = np.maximum(n - 1, 0)
    den_t = np.maximum(n - 2, 0)
    return pd.DataFrame(
        {
            "top_unigram_frac": [
                round6(int(a), int(b)) for a, b in zip(top_uni, n)
            ],
            "top_bigram_frac": [
                round6(int(a), int(b)) for a, b in zip(top_bi, den_b)
            ],
            "dup_trigram_frac": [
                round6(int(a), int(b)) for a, b in zip(dup_tri, den_t)
            ],
        }
    )


def _round6(num: int, den: int) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    if den == 0:
        return 0.0
    return float(Decimal(repr(num / den)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


# PII patterns: intentionally the same safe regex subset in Java (Spark)
# and RE2 (DuckDB oracle) — char classes, bounded repeats, \b, and
# first-alternative-wins alternation only (both engines are
# leftmost-first), no lookaround, no backrefs.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# US-style phones: 3-3-4 with -/./space separators, (NPA) prefix form,
# plus the bare 555-XXXX exchange form. The 3-3-4 alternative comes
# first so "555-123-4567" is consumed whole, never as an inner
# "555-1234" exchange match.
PHONE_RE = (
    r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"
    r"|\(\d{3}\)[-. ]?\d{3}[-. ]\d{4}"
    r"|\b555-\d{4}\b"
)
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
# dotted quad; deliberately loose (no 0-255 range check — version
# strings like 1.2.3.4 over-flag, the usual scrub tradeoff)
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_PII_STAGES = [
    ("n_emails", EMAIL_RE, "[EMAIL]"),
    ("n_phones", PHONE_RE, "[PHONE]"),
    ("n_ssn", SSN_RE, "[SSN]"),
    ("n_ipv4", IPV4_RE, "[IP]"),
]


def pii_redact(
    docs: DataFrame,
    text_col: str = "text",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Redact emails, phone numbers, SSN-shaped tokens, and IPv4
    addresses in place, with a per-type count — the standard
    pretraining PII scrub. Stages apply in a fixed order (email →
    phone → SSN → IPv4: the most-specific shapes first, so an email's
    digits are gone before the looser numeric patterns run), and each
    type's count is taken on ITS stage input, i.e. it equals the number
    of tokens that stage actually redacted.

    Pure projection (regexp_replace + regexp_extract_all inside
    codegen, common subtrees shared by codegen subexpression
    elimination): zero shuffle at any scale. ``passthrough`` names
    extra input columns to carry through unchanged (pipeline
    composition without a join)."""
    stage_in = F.col(text_col)
    counts = []
    for count_name, pat, token in _PII_STAGES:
        counts.append(
            F.size(F.regexp_extract_all(stage_in, F.lit(pat), 0))
            .cast("long")
            .alias(count_name)
        )
        stage_in = F.regexp_replace(stage_in, pat, token)
    return docs.select(
        "doc_id", stage_in.alias("text_redacted"), *counts, *passthrough
    )


def canonical_text(text: Column) -> Column:
    """Fingerprint canonicalization: lowercase, strip non-alnum-space,
    collapse whitespace. The strip uses the positive-class spelling of
    ``[^a-z0-9\\s]`` (NON_CANON_RE — same delete set, ~9× faster; see
    the constant's comment block). This is the hottest expression in
    the repo: every fingerprint, shingle, and gram build runs it."""
    t = F.lower(text)
    t = F.regexp_replace(t, NON_CANON_RE, "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic content fingerprint (md5 of canonical text) — the
    exact-dedup / lineage key."""
    return docs.select(
        "doc_id",
        F.md5(canonical_text(F.col(text_col))).alias("fp"),
    )


# Gopher-style document-quality rule family (Rae et al. 2021 §A1.1,
# adapted to this engine's signals). Each rule is (name, predicate);
# thresholds are arguments so test corpora can pick a meaningful
# operating point.
def gopher_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stopword_ratio: float = 0.02,
    max_punct_ratio: float = 0.2,
    max_top_bigram_frac: float = 0.2,
    max_dup_trigram_frac: float = 0.3,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Combined keep/drop quality gate: word-count bounds, mean word
    length bounds, stopword floor, punctuation ceiling, and the two
    repetition ceilings — the standard Gopher-rule pretraining filter,
    with per-rule failure flags so the drop reasons are auditable.

    Plan shape: ONE projection — the relational signals are JVM
    expressions and the repetition signals come from the zero-shuffle
    pandas kernel, combined per row with no join and no shuffle.
    Output: (doc_id, n_words, keep, failed) where ``failed`` is the
    comma-joined rule names in fixed order ('' when keep);
    ``passthrough`` appends named input columns unchanged so the gate
    composes into pipelines without a join."""
    text = F.col(text_col)
    words = words_col(text)
    n_chars = F.length(text)
    n_words = F.size(words)
    # NON_WORD_WS_RE == [^\w\s] (positive-class spelling, see top of file)
    n_punct = n_chars - F.length(F.regexp_replace(text, NON_WORD_WS_RE, ""))
    stop_hits = F.size(F.filter(words, lambda w: w.isin(_EN_MARKERS)))
    mean_wlen = F.when(
        n_words > 0,
        F.length(F.regexp_replace(text, r"\s+", "")) / n_words,
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, stop_hits / n_words).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    # asNondeterministic (r7, guide §4.4): a downstream ``.filter("keep")``
    # — the standard composition, used by pipeline.clean_corpus — would
    # otherwise be pushed below this projection by substituting the
    # whole ``failed`` tree into the predicate, re-inlining the word
    # split / stopword InSet scan / punct regex SEVERAL times per row
    # (higher-order array functions are interpreted, so codegen CSE
    # cannot rescue them; measured 0.90 s → 5.27 s for gate+filter at
    # sf1.0). The kernel is in fact deterministic — the marker only
    # tells the optimizer not to reorder or duplicate across it, which
    # pins the staged projection as the single evaluation site.
    kernel = F.pandas_udf(
        _repetition_scores_batch,
        "top_unigram_frac double, top_bigram_frac double,"
        " dup_trigram_frac double",
    ).asNondeterministic()
    staged = docs.filter(text.isNotNull()).select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("_mwl"),
        stop_ratio.alias("_sr"),
        punct_ratio.alias("_pr"),
        kernel(text).alias("_rep"),
        *passthrough,
    )
    rules = [
        ("too_few_words", F.col("n_words") < min_words),
        ("too_many_words", F.col("n_words") > max_words),
        ("word_len_out_of_range",
         (F.col("_mwl") < min_mean_word_len)
         | (F.col("_mwl") > max_mean_word_len)),
        ("too_few_stopwords", F.col("_sr") < min_stopword_ratio),
        ("too_much_punct", F.col("_pr") > max_punct_ratio),
        ("repeated_bigrams",
         F.col("_rep.top_bigram_frac") > max_top_bigram_frac),
        ("repeated_trigrams",
         F.col("_rep.dup_trigram_frac") > max_dup_trigram_frac),
    ]
    failed = F.concat_ws(
        ",",
        F.filter(
            F.array(
                *[
                    F.when(cond, F.lit(name)).otherwise(F.lit(None))
                    for name, cond in rules
                ]
            ),
            lambda x: x.isNotNull(),
        ),
    )
    return staged.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        (failed == "").alias("keep"),
        failed.alias("failed"),
        *passthrough,
    )


def corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source dataset-card rollup: doc count, distinct-content count
    (exact-dup rate's numerator), whitespace + BPE-ish token totals, and
    mean document word count — the summary table a training-mix design
    reads before setting weights/budgets.

    Plan shape: one hash aggregate keyed on the (low-cardinality) source
    with map-side partial aggregation; the distinct-content count ships
    a 16-byte md5 per doc, never text. Scales as a single
    corpus-proportional-input, source-proportional-output pass."""
    text = F.col(text_col)
    return (
        docs.select(
            "source",
            F.md5(canonical_text(text)).alias("_fp"),
            F.size(words_col(text)).alias("_ws"),
            F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0)).alias(
                "_bpe"
            ),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("_fp").alias("n_distinct"),
            F.sum("_ws").cast("long").alias("ws_tokens"),
            F.sum("_bpe").cast("long").alias("bpe_tokens"),
            F.round(F.avg("_ws"), 6).alias("avg_words"),
        )
    )


def normalize_unicode(
    docs: DataFrame, text_col: str = "text", form: str = "NFC"
) -> DataFrame:
    """Unicode normalization (NFC by default) with a changed flag — the
    step every pipeline runs BEFORE content hashing/dedup, since
    'café' composed and 'cafe' + U+0301 are different byte strings with
    identical rendering and must not land in different dedup groups.

    Per-batch pandas kernel (Spark has no built-in normalizer), zero
    shuffle; Python's unicodedata.normalize agrees byte-for-byte with
    DuckDB's nfc_normalize, so the oracle is exact. Null text passes
    through as null with changed=false.

    Fast path (guide §4.2 — make the per-batch work cheap): ASCII text
    is normalized under every form, and ``unicodedata.is_normalized``
    runs the Unicode quick-check property scan in C — both orders of
    magnitude cheaper than ``normalize``'s decompose/recompose copy.
    ``normalize(form, t) == t`` exactly when ``is_normalized(form, t)``
    (that is the function's contract), so the short-circuit is
    output-identical; only genuinely denormalized strings pay the full
    pass. Measured at sf1.0: nfc_dedup 4.23 s → 3.26 s best-of-2."""
    import unicodedata

    def _norm(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: t
            if t is None
            or t.isascii()
            or unicodedata.is_normalized(form, t)
            else unicodedata.normalize(form, t)
        )

    kernel = F.pandas_udf(_norm, "string")
    normed = kernel(F.col(text_col))
    return docs.select(
        "doc_id",
        normed.alias("text_norm"),
        F.coalesce(normed != F.col(text_col), F.lit(False)).alias("changed"),
    )


def c4_line_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """C4-style line-level page cleaning (the public C4/T5 heuristics:
    keep a line only if it reads like prose). A line survives iff:

    - its trimmed form ends in terminal punctuation (. ! ? or a closing
      double quote) — the "ended in a terminal punctuation mark" rule;
    - it has at least ``min_words`` whitespace-separated words;
    - it does not contain "javascript" / "lorem ipsum"
      (case-insensitive) or a curly brace — the boilerplate/code tells.

    Output per doc: the cleaned text (surviving lines re-joined with
    newlines), n_lines / n_kept counters, the sentence count of the
    cleaned text (terminal-punct occurrences), and ``keep_doc`` — the
    page-level verdict (≥ 1 surviving line and ≥ ``min_sentences``
    sentences). The doc row is always emitted; composing pipelines
    filter on ``keep_doc`` (same flag-don't-drop contract as
    ``gopher_filter``). A NULL text yields ('', 0, 0, 0, false).

    Scale shape: one projection — split / lambda-filter / re-join are
    all JVM array expressions inside whole-stage codegen; zero shuffle,
    zero Python. Line predicates are evaluated once per line (the
    lambda binds the trimmed element, no re-inlining trap)."""
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    lines = F.when(F.coalesce(F.col(text_col), F.lit("")) == "", F.array().cast("array<string>")).otherwise(lines)

    def line_ok(l: Column) -> Column:
        lt = F.trim(l)
        low = F.lower(lt)
        ends = (
            lt.endswith(".")
            | lt.endswith("!")
            | lt.endswith("?")
            | lt.endswith('"')
        )
        enough = F.size(F.split(lt, r"\s+")) >= min_words
        clean = (
            ~low.contains("javascript")
            & ~low.contains("lorem ipsum")
            & ~lt.contains("{")
            & ~lt.contains("}")
        )
        return ends & enough & clean

    kept = F.filter(lines, line_ok)
    clean_text = F.array_join(kept, "\n")
    n_sent = F.size(F.regexp_extract_all(clean_text, F.lit(r"[.!?]"), 0))
    return docs.select(
        "doc_id",
        clean_text.alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        n_sent.cast("long").alias("n_sentences"),
        (
            (F.size(kept) >= 1) & (n_sent >= F.lit(min_sentences))
        ).alias("keep_doc"),
    )
