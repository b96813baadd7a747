"""Inverted full-text index (SURVEY.md A5/T13/O8) — Spark-native.

The reference builds `word → title → page → count` with a Python dict
(`experiments/make-word-index-from-gemini-ai-groups.py:184-194`) and
ships Whoosh for production search (`pipeline/whoosh_index.py:260-269`).
Here the index IS a DataFrame: explode(tokenize) → groupBy(word, doc)
.count(). Aggregation is partially applied map-side (hash aggregate), so
the shuffle carries (word, doc, partial_count) — at 100 TB this is the
canonical scalable inverted-index build. Search = a filter on the table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from barks_ocr_spark.kernels import textnorm as tn
from barks_ocr_spark.session import local_table

# Exact Spark translation of the reference tokenizer
# (make-word-index-from-gemini-ai-groups.py:251-265): lowercase; fold
# em-dash and ellipsis to space; strip the punctuation set; whitespace
# split; drop stop/unimportant words. All JVM-side (whole-stage codegen).
_PUNCT_RE = '["!=?,:;.<>/()*&%$#]'


def tokens_col(text: Column) -> Column:
    """Array-of-words column implementing the T13 tokenizer."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"—|\.\.\.", " ")
    t = F.regexp_replace(t, _PUNCT_RE, "")
    return F.split(F.trim(t), r"\s+")


def tokenize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per kept token occurrence: (doc_id, word)."""
    stop = sorted(tn.ALL_WORDS_TO_IGNORE)
    return (
        docs.select("doc_id", F.explode(tokens_col(F.col(text_col))).alias("word"))
        .filter((F.col("word") != "") & ~F.col("word").isin(stop))
    )


def inverted_index(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, doc_id, cnt) — the word-count inverted index (A5)."""
    return (
        tokenize(docs, text_col)
        .groupBy("word", "doc_id")
        .agg(F.count("*").alias("cnt"))
    )


def word_doc_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, doc_freq, total_occurrences) corpus statistics."""
    return (
        tokenize(docs, text_col)
        .groupBy("word")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count("*").alias("total_occurrences"),
        )
    )


def tf_idf(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, doc_id, tf_idf) — corpus-weighted term scores:
    tf_idf = cnt × ln(N / doc_freq), N = corpus document count.

    Plan shape: the inverted index (fact) joins the per-word document
    frequencies (dim — vocabulary-sized, broadcast) so the fact table
    never reshuffles; N is a driver scalar from one distributed count,
    folded in as a literal. ln() is IEEE-deterministic, so the score is
    exactly reproducible cross-engine (DuckDB oracle)."""
    from barks_ocr_spark.operators.cacheutil import persist_tracked

    idx = persist_tracked(inverted_index(docs, text_col))
    n_docs = docs.count()
    dfreq = (
        idx.groupBy("word").agg(F.countDistinct("doc_id").alias("_df"))
    )
    score = F.col("cnt") * F.log(F.lit(float(n_docs)) / F.col("_df"))
    return (
        idx.join(F.broadcast(dfreq), "word")
        .select("word", "doc_id", score.alias("tf_idf"))
    )


def search(index: DataFrame, word: str) -> DataFrame:
    """Term lookup on the index table (the Whoosh-query analogue,
    `src/barks_ocr/tools/whoosh_find.py` behavior): docs containing
    ``word``, highest count first."""
    return index.filter(F.col("word") == word.lower()).orderBy(
        F.desc("cnt"), "doc_id"
    )


def index_hyphen_duplicates(
    index: DataFrame, allowed: list[str] | None = None
) -> DataFrame:
    """Hyphenated index terms whose fully dehyphenated form is ALSO an
    index term (`pipeline/whoosh_index.py:138-146`, check_cleaned_terms:
    usually an OCR line-break hyphenation artifact), minus the curated
    allowlist of legitimately-both words (the reference's
    BARKSIAN_WORDS_WITH_OPTIONAL_HYPHENS). Empty result = healthy.

    Returns (term, dehyphenated, n_docs_term, n_docs_dehyph). Scale
    shape: runs on the VOCABULARY (distinct words — bounded, never
    corpus-sized), one hash join of the hyphenated slice against the
    vocabulary on the dehyphenated key."""
    from barks_ocr_spark.operators.cacheutil import persist_tracked

    # the vocabulary stats feed BOTH join sides — aggregate the corpus
    # once (eager: a lazy cache would recompute under the broadcast)
    stats = persist_tracked(
        index.groupBy("word").agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    stats.count()
    hyph = stats.filter(F.col("word").contains("-")).select(
        F.col("word").alias("term"),
        F.regexp_replace("word", "-", "").alias("dehyphenated"),
        F.col("n_docs").alias("n_docs_term"),
    )
    if allowed:
        hyph = hyph.filter(~F.col("term").isin([a.lower() for a in allowed]))
    plain = stats.select(
        F.col("word").alias("dehyphenated"), F.col("n_docs").alias("n_docs_dehyph")
    )
    # hyphenated terms are a sliver of the vocabulary: broadcast them so
    # the full vocabulary never reshuffles on the dehyphenated key
    return plain.join(F.broadcast(hyph), "dehyphenated").select(
        "term", "dehyphenated", "n_docs_term", "n_docs_dehyph"
    )


def positional_index(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, doc_id, positions: array<int>) — the phrase-capable index
    (`tools/whoosh_find.py` searches Whoosh, which stores positions for
    phrase queries; this is the DataFrame equivalent).

    Positions are 0-based slots in the RAW token stream — stopwords and
    empty tokens occupy slots but are not indexed — so adjacency stays
    pure position arithmetic and adding a stopword to the stop list
    never silently changes existing phrase distances."""
    stop = sorted(tn.ALL_WORDS_TO_IGNORE)
    toks = docs.select(
        "doc_id", F.posexplode(tokens_col(F.col(text_col))).alias("pos", "word")
    ).filter((F.col("word") != "") & ~F.col("word").isin(stop))
    return toks.groupBy("word", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )


def phrase_terms(phrase: str) -> list[str]:
    """Driver-side replica of the T13 tokenizer for query strings."""
    import re

    t = re.sub(r"—|\.\.\.", " ", phrase.lower())
    t = re.sub(r'["!=?,:;.<>/()*&%$#]', "", t)
    return [w for w in t.split() if w]


def search_phrase(pos_index: DataFrame, phrase: str) -> DataFrame:
    """Docs containing the terms of ``phrase`` ADJACENTLY, in order —
    the quoted-phrase Whoosh query (`tools/whoosh_find.py`). Returns
    (doc_id, n_matches = number of start positions), most matches first.

    Plan shape: each term filters the index to one word (pushed to the
    scan), term i's positions are shifted by -i, and the per-doc arrays
    are intersected — surviving entries are exact phrase starts. The
    joins run on the filtered (per-term, per-doc) slices only, never the
    full index; phrase length bounds the join count."""
    terms = phrase_terms(phrase)
    if not terms:
        raise ValueError("empty phrase")
    stop = tn.ALL_WORDS_TO_IGNORE
    bad = [t for t in terms if t in stop]
    if bad:
        raise ValueError(f"phrase contains unindexed stop words: {bad}")
    if len(terms) > 1:
        # one pass over the index feeds every per-term slice: without
        # this an on-the-fly index re-tokenizes the corpus once per term
        # (eager count — a lazy cache would recompute per join branch)
        from barks_ocr_spark.operators.cacheutil import persist_tracked

        pos_index = persist_tracked(pos_index.filter(F.col("word").isin(terms)))
        pos_index.count()

    def _shift(i: int):
        # factory, not a default-arg lambda: pyspark inspects lambda
        # arity, and a (p, i=i) signature reads as the (element, index)
        # binary form of transform()
        return lambda p: p - F.lit(i)

    out: DataFrame | None = None
    for i, t in enumerate(terms):
        starts = (
            F.transform("positions", _shift(i)) if i else F.col("positions")
        )
        s = pos_index.filter(F.col("word") == t).select(
            "doc_id", starts.alias(f"_s{i}")
        )
        out = s if out is None else out.join(s, "doc_id")
    assert out is not None
    inter = F.col("_s0")
    for i in range(1, len(terms)):
        inter = F.array_intersect(inter, F.col(f"_s{i}"))
    return (
        out.select("doc_id", F.size(inter).cast("long").alias("n_matches"))
        .filter(F.col("n_matches") > 0)
        .orderBy(F.desc("n_matches"), "doc_id")
    )


def index_integrity_missing_terms(index: DataFrame, terms: list[str]) -> DataFrame:
    """Index integrity check (`pipeline/whoosh_index.py:33-57`): curated
    terms that are NOT findable in the index. Empty result = healthy."""
    curated = local_table(
        index.sparkSession, [(t.lower(),) for t in terms], "term string"
    )
    return curated.join(
        index.select(F.col("word")).distinct(),
        curated.term == F.col("word"),
        "left_anti",
    )
