"""Distinct-count sketching with a deterministic, cross-engine hash.

``approx_count_distinct`` (HyperLogLog++) is the built-in answer, but
its estimate is engine-specific — no external oracle can replay it. The
K-minimum-values sketch (Bar-Yossef et al. 2002) with a deterministic
md5-derived hash gives the same accuracy class AND an exactly
reproducible estimate: any engine hashing the same values produces the
identical k smallest hashes, hence the identical estimate — which is
also the property that makes KMV sketches MERGEABLE across partitions,
days, or engines (union the hash sets, keep the k smallest).

est = (k-1) / h_(k) with h in [0,1) (normalized 32-bit md5 prefix);
exact count when a group holds fewer than k distinct hashes.

Scale shape: the distinct (group, hash) pre-aggregation rides map-side
partial aggregation (the same shuffle an exact countDistinct pays on a
single pass); the k-th order statistic is a per-group window over the
deduped hashes. The sketch's real win at 100 TB is incremental: store
each partition's/day's k-set (k longs) and merge, instead of
re-scanning history for every rollup window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from barks_ocr_spark.session import local_table

_HASH_SPACE = 4294967296.0  # 2^32 — the normalization denominator


def _hash32(col) -> F.Column:
    """First 8 md5 hex chars as a long in [0, 2^32) — deterministic and
    re-derivable in ANY engine (DuckDB: CAST('0x'||substr(md5(..),1,8)
    AS UBIGINT))."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


def _pre_trim_k_smallest(hashes: DataFrame, group_col: str, k: int) -> DataFrame:
    """Narrow (shuffle-free) per-batch trim: keep only the k smallest
    distinct hashes per group within each Arrow batch.

    Any subset-wise k-smallest filter preserves the global k smallest
    distinct hashes, so the downstream distinct+window is unchanged —
    but a giant group now ships ≤ k rows per input batch into the
    shuffle instead of its entire distinct hash set (ADVICE r3 KMV
    shuffle trim; pinned by test_kmv_pre_trim_bounds_shuffle_rows).
    The projection entering the trim is two columns (group, 8-byte
    hash), so the Arrow transfer is small relative to the shuffle it
    removes."""
    from collections.abc import Iterator

    import pandas as pd

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield (
                b.sort_values("_h", kind="mergesort")
                .drop_duplicates([group_col, "_h"])
                .groupby(group_col, sort=False)
                .head(k)
            )

    return hashes.mapInPandas(_gen, hashes.schema)


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 16,
) -> DataFrame:
    """(group, est_distinct): KMV distinct-count estimate of
    ``value_col`` per group, deterministic across engines/runs/
    partitionings.

    A narrow per-batch k-smallest filter runs before the global shuffle
    (see _pre_trim_k_smallest) — identical result, bounded shuffle."""
    hashes = df.select(
        F.col(group_col), _hash32(F.col(value_col)).alias("_h")
    )
    hashes = _pre_trim_k_smallest(hashes, group_col, k).distinct()
    w = Window.partitionBy(group_col).orderBy("_h")
    ranked = hashes.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    per = ranked.groupBy(group_col).agg(
        F.count("*").alias("_n"), F.max("_h").alias("_hk")
    )
    est = F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col("_hk").cast("double") / F.lit(_HASH_SPACE))
    )
    return per.select(group_col, F.round(est, 6).alias("est_distinct"))


def heavy_hitters(
    docs: DataFrame,
    k: int = 20,
    capacity: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """EXACT top-k words by corpus-wide occurrence count — without ever
    shuffling the corpus's token stream. Two passes:

    1. Candidate sweep: each Arrow batch computes its exact per-batch
       word counts (vectorized value_counts over the whitespace tokens
       of the trimmed, lowercased text) and emits only its top
       ``capacity`` words. The Misra-Gries-style guarantee composes
       across any partition of the stream: a word NOT kept by a batch
       has batch count ≤ N_batch/(capacity+1), so a word missed by
       EVERY batch has global count ≤ Σ N_batch/(capacity+1) =
       N/(capacity+1) — every genuinely heavy word survives somewhere.
       The sweep ships ≤ capacity rows per batch: a few thousand rows
       from a trillion-token corpus, never a token-level exchange.
    2. Exact recount: one more scan counts ONLY the candidate set
       (membership filter inside the per-batch kernel), then a tiny
       (≤ distinct-candidates) aggregate sums the partials. The driver
       holds at most 100k candidates (chosen by summed partial count —
       the heaviest first); truncation tightens the exactness proof
       instead of silently weakening the answer.

    Exactness is PROVEN at runtime, not assumed: the k-th recounted
    value must exceed N/(capacity+1) — the ceiling any non-candidate
    word can reach. A corpus too flat for the proof raises ValueError
    naming the capacity to raise, instead of silently returning
    plausible-but-unproven winners. Ties at rank k resolve
    deterministically by word.

    Returns (word, n_occurrences) ordered by (count desc, word),
    exactly k rows (fewer only if the corpus has < k distinct words).
    """
    from collections.abc import Iterator

    import pandas as pd

    spark = docs.sparkSession
    tokens_schema = "word string, partial long"

    def _batch_counts(b: pd.DataFrame) -> pd.Series:
        # ASCII-whitespace tokenization, mirroring the oracle's
        # trim(…) + string_split_regex(…, '\s+') EXACTLY: RE2's \s is
        # [\t\n\f\r ] — NO vertical tab, unlike both Java's and
        # Python's \s — so \x0b is deliberately absent from the class
        # (probed directly against DuckDB). pandas' default
        # str.strip()/str.split() use Python's Unicode whitespace,
        # which would diverge on NBSP/U+2028/\x0b text (ADVICE r6).
        # '' tokens from the regex split are dropped exactly as the
        # oracle's word <> '' filter drops them.
        texts = b["text"].dropna().astype(str).str.lower().str.strip(" ")
        words = (
            texts.str.split("[\t\n\f\r ]+", regex=True)
            .explode()
            .dropna()
        )
        words = words[words != ""]
        return words.value_counts()

    def _mg_sweep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            vc = _batch_counts(b).head(capacity)
            yield pd.DataFrame(
                {"word": vc.index.astype(str), "partial": vc.to_numpy()}
            )

    text_only = docs.select(F.col(text_col).alias("text"))
    # Bounded candidate collect: the per-batch sweeps can union to
    # capacity × n_batches distinct words on an adversarial corpus — an
    # unbounded driver collect. Keep the max_candidates words with the
    # largest SUMMED partial counts (a lower bound of each word's true
    # count, so the heaviest words sort first); if anything was
    # truncated, its true-count ceiling (partial sum + the per-batch
    # miss bound) is folded into the exactness proof below, so
    # truncation can weaken the proof but never the answer.
    max_candidates = 100_000
    cand_rows = (
        text_only.mapInPandas(_mg_sweep, tokens_schema)
        .groupBy("word")
        .agg(F.sum("partial").alias("psum"))
        .orderBy(F.desc("psum"), "word")
        .limit(max_candidates + 1)
        .collect()
    )
    truncated_partial_max = 0
    if len(cand_rows) > max_candidates:
        truncated_partial_max = cand_rows[-1]["psum"]
        cand_rows = cand_rows[:max_candidates]
    # Broadcast, not closure capture (r7; guide §2.6 task-closure note):
    # at the 100k cap the candidate set is several MB, and a closure
    # ships with EVERY task binary of the recount scan, while a
    # broadcast transfers once per executor and is shared by its tasks.
    cand_bc = spark.sparkContext.broadcast({r["word"] for r in cand_rows})

    def _recount(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cand_set = cand_bc.value
        for b in batches:
            vc = _batch_counts(b)
            total = int(vc.sum())
            vc = vc[vc.index.isin(cand_set)]
            out = pd.DataFrame(
                {"word": vc.index.astype(str), "partial": vc.to_numpy()}
            )
            yield pd.concat(
                [out, pd.DataFrame({"word": ["\x00total\x00"], "partial": [total]})],
                ignore_index=True,
            )

    partials = text_only.mapInPandas(_recount, tokens_schema)
    agg = partials.groupBy("word").agg(F.sum("partial").alias("n_occurrences"))
    # the total row carries count N ≥ any word count and its word sorts
    # before any real token, so it is always row 1 of the TakeOrdered
    rows = (
        agg.orderBy(F.desc("n_occurrences"), "word")
        .limit(k + 1)
        .collect()
    )
    if not rows:
        return local_table(spark, [], "word string, n_occurrences long")
    n_tokens = next(
        (r["n_occurrences"] for r in rows if r["word"] == "\x00total\x00"), 0
    )
    top = [r for r in rows if r["word"] != "\x00total\x00"][:k]
    # any word never emitted as a candidate is bounded by N/(capacity+1);
    # a truncated candidate additionally carries its observed partial sum
    floor_bound = truncated_partial_max + n_tokens / (capacity + 1)
    if top and top[-1]["n_occurrences"] <= floor_bound:
        raise ValueError(
            f"heavy_hitters: cannot prove exactness — rank-{k} count "
            f"{top[-1]['n_occurrences']} <= {floor_bound:.0f} (the ceiling a "
            f"non-candidate word can reach); raise capacity above {capacity}"
        )
    return local_table(
        spark,
        [(r["word"], r["n_occurrences"]) for r in top],
        "word string, n_occurrences long",
    )
