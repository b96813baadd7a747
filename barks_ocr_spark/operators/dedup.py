"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale notes (the whole point of each design):

- Exact: one hash-aggregate shuffle on the md5 fingerprint. At 100 TB the
  shuffle rows are (32-byte key, doc_id) — minimal.
- N-gram Jaccard: never O(n²). Shingles are exploded to an inverted index
  and candidate pairs come from a self-join *on shingle* — only docs
  sharing ≥1 shingle ever meet, and hot shingles can be capped. The
  Jaccard is then exact via |A∩B| / (|A|+|B|-|A∩B|).
- MinHash+LSH: k seeded xxhash64 min-hashes per doc, banded into b bands;
  candidates = docs sharing a (band, band_signature) bucket. The only
  shuffle is on the band key. The k hashes are k min-aggregates over the
  exploded shingle hashes — no UDF.
- SimHash: 64-bit signature from per-token hash bit votes (a per-batch
  numpy kernel, no shuffle); near-dups share all but ≤ hamming_budget
  bits. Bucketing on signature segments makes it shuffle-bounded.
- Embedding cosine: exact top-threshold pairs via block-nested join only
  within LSH buckets (see simsearch.py for the bucketing).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from barks_ocr_spark.operators.cacheutil import persist_tracked as _persist
from barks_ocr_spark.operators.textstats import canonical_text


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (canonicalized) docs: (fp, n_docs, doc_ids).

    The hash-groupBy exact-dedup: only groups with >1 member survive.
    """
    fp = F.md5(canonical_text(F.col(text_col)))
    return (
        docs.select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def shingles_from_text(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles in ONE Java-regex pass: the pattern
    consumes one word per match while a lookahead captures the n-word
    window — all overlapping n-grams from a single C-side scan of the
    canonical text, replacing the interpreted `transform(sequence, …)`
    higher-order chain (measured 1.27s → 0.83s for the shingle stage at
    sf0.1, byte-identical shingle sets). Works because canonical_text
    collapses whitespace to single spaces, so `\\S+ ` alignment is
    exact; docs shorter than n words simply produce no matches.

    History: the previous `transform(sequence(0, k-1), …)` HOF build
    carried two measured Catalyst traps — projection collapse inlining
    the words expression into every per-position lambda (46s vs 1.5s on
    10k docs until materialized behind a persist), and sequence(0, stop)
    DESCENDING for stop < 0 (short docs had to short-circuit). The regex
    path has neither."""
    window = " ".join([r"\S+"] * n)
    pat = rf"(?=({window}))\S+ ?"
    grams = F.array_distinct(
        F.regexp_extract_all(canonical_text(text), F.lit(pat), 1)
    )
    # null text → empty shingle set (the API contract), not null
    return F.coalesce(grams, F.array().cast("array<string>"))


DEFAULT_MAX_SHINGLE_FREQ = 1000


def _text_sets(docs: DataFrame, text_col: str) -> tuple[DataFrame, DataFrame]:
    """(members, utexts): the text-fingerprint collapse run BEFORE the
    shingle/hash kernels of ngram_jaccard_pairs and
    minhash_near_duplicates. ``members`` is (doc_id, _set); ``utexts``
    is one row per DISTINCT text, (_set, _n_docs, _text).

    The canonicalize + regex + in-array hashing pipeline is the dominant
    stage of both operators (2.45 s of ~5 s for MinHash at sf1.0) and
    would run once per DOC; grouping by a text fingerprint first (the
    exact_duplicates shuffle shape — a corpus-keyed exchange a dedup
    operator pays by definition) runs it once per DISTINCT text. Two
    texts with identical shingle SETS form two internal "sets" and
    surface as cross pairs at jaccard 1.0 — output unchanged, the set
    partition is merely finer.

    128-bit set identity (two independent xxhash64 passes in one
    struct): a single 64-bit id carries a BIRTHDAY bound over the
    corpus — at 10¹¹ distinct sets, (10¹¹)²/2⁶⁵ ≈ hundreds of silent
    set-merges, each a false duplicate pair; two hashes push that to
    2⁻¹²⁹. The struct rides groupBys, collect lists, joins and the a<b
    ordering unchanged."""
    fpr = docs.select("doc_id", F.col(text_col).alias("_text")).withColumn(
        "_set",
        F.struct(
            F.xxhash64("_text").alias("_s1"),
            F.xxhash64(F.lit(1), F.col("_text")).alias("_s2"),
        ),
    )
    members = fpr.select("doc_id", "_set")
    utexts = fpr.groupBy("_set").agg(
        F.count("*").alias("_n_docs"), F.first("_text").alias("_text")
    )
    return members, utexts


def _ordered_pairs(
    lists: DataFrame, list_col: str, a: str, b: str, key=lambda c: c
) -> DataFrame:
    """(a, b) for every ordered pair key(a) < key(b) of the elements of
    each row's ``list_col`` array — generated IN-TASK by a double
    explode, so pair generation needs one exchange (the groupBy that
    built the lists) instead of a self-join."""
    return (
        lists.select(F.explode(list_col).alias(a), list_col)
        .select(a, F.explode(list_col).alias(b))
        .filter(key(F.col(a)) < key(F.col(b)))
    )


def _expand_pairs(
    pairs: DataFrame, members: DataFrame, key: str, a: str, b: str, value: str
) -> DataFrame:
    """Re-expand (a, b, value) pairs of set/signature ids to
    (doc_a, doc_b, value) doc pairs by joining the (doc_id, ``key``)
    ``members`` back on both sides; doc_a < doc_b."""
    ma = members.select(F.col("doc_id").alias("_da"), F.col(key).alias(a))
    mb = members.select(F.col("doc_id").alias("_db"), F.col(key).alias(b))
    return (
        pairs.join(ma, a)
        .join(mb, b)
        .select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
            value,
        )
    )


_DEC = "decimal(38,0)"


def _ceil_frac(num: int, den: int, x: Column) -> Column:
    """⌈num·x/den⌉ for an integer column x ≥ 0 and positive integer
    literals, exactly: 38-digit decimal products and an integral
    ``div``. bigint products overflow once num·x passes 2⁶³ (a 16-digit
    Fraction numerator times a ~1k-element set does), and Spark's ``/``
    is a double division, not an exact one."""
    return F.call_function(
        "div",
        F.lit(num).cast(_DEC) * x.cast(_DEC) + F.lit(den - 1).cast(_DEC),
        F.lit(den).cast(_DEC),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Near-duplicate pairs (doc_a < doc_b, jaccard ≥ threshold).

    ``max_shingle_freq`` drops super-hot shingles (boilerplate) before
    pair generation — the skew guard at corpus scale, ON by default: an
    uncapped plan pairs docs on unboundedly hot shingles and a single
    boilerplate shingle shared by k docs costs k² pair rows. Capped
    jaccard stays exact for pairs whose shared shingles are all under
    the cap (denominators use the PRE-cap shingle counts); pairs held
    together only by boilerplate shingles are deliberately dropped —
    pass ``max_shingle_freq=None`` for the exact-but-skew-prone plan.

    Plan shape (r7, guide §2.3/§2.4/§8). Three ideas compose:

    1. **Distinct shingle-SETS, not docs, generate pairs** — the same
       skew discipline as simhash_near_duplicates' distinct-signature
       collapse. Jaccard is a pure function of the two shingle sets, so
       docs with byte-identical sets (exact duplicates — the common
       case in the corpus this operator exists for) are interchangeable:
       the quadratic pair stream runs over the DISTINCT sets (set id =
       xxhash64 of the doc's sorted shingle-hash array), and doc pairs
       re-expand afterward by joining set members back. k copies of a
       document contribute ONE row per posting list instead of k —
       the pair stream shrinks by the duplication factor SQUARED.
       Same-set doc pairs don't need pair counting at all: their
       jaccard is |capped set| / (2n − |capped set|), computed per set.
    2. **Prefix-filtered candidates, exact array verify** (AllPairs /
       PPJoin prefix filtering on the free hash-ascending order): a
       pair reaching the threshold must share its globally-smallest
       common shingle within the first m − ⌈t·n⌉ + 1 elements of both
       sorted capped arrays, so postings are built from those PREFIXES
       only (~one fifth of the shingles at t=0.8) — one exchange of
       hash-keyed prefix postings, ordered set pairs generated IN-TASK
       by a double explode, then candidates verified exactly with
       ``array_intersect`` on the capped arrays. 8-byte xxhash64 keys
       instead of ~25-byte shingle text (same keying discipline, and
       the same ~n²/2⁶⁴ collision odds, as remove_repeated_chunks; a
       set-id collision could merge two distinct sets — ~|sets|²/2⁶⁴ —
       and the DuckDB oracle, which keys on text, agrees at every test
       scale).
    3. **Size-ratio prune** — jaccard ≤ min(n_a,n_b)/max(n_a,n_b), and
       double division is monotone, so dropping set pairs with
       min/max < threshold before the candidate distinct loses no
       surviving pair.

    The hot-shingle cap uses the true per-DOC frequency (a tiny
    per-shingle aggregate, removed from the exploded postings by a
    broadcast left-anti join before they regroup per set).
    Measured at sf1.0 / local[32] (a 2×-duplicated 100k-doc corpus),
    best-of-2: 104.9 s (r6 self-join) → 24.9 s (hash postings + prune)
    → 13.6 s (distinct-set collapse) → see OPTIMIZATION_r07.md for the
    prefix-filter step, byte-identical output (oracle-checked at
    sf0.001, sf0.01, sf0.1, sf1.0).
    """
    members, utexts = _text_sets(docs, text_col)
    sh = shingles_from_text(F.col("_text"), n)
    harr = F.sort_array(F.transform(sh, lambda x: F.xxhash64(x)))
    # one row per DISTINCT text, with its doc multiplicity and the
    # sorted shingle-hash array — eagerly materialized. Measured with
    # pyspark 4.1.2 at local[4] on the 800-doc benchmark hygiene corpus
    # (two traced runs): without this count the build runs 0 jobs
    # instead of 4 (0.80/0.64 s instead of 0.98/1.07 s), but the pairs
    # action takes 2.03/1.95 s instead of 1.35/1.46 s
    usets = _persist(
        utexts.filter(F.size(sh) > 0).select(
            "_set",
            "_n_docs",
            F.size(sh).alias("n_shingles"),
            harr.alias("_harr"),
        )
    )
    usets.count()
    # capped per-set arrays + 1024-bit set bitmaps, from ONE set-keyed
    # regroup of the exploded postings: the hot list (true per-DOC
    # frequency) is removed by the same broadcast anti-join as before,
    # at the posting level; the surviving postings re-collect into a
    # sorted capped array per set, and sixteen bit_or aggregates fold
    # the low 10 bits of each shingle hash into a 16×long bitmap that
    # rides the same exchange. (A one-row array_except crossJoin would
    # skip the regroup but plans as BroadcastNestedLoopJoin, which the
    # scale screen rightly rejects.)
    rep = usets.select(
        "_set", "n_shingles", "_n_docs", F.explode("_harr").alias("_sh")
    )
    if max_shingle_freq is not None:
        # true per-DOC frequency = Σ _n_docs over the sets containing
        # the shingle (each doc of a set contributes its distinct
        # shingles once — identical to the old doc-level explode)
        hot = (
            usets.select("_n_docs", F.explode("_harr").alias("_sh"))
            .groupBy("_sh")
            .agg(F.sum("_n_docs").alias("freq"))
            .filter(F.col("freq") > max_shingle_freq)
            .select("_sh")
        )
        rep = rep.join(F.broadcast(hot), "_sh", "left_anti")
    # word w of the bitmap ORs bit (h & 63) for shingles with
    # (h >> 6) & 15 == w — arithmetic shift only disturbs high bits, so
    # bits 6..9 select the word correctly for negative hashes too
    bitmap_aggs = [
        F.bit_or(
            F.expr(
                f"CASE WHEN ((_sh >> 6) & 15) = {w} "
                "THEN shiftleft(CAST(1 AS BIGINT), CAST(_sh & 63 AS INT)) "
                "ELSE CAST(0 AS BIGINT) END"
            )
        ).alias(f"_b{w}")
        for w in range(16)
    ]
    capped = rep.groupBy("_set", "n_shingles", "_n_docs").agg(
        F.sort_array(F.collect_list("_sh")).alias("_carr"), *bitmap_aggs
    )
    # lazily persisted, 5 consumers (prefix postings, bitmap prefilter
    # sides, exact-verify sides, same-set scoring) — the first to run
    # populates the cache
    uc = _persist(
        capped.select(
            "_set",
            "n_shingles",
            "_n_docs",
            "_carr",
            F.size("_carr").alias("_m"),
            *[F.col(f"_b{w}") for w in range(16)],
        )
    )
    # same-set pairs: jaccard = c/(2n−c) with c = |capped set| — a pure
    # projection now that the capped array size is a column (a set whose
    # every shingle is capped away scores 0 and never pairs, matching
    # the pair-generation semantics exactly)
    same_sets = (
        uc.filter(F.col("_n_docs") > 1)
        .select(
            "_set",
            (
                F.col("_m")
                / (F.col("n_shingles") + F.col("n_shingles") - F.col("_m"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    m1 = members.select(F.col("doc_id").alias("doc_a"), "_set")
    m2 = members.select(F.col("doc_id").alias("doc_b"), "_set")
    same = (
        same_sets.join(m1, "_set")
        .join(m2, "_set")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "jaccard")
    )
    # Cross-set pairs by PREFIX FILTERING (AllPairs/PPJoin, on the free
    # hash-ascending order): a pair reaching jaccard ≥ t shares
    # c ≥ ⌈t·n_x⌉ capped shingles (using n_y ≥ t·n_x, which any passing
    # pair satisfies via jaccard ≤ min/max), and under ANY global total
    # order the SMALLEST shared element must then sit within the first
    # m_x − ⌈t·n_x⌉ + 1 elements of BOTH sorted capped arrays — else
    # ≤ ⌈t·n_x⌉ − 1 elements remain after it, a contradiction. So
    # postings are built from those prefixes only (the arrays are
    # already hash-sorted; no frequency join, no reordering), candidate
    # pairs come from the same one-exchange postings/double-explode
    # shape as before, and the survivors are verified EXACTLY by
    # intersecting the two capped arrays. Measured at sf1.0: the pair
    # stream drops 128M → 23M rows (ratio-pruned 47M → 8.5M) — the
    # pair-count aggregate over ~all-distinct keys that was half this
    # operator is replaced by a 5.5× smaller distinct + an
    # output-proportional array intersect. ⌈t·n⌉ is computed in exact
    # integer arithmetic from Fraction(threshold) (_ceil_frac) — a
    # float ceil that lands one too high silently shortens the prefix
    # and can MISS pairs at any corpus size.
    from fractions import Fraction

    fr = Fraction(str(threshold))
    ta, tb = fr.numerator, fr.denominator
    c_req = _ceil_frac(ta, tb, F.col("n_shingles")).cast("int")
    plen = F.greatest(F.col("_m") - c_req + 1, F.lit(0))
    # The bitmap prefilter runs IN-TASK during pair generation: each
    # posting element carries its set's (id, n, collision count, 16-word
    # bitmap), so the bound below is a projection over the exploded pair
    # stream — no join against the set table, and the distinct runs on
    # the few survivors instead of the full candidate stream (measured:
    # a join-based prefilter over 8.35M candidates cost 7-16 s at
    # sf1.0; in-task it rides the ~1 s pair-generation stage).
    #
    # Soundness of the bound: bit_count(AND) of two 1024-bit set
    # bitmaps counts the distinct common BITS, which undercounts
    # |capped_x ∩ capped_y| only by bit collisions among the common
    # elements — and those are bounded by either set's OWN collision
    # count m − bit_count(b), so
    #   bit_count(AND) + min(coll_x, coll_y) ≥ c
    # is a true upper bound. Dropping pairs whose bound is below the
    # minimum passing intersection c ≥ ⌈t·(n_a+n_b)/(1+t)⌉ (exact
    # integer arithmetic from the same Fraction) is therefore lossless.
    # A random pair shares ~|x|·|y|/1024 bits, far below the ~0.9·n a
    # passing pair needs, so ~all of the pair stream dies on a 128-byte
    # AND before any shuffle; the exact array_intersect verify then
    # runs only on the (output-proportional) survivors.
    #
    # Width tradeoff: once m approaches the 1024-bit width the bitmap
    # saturates and the collision slack grows until the bound stops
    # pruning (correctness is untouched — the exact verify still runs,
    # just on more pairs). For corpora of multi-thousand-shingle docs,
    # widen the map (more bit_or words) in proportion to typical m.
    pc = None
    for w in range(16):
        term = F.bit_count(F.col(f"_b{w}"))
        pc = term if pc is None else pc + term
    info = F.struct(
        F.col("_set"),
        F.col("n_shingles"),
        (F.col("_m") - pc).alias("_coll"),
        *[F.col(f"_b{w}") for w in range(16)],
    )
    pre = uc.select(
        info.alias("_i"),
        F.explode(F.slice("_carr", F.lit(1), plen)).alias("_sh"),
    )
    postings = pre.groupBy("_sh").agg(F.collect_list("_i").alias("_ds"))
    postings = postings.filter(F.size("_ds") > 1)
    x, y = F.col("_x"), F.col("_y")
    n_x, n_y = x["n_shingles"], y["n_shingles"]
    ub = F.least(x["_coll"], y["_coll"])
    for w in range(16):
        ub = ub + F.bit_count(x[f"_b{w}"].bitwiseAND(y[f"_b{w}"]))
    c_min = _ceil_frac(ta, ta + tb, n_x.cast(_DEC) + n_y.cast(_DEC)).cast("int")
    surv = (
        _ordered_pairs(postings, "_ds", "_x", "_y", key=lambda c: c["_set"])
        # prune: jaccard ≤ min/max, so min/max < threshold can never pass
        .filter(
            F.least(n_x, n_y) / F.greatest(n_x, n_y) >= F.lit(threshold)
        )
        .filter(ub >= c_min)
        .select(x["_set"].alias("_sa"), y["_set"].alias("_sb"))
        .distinct()
    )
    ca = uc.select(
        F.col("_set").alias("_sa"),
        F.col("n_shingles").alias("n_a"),
        F.col("_carr").alias("_ca"),
    )
    cb = uc.select(
        F.col("_set").alias("_sb"),
        F.col("n_shingles").alias("n_b"),
        F.col("_carr").alias("_cb"),
    )
    n_common = F.size(F.array_intersect("_ca", "_cb"))
    jac = n_common / (F.col("n_a") + F.col("n_b") - n_common)
    set_pairs = (
        surv.join(ca, "_sa")
        .join(cb, "_sb")
        .select("_sa", "_sb", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    cross = _expand_pairs(set_pairs, members, "_set", "_sa", "_sb", "jaccard")
    return cross.unionAll(same)


def _minhash_sigs_from_h1h2(hashed: DataFrame, k: int) -> DataFrame:
    """(doc_id, sig: array<bigint>[k]) MinHash signatures from
    pre-hashed (doc_id, _h1, _h2) rows, one row per shingle.

    Shape: ``groupBy(doc_id).agg(min(h_0), …, min(h_{k-1}))`` over the
    exploded shingle hashes — partial (map-side) aggregation makes the
    shuffle k longs per doc. The tempting alternative — nested
    ``transform(seeds, array_min(transform(...)))`` over a shingles
    column — is catastrophically slower: Catalyst's projection collapse
    inlines the whole canonicalize/split/distinct pipeline into every
    seed lambda (measured ~20× slower on 1k docs).

    Hash family: two xxhash64 seeds combined per slot as
    h_i = h1 XOR rotl(h2, i) — 2 string hashes per shingle instead of k
    (the double-hashing idea, with an XOR-rotate combine that stays
    overflow-free under ANSI arithmetic). Signature quality is
    equivalent for LSH banding, and the registry oracle checks the
    *verified* output pairs (exact Jaccard), so the hash family is an
    internal choice, not part of the public contract. The two hashes
    arrive as columns, not inlined expressions: whole-stage codegen
    does NOT subexpression-eliminate across aggregate-function
    children, so inlining h1/h2 into the k min() exprs re-hashes the
    shingle string 2k times per row (measured 4.1s vs 1.6s at sf0.1 for
    the signature stage)."""
    h1, h2 = F.col("_h1"), F.col("_h2")

    def rotl(col, i):  # Java shifts are mod 64, so i=0 degenerates to col
        if i == 0:
            return col
        return F.shiftleft(col, i).bitwiseOR(F.shiftrightunsigned(col, 64 - i))

    mins = [F.min(h1.bitwiseXOR(rotl(h2, i))).alias(f"h{i}") for i in range(k)]
    agg = hashed.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(k)]).alias("sig")
    )


def minhash_lsh_candidates(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Candidate near-dup pairs from banded LSH bucketing.

    Two docs collide when any band of their signatures matches exactly.
    Shuffle key = (band_id, band_hash): bounded, well-distributed.

    r7 plan shape (guide §2.3/§2.4): the band bucket is ``xxhash64``
    over the band's long-array slice directly — no per-band string
    build/concat (the bucket id is internal; the registry oracle checks
    the exact-Jaccard-verified output pairs, not bucket values). The
    bucket self-join is replaced by ONE ``groupBy(band,
    bucket).collect_list(doc_id)`` whose lists generate ordered pairs
    in-task (the same one-exchange postings shape as
    ngram_jaccard_pairs). Measured at sf1.0: candidate stage 6.0 s →
    5.1 s best-of-2, identical candidate sets.
    """
    # Persist AND eagerly materialize. Measured with pyspark 4.1.2 at
    # local[4] on the 800-doc benchmark hygiene corpus (two traced
    # runs): without this count the build runs 0 jobs instead of 5
    # (0.93/0.96 s instead of 1.54/1.57 s), but the pairs action takes
    # 1.37/1.41 s instead of 0.67/0.68 s, a net loss. Band structs
    # are UNROLLED literal expressions (one concrete slice+hash per
    # band, whole-stage codegen) rather than a transform() lambda,
    # which evaluates per element through the interpreted HOF path —
    # the same shape simhash_segment_table uses.
    signatures = _persist(signatures)
    signatures.count()
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = signatures.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("doc_id").alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    return (
        _ordered_pairs(grouped, "_ids", "doc_a", "doc_b")
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified exactly: LSH proposes a small
    candidate set, then Jaccard is computed pairwise on candidates only —
    never the full shingle self-join. Output: (doc_a, doc_b, jaccard).

    Scale shape (r7): the whole MinHash pipeline — signatures, banding,
    candidate generation, exact verify — runs over the DISTINCT shingle
    sets (the same collapse as ngram_jaccard_pairs and simhash's
    distinct-signature discipline): a doc's set identity is a pure
    projection (hash of its sorted shingle-hash-pair array), duplicated
    docs contribute ONE signature and band row each, and doc pairs
    re-expand at the end. Same-set doc pairs skip LSH+verify entirely —
    identical sets always share every band and verify at jaccard 1.0,
    so they are emitted directly. Both (h1, h2) seeded hashes ride the
    per-doc struct array, so SIGNATURE VALUES ARE UNCHANGED from the
    doc-level form — candidate recall is identical, not merely
    equivalent. Verification intersects the hash-pair arrays instead of
    shingle strings (collision odds ~n²/2¹²⁸ for a false struct match;
    the text-keyed oracle agrees at every test scale). The candidate
    table stays tiny, so verify is two set-keyed joins + an intra-row
    ``array_intersect`` — shuffle volume is O(candidate sets).

    (An intra-row signature variant — array_min over zip_with'd hash
    arrays, no explode/shuffle — was measured SLOWER: 5.7s vs 3.4s at
    sf0.1; interpreted per-element closures cost more than the shuffle
    they save. Exploding the in-array-built struct-of-hashes skips the
    per-row UTF8 copies of exploding shingle strings — the same
    measured 4.7× stream win as decontam's gram explode.)"""
    members, utexts = _text_sets(docs, text_col)
    sh = shingles_from_text(F.col("_text"), n)
    ha = F.sort_array(
        F.transform(
            sh,
            lambda s: F.struct(
                F.xxhash64(s).alias("_h1"),
                F.xxhash64(s, F.lit(1)).alias("_h2"),
            ),
        )
    )
    usets = _persist(
        utexts.filter(F.size(sh) > 0).select("_set", "_n_docs", ha.alias("_ha"))
    )
    hashed = usets.select(
        F.col("_set").alias("doc_id"), F.explode("_ha").alias("_hh")
    ).select("doc_id", "_hh._h1", "_hh._h2")
    sigs = _minhash_sigs_from_h1h2(hashed, k)
    cand = minhash_lsh_candidates(sigs, bands, k // bands)
    a = usets.select(F.col("_set").alias("doc_a"), F.col("_ha").alias("sh_a"))
    b = usets.select(F.col("_set").alias("doc_b"), F.col("_ha").alias("sh_b"))
    pairs = cand.join(a, "doc_a").join(b, "doc_b")
    pairs = pairs.select(
        F.col("doc_a").alias("_sa"),
        F.col("doc_b").alias("_sb"),
        F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
        F.size("sh_a").alias("n_a"),
        F.size("sh_b").alias("n_b"),
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    set_pairs = pairs.select("_sa", "_sb", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )
    cross = _expand_pairs(set_pairs, members, "_set", "_sa", "_sb", "jaccard")
    # same-set doc pairs: identical sets collide in every band and
    # verify at exactly 1.0 — emit directly (threshold ≤ 1 keeps them,
    # matching the doc-level plan's behavior)
    dup_sets = usets.filter(F.col("_n_docs") > 1).select("_set")
    sig_groups = (
        members.join(dup_sets, "_set")
        .groupBy("_set")
        .agg(F.collect_list("doc_id").alias("_ids"))
    )
    same = (
        _ordered_pairs(sig_groups, "_ids", "doc_a", "doc_b")
        .select("doc_a", "doc_b", F.lit(1.0).alias("jaccard"))
        .filter(F.lit(1.0) >= F.lit(threshold))
    )
    return cross.unionAll(same)


def simhash_signatures_kernel(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash) 64-bit SimHash signatures from token bit votes:
    sig bit j = 1 iff Σ over tokens of (bit j of h(token) ? +1 : −1) > 0.

    Zero shuffle: a signature is a pure function of one document, so a
    relational form (explode tokens, then a token-collapse and a 64-vote
    aggregate) pays two corpus-proportional exchanges for a per-doc
    computation — the same critique, and the same fix, as
    repetition_scores. Here each Arrow batch canonicalizes + tokenizes
    in Python, hashes every token in one vectorized C call
    (``pandas.util.hash_array``, SipHash with a fixed key — process- and
    run-stable), and folds the ±1 bit votes per doc in numpy.

    Contract: docs with zero tokens after canonicalization (empty,
    whitespace-only, null) yield NO signature row; identical text ⇒
    identical signature; near text ⇒ near signature. The token hash is
    internal — everything downstream is hash-agnostic.

    Measured at sf0.1 / local[32], best-of-2, against the xxhash64
    explode + 64-vote aggregate form: signatures 1.94 s → 0.50 s; full
    near-dup pair query 3.54 s → 2.00 s. The gap is the eliminated
    exchanges, so it grows with corpus size.
    """
    kernel = F.pandas_udf(_simhash_batch, "long")
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select("doc_id", kernel(F.col(text_col)).alias("simhash"))
        .filter(F.col("simhash").isNotNull())
    )


def _simhash_batch(texts):  # type: (pd.Series) -> pd.Series
    import re

    import numpy as np
    import pandas as pd

    # re.ASCII: Python's Unicode \s also matches NBSP/U+2028/\x85, which
    # the Java regex of canonical_text does NOT — those must be STRIPPED
    # (non-alnum), not treated as token separators, so tokens match the
    # canonical_text tokenization every other dedup operator uses and
    # fingerprint-equal docs with exotic whitespace still pair at
    # hamming 0.
    #
    # Fully vectorized (guide §4.2 — hand whole batches to native code):
    # canonicalization via pandas C string kernels, token hashing in one
    # hash_array call, and the per-doc ±1 bit-vote fold via ONE
    # np.add.reduceat over the batch's token-vote matrix — no per-doc
    # Python loop anywhere. Token values and hash family are unchanged
    # (same regexes, same pd.util.hash_array), so signatures are
    # byte-identical to the loop form this replaces.
    non_alnum = re.compile(r"[^a-z0-9\s]", re.ASCII)
    ws = re.compile(r"\s+", re.ASCII)
    s = (
        texts.astype(str)
        .str.lower()
        .str.replace(non_alnum, "", regex=True)
        .str.replace(ws, " ", regex=True)
        .str.strip()
    )
    nonempty = (s != "").to_numpy()
    res = np.zeros(len(s), dtype=np.int64)
    if nonempty.any():
        live = s[nonempty]
        # each live doc is single-space canonical, so token counts and a
        # flat token array come from one join+split
        n_tokens = (live.str.count(" ") + 1).to_numpy()
        flat = np.asarray(" ".join(live).split(" "), dtype=object)
        # batch-level token dedup: factorize once (C hashtable), hash
        # and bit-unpack only the batch VOCABULARY — per-object SipHash
        # over repeated token strings was the kernel's dominant cost
        # (measured 7.0 s → 3.1 s per 100k-doc corpus pass on the bench
        # vocabulary, and 5.7 s → 0.6 s on a 60k-vocab synthetic; both
        # byte-identical). h(token) values are unchanged, so every
        # downstream bit is too.
        codes, uniques = pd.factorize(flat)
        hu = pd.util.hash_array(np.asarray(uniques, dtype=object))
        # one C pass to a vocab×64 bit matrix (x86 little-endian byte
        # view + unpackbits), instead of 64 shift/mask passes over a
        # uint64 temporary — measured 4× faster for the fold
        bits_u = np.unpackbits(hu.view(np.uint8), bitorder="little").reshape(
            -1, 64
        )
        nd, nu = len(n_tokens), len(uniques)
        if nu <= 1024:
            # dense fold: per-doc token counts over the vocabulary via
            # ONE bincount, then counts @ bits as a BLAS dgemm. Exact:
            # every operand and partial sum is an integer-valued
            # float64 far below 2⁵³. Gated on vocabulary size so the
            # counts matrix stays ≤ nd×1024 cells per worker; diverse
            # corpora take the gather branch below.
            doc_idx = np.repeat(np.arange(nd, dtype=np.int64), n_tokens)
            counts = np.bincount(
                doc_idx * nu + codes, minlength=nd * nu
            ).reshape(nd, nu)
            cnt = np.rint(
                counts.astype(np.float64) @ bits_u.astype(np.float64)
            ).astype(np.int64)
        else:
            # token-level fold: gather the per-token bit rows from the
            # vocab matrix (identical to hashing each occurrence), then
            # segment-sum per doc. Accumulator width by need: per-bit
            # counts are bounded by the longest doc's token count, so
            # short-doc batches fold in uint8 (4× less memory traffic
            # than int32 — 32 concurrent workers make the fold
            # bandwidth-bound); int32 is exact up to 2³¹ tokens per doc
            # for the long-doc fallback.
            bits = bits_u[codes]
            starts = np.zeros(nd, dtype=np.int64)
            np.cumsum(n_tokens[:-1], out=starts[1:])
            acc = np.uint8 if n_tokens.max() < 256 else np.int32
            cnt = np.add.reduceat(
                bits if acc is np.uint8 else bits.astype(acc), starts, axis=0
            )
            # widen AFTER the fold: the counts matrix is docs×64 (tiny),
            # the token-level bits matrix was the bandwidth cost
            cnt = cnt.astype(np.int64)
        masks = (np.uint64(1) << np.arange(64, dtype=np.uint64)).astype(
            np.uint64
        )
        # Σ±1 votes > 0 ⟺ 2·(set-bit count) > n_tokens; then
        # (docs × 64 bool) @ (64,) mask vector; uint64 sum of distinct
        # masks cannot overflow, then reinterpret as the signed long
        # Spark stores (exact two's-complement wrap)
        sigs = (
            ((2 * cnt > n_tokens[:, None]).astype(np.uint64)) @ masks
        ).view(np.int64)
        res[nonempty] = sigs
    return pd.Series(
        pd.arrays.IntegerArray(res, mask=~nonempty)
    )


# The kernel needs a real type hint for pandas_udf inference; assign it
# here so the function body above stays readable.
_simhash_batch.__annotations__ = {"texts": pd.Series, "return": pd.Series}


def simhash_segment_table(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(simhash, seg, val) pigeonhole rows for a signature column: the
    64-bit sig split into (max_hamming+1) segments — any pair within the
    hamming budget agrees exactly on ≥1 segment. Input should be the
    DISTINCT signature set (see simhash_near_duplicates's skew note)."""
    n_seg = max_hamming + 1
    seg_bits = 64 // n_seg
    seg_structs = [
        F.struct(
            F.lit(i).alias("seg"),
            F.shiftrightunsigned(F.col("simhash"), i * seg_bits)
            .bitwiseAND(F.lit((1 << seg_bits) - 1).cast("long"))
            .alias("val"),
        )
        for i in range(n_seg)
    ]
    return sigs.select(
        "simhash", F.explode(F.array(*seg_structs)).alias("sv")
    ).select("simhash", "sv.seg", "sv.val")


def hot_simhash_buckets(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """(seg, val, n_sigs) segment buckets holding more DISTINCT
    signatures than ``max_bucket_size`` — the audit view for
    simhash_near_duplicates's optional bucket cap ('log what was
    dropped': count() this before capping a production run)."""
    usig = simhash_signatures_kernel(docs, text_col).select("simhash").distinct()
    return (
        simhash_segment_table(usig, max_hamming)
        .groupBy("seg", "val")
        .agg(F.count("*").alias("n_sigs"))
        .filter(F.col("n_sigs") > max_bucket_size)
    )


def simhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ max_hamming.

    Bucketing: split the 64-bit sig into (max_hamming+1) segments — by
    pigeonhole, any pair within budget agrees exactly on ≥1 segment, so
    the self-join runs on (segment_id, segment_value) buckets only.

    Skew discipline: the segment self-join runs over DISTINCT signatures
    only. Identical documents share one signature, so a corpus with a
    million byte-identical docs contributes ONE row per segment to the
    join — not a million-row hot bucket going quadratic in the shuffle
    (the skewed-key failure mode; input boundedness pinned by
    test_simhash_hot_bucket_join_input_is_bounded). Doc pairs re-expand
    afterward by joining signature members back on simhash:

    - cross-signature pairs inherit their sigs' hamming distance and are
      output-proportional by construction (each surviving sig pair);
    - same-signature pairs (hamming 0) come from a members self-join on
      simhash — quadratic only in group size where the OUTPUT is
      genuinely quadratic (those pairs are the answer).

    ``max_bucket_size`` optionally drops (seg, val) buckets holding more
    distinct signatures than the cap before the join — OFF by default
    (unlike hot shingles, a hot segment bucket needs many DISTINCT
    near-colliding signatures, not mere duplication); audit what a cap
    would drop via :func:`hot_simhash_buckets`. Capping loses only pairs
    whose EVERY agreeing segment is hot.
    """
    # ``sigs`` is filled by the first action that reads it. The eager
    # count of ``exploded`` stays: with pyspark 4.1.2 at local[4] on the
    # 800-doc benchmark hygiene corpus (two traced runs), dropping the
    # ``sigs`` count took the build from 7 jobs to 5 at the same total
    # time (build + pairs 1.42/1.40 s before, 1.19/1.42 s after), while
    # dropping the ``exploded`` count left it mixed (1.14/1.54 s), the
    # pairs action slower in both runs (0.41/0.51 s, from 0.35/0.31 s)
    sigs = _persist(simhash_signatures_kernel(docs, text_col))
    usig = sigs.select("simhash").distinct()
    exploded = _persist(simhash_segment_table(usig, max_hamming))
    exploded.count()
    if max_bucket_size is not None:
        hot = (
            exploded.groupBy("seg", "val")
            .agg(F.count("*").alias("n_sigs"))
            .filter(F.col("n_sigs") > max_bucket_size)
            .select("seg", "val")
        )
        exploded = exploded.join(F.broadcast(hot), ["seg", "val"], "left_anti")
    sa = exploded.select(F.col("simhash").alias("sig_a"), "seg", "val")
    sb = exploded.select(F.col("simhash").alias("sig_b"), "seg", "val")
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    sig_pairs = (
        sa.join(sb, ["seg", "val"])
        .filter(F.col("sig_a") < F.col("sig_b"))
        .select("sig_a", "sig_b")
        .filter(ham <= max_hamming)
        .distinct()
        .select("sig_a", "sig_b", ham.alias("hamming"))
    )
    cross = _expand_pairs(sig_pairs, sigs, "simhash", "sig_a", "sig_b", "hamming")
    # same-signature pairs from ONE exchange (groupBy/collect postings
    # + in-task ordered pair explode — r7, the ngram_jaccard_pairs
    # shape) instead of a signature-keyed self-join that exchanged the
    # sigs table twice
    sig_groups = (
        sigs.groupBy("simhash")
        .agg(F.collect_list("doc_id").alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    same = _ordered_pairs(sig_groups, "_ids", "doc_a", "doc_b").select(
        "doc_a", "doc_b", F.lit(0).alias("hamming")
    )
    return cross.unionAll(same)


def remove_repeated_chunks(
    docs: DataFrame,
    text_col: str = "text",
    min_docs: int = 2,
    delim_re: str = r"\.\s+",
    joiner: str = ". ",
) -> DataFrame:
    """C4-style cross-document boilerplate removal: split each document
    into sentence chunks (``delim_re``-delimited), drop every chunk whose
    exact text occurs in ≥ ``min_docs`` DISTINCT documents, reassemble
    the survivors in original order. Output: (doc_id, text_clean,
    n_chunks, n_removed); a doc whose every chunk was boilerplate stays
    in the output with empty text (removal must not silently drop rows).

    Scale shape: explode → hash aggregate keyed on ``xxhash64(chunk)``
    (countDistinct doc_id, map-side partial) → anti-join chunks against
    the repeated hash set → per-doc reassemble via collect_list of
    (pos, chunk) structs + array_sort (deterministic order without a
    per-doc window sort). Keying the count aggregate and the anti-join
    on the 8-byte hash instead of the chunk TEXT shrinks the
    corpus-proportional shuffle ~20-50× (most chunks are unique, so
    map-side combine barely reduces a text-keyed exchange); chunk text
    rides only the doc_id-keyed reassembly shuffle, which genuinely
    needs it. A 64-bit collision could merge two distinct chunks'
    doc-counts (false-positive removal) at ~n²/2⁶⁴ odds — negligible
    against the boilerplate threshold, and the DuckDB oracle (which
    keys on text) agrees at test scale. The repeated set is typically
    tiny (true boilerplate) so AQE picks a broadcast for the anti-join
    at runtime — but correctness never depends on it fitting in memory.
    ``n_chunks`` comes from a pure projection on the input (not from
    the exploded rows), so a doc whose text yields zero chunks
    (empty / whitespace-only / delimiter-only) still emits
    (doc_id, '', 0, 0) instead of vanishing.
    Reassembly note: the joiner re-canonicalizes delimiters (split
    drops them), so ``text_clean`` equality is up to delimiter
    whitespace — documented, and replayed identically by the oracle.
    """
    with_chunks = docs.select(
        "doc_id",
        # split(NULL) is NULL and size(NULL) is -1 — coalesce to the
        # empty array so a null-text doc takes the documented chunkless
        # path (doc_id, '', 0, 0) instead of emitting n_chunks = -1
        F.coalesce(
            F.filter(
                F.split(F.col(text_col), delim_re),
                lambda c: F.trim(c) != "",
            ),
            F.array().cast("array<string>"),
        ).alias("_chunks"),
    )
    totals = with_chunks.select(
        "doc_id", F.size("_chunks").alias("n_chunks")
    )
    chunks = with_chunks.select(
        "doc_id", F.posexplode("_chunks").alias("pos", "chunk")
    ).withColumn("_ck", F.xxhash64("chunk"))
    repeated = (
        chunks.groupBy("_ck")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("_ck")
    )
    kept = chunks.join(repeated, "_ck", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            joiner,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("text_clean"),
        F.count("*").alias("n_kept"),
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.col("n_chunks").cast("long").alias("n_chunks"),
            (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def fingerprint_index_write(
    docs: DataFrame,
    table: str,
    text_col: str = "text",
    num_buckets: int = 32,
) -> None:
    """Materialize the corpus fingerprint index for INCREMENTAL dedup:
    the distinct md5-of-canonical-text set, stored as a catalog table
    BUCKETED AND SORTED BY fp (sources/bucketed.py). The bucket layout
    is the whole point — every later :func:`dedup_increment` anti-join
    reads co-located, pre-sorted buckets and plans with NO Exchange on
    this (corpus-sized) side; only the small increment ever shuffles.
    Store cost is one 32-hex row per distinct document."""
    from barks_ocr_spark.sources import bucketed

    fps = docs.select(
        F.md5(canonical_text(F.col(text_col))).alias("fp")
    ).distinct()
    bucketed.write_bucketed(fps, table, "fp", num_buckets, sort_col="fp")


def dedup_increment(
    new_docs: DataFrame,
    index_table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup — the daily-crawl ingest path. Returns
    the rows of ``new_docs`` that are genuinely new against everything
    already ingested (:func:`fingerprint_index_write`):

    - LEFT ANTI on fingerprint against the index (drop docs the corpus
      already holds), and
    - md5-rank-first exemplar per fingerprint WITHIN the increment
      (intra-batch dedup; same deterministic selection rule as every
      sampler in operators/sampling.py, so retries and re-runs pick the
      identical survivor).

    100 TB shape: re-running exact_duplicates over corpus ∪ increment
    would re-shuffle the whole corpus for every daily batch. Here the
    corpus side is a bucketed+sorted catalog table, so the anti-join is
    a sort-merge against static co-located buckets — the index side has
    NO Exchange and NO Sort (pinned by
    test_dedup_increment_index_side_is_exchange_free); the increment
    (small by definition) shuffles into the bucket layout. The
    intra-batch window partitions by fingerprint — group sizes are
    duplicate multiplicities inside one batch, never corpus-sized.
    After ingesting the survivors, append their fingerprints back with
    :func:`fingerprint_index_append` so tomorrow's run stays
    exchange-free too.
    """
    from pyspark.sql.window import Window

    from barks_ocr_spark.sources import bucketed

    spark = new_docs.sparkSession
    table = (
        index_table
        if "." in index_table
        else f"{bucketed.BUCKETED_DB}.{index_table}"
    )
    fps = new_docs.withColumn(
        "fp", F.md5(canonical_text(F.col(text_col)))
    )
    alive = fps.join(spark.table(table), "fp", "left_anti")
    w = Window.partitionBy("fp").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        alive.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "fp")
    )


def fingerprint_index_append(
    docs: DataFrame,
    table: str,
    text_col: str = "text",
    num_buckets: int = 32,
) -> None:
    """Append ``docs``' distinct fingerprints to an existing index table
    (same bucket spec as :func:`fingerprint_index_write`, bucketBy
    append write — Spark co-locates the new files into the existing
    bucket layout, so the index never needs a rewrite). Call with the
    SURVIVORS of :func:`dedup_increment` after each batch commits."""
    from barks_ocr_spark.sources import bucketed

    spark = docs.sparkSession
    qualified = (
        table if "." in table else f"{bucketed.BUCKETED_DB}.{table}"
    )
    (
        docs.select(F.md5(canonical_text(F.col(text_col))).alias("fp"))
        .distinct()
        .write.mode("append")
        .format("parquet")
        .bucketBy(num_buckets, "fp")
        .sortBy("fp")
        .saveAsTable(qualified)
    )
