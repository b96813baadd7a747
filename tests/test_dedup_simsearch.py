"""Dedup + similarity-search operator correctness on planted data."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from barks_ocr_spark.operators import dedup, simsearch


def _corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),   # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat tonight"),   # near dup of 1
        (4, "completely different text about spark query engines here"),
        (5, "Thé QUICK   brown fox, jumps over the lazy dog tonight"),  # canon dup of 1? (é differs)
        (6, "spark engines rule the data world"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_duplicates(spark):
    out = dedup.exact_duplicates(_corpus(spark)).collect()
    groups = {tuple(r["doc_ids"]) for r in out}
    assert (1, 2) in groups
    assert all(5 not in g for g in groups)  # 'é' canonicalizes differently


def test_ngram_jaccard_pairs(spark):
    out = dedup.ngram_jaccard_pairs(_corpus(spark), threshold=0.5).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_ngram_jaccard_prefix_and_bitmap_are_lossless(spark):
    # Adversarial corpus for the r7 prefix-filter + bitmap-prefilter
    # pipeline: LARGE shingle sets (hundreds of bits set in the
    # 1024-bit set bitmaps, so intra-set bit collisions are guaranteed
    # and the collision-slack term of the prefilter bound is load-
    # bearing) with many pairs sitting just at/above/below the
    # threshold. Output must equal an independent brute-force reference
    # to the exact float.
    import itertools
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(400)]
    base_docs = []
    for i in range(12):
        base_docs.append([rng.choice(vocab) for _ in range(300)])
    rows = []
    doc_words = {}
    did = 0
    for words in base_docs:
        for _ in range(2):  # an exact twin ...
            rows.append((did, " ".join(words)))
            doc_words[did] = words
            did += 1
        # ... and graded perturbations straddling the threshold
        for n_edits in (3, 12, 40):
            mut = list(words)
            for _ in range(n_edits):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((did, " ".join(mut)))
            doc_words[did] = mut
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.8, max_shingle_freq=None)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out.collect()}

    def sh3(words):
        return set(zip(words, words[1:], words[2:]))

    sets = {d: sh3(w) for d, w in doc_words.items()}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        jac = inter / (len(sets[a]) + len(sets[b]) - inter)
        if jac >= 0.8:
            want[(a, b)] = jac
    assert got == want
    assert any(v < 1.0 for v in want.values())  # near-dups present
    assert any(v == 1.0 for v in want.values())  # twins present


def test_minhash_finds_planted_dups(spark):
    out = dedup.minhash_near_duplicates(_corpus(spark), threshold=0.8).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in out}
    assert (1, 2) in pairs


def test_minhash_short_and_null_docs(spark):
    # Docs with fewer words than the shingle width (incl. empty / null
    # text) must yield zero shingles, not a slice(start=0) crash —
    # Spark's sequence(0, -1) descends instead of returning empty.
    rows = [("d1", ""), ("d2", "   "), ("d3", None), ("d4", "two words")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    assert dedup.minhash_near_duplicates(docs).count() == 0
    assert dedup.ngram_jaccard_pairs(docs).count() == 0
    sh = docs.select(dedup.shingles_from_text(F.col("text")).alias("s")).collect()
    assert all(r["s"] == [] for r in sh)


def test_simhash_hamming_zero_for_identical(spark):
    out = dedup.simhash_near_duplicates(_corpus(spark), max_hamming=3).collect()
    ham = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out}
    assert ham[(1, 2)] == 0


def test_jaccard_prefix_ceilings_are_exact(spark):
    # ⌈t·n⌉ (prefix length) and ⌈t·(n_a+n_b)/(1+t)⌉ (bitmap bound) as
    # Spark evaluates them, against exact Fraction ceilings — including
    # thresholds whose 16-17 digit numerators overflow a bigint product
    import math
    from fractions import Fraction

    thresholds = [
        0.1, 0.5, 0.8, 0.8000000000000001, 0.9, 0.95, 0.9999999999999999,
        1 / 3, 2 ** -0.5, 1.0,
    ]
    sizes = [0, 1, 2, 3, 7, 1000, 1298, 15_000, 2**20 + 1, 2**31 - 1]
    df = spark.createDataFrame(
        [(a, b) for a in sizes for b in sizes[::3]], "n_a int, n_b int"
    )
    cols, want = [], []
    for i, t in enumerate(thresholds):
        fr = Fraction(str(t))
        ta, tb = fr.numerator, fr.denominator
        cols.append(dedup._ceil_frac(ta, tb, F.col("n_a")).alias(f"req{i}"))
        cols.append(
            dedup._ceil_frac(
                ta, ta + tb, F.col("n_a").cast("long") + F.col("n_b")
            ).alias(f"min{i}")
        )
        want.append(
            lambda a, b, fr=fr: (
                math.ceil(fr * a), math.ceil(fr * (a + b) / (1 + fr))
            )
        )
    for r in df.select("n_a", "n_b", *cols).collect():
        for i, ref in enumerate(want):
            assert (r[f"req{i}"], r[f"min{i}"]) == ref(r["n_a"], r["n_b"]), (
                thresholds[i], r["n_a"], r["n_b"]
            )


@pytest.mark.parametrize("n_words", [1300, 2400])
def test_jaccard_long_docs_at_a_long_threshold(spark, n_words):
    # long docs at a threshold with a 16-digit Fraction numerator
    # (0.8000000000000001 is the double 4000000000000001/5·10¹⁵): the
    # bigint products t·(n_a+n_b) (1,300 words) and t·n (2,400 words)
    # pass 2⁶³, which overflowed under ANSI mode
    from fractions import Fraction

    base = [f"w{i}" for i in range(n_words)]
    half = n_words // 2
    texts = {
        1: base,
        2: base[:-1] + ["tail"],  # one shingle off doc 1
        3: base[:half] + [f"v{i}" for i in range(n_words - half)],  # half shared
    }
    docs = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in texts.items()], "doc_id long, text string"
    )
    threshold = 0.8000000000000001
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=threshold).collect()
    }
    shingles = {
        i: {" ".join(w[j : j + 3]) for j in range(len(w) - 2)}
        for i, w in texts.items()
    }
    want = {}
    for a in texts:
        for b in texts:
            if a < b:
                jac = Fraction(
                    len(shingles[a] & shingles[b]), len(shingles[a] | shingles[b])
                )
                if jac >= Fraction(str(threshold)):
                    want[(a, b)] = float(jac)
    assert want == {(1, 2): (n_words - 3) / (n_words - 1)}
    assert got == want


def test_hot_shingle_cap_drops_boilerplate(spark):
    docs = _corpus(spark)
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.01, max_shingle_freq=1)
    # every shingle shared by >1 doc is dropped → no pairs survive
    assert capped.count() == 0


def _compiles(spark) -> int:
    """Generated sources the JVM has compiled so far: each one a miss of
    Spark's JVM-wide codegen cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_near_dup_operators_compile_once(spark):
    # The three near-dup operators generate more distinct sources than
    # Spark's default 100-entry codegen cache holds, so with that cache
    # every rerun compiled most of them again.
    def near_dups():
        docs = _corpus(spark)
        dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
        dedup.minhash_near_duplicates(docs, threshold=0.8).collect()
        dedup.simhash_near_duplicates(docs, max_hamming=3).collect()

    c0 = _compiles(spark)
    near_dups()
    c1 = _compiles(spark)
    near_dups()
    assert _compiles(spark) - c1 <= 5, (c1 - c0, _compiles(spark) - c1)


def _embeddings(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [1.0, 0.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
        (5, [0.5, 0.5, 0.5, 0.5]),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))


def test_brute_force_topk(spark):
    out = simsearch.brute_force_topk(_embeddings(spark), [1.0, 0.0, 0.0, 0.0], k=3).collect()
    ids = [r["vec_id"] for r in out]
    assert ids[0] in (0, 3) and ids[1] in (0, 3)  # perfect matches first
    assert out[0]["score"] == 1.0
    assert ids[2] == 1


def test_lsh_topk_recall_vs_brute_force(spark):
    emb = _embeddings(spark)
    q = [1.0, 0.0, 0.0, 0.0]
    bf = [r["vec_id"] for r in simsearch.brute_force_topk(emb, q, k=3).collect()]
    approx = [r["vec_id"] for r in simsearch.lsh_topk(emb, q, k=3, max_hamming=16).collect()]
    # with the full hamming budget LSH degrades to exact
    assert approx == bf


def test_ivf_full_probe_equals_brute_force(spark):
    emb = _embeddings(spark)
    q = [1.0, 0.0, 0.0, 0.0]
    bf = [r["vec_id"] for r in simsearch.brute_force_topk(emb, q, k=3).collect()]
    # probing every cell degrades IVF gracefully to exact brute force
    full = [
        r["vec_id"]
        for r in simsearch.ivf_topk(emb, q, k=3, n_centroids=8, nprobe=8).collect()
    ]
    assert full == bf


def test_ivf_probe_prunes_to_query_cells(spark):
    emb = _embeddings(spark)
    q = [1.0, 0.0, 0.0, 0.0]
    probe = simsearch.ivf_probe_cells(q, n_centroids=8, nprobe=2)
    assert len(probe) == 2 and len(set(probe)) == 2
    out = simsearch.ivf_topk(emb, q, k=10, n_centroids=8, nprobe=2)
    from pyspark.sql import functions as SF

    cells = (
        emb.select(
            "vec_id",
            simsearch.ivf_cell(
                SF.col("embedding").cast("array<double>"), 8, dim=4
            ).alias("cell"),
        )
        .collect()
    )
    allowed = {r["vec_id"] for r in cells if r["cell"] in probe}
    assert {r["vec_id"] for r in out.collect()} <= allowed


def test_cosine_pairs_identical_vectors(spark):
    emb = _embeddings(spark)
    out = simsearch.cosine_pairs(emb, threshold=0.95, dim=4).collect()
    pairs = {(r["id_a"], r["id_b"]): r["score"] for r in out}
    assert pairs[(0, 3)] == 1.0
    assert all(not (a == 0 and b == 4) for a, b in pairs)  # opposite vector
    # the 4-dim vectors spread over more than one signature bucket: at a
    # threshold every pair passes, the bucketed self-join yields fewer
    # than all C(6, 2) = 15 pairs (vectors of a length other than ``dim``
    # all get signature 0 and would pair up in one bucket)
    assert simsearch.cosine_pairs(emb, threshold=-1.0, dim=4).count() < 15


def test_ivf_indexed_matches_on_the_fly(spark, tmp_path):
    emb = _embeddings(spark)
    path = str(tmp_path / "ivf_idx")
    simsearch.ivf_write(emb, path, n_centroids=8, dim=4)
    q = [1.0, 0.0, 0.0, 0.0]
    direct = simsearch.ivf_topk(emb, q, k=4, n_centroids=8, nprobe=3)
    indexed = simsearch.ivf_topk_indexed(spark, path, q, k=4, n_centroids=8, nprobe=3)
    assert sorted(map(tuple, indexed.collect())) == sorted(map(tuple, direct.collect()))


def test_ivf_indexed_partition_pruning(spark, tmp_path):
    emb = _embeddings(spark)
    path = str(tmp_path / "ivf_idx")
    simsearch.ivf_write(emb, path, n_centroids=8, dim=4)
    out = simsearch.ivf_topk_indexed(
        spark, path, [1.0, 0.0, 0.0, 0.0], k=4, n_centroids=8, nprobe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the cell predicate must reach the scan as a partition filter, not
    # a post-scan Filter over the whole corpus
    assert "PartitionFilters" in plan
    partition_filter = plan.split("PartitionFilters", 1)[1][:100]
    assert "cell" in partition_filter




def test_lsh_indexed_matches_on_the_fly(spark, tmp_path):
    emb = _embeddings(spark)
    path = str(tmp_path / "lsh_idx")
    simsearch.lsh_write(emb, path, n_planes=16, dim=4)
    q = [1.0, 0.0, 0.0, 0.0]
    direct = simsearch.lsh_topk(emb, q, k=4, max_hamming=16)
    indexed = simsearch.lsh_topk_indexed(spark, path, q, k=4, max_hamming=16)
    assert sorted(map(tuple, indexed.collect())) == sorted(map(tuple, direct.collect()))


def test_lsh_indexed_no_signature_recompute(spark, tmp_path):
    emb = _embeddings(spark)
    path = str(tmp_path / "lsh_idx")
    simsearch.lsh_write(emb, path, n_planes=16, dim=4)
    out = simsearch.lsh_topk_indexed(spark, path, [1.0, 0.0, 0.0, 0.0], k=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # signatures come from the STORED column: the rescore is the ONLY
    # Python/Arrow stage, no HOF fold anywhere, and the hamming prune on
    # the stored sig runs BELOW it (prune-then-rescore)
    assert plan.count("ArrowEvalPython") == 1 and "aggregate(" not in plan
    assert plan.index("Filter") > plan.index("ArrowEvalPython")  # deeper = later
    # ...while the on-the-fly path recomputes signatures (second Arrow
    # stage below the filter) — sanity for the pin
    fly = simsearch.lsh_topk(emb, [1.0, 0.0, 0.0, 0.0], k=4)
    fly_plan = fly._jdf.queryExecution().executedPlan().toString()
    assert fly_plan.count("ArrowEvalPython") == 2


def test_lsh_banded_matches_single_table(spark, tmp_path):
    # pigeonhole exactness: for max_hamming < n_bands the banded probe
    # covers every candidate the full signature scan finds
    emb = _emb_table(spark).filter("vec_id != 0")
    q = [
        float(x)
        for x in _emb_table(spark).filter("vec_id = 0").first()["embedding"]
    ]
    path = str(tmp_path / "lshband")
    simsearch.lsh_band_write(emb, path, n_planes=16, n_bands=8, dim=64)
    banded = simsearch.lsh_topk_banded(
        spark, path, q, k=10, n_planes=16, n_bands=8, max_hamming=6
    )
    direct = simsearch.lsh_topk(emb, q, k=10, n_planes=16, max_hamming=6)
    assert [tuple(r) for r in banded.collect()] == [
        tuple(r) for r in direct.collect()
    ]


def test_lsh_banded_partition_pruning(spark, tmp_path):
    emb = _emb_table(spark).filter("vec_id != 0")
    q = [
        float(x)
        for x in _emb_table(spark).filter("vec_id = 0").first()["embedding"]
    ]
    path = str(tmp_path / "lshband")
    simsearch.lsh_band_write(emb, path, n_planes=16, n_bands=8, dim=64)
    out = simsearch.lsh_topk_banded(spark, path, q, k=10, n_bands=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the probe reaches the bands scan as a PARTITION filter (band, val
    # are partition columns) — band-bucket slivers, not a full scan
    assert "PartitionFilters" in plan
    # the base-table scan has empty partition filters; the BANDS scan
    # must carry the (band, val) probe predicate
    pfs = [seg[:400] for seg in plan.split("PartitionFilters")[1:]]
    assert any("band" in pf and "val" in pf for pf in pfs), pfs
    # no signature recompute anywhere: the rescore is the only Arrow stage
    assert plan.count("ArrowEvalPython") == 1
    # the re-rank fetch is a broadcast join of candidate ids
    assert "BroadcastHashJoin" in plan
    # h >= B breaks the pigeonhole guarantee and must refuse loudly
    import pytest as _pytest

    with _pytest.raises(ValueError):
        simsearch.lsh_topk_banded(spark, path, q, n_bands=8, max_hamming=8)


def test_pq_trained_codebook_end_to_end(spark, tmp_path):
    # the production path: pq_train on a seeded sample → pq_write →
    # pq_topk_indexed, pinned against the inline form AND against brute
    # force recall (trained codebooks must beat the LCG default)
    import numpy as np

    emb = _emb_table(spark).filter("vec_id != 0")
    q = [
        float(x)
        for x in _emb_table(spark).filter("vec_id = 0").first()["embedding"]
    ]
    sample = np.array(
        [list(r["embedding"]) for r in emb.limit(300).collect()], dtype=np.float64
    )
    cb = simsearch.pq_train(sample, m=8, n_codes=16, seed=7)
    path = str(tmp_path / "pqtrained")
    simsearch.pq_write(emb, path, dim=64, codebook=cb)
    indexed = simsearch.pq_topk_indexed(spark, path, q, k=10, codebook=cb)
    inline = simsearch.pq_topk(emb, q, k=10, codebook=cb)
    got = [tuple(r) for r in indexed.collect()]
    # write-time vs read-time encode/ADC agree on the trained codebook
    assert got == [tuple(r) for r in inline.collect()]
    exact = {r["vec_id"] for r in simsearch.brute_force_topk(emb, q, k=10).collect()}
    recall_trained = len({v for v, _ in got} & exact) / 10
    lcg = {
        r["vec_id"] for r in simsearch.pq_topk(emb, q, k=10).collect()
    }
    recall_lcg = len(lcg & exact) / 10
    assert recall_trained >= recall_lcg  # receipt: trained >= LCG
    assert recall_trained >= 0.5  # and genuinely useful at refine=10


def test_sign_bits_py_matches_column_form(spark):
    emb = _embeddings(spark)
    rows = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        simsearch.sign_lsh_bits(
            F.col("embedding").cast("array<double>"), 16, dim=4
        ).alias("sig"),
    ).collect()
    for r in rows:
        assert simsearch.sign_bits_py(list(r["v"]), 16, 4) == r["sig"]


def test_simhash_hot_bucket_join_input_is_bounded(spark):
    # 200 byte-identical docs = ONE distinct signature: the segment
    # self-join's input must be n_distinct_sigs × n_segments rows, not
    # n_docs × n_segments — the skewed-bucket guard
    rows = [(i, "the exact same duplicated body text here") for i in range(200)]
    rows += [(1000, "a totally different unique document"), (1001, "and one more")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.simhash_signatures_kernel(docs)
    usig = sigs.select("simhash").distinct()
    n_sigs = usig.count()
    assert n_sigs == 3
    seg_rows = dedup.simhash_segment_table(usig, max_hamming=3).count()
    assert seg_rows == n_sigs * 4  # bounded by DISTINCT sigs
    # ...and the full operator still emits every identical pair (the
    # output is genuinely quadratic there: C(200,2) hamming-0 pairs)
    out = dedup.simhash_near_duplicates(docs, max_hamming=3)
    n_same = out.filter("hamming = 0 and doc_a < 200 and doc_b < 200").count()
    assert n_same == 200 * 199 // 2


def test_simhash_bucket_cap_and_audit(spark):
    # distinct-but-near signatures concentrated on shared segments: the
    # cap drops hot buckets, the audit view reports exactly them
    rows = [(i, f"shared boilerplate prefix tail{i}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.simhash_near_duplicates(docs, max_hamming=3)
    capped = dedup.simhash_near_duplicates(docs, max_hamming=3, max_bucket_size=1)
    # capping never invents pairs; hamming-0 (same-sig) pairs are never
    # capped (they bypass the segment join entirely)
    upairs = {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()}
    cpairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert cpairs <= upairs
    audit = dedup.hot_simhash_buckets(docs, max_bucket_size=1)
    assert audit.columns == ["seg", "val", "n_sigs"]
    # every audited bucket really holds >1 distinct signature
    assert all(r["n_sigs"] > 1 for r in audit.collect())


def test_simhash_batch_fold_paths_match_reference():
    # both fold branches (dense counts@bits for small batch vocab,
    # token-gather reduceat for diverse batches) must be byte-identical
    # to an independent per-token-occurrence reference
    import numpy as np

    def reference(texts):
        import re

        non_alnum = re.compile(r"[^a-z0-9\s]", re.ASCII)
        ws = re.compile(r"\s+", re.ASCII)
        out = []
        for t in texts:
            s = ws.sub(" ", non_alnum.sub("", str(t).lower())).strip()
            if not s:
                out.append(None)
                continue
            toks = s.split(" ")
            votes = np.zeros(64, dtype=np.int64)
            for tok, h in zip(
                toks, pd.util.hash_array(np.asarray(toks, dtype=object))
            ):
                bits = np.unpackbits(
                    np.uint64(h).reshape(1).view(np.uint8), bitorder="little"
                ).astype(np.int64)
                votes += 2 * bits - 1
            masks = (np.uint64(1) << np.arange(64, dtype=np.uint64)).astype(
                np.uint64
            )
            out.append(int(((votes > 0).astype(np.uint64) @ masks).view(np.int64)))
        return out

    rng = np.random.RandomState(3)
    small_vocab = ["spark", "row", "dup", "a9", ""]
    big_vocab = [f"tok{i}" for i in range(3000)]
    cases = (
        # dense branch: tiny vocabulary, incl. empties and a 300-token
        # doc (≥256 exercises nothing here but matches bench shapes)
        ["", "  ", "Spark! row; dup"]
        + [" ".join(rng.choice(small_vocab, size=n)) for n in (1, 7, 300)],
        # gather branch: >1024 distinct tokens in one batch, with a
        # ≥256-token doc to hit the int32 accumulator
        [" ".join(rng.choice(big_vocab, size=n)) for n in (1, 50, 300)]
        + [" ".join(big_vocab[:1500])],
    )
    for texts in cases:
        got = dedup._simhash_batch(pd.Series(texts))
        want = reference(texts)
        for g, w in zip(got, want):
            assert (g is pd.NA and w is None) or g == w, (g, w)


def _simhash_relational(docs, text_col="text"):
    """SimHash signatures in Spark SQL expressions only: explode the
    canonical_text tokens, hash each with xxhash64, collapse token
    multiplicity, then 64 weighted per-bit vote sums. The signature
    VALUES differ from the kernel's (xxhash64 vs SipHash token hashes);
    the contract — which docs get a signature — must not."""
    from barks_ocr_spark.operators.textstats import canonical_text

    words = F.split(canonical_text(F.col(text_col)), " ")
    tok = (
        docs.select("doc_id", F.explode(words).alias("word"))
        .filter(F.col("word") != "")
        .select("doc_id", F.xxhash64(F.col("word")).alias("_h"))
        .groupBy("doc_id", "_h")
        .agg(F.count("*").alias("_c"))
    )
    h, c = F.col("_h"), F.col("_c")
    # bit 63 is the long sign bit, hence the negative literal
    masks = [1 << j for j in range(63)] + [-(1 << 63)]
    votes = [
        F.sum(F.when(h.bitwiseAND(F.lit(m).cast("long")) != 0, c).otherwise(-c)).alias(
            f"v{j}"
        )
        for j, m in enumerate(masks)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    sig = None
    for j, m in enumerate(masks):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(m).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig + bit
    return agg.select("doc_id", sig.alias("simhash"))


def test_simhash_kernel_contract_matches_relational(spark):
    # empty / whitespace / null docs yield no signature row in either
    # form; identical texts share one signature in both
    rows = [
        (1, ""), (2, "   "), (3, None), (4, "actual words here"),
        (5, "Actual  words, here!"), (6, "other text entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for fn in (dedup.simhash_signatures_kernel, _simhash_relational):
        got = {r["doc_id"]: r["simhash"] for r in fn(docs).collect()}
        assert sorted(got) == [4, 5, 6], fn.__name__
        assert got[4] == got[5] and got[4] != got[6], fn.__name__


def _emb_table(spark, sf="/root/testdata/sf0.001"):
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def test_pq_encode_shapes_and_nulls(spark):
    import numpy as np

    rows = [
        (1, [0.1] * 64),
        (2, [0.5] * 32),   # wrong length → null codes
        (3, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["pq_codes"] for r in simsearch.pq_encode(df, dim=64).collect()}
    assert len(out[1]) == 8 and all(0 <= c < 16 for c in out[1])
    assert out[2] is None and out[3] is None
    # deterministic across partitionings
    again = {
        r["vec_id"]: r["pq_codes"]
        for r in simsearch.pq_encode(df.repartition(3), dim=64).collect()
    }
    assert again == out


def test_pq_full_refine_equals_brute_force(spark):
    # with k*refine >= corpus size the candidate set is ALL rows, so
    # the exact re-rank makes PQ-ADC identical to brute force — the
    # invariant that the approximation lives only in candidate pruning
    emb = _emb_table(spark).filter("vec_id != 0")
    q = [
        float(x)
        for x in _emb_table(spark).filter("vec_id = 0").first()["embedding"]
    ]
    exact = [tuple(r) for r in simsearch.brute_force_topk(emb, q, k=10).collect()]
    pq = [
        tuple(r)
        for r in simsearch.pq_topk(emb, q, k=10, refine=100).collect()
    ]
    assert pq == exact


def test_pq_trained_codebooks_cut_quantization_error(spark):
    # kmeans minimizes exactly the reconstruction MSE a random (LCG)
    # codebook doesn't — pin the training objective, not per-query
    # recall (which is query-dependent either way)
    import numpy as np

    emb = _emb_table(spark).filter("vec_id != 0")
    sample = np.array(
        [list(r["embedding"]) for r in emb.limit(300).collect()], dtype=np.float64
    )
    vint = np.floor(sample * 1_000_000.0).astype(np.int64)

    def recon_err(cb):
        m, k, dsub = cb.shape
        v = vint.reshape(len(vint), m, 1, dsub)
        d2 = ((v - cb[None]) ** 2).sum(axis=3)
        return d2.min(axis=2).sum()

    lcg = simsearch.pq_codebook_int(8, 16, 64)
    trained = simsearch.pq_train(sample, seed=7)
    assert trained.shape == lcg.shape
    assert recon_err(trained) < 0.5 * recon_err(lcg)


def test_pq_topk_candidates_are_takeordered(spark):
    emb = _emb_table(spark).filter("vec_id != 0")
    q = [
        float(x)
        for x in _emb_table(spark).filter("vec_id = 0").first()["embedding"]
    ]
    plan = (
        simsearch.pq_topk(emb, q, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan  # never a full corpus sort


def test_pq_indexed_no_encode_recompute(spark, tmp_path):
    emb = _emb_table(spark).filter("vec_id != 0")
    q = [
        float(x)
        for x in _emb_table(spark).filter("vec_id = 0").first()["embedding"]
    ]
    path = str(tmp_path / "pqidx")
    simsearch.pq_write(emb, path, dim=64)
    out = simsearch.pq_topk_indexed(spark, path, q, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the exact-cosine rescore is the ONLY Arrow stage: the encode ran
    # once at write time, ADC scoring is literal-array lookups (codegen)
    assert plan.count("ArrowEvalPython") == 1
    assert "TakeOrderedAndProject" in plan
    # ...while the inline path carries a second Arrow stage (the encode)
    inline_df = simsearch.pq_topk(emb, q, k=10)
    inline_plan = inline_df._jdf.queryExecution().executedPlan().toString()
    assert inline_plan.count("ArrowEvalPython") == 2
    # indexed result == inline result (same codebook, same decisions)
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in inline_df.collect()
    ]


def test_pq_candidate_scan_never_reads_vectors(spark, tmp_path):
    # the 32×-less-I/O contract: the corpus-wide ADC candidate stage
    # scans (id, pq_codes) ONLY — the fat embedding column is read by a
    # separate scan that joins the ≤ k*refine candidate ids back
    emb = _emb_table(spark).filter("vec_id != 0")
    q = [
        float(x)
        for x in _emb_table(spark).filter("vec_id = 0").first()["embedding"]
    ]
    path = str(tmp_path / "pqidx")
    simsearch.pq_write(emb, path, dim=64)
    out = simsearch.pq_topk_indexed(spark, path, q, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    schemas = [
        seg.split("\n", 1)[0] for seg in plan.split("ReadSchema: ")[1:]
    ]
    code_scans = [s for s in schemas if "pq_codes" in s]
    assert code_scans, plan  # the ADC scan must read the stored codes
    assert all("embedding" not in s for s in code_scans), code_scans
    # and the candidate fetch is a broadcast join, not a shuffle of the
    # vector table
    assert "BroadcastHashJoin" in plan


# ─── incremental exact dedup ─────────────────────────────────────────────

def test_dedup_increment_index_side_is_exchange_free(spark):
    """The daily-increment anti-join must NOT re-shuffle the corpus-sized
    fingerprint index: its side of the join reads bucketed+sorted files
    (no Exchange, no Sort); only the increment exchanges. Also pins the
    selection semantics: index collisions die, intra-batch fp twins keep
    exactly the md5-first exemplar."""
    import hashlib

    from barks_ocr_spark.sources import bucketed

    old = spark.createDataFrame(
        [(i, f"corpus doc number {i}") for i in range(0, 10, 2)],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [(i, f"brand new doc {i}") for i in range(1, 10, 2)]
        + [(100, "corpus doc number 0")]          # dies to the index
        + [(101, "brand new doc 1")],             # fp-twin of doc 1
        "doc_id long, text string",
    )
    base = "bk_fp_test"
    bucketed.sweep_orphans(base)
    t = bucketed.session_table(base)
    dedup.fingerprint_index_write(old, t)
    out = dedup.dedup_increment(inc, t)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = {r["doc_id"] for r in out.collect()}
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    # one Exchange total: the increment hashing into the bucket layout
    # (window reuses the join's partitioning; the index side has none)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    twin = min(
        (1, 101),
        key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
    )
    assert got == {3, 5, 7, 9, twin}


def test_fingerprint_index_append_keeps_layout(spark):
    """Appending survivors keeps the bucket contract: tomorrow's
    anti-join against the appended table still plans exchange-free on
    the index side and sees yesterday's increment."""
    from barks_ocr_spark.sources import bucketed

    day0 = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc")], "doc_id long, text string"
    )
    day1 = spark.createDataFrame(
        [(10, "alpha doc"), (11, "gamma doc")], "doc_id long, text string"
    )
    day2 = spark.createDataFrame(
        [(20, "gamma doc"), (21, "delta doc")], "doc_id long, text string"
    )
    base = "bk_fp_append"
    bucketed.sweep_orphans(base)
    t = bucketed.session_table(base)
    dedup.fingerprint_index_write(day0, t)
    surv1 = dedup.dedup_increment(day1, t)
    assert {r["doc_id"] for r in surv1.collect()} == {11}
    dedup.fingerprint_index_append(surv1, t)
    surv2 = dedup.dedup_increment(day2, t)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = surv2._jdf.queryExecution().executedPlan().toString()
        got = {r["doc_id"] for r in surv2.collect()}
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert got == {21}  # gamma now lives in the index via the append
    assert plan.count("Exchange hashpartitioning") == 1, plan
