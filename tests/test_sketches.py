"""KMV distinct-count sketch (operators/sketches.py)."""

from __future__ import annotations

import pytest

from barks_ocr_spark.operators import sketches


def _df(spark, rows):
    return spark.createDataFrame(rows, "g string, v long")


def test_exact_below_k(spark):
    rows = [("a", i % 7) for i in range(50)]  # 7 distinct, k=16
    out = {r["g"]: r["est_distinct"] for r in sketches.kmv_distinct(_df(spark, rows), "g", "v").collect()}
    assert out == {"a": 7.0}


def test_estimate_accuracy_and_determinism(spark):
    rows = [("a", i) for i in range(2000)] + [("b", i) for i in range(100)]
    df = _df(spark, rows)
    out1 = {r["g"]: r["est_distinct"] for r in sketches.kmv_distinct(df, "g", "v", k=64).collect()}
    out2 = {r["g"]: r["est_distinct"] for r in sketches.kmv_distinct(df.repartition(11), "g", "v", k=64).collect()}
    assert out1 == out2  # partitioning-independent
    # KMV with k=64 has ~1/sqrt(62) ≈ 13% stddev; accept 3 sigma
    assert abs(out1["a"] - 2000) / 2000 < 0.4
    assert abs(out1["b"] - 100) / 100 < 0.4  # 100 ≥ k → estimated, near truth


def test_duplicates_do_not_inflate(spark):
    rows = [("a", i % 25) for i in range(5000)]
    out = {r["g"]: r["est_distinct"] for r in sketches.kmv_distinct(_df(spark, rows), "g", "v", k=16).collect()}
    assert out == {"a": 16.0} or out["a"] > 0  # 25 distinct ≥ k → estimated
    assert 8 <= out["a"] <= 60  # near 25, never near 5000


def test_kmv_pre_trim_bounds_shuffle_rows(spark):
    """The per-batch trim ships ≤ k rows per group per Arrow batch into
    the shuffle: a single-partition giant group collapses to exactly k
    rows before distinct/window (ADVICE r3 shuffle trim)."""
    from pyspark.sql import functions as F

    df = _df(spark, [("a", i) for i in range(5000)]).coalesce(1)
    hashes = df.select(F.col("g"), sketches._hash32(F.col("v")).alias("_h"))
    trimmed = sketches._pre_trim_k_smallest(hashes, "g", 16)
    batch_rows = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    n_batches = -(-5000 // batch_rows)
    assert trimmed.count() <= 16 * n_batches  # ≤ k per batch, never 5000


def _kmv_untrimmed(rows, k):
    """The KMV estimate with no trim, in plain Python: the k smallest
    distinct md5-prefix hashes of each group."""
    import hashlib

    hashes = {}
    for g, v in rows:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)
        hashes.setdefault(g, set()).add(h)
    out = {}
    for g, hs in hashes.items():
        smallest = sorted(hs)[:k]
        if len(smallest) < k:
            out[g] = float(len(smallest))
        else:
            out[g] = (k - 1) / (smallest[-1] / 4294967296.0)
    return out


def test_kmv_pre_trim_differential(spark):
    """The per-batch trim must be result-invisible: identical estimates
    to the untrimmed k-smallest sketch, across partitionings."""
    rows = [("a", i % 700) for i in range(3000)] + [("b", i) for i in range(9)]
    want = _kmv_untrimmed(rows, 32)
    for parts in (1, 7):
        df = _df(spark, rows).repartition(parts)
        got = {r["g"]: r["est_distinct"] for r in sketches.kmv_distinct(df, "g", "v", k=32).collect()}
        assert got == pytest.approx(want, abs=5e-7)
    assert got["b"] == 9.0


# ─── heavy hitters (exact two-pass Misra-Gries) ─────────────────────────

def test_heavy_hitters_exact_counts_and_order(spark):
    from barks_ocr_spark.operators import sketches

    docs = spark.createDataFrame(
        [
            (1, "apple apple apple banana banana cherry"),
            (2, "apple banana durian durian durian durian"),
            (3, None),
            (4, "   "),
            (5, "APPLE Banana cherry"),  # case-folds into the same words
        ],
        "doc_id long, text string",
    )
    got = [
        tuple(r)
        for r in sketches.heavy_hitters(docs, k=3, capacity=16).collect()
    ]
    # apple 5, banana 4, durian 4 — tie at rank 2/3 resolves by word
    assert got == [("apple", 5), ("banana", 4), ("durian", 4)]


def test_heavy_hitters_refuses_unprovable_flat_corpus(spark):
    import pytest as _pytest

    from barks_ocr_spark.operators import sketches

    # 40 words once each: rank-1 count 1 <= N/(cap+1) = 40/3 — no top-k
    # claim is provable at capacity 2, and the operator must say so
    flat = spark.createDataFrame(
        [(0, " ".join(f"w{i:02d}" for i in range(40)))],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError, match="raise capacity"):
        sketches.heavy_hitters(flat, k=5, capacity=2)


def test_heavy_hitters_sweep_is_candidate_bounded(spark):
    """The candidate sweep must ship at most `capacity` rows per batch
    (the whole point vs a token-level shuffle): with capacity 4 the
    distinct candidate set over one batch cannot exceed 4 even though
    the batch holds 30 distinct words — and the heavy word still wins."""
    from barks_ocr_spark.operators import sketches

    text = "hot " * 50 + " ".join(f"cold{i}" for i in range(30))
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = [tuple(r) for r in sketches.heavy_hitters(docs, k=1, capacity=4).collect()]
    assert got == [("hot", 50)]
