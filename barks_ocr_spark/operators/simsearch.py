"""Similarity search over embedding tables (``vec_id`` long,
``embedding`` array<float>).

Each ANN family is an encode column, a ``_write`` that stores it and one
probe. The inline search adds the encode column on the fly, the indexed
one reads it from the index, and both run the family's probe; every
search ends in the same exact-cosine rescore of its candidates
(:func:`brute_force_topk`).

==========  =============  ==============  ============================
family      encode column  write           probe: inline / indexed
==========  =============  ==============  ============================
exact       —              —               brute_force_topk / —
IVF-flat    cell           ivf_write       ivf_topk / ivf_topk_indexed
sign-LSH    sig            lsh_write       lsh_topk / lsh_topk_indexed
LSH bands   sig            lsh_band_write  — / lsh_topk_banded
PQ-ADC      pq_codes       pq_write        pq_topk / pq_topk_indexed
==========  =============  ==============  ============================

Probes take the vector length from the query. The writers and
``cosine_pairs`` (all pairs ≥ threshold, a sign-LSH bucketed self-join)
must be given ``dim``: other lengths get a null cell, signature 0 or
null codes.

Scoring strategy (measured at 2k and 512k rows × 64 dims, local[32]):

- query-vector cosine (:func:`cosine_to_query`) and LSH signatures /
  IVF cells / PQ codes are numpy matmuls in Arrow-batched
  ``pandas_udf``s, all fed by one batch adapter (:func:`_rows_matrix`).
  Signatures: 0.61s vs 2.49s for the 16-plane HOF chain (higher-order
  functions evaluate per-element interpreted lambda closures, not
  codegen), and a fully unrolled 16×64-term codegen expression exceeds
  janino's method limits and silently falls back to interpreted (2.4s).
  Cosine: the UDF (0.35s / 0.59s) beats both the HOF fold AND a
  128-term unrolled codegen expression (0.95s / 1.37s) — Catalyst's
  analysis of the deep tree costs ~0.9s of driver time per query.
  UDF-feeding columns ship raw float32 (no JVM cast to double — the
  kernels upcast value-exactly, halving Arrow transfer);
- only the pairwise cosine on *candidate pairs* (``cosine_pairs``'s
  verify stage, O(candidates) not O(corpus)) keeps the dynamic-length
  HOF form — its inputs may be any length and the stage is not a scan.
"""

from __future__ import annotations

import functools
import math
import operator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from barks_ocr_spark.operators.cacheutil import persist_tracked as _persist

ID = "vec_id"
VEC = "embedding"


def dot(a: Column, b: Column) -> Column:
    """Dynamic-length dot product (HOF). Candidate-pair use only — on a
    full-corpus scan prefer :func:`cosine_to_query` (codegen)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Dynamic-length cosine (HOF) — candidate-pair verify stages only."""
    return dot(a, b) / (norm(a) * norm(b))


def _rows_matrix(s: pd.Series, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Batch adapter of every vector kernel: indices of the rows whose
    vector has length ``dim``, and those vectors as a float64 matrix."""
    arr = s.to_numpy()
    lens = np.fromiter(
        (0 if x is None else len(x) for x in arr), dtype=np.int64, count=len(arr)
    )
    ok = np.flatnonzero(lens == dim)
    if not ok.size:
        return ok, np.empty((0, dim), dtype=np.float64)
    return ok, np.vstack([arr[i] for i in ok]).astype(np.float64)


def _quantize(m: np.ndarray) -> np.ndarray:
    """⌊v·1e6⌋ as int64 — the integer space of every encode decision."""
    return np.floor(m * 1_000_000.0).astype(np.int64)


@functools.lru_cache(maxsize=None)
def _cos_udf(key: tuple[float, ...]):
    qa = np.array(key, dtype=np.float64)
    qn = float(np.sqrt((qa * qa).sum()))
    dim = len(key)

    @F.pandas_udf("double")
    def cos(s: pd.Series) -> pd.Series:
        ok, m = _rows_matrix(s, dim)
        out = np.zeros(len(s), dtype=np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            out[ok] = (m @ qa) / (np.sqrt((m * m).sum(axis=1)) * qn)
        # mask length-mismatch rows to NULL (not NaN: Spark sorts
        # NaN above every double, which would poison desc top-k)
        null = np.ones(len(s), dtype=bool)
        null[ok] = False
        return pd.Series(pd.arrays.FloatingArray(out, null))

    return cos


def cosine_to_query(vec: Column, query_vec: list[float]) -> Column:
    """Cosine(vec, literal query) as a numpy batch kernel: one
    (rows × dim) · dim matvec + row norms per Arrow batch.

    Why not JVM-side? Measured (2k and 512k rows × 64 dims, local[32],
    best-of-3): this UDF 0.35s / 0.59s; a fully unrolled 128-term
    codegen expression 0.95s / 1.37s — Catalyst's analysis of the deep
    expression tree costs ~0.9s of driver time per query, swamping its
    execution win; the HOF fold ties only on tiny inputs and evaluates
    interpreted per element on big ones. Deterministic UDF evaluation
    stays BELOW upstream filters (prune-then-rescore order is pinned by
    test_lsh_indexed_no_signature_recompute).

    Rows whose vector length ≠ len(query) score null (the zip_with
    null-pad behavior); genuine 0/0 (zero vectors) stays NaN, exactly as
    JVM double division."""
    return _cos_udf(tuple(float(x) for x in query_vec))(vec)


def brute_force_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
    """Exact cosine top-k of ``query_vec`` over the embeddings table:
    scores rounded to 6 places, top k by (score desc, vec_id) — a
    TakeOrdered, not a sort. Every ANN search ends here, on its
    candidates."""
    score = cosine_to_query(F.col(VEC), query_vec)
    return (
        embeddings.select(F.col(ID), F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.col(ID))
        .limit(k)
    )


_LCG_M = 2147483647


def plane_weights_int(p: int, dim: int) -> list[int]:
    """Deterministic hyperplane weights in [-1000, 1000] from a pure-
    integer LCG over (plane, dim) — reproducible in ANY engine (the
    DuckDB oracle re-derives the identical literals), no hash functions.
    """
    out = []
    for d in range(dim):
        x = (1103515245 * (p * 8191 + d) + 12345) % _LCG_M
        out.append(int(x % 2001) - 1000)
    return out


def sign_bits_py(vec: list[float], n_planes: int = 16, dim: int | None = None) -> int:
    """Driver-side sign-LSH signature of a literal vector — exact integer
    arithmetic, identical to :func:`sign_lsh_bits` on the same input."""
    if dim is None:
        dim = len(vec)
    vint = [math.floor(float(v) * 1_000_000) for v in vec]
    if len(vint) != dim:
        return 0  # column form null-pads to bits 0 on length mismatch
    total = 0
    for p in range(n_planes):
        w = plane_weights_int(p, dim)
        if sum(q * wi for q, wi in zip(vint, w)) > 0:
            total |= 1 << p
    return total


@functools.lru_cache(maxsize=None)
def _sig_udf(n_planes: int, dim: int):
    """Arrow-batched signature kernel: one (rows × dim) · (dim × planes)
    int64 matmul per batch — exact integer arithmetic, same sign
    decisions as the SQL oracle's literal-weight dot products."""
    W = np.array(
        [plane_weights_int(p, dim) for p in range(n_planes)], dtype=np.int64
    ).T  # dim × planes
    POW = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf("long")
    def sig(s: pd.Series) -> pd.Series:
        ok, m = _rows_matrix(s, dim)
        out = np.zeros(len(s), dtype=np.int64)
        out[ok] = (((_quantize(m) @ W) > 0) * POW).sum(axis=1)
        return pd.Series(out)

    return sig


def sign_lsh_bits(vec: Column, n_planes: int = 16, *, dim: int) -> Column:
    """Sign-LSH signature column: bit p = 1 iff Σ_d w[p][d]·⌊v[d]·1e6⌋ > 0.

    Two deliberate choices make this cross-engine exact (and thus fully
    oracle-able in ANSI SQL) and cheap:
    - the plane weights are deterministic integer literals
      (:func:`plane_weights_int`) that any engine re-derives;
    - the dot product is exact int64 arithmetic on ⌊v·1e6⌋-quantized
      components, so the sign decision can never diverge between engines
      on summation order (float folds could flip near-zero signs).

    Vectors whose length ≠ ``dim`` (or null) get signature 0 — the same
    result the null-padding zip_with form produced. Executed as a numpy
    matmul ``pandas_udf`` (measured 4× the HOF chain; see module
    docstring)."""
    return _sig_udf(n_planes, dim)(vec)


def centroid_ints(c: int, dim: int) -> list[int]:
    """Deterministic IVF centroid ``c`` as integers in [-1000, 1000] —
    same integer-LCG family as :func:`plane_weights_int`, disjoint seed
    space, so ANY engine (the DuckDB oracle included) re-derives the
    identical literals."""
    return plane_weights_int(c + 100_003, dim)


@functools.lru_cache(maxsize=None)
def _cell_udf(n_centroids: int, dim: int):
    C = np.array(
        [centroid_ints(c, dim) for c in range(n_centroids)], dtype=np.int64
    ).T  # dim × centroids

    @F.pandas_udf("int")
    def cell(s: pd.Series) -> pd.Series:
        ok, m = _rows_matrix(s, dim)
        vals = np.full(len(s), -1, dtype=np.int64)
        # np.argmax takes the FIRST maximum — ties to lowest cell
        vals[ok] = np.argmax(_quantize(m) @ C, axis=1)
        out = pd.Series(vals, dtype="Int32")
        out[vals < 0] = pd.NA  # length-mismatch rows: null cell
        return out

    return cell


def ivf_cell(vec: Column, n_centroids: int = 16, *, dim: int) -> Column:
    """IVF-flat cell assignment: argmax_c ⟨⌊v·1e6⌋, centroid_c⟩, ties to
    the lowest cell id (0-based); null for vectors of the wrong length.

    Exact integer arithmetic end to end (quantized components × literal
    integer centroids), so the cell decision can never diverge between
    engines on float summation order. At write time (:func:`ivf_write`)
    a production table stores this cell and is partitioned by it, so
    probes become partition pruning. Executed as a numpy argmax-matmul
    ``pandas_udf`` (see module docstring for the measurement)."""
    return _cell_udf(n_centroids, dim)(vec)


def ivf_probe_cells(
    query_vec: list[float], n_centroids: int = 16, nprobe: int = 4
) -> list[int]:
    """The ``nprobe`` cells nearest the query (exact driver-side ints,
    same ordering the SQL oracle derives: score desc, cell id asc)."""
    dim = len(query_vec)
    qint = [math.floor(float(v) * 1_000_000) for v in query_vec]
    scored = [
        (sum(q * w for q, w in zip(qint, centroid_ints(c, dim))), c)
        for c in range(n_centroids)
    ]
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [c for _, c in scored[:nprobe]]


def _ivf_probe(
    cells: DataFrame, query_vec: list[float], k: int, n_centroids: int, nprobe: int
) -> DataFrame:
    """IVF probe over a table with a ``cell`` column: keep the nprobe
    cells nearest the query, exact-rescore their members."""
    probe = ivf_probe_cells(query_vec, n_centroids, nprobe)
    return brute_force_topk(cells.filter(F.col("cell").isin(probe)), query_vec, k)


def ivf_topk(
    embeddings: DataFrame, query_vec: list[float], k: int = 10,
    n_centroids: int = 16, nprobe: int = 4,
) -> DataFrame:
    """IVF-flat approximate top-k: scan only the ``nprobe`` inverted
    lists nearest the query, exact-rescore their members.

    Scale shape: with the cell column materialized at write time and the
    table partitioned by it (:func:`ivf_topk_indexed`), this plan reads
    nprobe/n_centroids of the corpus and touches no shuffle except the
    final TakeOrdered. With nprobe = n_centroids it degrades gracefully
    to exact brute force (pinned by test_ivf_full_probe_equals_brute_force).
    """
    cell = ivf_cell(F.col(VEC), n_centroids, dim=len(query_vec))
    return _ivf_probe(
        embeddings.withColumn("cell", cell), query_vec, k, n_centroids, nprobe
    )


def ivf_write(
    embeddings: DataFrame, path: str, n_centroids: int = 16, *, dim: int
) -> None:
    """Materialize the IVF index: embeddings written partitioned by cell.

    This is the write-time half of the contract :func:`ivf_topk`'s
    docstring promises: cell assignment happens ONCE here, and probes
    become parquet partition pruning — a query touches nprobe/n_centroids
    of the files and never evaluates the centroid argmax at read time.
    Repartitioning by cell before the write gives one file per cell per
    shuffle partition rather than every task writing every cell.
    """
    (
        embeddings.withColumn("cell", ivf_cell(F.col(VEC), n_centroids, dim=dim))
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_topk_indexed(
    spark, path: str, query_vec: list[float], k: int = 10,
    n_centroids: int = 16, nprobe: int = 4,
) -> DataFrame:
    """Top-k over a materialized IVF index (:func:`ivf_write` output).

    The cell filter is a partition-column predicate, so Catalyst prunes
    to the nprobe probe directories at planning time (PartitionFilters
    in the scan — pinned by test_ivf_indexed_partition_pruning); the
    non-probe (n_centroids - nprobe)/n_centroids of the corpus is never
    read, decoded, or scored."""
    return _ivf_probe(spark.read.parquet(path), query_vec, k, n_centroids, nprobe)


def _within_hamming(q_sig: int, max_hamming: int) -> Column:
    """The sign-LSH prune: ``sig`` within ``max_hamming`` bits of the query's."""
    return F.bit_count(F.col("sig").bitwiseXOR(F.lit(q_sig))) <= max_hamming


def _lsh_probe(
    sigs: DataFrame, query_vec: list[float], k: int, n_planes: int, max_hamming: int
) -> DataFrame:
    """LSH probe over a table with a ``sig`` column: hamming-prune, then
    exact-rescore the survivors."""
    q_sig = sign_bits_py(query_vec, n_planes)
    return brute_force_topk(sigs.filter(_within_hamming(q_sig, max_hamming)), query_vec, k)


def lsh_topk(
    embeddings: DataFrame, query_vec: list[float], k: int = 10,
    n_planes: int = 16, max_hamming: int = 6,
) -> DataFrame:
    """Approximate top-k: prune candidates whose sign-LSH signature is
    > max_hamming bits from the query's, exact-rescore the rest.

    The query's signature folds to a driver-side integer literal
    (:func:`sign_bits_py` — exact same arithmetic), so the per-row work
    is one matmul-UDF signature + a codegen'd bit_count. On a
    materialized index (:func:`lsh_write`) even the signature disappears
    — see :func:`lsh_topk_indexed`. At 10^12 rows the prune typically
    keeps <1% of the table; the rescore is the same exact cosine as
    brute force, so recall failures are visible by diffing against
    ``brute_force_topk`` on a sample.
    """
    sig = sign_lsh_bits(F.col(VEC), n_planes, dim=len(query_vec))
    return _lsh_probe(
        embeddings.withColumn("sig", sig), query_vec, k, n_planes, max_hamming
    )


def lsh_write(
    embeddings: DataFrame, path: str, n_planes: int = 16, *, dim: int
) -> None:
    """Materialize sign-LSH signatures at write time — the sign-LSH
    analogue of :func:`ivf_write`: the signature matmul runs ONCE here,
    and :func:`lsh_topk_indexed` reads a stored long column instead of
    re-evaluating 16 hyperplane dot products per row per query.

    Unlike IVF cells, a hamming ball is not a partition predicate (a
    ≤h-bit neighborhood of a 2^16-value key touches C(16,≤h) partitions
    with no prefix structure), so the table is NOT partitioned by sig —
    the read-time win is skipping the signature compute, and the prune
    filter is a codegen'd bit_count on the stored column. At 10^12 rows
    use the banded-multi-probe layout (:func:`lsh_band_write`, B band
    tables, pigeonhole-exact for h < B) so probes read band-bucket
    slivers; this single-table form keeps storage 1×.
    """
    (
        embeddings.withColumn("sig", sign_lsh_bits(F.col(VEC), n_planes, dim=dim))
        .write.mode("overwrite")
        .parquet(path)
    )


def lsh_topk_indexed(
    spark, path: str, query_vec: list[float], k: int = 10,
    n_planes: int = 16, max_hamming: int = 6,
) -> DataFrame:
    """Approximate top-k over a materialized LSH index (:func:`lsh_write`
    output): hamming-prune on the STORED signature column (no signature
    recompute — the plan contains no ArrowEvalPython stage, pinned by
    test_lsh_indexed_no_signature_recompute), exact-rescore survivors."""
    return _lsh_probe(spark.read.parquet(path), query_vec, k, n_planes, max_hamming)


def _band_slices(n_planes: int, n_bands: int) -> list[tuple[int, int]]:
    """(shift, mask) of each band's slice of an n_planes-bit signature:
    band i's value is ``(sig >> shift) & mask``."""
    if n_planes % n_bands != 0:
        raise ValueError(f"n_planes={n_planes} not divisible by n_bands={n_bands}")
    band_bits = n_planes // n_bands
    return [(i * band_bits, (1 << band_bits) - 1) for i in range(n_bands)]


def lsh_band_write(
    embeddings: DataFrame, path: str, n_planes: int = 16, n_bands: int = 8, *, dim: int
) -> None:
    """Banded multi-probe LSH index — the 10^12-row layout
    :func:`lsh_write`'s docstring names. Two tables:

    - ``<path>/bands``: (id, sig, band, val) — each row exploded into
      ``n_bands`` band rows, PARTITIONED BY (band, val), so a probe for
      band i / value v is parquet partition pruning down to one sliver
      (n_bands × 2^(n_planes/n_bands) directories; 8 bands × 2 bits →
      8×4 = 32 partitions at the defaults). The fat vector column does NOT ride
      the band rows — band storage is n_bands × (id + 8-byte sig).
    - ``<path>/base``: (id, vec) — the re-rank side, scanned only for
      candidate ids (broadcast join, same discipline as PQ's re-rank).

    Pigeonhole: any signature within hamming h < n_bands of the query
    agrees with it EXACTLY on ≥1 band, so reading the n_bands probe
    slivers covers every qualifying candidate — :func:`lsh_topk_banded`
    is then exact vs :func:`lsh_topk` for max_hamming < n_bands."""
    slices = _band_slices(n_planes, n_bands)
    embeddings.select(ID, VEC).write.mode("overwrite").parquet(f"{path}/base")
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("sig"), shift)
            .bitwiseAND(F.lit(mask).cast("long"))
            .alias("val"),
        )
        for i, (shift, mask) in enumerate(slices)
    ]
    (
        embeddings.select(ID, sign_lsh_bits(F.col(VEC), n_planes, dim=dim).alias("sig"))
        .select(ID, "sig", F.explode(F.array(*band_structs)).alias("bv"))
        .select(ID, "sig", "bv.band", "bv.val")
        .repartition("band", "val")
        .write.mode("overwrite")
        .partitionBy("band", "val")
        .parquet(f"{path}/bands")
    )


def lsh_topk_banded(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 16,
    n_bands: int = 8,
    max_hamming: int = 6,
) -> DataFrame:
    """Top-k over a banded multi-probe LSH index (:func:`lsh_band_write`
    output), exact vs :func:`lsh_topk` for max_hamming < n_bands.

    Plan: the n_bands probe predicates are (band, val) partition-column
    equalities, so Catalyst prunes the bands table to n_bands bucket
    slivers at planning time (pinned by
    test_lsh_banded_partition_pruning) — unlike the single-table layout,
    which scans the full signature column per query. Survivors of the
    exact hamming filter on the stored sig (pigeonhole guarantees the
    slivers cover everything in budget) broadcast-join back to the base
    table for the exact-cosine re-rank."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands}: the pigeonhole "
            "guarantee needs h < B (raise n_bands or use lsh_topk_indexed)"
        )
    q_sig = sign_bits_py(query_vec, n_planes)
    probe = functools.reduce(
        operator.or_,
        [
            (F.col("band") == i) & (F.col("val") == ((q_sig >> shift) & mask))
            for i, (shift, mask) in enumerate(_band_slices(n_planes, n_bands))
        ],
    )
    cand = (
        spark.read.parquet(f"{path}/bands")
        .filter(probe)
        .filter(_within_hamming(q_sig, max_hamming))
        .select(ID)
        .distinct()
    )
    base = spark.read.parquet(f"{path}/base")
    return brute_force_topk(base.join(F.broadcast(cand), ID), query_vec, k)


def cosine_pairs(
    embeddings: DataFrame, threshold: float = 0.9, n_planes: int = 8, *, dim: int
) -> DataFrame:
    """Embedding near-dup pairs (id_a < id_b, cosine ≥ threshold).

    Self-join bucketed on the sign-LSH signature; near-identical vectors
    almost always share it. For exact completeness at lower thresholds,
    raise the hamming budget via lsh_topk-style multi-probe instead.

    The verify cosine runs only on bucket-join survivors (O(candidates),
    not O(corpus)), so it keeps the dynamic-length HOF form — see the
    module docstring for why the scan paths don't."""
    v = F.col(VEC).cast("array<double>")
    with_sig = _persist(  # feeds both self-join sides — compute LSH bits once
        embeddings.select(
            F.col(ID).alias("vid"), v.alias("v"),
            sign_lsh_bits(v, n_planes, dim=dim).alias("sig"),
        )
    )
    # no eager count(): the pairs action fills the cache for both sides
    # (embedding_near_dups, sf0.1, local[4], six interleaved best-of-3
    # pairs: median 2.19 s with a count, 1.70 s without)
    a = with_sig.select(
        F.col("vid").alias("id_a"), F.col("v").alias("v_a"), "sig"
    )
    b = with_sig.select(
        F.col("vid").alias("id_b"), F.col("v").alias("v_b"), "sig"
    )
    pairs = a.join(b, "sig").filter(F.col("id_a") < F.col("id_b"))
    score = cosine(F.col("v_a"), F.col("v_b"))
    return pairs.select(
        "id_a", "id_b", F.round(score, 6).alias("score")
    ).filter(F.col("score") >= threshold)


# ── Product quantization (PQ / ADC) ────────────────────────────────────
# The 100 TB ANN memory path: vectors compress to m sub-codes (here
# 8×4-bit-ish = 8 small ints vs 64 float32 = 32× smaller), queries scan
# codes with per-subspace distance TABLES (pure arithmetic, no vector
# reads), and only the top k×refine candidates touch raw vectors for
# exact re-ranking. Same determinism discipline as IVF/LSH above:
# default codebooks come from the integer LCG so the DuckDB oracle
# re-derives every decision exactly; pq_train provides the real
# kmeans-trained codebooks for production (same integer encoding space,
# no oracle — quality pinned by a recall test instead).


def pq_codeword_ints(sub: int, code: int, dsub: int) -> list[int]:
    """Deterministic codeword ``code`` of subspace ``sub`` as integers
    in [-1000, 1000] — LCG family, seed space disjoint from planes and
    IVF centroids."""
    return plane_weights_int(200_003 + sub * 1021 + code, dsub)


def pq_codebook_int(m: int, n_codes: int, dim: int) -> np.ndarray:
    """(m, n_codes, dim/m) int64 codebook in the ⌊v·1e6⌋ quantized
    space (LCG ints scaled ×1000, i.e. codeword components span
    [-1, 1] at 1e-3 resolution)."""
    dsub = dim // m
    return (
        np.array(
            [
                [pq_codeword_ints(s, c, dsub) for c in range(n_codes)]
                for s in range(m)
            ],
            dtype=np.int64,
        )
        * 1000
    )


def pq_train(
    vectors: np.ndarray, m: int = 8, n_codes: int = 16, iters: int = 10, seed: int = 0
) -> np.ndarray:
    """Train real PQ codebooks: per-subspace Lloyd k-means with seeded
    k-means++-style init, returned in the SAME ⌊·1e6⌋ integer space the
    encoder uses (drop-in replacement for the LCG default). Driver-side
    numpy on a SAMPLE (PQ training classically uses ~100k vectors, not
    the corpus) — deterministic for a fixed (sample, m, n_codes, iters,
    seed)."""
    n, dim = vectors.shape
    dsub = dim // m
    rng = np.random.RandomState(seed)
    out = np.empty((m, n_codes, dsub), dtype=np.int64)
    for s in range(m):
        X = vectors[:, s * dsub : (s + 1) * dsub].astype(np.float64)
        # seeded farthest-point-ish init: first pick random, rest by
        # max distance to the chosen set (deterministic argmax ties)
        cents = [X[rng.randint(n)]]
        for _ in range(n_codes - 1):
            d2 = np.min(
                [((X - c) ** 2).sum(axis=1) for c in cents], axis=0
            )
            cents.append(X[int(np.argmax(d2))])
        C = np.vstack(cents)
        for _ in range(iters):
            assign = np.argmin(
                ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), axis=1
            )
            for c in range(n_codes):
                mask = assign == c
                if mask.any():
                    C[c] = X[mask].mean(axis=0)
        out[s] = np.floor(C * 1_000_000.0).astype(np.int64)
    return out


@functools.lru_cache(maxsize=None)
def _pq_encode_udf(m: int, n_codes: int, dim: int, codebook: bytes | None):
    dsub = dim // m
    CB = (
        pq_codebook_int(m, n_codes, dim)
        if codebook is None
        else np.frombuffer(codebook, dtype=np.int64).reshape(m, n_codes, dsub)
    )

    @F.pandas_udf("array<int>")
    def enc(s: pd.Series) -> pd.Series:
        ok, V = _rows_matrix(s, dim)
        rows = np.full(len(s), None, dtype=object)
        vsub = _quantize(V).reshape(len(ok), m, 1, dsub)
        # (n, m, k): exact integer distances; argmin takes the
        # FIRST minimum — ties to the lowest code, same as the
        # oracle's ORDER BY d2, code
        d2 = ((vsub - CB[None, :, :, :]) ** 2).sum(axis=3)
        codes = np.argmin(d2, axis=2).astype(np.int32)
        for j, i in enumerate(ok):
            rows[i] = codes[j].tolist()
        return pd.Series(rows, dtype=object)

    return enc


def pq_encode(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    *,
    dim: int,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """Append ``pq_codes`` (array<int>, length m; null for wrong-length
    vectors): per subspace, the integer-exact nearest codeword. Zero
    shuffle — at write time a production table stores this column
    (32× smaller than the raw vectors) and ADC queries scan only it."""
    key = None if codebook is None else np.asarray(codebook, np.int64).tobytes()
    return embeddings.withColumn(
        "pq_codes", _pq_encode_udf(m, n_codes, dim, key)(F.col(VEC))
    )


def _pq_probe(
    codes: DataFrame, vectors: DataFrame, query_vec: list[float], k: int,
    m: int, n_codes: int, refine: int, codebook: np.ndarray | None,
) -> DataFrame:
    """PQ-ADC probe: m literal distance-table lookups over ``codes``'
    ``pq_codes``, TakeOrdered k×refine over (id, _adc), exact re-rank of
    those ids broadcast-joined to ``vectors``."""
    dim = len(query_vec)
    CB = pq_codebook_int(m, n_codes, dim) if codebook is None else codebook
    qint = _quantize(np.asarray(query_vec, dtype=np.float64)).reshape(m, 1, dim // m)
    T = ((qint - CB) ** 2).sum(axis=2)  # (m, n_codes) int64
    approx = functools.reduce(operator.add, [
        F.array(*[F.lit(int(T[s, c])) for c in range(n_codes)])[F.col("pq_codes")[s]]
        for s in range(m)
    ])
    cand = (
        codes.select(ID, approx.alias("_adc"))
        .orderBy(F.asc("_adc"), F.col(ID))
        .limit(k * refine)
        .select(ID)
    )
    return brute_force_topk(vectors.join(F.broadcast(cand), ID), query_vec, k)


def pq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    refine: int = 10,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """PQ-ADC top-k with exact re-rank: score every row by the sum of m
    per-subspace query→codeword distance TABLE lookups (the tables are
    literal arrays folded into the plan — scoring is pure codegen
    arithmetic over the tiny ``pq_codes`` column, no vector reads and
    no Python), TakeOrdered the k×refine best approximate candidates,
    then exact-cosine re-rank only those. Output: (id, score) like
    :func:`brute_force_topk`.

    Scale shape: the corpus-wide candidate stage is TakeOrdered over
    (id, _adc) ONLY — the raw vector column never rides the sort
    (columnar projection skips it); the ≤ k×refine candidate ids then
    broadcast-join back to the source to fetch vectors for the exact
    re-rank. Pinned by test_pq_candidate_scan_never_reads_vectors.
    The 32×-less-I/O scan applies to the INDEXED path (pq_topk_indexed,
    which reads stored codes); this inline form must read the raw
    vectors once to ENCODE them — its second ArrowEvalPython stage,
    asserted by test_pq_indexed_no_encode_recompute. Approximation
    quality rides the codebook: LCG default for engine-replayable
    tests, :func:`pq_train` output for production."""
    dim = len(query_vec)
    # Wrong-length vectors are pruned with a cheap JVM size() filter
    # BEFORE the encode — filtering on isnotnull(pq_codes) instead
    # makes ExtractPythonUDFs materialize the encode kernel TWICE (once
    # under the pushed-down filter, once for the ADC projection); the
    # duplicated-UDF plan was caught by the indexed-vs-inline plan pin.
    coded = pq_encode(
        embeddings.filter(F.size(F.col(VEC)) == dim), m, n_codes, dim=dim, codebook=codebook
    )
    return _pq_probe(coded, embeddings, query_vec, k, m, n_codes, refine, codebook)


def pq_write(
    embeddings: DataFrame,
    path: str,
    m: int = 8,
    n_codes: int = 16,
    *,
    dim: int,
    codebook: np.ndarray | None = None,
) -> None:
    """Materialize the PQ index: embeddings written WITH their
    ``pq_codes`` column — the PQ analogue of :func:`ivf_write` /
    :func:`lsh_write`. Encoding (the only Python stage) runs ONCE here;
    :func:`pq_topk_indexed` then scores the stored code column with
    pure codegen table lookups and reads raw vectors only for the
    re-rank candidates. At 10^12 rows the codes column is what a query
    scans — 32× less I/O than the vector column, which columnar
    projection skips entirely until the re-rank."""
    (
        pq_encode(embeddings, m, n_codes, dim=dim, codebook=codebook)
        .write.mode("overwrite")
        .parquet(path)
    )


def pq_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    refine: int = 10,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """PQ-ADC top-k over a materialized index (:func:`pq_write`
    output): no encode at read time — the exact-cosine rescore is
    the plan's ONLY Arrow stage (pinned by
    test_pq_indexed_no_encode_recompute) — literal distance-table
    lookups over the stored codes, TakeOrdered over (id, _adc) only
    (the corpus-wide scan reads the code column, never the vectors —
    pinned by test_pq_candidate_scan_never_reads_vectors), then a
    broadcast join back on id fetches the ≤ k×refine candidate vectors
    for the exact re-rank."""
    index = spark.read.parquet(path)
    codes = index.filter(F.col("pq_codes").isNotNull())
    return _pq_probe(
        codes, index.select(ID, VEC), query_vec, k, m, n_codes, refine, codebook
    )
