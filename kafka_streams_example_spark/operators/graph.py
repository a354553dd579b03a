"""Iterative graph operators — the dedup-cluster step.

Near-dup pairs are edges; the final dedup decision needs connected
components (a dup of a dup is a dup). At 100TB this is the standard
alternating-minimum label propagation: O(diameter) rounds of
join-aggregate, each a single shuffle on the vertex id, with lineage cut
via localCheckpoint so plans don't grow across iterations (Spark's
iterative-algorithm footgun).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_example_spark.operators import share


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
    edge_cache_bytes: int = -1,
) -> DataFrame:
    """Min-label connected components over an undirected edge list.

    Returns (id, component) where component = min vertex id reachable.
    Converges in O(graph diameter) rounds; each round is one shuffle.
    Deterministic (min is order-free), hence oracle-checkable against a
    recursive-CTE transitive closure.
    """
    both = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    # Shared: the FOUR registered consumers of the dedup-cluster decision
    # (dedup_clusters, cluster_aware_split, dedup_cluster_size_histogram,
    # corpus_curation_pipeline) read one materialization of the
    # pair-generation subtree (measured ~1.3 s of the 2.4 s steady
    # dedup_clusters run at sf0.1), and the round-1 convergence count
    # below fills it in the same job. Lineage: `both` is the constant
    # BASE of every iteration join, so cutting ITS lineage was never what
    # bounded plan growth — the per-round label checkpoints below do
    # that. ``edge_cache_bytes`` is the caller's footer-derived
    # upper-bound estimate of the edge table.
    both = share(both.distinct(), edge_cache_bytes)

    # Round 1 fused into label initialization: with component == id, the
    # first neighbor-min is simply min(v) per u, so the whole first round
    # is ONE join-free aggregation over the edge list (the former shape
    # paid a distinct-labels checkpoint job plus a join round for the
    # same result). The checkpoint is LAZY — the convergence count below
    # materializes it, one Spark job for init + round 1 together.
    labels = share(
        both.groupBy("u")
        .agg(F.min("v").alias("nbr"))
        .select(
            F.col("u").alias("id"),
            F.least(F.col("u"), F.col("nbr")).alias("component"),
            (F.col("nbr") < F.col("u")).alias("__changed"),
        )
    )
    changed = labels.agg(
        F.sum(F.col("__changed").cast("long")).alias("n")
    ).first()["n"]
    labels = labels.drop("__changed")
    if not changed:
        return labels

    def _round(labels: DataFrame) -> DataFrame:
        """One propagation round: component <- min(own, neighbors'
        labels). The changed flag is derived INSIDE the update projection
        (a label only changes when a strictly smaller neighbor min
        arrives), so convergence needs no second join against the old
        labels. Pointer shortcutting (min(own, label's label) — the
        Shiloach-Vishkin / large-star pointer-jumping device, O(log d)
        rounds) was A/B'd here and REJECTED on measurement: the label
        self-join it needs costs +3 Spark jobs and ~0.2 s med per
        invocation at sf0.1, while near-dup graphs converge in <= 2
        propagation rounds anyway (measured components: pairs and one
        path of 3) — the extra radius never pays. If 100 TB dup chains
        ever run deep, that join is the known lever."""
        neighbor_min = (
            both.join(labels, both.v == labels.id)
            .groupBy("u")
            .agg(F.min("component").alias("nbr_component"))
        )
        return share(
            labels.join(neighbor_min, labels.id == neighbor_min.u, "left").select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_component", F.col("component")),
                ).alias("component"),
                F.coalesce(
                    F.col("nbr_component") < F.col("component"), F.lit(False)
                ).alias("__changed"),
            )
        )

    # TWO rounds per convergence action (r12): each round is lazily
    # checkpointed, so one sum(__changed) action materializes the pair in
    # sequence (round k's RDD persists on first touch and round k+1 reads
    # the persisted partitions) while the driver blocks ONCE instead of
    # once per round — half the synchronous barriers of the former loop
    # (measured on dedup_clusters at sf0.1, interleaved A/B, same
    # session: 15 -> 13 Spark jobs per warm invocation, steady med
    # 1.29 -> 1.04 s; at scale the barrier count is the serial term the
    # r11 core-scaling probe flagged — 8 cores beat 32 on the CC
    # consumers because rounds serialize on the driver).
    # Convergence on the SECOND round's flag is sound: zero changes in
    # round k+1 proves the fixed point, whatever round k did. Worst case
    # executes one extra round past convergence — a label-table-sized
    # join against the cached edge list, the price of halving barriers.
    rounds_left = max_iterations - 1
    while rounds_left > 0:
        mid = _round(labels)
        if rounds_left == 1:
            final = mid
            rounds_left = 0
        else:
            final = _round(mid.drop("__changed"))
            rounds_left -= 2
        changed = final.agg(
            F.sum(F.col("__changed").cast("long")).alias("n")
        ).first()["n"]
        labels = final.drop("__changed")
        if not changed:
            break
    return labels


def dedup_clusters(
    pairs: DataFrame, edge_cache_bytes: int = -1
) -> DataFrame:
    """Near-dup pairs → dedup clusters: (doc id, cluster id = min reachable
    doc id, is_keeper). Downstream keeps rows where is_keeper."""
    cc = connected_components(pairs, edge_cache_bytes=edge_cache_bytes)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_keeper"),
    )
