"""Rank layer: Monte-Carlo global PageRank + top-k + distance.

PageRank is never power-iterated; it IS the walk-visit frequency
(reference pkg/pagerank/pagerank.go:17-44) kept fresh by the walk
store. Global rank = one hash aggregation + a scalar divide.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .walks_gen import visit_counts


def global_pagerank(
    walks: DataFrame,
    nodes: DataFrame | None = None,
    visits: DataFrame | None = None,
    total: int | None = None,
) -> DataFrame:
    """A3 pagerank.Global (reference pagerank.go:17-44):
    rank(v) = visits(v) / totalVisits; nodes never visited rank 0.

    One shuffle (the visit-count agg). The total is a scalar literal,
    not a cross join.

    `visits` (the maintained (node_id, walk_id) inverted index) and
    `total` (the maintained totalVisits counter) serve the read
    WITHOUT re-deriving from the walk store — the reference's rank
    read is SCard lookups + one HGet (pagerank.go:17-44), never a
    store scan; the engine passes its incrementally-maintained state
    here. Standalone callers omit them and pay ONE scan: the total
    is derived from the (<= n_nodes rows) count frame, not by a
    second total_visits pass over the store — totalVisits IS the sum
    of the per-node visit counts."""
    counts = (
        visits.groupBy("node_id").agg(F.count("*").alias("visits"))
        if visits is not None
        else visit_counts(walks)
    )
    if total is None:
        # lazy checkpoint: the sum action below materializes the
        # count frame once; the returned scores read the checkpoint
        # instead of re-running the walk-store explode+agg lineage
        counts = counts.localCheckpoint(eager=False)
        total = int(counts.agg(F.sum("visits")).first()[0] or 0)
    if total == 0:
        raise ValueError("empty walk store (reference ErrEmptyRWS)")
    scores = counts.select(
        "node_id", (F.col("visits") / F.lit(float(total))).alias("rank")
    )
    if nodes is not None:
        scores = (
            nodes.select("node_id")
            .join(scores, "node_id", "left")
            .select("node_id", F.coalesce("rank", F.lit(0.0)).alias("rank"))
        )
    return scores


def top_k(scores: DataFrame, k: int) -> DataFrame:
    """W2 top-k by rank; ties broken by node_id for determinism
    (stable under repartitioning, SURVEY §7 hard-part vi)."""
    return scores.orderBy(F.desc("rank"), F.asc("node_id")).limit(k)


def l1_distance(a: DataFrame, b: DataFrame) -> float:
    """A10 pagerank.Distance (reference pagerank.go:260-266): Σ|r1−r2|
    over the union of keys."""
    j = (
        a.withColumnRenamed("rank", "r1")
        .join(b.withColumnRenamed("rank", "r2"), "node_id", "full")
        .select(
            F.abs(
                F.coalesce("r1", F.lit(0.0)) - F.coalesce("r2", F.lit(0.0))
            ).alias("d")
        )
    )
    return float(j.agg(F.sum("d")).first()[0] or 0.0)


def required_length(top_k_: int, alpha: float) -> int:
    """W2 requiredLenght (reference pagerank.go:250-257) — verbatim."""
    c, n_cap = 100.0, 1e7
    return int(round(c / (1 - alpha) * math.pow(top_k_, alpha) * math.pow(n_cap, 1 - alpha)))


def walks_needed(length: int, alpha: float) -> int:
    """F6 walksNeeded (reference pagerank.go:244-246): walks average
    1/(1-alpha) steps."""
    return int(length * (1 - alpha))


def sample_walks_visiting(
    walks: DataFrame, node_ids: list[int], limit: int, seed: int = 0
) -> DataFrame:
    """W5 WalksVisiting with even per-node sampling (reference
    store.go:243-288): up to limit walkIDs split evenly across nodes
    (limit // len(nodes) each); limit=-1 means all. Deterministic
    sample: rank by a counter hash of (seed, walk_id) instead of Redis
    SRandMemberN. Returns (node_id, walk_id, start_id, path)."""
    v = walks.select(
        F.explode("path").alias("node_id"), "walk_id", "start_id", "path"
    ).filter(F.col("node_id").isin(node_ids))
    if limit < 0:
        return v
    # honor 'up to limit': no floor at 1 — with limit < len(nodes)
    # the even split is 0 per node (empty sample; callers fall back
    # to live generation), and limit=0 must select nothing. The old
    # max(..., 1) floor returned up to len(nodes) rows for any limit.
    per_node = limit // max(len(node_ids), 1)
    if per_node == 0:
        return v.limit(0)
    # walk_id tie-break: hash-only ordering is partition-dependent on
    # 64-bit collisions (expected at 10^12 walks — birthday bound)
    w = Window.partitionBy("node_id").orderBy(
        F.xxhash64(F.lit(seed), "walk_id"), "walk_id"
    )
    return (
        v.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_node)
        .drop("_rn")
    )
