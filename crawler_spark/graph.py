"""Graph layer: dense id minting, edge maintenance, delta algebra.

Replaces the reference's Redis keyIndex/follows/followers machinery
(reference pkg/database/redisdb/database.go) with three DataFrames:
nodes(node_id,url,status,...), edges(src,dst) and column-wise delta
algebra. Reverse adjacency is never materialized — it's
edges.groupBy(dst) (the reference keeps followers:<id> sets only for
FollowerCounts, database.go:370-376).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import schemas


def _ranged_by_url(cand: DataFrame, n_parts: int) -> DataFrame:
    """Phase 1 of the two-phase mint: url-range partitions (contiguous,
    ordered) tagged with their partition id — a parallel ordered
    exchange, never a single-task global sort. Split out so the plan
    gate can assert the range exchange directly (mint_node_ids pins
    the layout behind a localCheckpoint, which hides it from the final
    explain)."""
    return cand.repartitionByRange(n_parts, F.col("url").asc()).withColumn(
        "_pid", F.spark_partition_id()
    )


def mint_node_ids(
    nodes: DataFrame | None,
    candidate_urls: DataFrame,
    status: str = schemas.STATUS_INACTIVE,
    added_ts: _dt.datetime | None = None,
    start_id: int | None = None,
    known_new: bool = False,
) -> DataFrame:
    """M12 / resolveIDs (reference pkg/crawler/process.go:171-220,
    pkg/database/redisdb/database.go:179-210): assign dense ids to urls
    not yet in `nodes`.

    The reference mints via a mutable Redis counter and tolerates holes
    (database.go:193-199); here ids are `max_id + rank-of-url` —
    deterministic, gap-free, partition-invariant. Returns the NEW node
    rows only (caller unions into nodes).

    The global url rank is computed in TWO PHASES so a 10^8-url
    discovery burst never funnels through one task: range-partition by
    url (contiguous url ranges, parallel sort), then
    `exclusive-prefix-offset(partition) + row_number within partition`.
    Because range partitions are non-overlapping and ordered, the
    composition equals the global `row_number() over (order by url)`
    for ANY boundary placement — ids are bit-identical to the
    single-window form regardless of sampling or input partitioning.
    The only unpartitioned window runs over the per-partition COUNTS
    (<= `partitions` rows), and the range exchange is reused between
    the counts and the ranking (one shuffle of the batch).
    """
    cand = candidate_urls.select("url").distinct()
    if nodes is not None and not known_new:
        # `known_new=True` callers (the engine) have already verified
        # novelty through the admission gate (bloom-negative union
        # exactly-verified anti-join on the same nodes.url set) —
        # repeating the anti-join here would re-shuffle the full nodes
        # table once per epoch for nothing
        cand = cand.join(nodes.select("url"), "url", "left_anti")
    if start_id is not None:
        # engine-tracked counter (like next_walk_id): no per-epoch
        # max() scan of the nodes table
        max_id = start_id
    elif nodes is not None:
        # NOT `or -1`: a store whose highest id is 0 (single seed) is
        # falsy and would re-mint id 0 onto a new url
        prev_max = nodes.agg(F.max("node_id")).first()[0]
        max_id = (prev_max if prev_max is not None else -1) + 1
    else:
        max_id = 0
    spark = candidate_urls.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    # localCheckpoint pins ONE concrete range layout: `ranged` is read
    # by both the counts subtree and the ranking join, and
    # repartitionByRange samples its boundaries per exchange instance —
    # without the pin, correctness (ids = a permutation of
    # max_id..max_id+n-1) would rest on Catalyst exchange reuse
    # de-duplicating the two subtrees into one physical shuffle.
    ranged = _ranged_by_url(cand, n_parts).localCheckpoint(eager=False)
    counts = ranged.groupBy("_pid").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    w = Window.partitionBy("_pid").orderBy("url")
    if added_ts is None:
        # a DRIVER-side timestamp, not F.current_timestamp(): the
        # returned frame sits above a lazy checkpoint and is acted on
        # more than once (count, union, commit, resume replay) —
        # current_timestamp() is fixed per query execution, so each
        # action would stamp a different added_ts, and added_ts feeds
        # the arbiter's promotion-wait cutoff
        added_ts = _dt.datetime.now(_dt.timezone.utc)
    ts = F.lit(added_ts).cast("timestamp")
    return ranged.join(F.broadcast(offsets), "_pid").select(
        # cast: row_number yields INT; ids must be LONG everywhere
        # (xxhash64 hashes int32 and int64 differently — a mixed-width
        # id column silently breaks hash-bucket agreement)
        (F.lit(max_id) + F.col("_off") + F.row_number().over(w) - 1)
        .cast("long")
        .alias("node_id"),
        "url",
        F.lit(status).alias("status"),
        ts.alias("added_ts"),
        F.lit(None).cast("timestamp").alias("promoted_ts"),
        F.lit(None).cast("timestamp").alias("demoted_ts"),
    )


def nodes_from_urls(
    spark, urls: list[str], status: str = schemas.STATUS_ACTIVE,
    added_ts: _dt.datetime | None = None,
) -> DataFrame:
    """S9 bootstrap: seed-list -> initial nodes table
    (reference NewDatabaseFromPubkeys,
    pkg/database/redisdb/database.go:576-589)."""
    # explicit schema: a bare column-name list cannot infer a schema
    # from an empty seed list
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return mint_node_ids(None, df, status=status, added_ts=added_ts)


def adjacency_lists(edges: DataFrame) -> DataFrame:
    """J2 bulk Follows: (src, follows: array<long> SORTED).

    Sorted so the uniform-random follow choice is well-defined and
    partition-invariant (the reference reads Redis SMembers, which is
    unordered — its tests sort before comparing)."""
    return edges.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("follows"))


def delta_partition(old_new: DataFrame) -> DataFrame:
    """T3 sliceutils.Partition (reference
    pkg/utils/sliceutils/slice.go:74-105), column-wise and shuffle-free:
    input (node_id, old_follows, new_follows) -> delta rows
    (node_id, removed, common, added) with removed = old-new,
    common = old∩new, added = new-old (each sorted, matching the
    reference's sorted-merge output order)."""
    old = F.coalesce(F.col("old_follows"), F.array().cast("array<long>"))
    new = F.coalesce(F.col("new_follows"), F.array().cast("array<long>"))
    return old_new.select(
        "node_id",
        F.sort_array(F.array_except(old, new)).alias("removed"),
        F.sort_array(F.array_intersect(old, new)).alias("common"),
        F.sort_array(F.array_except(new, old)).alias("added"),
    )


def apply_deltas(edges: DataFrame, deltas: DataFrame) -> DataFrame:
    """T5: apply graph deltas to the edge table (reference DB.Update,
    pkg/database/redisdb/database.go:258-283 — SRem removed, SAdd added,
    mirrored; we have no mirror to maintain).

    Expressed as anti-join(removals) ∪ additions. At cluster scale both
    sides are bucketed by src so this rewrites only affected buckets
    (MERGE-shaped). No forced broadcast hint on the removal set: a
    mass-churn epoch can make it unbounded, and forcing THAT to every
    executor is the OOM remove_walks/apply_arbiter deliberately
    dropped — AQE broadcasts the (usual) small case on its own."""
    removed = deltas.select(
        F.col("node_id").alias("src"), F.explode("removed").alias("dst")
    )
    added = deltas.select(
        F.col("node_id").alias("src"), F.explode("added").alias("dst")
    )
    kept = edges.join(removed, ["src", "dst"], "left_anti")
    return kept.unionByName(added)


def follow_counts(edges: DataFrame) -> DataFrame:
    """A5 FollowCounts (out-degree) — reference
    pkg/database/redisdb/database.go:370-412."""
    return edges.groupBy(F.col("src").alias("node_id")).agg(
        F.count("*").alias("follow_count")
    )


def follower_counts(edges: DataFrame) -> DataFrame:
    """A5 FollowerCounts (in-degree) via groupBy(dst) — no mirror table."""
    return edges.groupBy(F.col("dst").alias("node_id")).agg(
        F.count("*").alias("follower_count")
    )


def resolve_ids(urls_df: DataFrame, nodes: DataFrame, how: str = "left") -> DataFrame:
    """P2 NodeIDs bulk url->id (reference database.go:416-447): left
    join keeps a null node_id for unknown urls (the reference's nil)."""
    return urls_df.join(nodes.select("url", "node_id"), "url", how)
