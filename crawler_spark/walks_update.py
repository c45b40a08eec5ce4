"""Incremental walk repair — M5-M8 (prune/graft), batched Spark-first.

Reference semantics (pkg/walks/update.go, per Bahmani-Chowdhury-Goel):
when a node's follow list changes by (removed, common, added):

 - updateRemovedNodes (update.go:67-120): every walk containing an
   invalid hop node->removed is pruned at the first such hop
   (containsInvalidStep, update.go:210-220: cut = i+1) and regrown:
   first step drawn uniformly from `common` (WalkStep,
   generate.go:187-204 — empty candidates or cycle vs the kept prefix
   => empty segment), then a normal alpha-walk continues from that
   node (generateWalk, generate.go:143-174 — cycle check against the
   SEGMENT only), and finally the segment is trimmed at its first
   element already present in the prefix (DeleteCyclesInPlace,
   sliceutils/slice.go:139-146).
 - updateAddedNodes (update.go:126-180): sample
   round(|added|/followsCount * visits(node)) walks visiting the node
   (estimateWalksToUpdate, update.go:224-243; even sampling via
   SRandMemberN); each is pruned AFTER the first occurrence of the
   node and, with probability alpha, regrown from the `added`
   candidates the same way (else just truncated).

Batched divergences (documented; the gates are the reference's own
distribution-level dynamic tests, tests/algos/pagerank_test.go:94-177):
 - The reference serializes per event; we repair each walk once per
   batch at the globally-first invalid step (smallest cut index, ties
   by node_id). Everything before that cut is valid, and regrown
   segments walk the post-delta graph, so one pass restores validity.
 - A walk sampled by several added-deltas grafts only the delta with
   the smallest node_id.
 - Visit counts for sampling are read from the pre-update store.

Physical plan — INDEX-SELECTIVE, like the reference (walks.Update
fetches only walks visiting the delta nodes via the walksVisiting
inverted index, update.go:80-89 / redistore/store.go:291-311; it never
touches the rest of the store):

 1. *Select* affected walks: walks visiting any removed-edge node
    (a map-side `arrays_overlap` scan against the small delta-node
    set, or a semi-join through a materialized `visits` index when
    the caller maintains one) plus the phase-2 graft sample. Every
    other walk passes through UNREAD beyond the selection scan —
    repair cost scales with |affected walks|, not |store|.
 2. *Cut phase* (mapInPandas over the affected walks only): find the
    first invalid hop / graft point and the first regrow step. Needs
    ONLY the broadcast delta maps — no adjacency.
 3. *Segment regrowth* for the (small) set of walks needing one,
    with the same two kernels walk generation uses: a broadcast-CSR
    vectorized advance (graphs that fit an executor) or the bucketed
    host-locality cogroup of walks_gen (`_generate_bucketed`) beyond
    BROADCAST_EDGE_LIMIT. The two are bit-identical (same counter-RNG
    keys), and the bucketed path never collects the edge table.
 4. *Stitch*: trim the segment at its first prefix collision and
    concatenate — pure column expressions (whole-stage codegen).

RNG is counter-based (rng.py) keyed by (seed, epoch, walk_id), so
repairs are partition-, strategy- and retry-invariant.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from . import rng
from .schemas import DEFAULT_ALPHA
from .walks_gen import (
    CSR,
    _generate_bucketed,
    _Paths,
    _pick_strategy,
    advance_walks,
    collect_csr,
)

_CUT_SCHEMA = StructType(
    [
        StructField("walk_id", LongType()),
        StructField("start_id", LongType()),
        StructField("prefix", ArrayType(LongType())),
        StructField("updated", BooleanType()),
        StructField("seg_key", LongType()),  # null => no segment to grow
        StructField("seg_start", LongType()),
        # original path, emitted ONLY for updated walks: the caller's
        # visits-index delta (old minus new / new minus old) and the
        # incremental totalVisits counter both derive from it without
        # ever re-reading the store (reference maintains walksVisiting
        # + totalVisits transactionally per prune/graft,
        # pkg/store/redistore/store.go:337-358,442-465)
        StructField("old_path", ArrayType(LongType())),
    ]
)

_SEG_SCHEMA = StructType(
    [
        StructField("seg_key", LongType()),
        StructField("seg_path", ArrayType(LongType())),
    ]
)

# above this many removal nodes, selection switches from literal
# expressions (overlap array / IN-set) to broadcast-join probes
LITERAL_SELECT_LIMIT = 4096

# rng stream salts (distinct from walk-generation streams 0/1)
_SALT_SEGMENT = 101  # derived seed for regrown segments
_SALT_FIRST_REMOVED = 3  # candidate choice, removed-phase (stream 3)
_SALT_GRAFT_COIN = 2  # graft coin, added-phase (stream 2)
_SALT_FIRST_ADDED = 4  # candidate choice, added-phase


def _normalize_deltas(deltas) -> list[tuple[int, list[int], list[int], list[int]]]:
    """Accept a (node_id, removed, common, added) DataFrame or a list
    of such tuples; return sorted tuples."""
    if isinstance(deltas, DataFrame):
        rows = deltas.select("node_id", "removed", "common", "added").collect()
        out = [
            (
                int(r["node_id"]),
                sorted(int(x) for x in (r["removed"] or [])),
                sorted(int(x) for x in (r["common"] or [])),
                sorted(int(x) for x in (r["added"] or [])),
            )
            for r in rows
        ]
    else:
        out = [
            (int(n), sorted(map(int, rm)), sorted(map(int, co)), sorted(map(int, ad)))
            for n, rm, co, ad in deltas
        ]
    return sorted(out)


def _graft_assignments(
    walks: DataFrame,
    added_nodes: dict[int, tuple[list[int], int]],
    seed: int,
    epoch: int,
    visits: DataFrame | None = None,
) -> DataFrame:
    """(walk_id, graft_node) — the added-phase sample.

    For each delta node A: limit = round(|added|/followsCount *
    visits(A)) (estimateWalksToUpdate, update.go:224-243); take the
    `limit` walks visiting A that rank first by a counter hash of
    (seed, epoch, walk_id) — a deterministic stand-in for
    SRandMemberN. Conflicts resolve to the smallest node_id.

    With a maintained `visits` index the probe is a pruned index
    lookup (the reference's walksVisiting sets); without one it is a
    map-side explode+filter scan of the store."""
    nodes = sorted(added_nodes)
    spark = walks.sparkSession
    if visits is not None:
        v = visits.select("walk_id", "node_id")
    else:
        v = walks.select("walk_id", F.explode("path").alias("node_id"))
    if len(nodes) > LITERAL_SELECT_LIMIT:
        # same expression-tree liability as the removal phase's
        # guard below: a giant IN-list blows the codegen budget —
        # probe via a broadcast semi-join instead
        nodes_df = spark.createDataFrame(
            [(int(n),) for n in nodes], "node_id long"
        )
        v = v.join(nodes_df.hint("broadcast"), "node_id", "left_semi")
    else:
        v = v.filter(F.col("node_id").isin(nodes))
    counts = {int(r["node_id"]): int(r["n"]) for r in
              v.groupBy("node_id").agg(F.count("*").alias("n")).collect()}
    limits = []
    for a in nodes:
        added, follows_count = added_nodes[a]
        vis = counts.get(a, 0)
        p = len(added) / max(follows_count, 1)
        limits.append((a, int(p * vis + 0.5)))
    max_lim = max((lim for _, lim in limits), default=0)
    if max_lim == 0:
        # every estimate rounded to zero — nothing to sample; skip the
        # window pass entirely
        return spark.createDataFrame([], "walk_id long, graft_node long")
    limits_df = spark.createDataFrame(limits, "node_id long, lim long")
    # walk_id tie-break: at 10^12 walks 64-bit hash collisions are
    # expected (birthday bound), and hash-only ordering would resolve
    # ties by partition-internal row order — breaking the module's
    # partition/retry invariance at the limit boundary (ppr.py orders
    # by (hkey, walk_id) for the same reason)
    w = Window.partitionBy("node_id").orderBy(
        F.xxhash64(F.lit(seed), F.lit(epoch), F.col("walk_id")), "walk_id"
    )
    # literal max-limit pre-cap: the per-node `lim` arrives via a join,
    # which a WindowGroupLimit rewrite can't see — the literal bound
    # plans the PARTIAL pass below the node_id exchange, so a hub
    # node's store-sized visit list forwards <= max_lim rows per map
    # task instead of funnelling whole into one task's sort (exact:
    # lim <= max_lim per node, same argument as ppr's per-member cap)
    sampled = (
        v.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(int(max_lim)))
        .join(F.broadcast(limits_df), "node_id")
        .filter(F.col("_rn") <= F.col("lim"))
    )
    return sampled.groupBy("walk_id").agg(F.min("node_id").alias("graft_node"))


def _cut_phase(
    affected: DataFrame,
    removed_map: dict[int, list[int]],
    common_map: dict[int, list[int]],
    added_map: dict[int, tuple[list[int], int]],
    alpha: float,
    seed: int,
    epoch: int,
) -> DataFrame:
    """Phases 1+2 over the affected walks: prune point, graft point,
    and the FIRST regrow step (drawn from the delta's candidate set).
    Broadcasts only the (small) delta maps — no adjacency needed."""
    spark = affected.sparkSession
    bc = spark.sparkContext.broadcast((removed_map, common_map, added_map))

    def cut(batches):
        rm_map, co_map, ad_map = bc.value
        rm_sets = {n: set(v) for n, v in rm_map.items()}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = len(pdf)
            wids = pdf["walk_id"].to_numpy(np.int64)
            prefixes: list[list[int]] = [None] * n
            updated = np.zeros(n, dtype=bool)
            seg_key = np.full(n, -1, dtype=np.int64)
            seg_start = np.full(n, -1, dtype=np.int64)
            has_seg = np.zeros(n, dtype=bool)

            old_paths: list[list[int] | None] = [None] * n
            for i, (p, graft) in enumerate(zip(pdf["path"], pdf["graft_node"])):
                p = [int(x) for x in p]
                orig = p
                # --- phase 1: removed-edge repair at the first
                # invalid step across all deltas (update.go:210-220)
                pending: tuple[list[int], int] | None = None
                for j in range(len(p) - 1):
                    s = rm_sets.get(p[j])
                    if s is not None and p[j + 1] in s:
                        pending = (co_map[p[j]], _SALT_FIRST_REMOVED)
                        p = p[: j + 1]
                        updated[i] = True
                        break
                # --- phase 2: added-edge graft (update.go:126-180);
                # cuts AFTER the first occurrence of the delta node,
                # which is within the phase-1 prefix, so a firing
                # graft supersedes any pending phase-1 regrowth
                if graft is not None and not pd.isna(graft):
                    a = int(graft)
                    if a in p:
                        p = p[: p.index(a) + 1]
                        # `updated` deliberately means RE-DECIDED, not
                        # byte-changed: a tail graft whose coin lands
                        # truncate-only leaves the path identical, but
                        # the reference rewrites and counts it all the
                        # same (update.go:126-180 + the walksTracker
                        # change signal), and A7's sample-size gate
                        # (test_estimate_walks_to_update_rounding)
                        # counts the full graft sample
                        updated[i] = True
                        s2 = rng.hash64(seed, epoch, wids[i], _SALT_SEGMENT)
                        coin = float(rng.u01(s2, 0, _SALT_GRAFT_COIN))
                        # graft coin (update.go:160-170): with prob
                        # alpha regrow from `added`, else truncate only
                        pending = (
                            (ad_map[a][0], _SALT_FIRST_ADDED)
                            if coin < alpha
                            else None
                        )
                prefixes[i] = p
                if updated[i]:
                    old_paths[i] = orig
                # first regrow step: uniform over the candidate set
                # (WalkStep); cycle vs the prefix => empty segment
                if pending is not None and pending[0]:
                    cands, salt = pending
                    s2 = rng.hash64(seed, epoch, wids[i], _SALT_SEGMENT)
                    idx = int(rng.randint(len(cands), s2, 0, salt))
                    nxt = cands[idx]
                    if nxt not in p:
                        has_seg[i] = True
                        seg_key[i] = np.uint64(s2).astype(np.int64)
                        seg_start[i] = nxt

            out = pd.DataFrame(
                {
                    "walk_id": wids,
                    "start_id": pdf["start_id"].to_numpy(np.int64),
                    "prefix": prefixes,
                    "updated": updated,
                    "seg_key": pd.array(
                        [int(k) if h else None for k, h in zip(seg_key, has_seg)],
                        dtype="Int64",
                    ),
                    "seg_start": pd.array(
                        [int(s) if h else None for s, h in zip(seg_start, has_seg)],
                        dtype="Int64",
                    ),
                    "old_path": old_paths,
                }
            )
            yield out

    return affected.select(
        "walk_id", "start_id", "path", "graft_node"
    ).mapInPandas(cut, schema=_CUT_SCHEMA)


def _grow_segments_broadcast(
    spark: SparkSession, seg_rows: DataFrame, csr: CSR, alpha: float
) -> DataFrame:
    """(seg_key, seg_start) -> (seg_key, seg_path) against a broadcast
    CSR. RNG is keyed (0, seg_key, step, stream) — exactly what the
    bucketed grower draws, so both strategies stay bit-identical."""
    bc = spark.sparkContext.broadcast(csr)

    def grow(batches):
        local = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keys = pdf["seg_key"].to_numpy(np.int64)
            starts = pdf["seg_start"].to_numpy(np.int64)
            paths = _Paths(starts)
            advance_walks(keys, paths, local, alpha, 0)
            yield pd.DataFrame(
                {"seg_key": keys, "seg_path": paths.to_arrow_series()}
            )

    return seg_rows.select("seg_key", "seg_start").mapInPandas(
        grow, schema=_SEG_SCHEMA
    )


def _grow_segments_bucketed(
    spark: SparkSession,
    seg_rows: DataFrame,
    edges_after: DataFrame,
    alpha: float,
    partitions: int | None,
) -> DataFrame:
    """Same contract via walk generation's bucketed kernel — the
    10^10-edge path: the edge table is NEVER collected; the (small)
    live segment set cogroups with the adjacency shards."""
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    seeds = seg_rows.select(
        F.col("seg_key").alias("walk_id"), F.col("seg_start").alias("start_id")
    )
    segs = _generate_bucketed(spark, edges_after, seeds, alpha, 0, partitions)
    return segs.select(
        F.col("walk_id").alias("seg_key"), F.col("path").alias("seg_path")
    )


def update_walks(
    spark: SparkSession,
    walks: DataFrame,
    edges_after: DataFrame,
    deltas,
    alpha: float = DEFAULT_ALPHA,
    seed: int = 42,
    epoch: int = 0,
    visits: DataFrame | None = None,
    strategy: str = "auto",
    partitions: int | None = None,
) -> DataFrame:
    """M8 walks.Update, index-selective (see module docstring).

    `edges_after` is the graph AFTER the deltas were applied (the
    reference updates the DB before repairing walks,
    pkg/crawler/process.go:161-166). Returns the walks DataFrame with
    an extra boolean `updated` column; `finish_update` strips it and
    `updated_count` aggregates it (the arbiter's change signal, A8).

    `visits` (node_id, walk_id) is the optional materialized inverted
    index; when absent, selection scans paths map-side. `strategy`
    mirrors generate_walks: 'broadcast' | 'bucketed' | 'auto'.
    """
    strategy = _pick_strategy(strategy, edges_after.count)
    dl = _normalize_deltas(deltas)
    removed_map = {n: rm for n, rm, _, _ in dl if rm}
    common_map = {n: co for n, rm, co, _ in dl if rm}
    added_map = {
        n: (ad, len(co) + len(ad)) for n, _, co, ad in dl if ad
    }
    if not removed_map and not added_map:
        return (
            walks.select("walk_id", "start_id", "path")
            .withColumn("updated", F.lit(False))
            .withColumn("old_path", F.lit(None).cast("array<long>"))
        )

    if added_map:
        # materialize the (small) sample once: the affected/untouched
        # branches below would otherwise recompute its explode+window
        grafts = _graft_assignments(
            walks, added_map, seed, epoch, visits=visits
        ).localCheckpoint(eager=True)
        # no forced broadcast: a hub promotion's sample size is
        # Σ round(|added|/follows · visits(node)) — an unbounded share
        # of the store in the worst case, the same driver-OOM class
        # remove_walks avoids hinting for. The eager checkpoint gives
        # AQE exact stats, so the typical delta-sized sample still
        # broadcasts at runtime.
        state = walks.join(grafts, "walk_id", "left")
    else:
        state = walks.withColumn("graft_node", F.lit(None).cast("long"))

    # --- selection: walks that can possibly change. Phase 1 candidates
    # are walks visiting any removed-edge node (superset of those with
    # an invalid hop — exact check happens in the cut phase); phase 2
    # candidates are exactly the graft sample. Everything else is a
    # pass-through: no Python, no shuffle, no rewrite.
    rm_nodes = sorted(removed_map)
    # a massive removal set would make the literal overlap array a
    # codegen liability — derive an on-the-fly inverted index instead
    # (same selection the materialized-visits path runs)
    big_delta = len(rm_nodes) > LITERAL_SELECT_LIMIT
    if visits is None and big_delta:
        visits = walks.select(F.explode("path").alias("node_id"), "walk_id")
    if visits is not None and rm_nodes:
        if big_delta:
            # a giant IN-list is the same expression-tree liability as
            # the overlap array — probe via a broadcast semi-join of
            # the (small) removal-node set instead
            rm_df = spark.createDataFrame(
                [(int(n),) for n in rm_nodes], "node_id long"
            )
            probed = visits.join(rm_df.hint("broadcast"), "node_id", "left_semi")
        else:
            probed = visits.filter(F.col("node_id").isin(rm_nodes))
        sel = probed.select("walk_id").distinct().withColumn(
            "_aff", F.lit(True)
        )
        # broadcast only for small deltas: a mass removal can select
        # an unbounded share of the store, and forcing THAT through
        # the driver would be the OOM this module exists to avoid —
        # let AQE pick the join for the fallback path
        if not big_delta:
            sel = sel.hint("broadcast")
        state = state.join(sel, "walk_id", "left")
        aff_cond = F.col("_aff").isNotNull() | F.col("graft_node").isNotNull()
    elif rm_nodes:
        rm_arr = F.array(*[F.lit(n).cast("long") for n in rm_nodes])
        aff_cond = F.arrays_overlap("path", rm_arr) | F.col(
            "graft_node"
        ).isNotNull()
    else:
        aff_cond = F.col("graft_node").isNotNull()

    affected = state.filter(aff_cond).select(
        "walk_id", "start_id", "path", "graft_node"
    )
    untouched = (
        state.filter(~aff_cond)
        .select("walk_id", "start_id", "path")
        .withColumn("updated", F.lit(False))
        .withColumn("old_path", F.lit(None).cast("array<long>"))
    )

    # --- cut phase over affected walks only (delta maps, no CSR).
    # Checkpointed eagerly: three consumers (pass-through rows, the
    # segment join's left side, the segment seeds) would otherwise
    # re-run the cut AND re-scan the store each
    cut = _cut_phase(
        affected, removed_map, common_map, added_map, alpha, seed, epoch
    ).localCheckpoint(eager=True)
    no_seg = cut.filter(F.col("seg_key").isNull()).select(
        "walk_id", "start_id", F.col("prefix").alias("path"), "updated",
        "old_path",
    )
    seg_rows = cut.filter(F.col("seg_key").isNotNull())

    # --- segment regrowth (small — only walks needing one)
    if strategy == "broadcast":
        segs = _grow_segments_broadcast(
            spark, seg_rows, collect_csr(edges_after), alpha
        )
    else:
        segs = _grow_segments_bucketed(
            spark, seg_rows, edges_after, alpha, partitions
        )

    # --- stitch: trim the segment at its first prefix collision
    # (DeleteCyclesInPlace, slice.go:139-146) and concatenate — pure
    # column expressions, whole-stage codegen, no Python
    joined = seg_rows.join(segs, "seg_key", "inner")
    first_hit = F.array_min(
        F.filter(
            F.transform(
                "seg_path",
                lambda x, i: F.when(F.array_contains(F.col("prefix"), x), i),
            ),
            lambda v: v.isNotNull(),
        )
    )
    stitched = joined.select(
        "walk_id",
        "start_id",
        F.concat(
            F.col("prefix"),
            F.slice(
                "seg_path", F.lit(1), F.coalesce(first_hit, F.size("seg_path"))
            ),
        ).alias("path"),
        "updated",
        "old_path",
    )

    return untouched.unionByName(no_seg).unionByName(stitched)


def visit_deltas(repaired: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(removed, added) inverted-index rows implied by a repair output
    — both (walk_id, node_id), delta-sized, computed from the carried
    `old_path` with NO store read. Because paths never repeat a node
    (cycle-break invariant, generate.go:129-134), array_except equals
    the set difference and `|added| - |removed|` equals the
    totalVisits delta (store.go:129-145 counter semantics)."""
    upd = repaired.filter(F.col("updated"))
    removed = upd.select(
        "walk_id",
        F.explode(F.array_except("old_path", "path")).alias("node_id"),
    )
    added = upd.select(
        "walk_id",
        F.explode(F.array_except("path", "old_path")).alias("node_id"),
    )
    return removed, added


def updated_count(repaired: DataFrame) -> int:
    """#walks touched — feeds the arbiter change-ratio (A8,
    pkg/crawler/process.go:118-123)."""
    row = repaired.agg(F.sum(F.col("updated").cast("long"))).first()
    return int(row[0] or 0)


def finish_update(repaired: DataFrame) -> DataFrame:
    """Strip the bookkeeping column -> WALKS-shaped store."""
    return repaired.select("walk_id", "start_id", "path")
