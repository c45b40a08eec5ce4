"""Random-walk generation — M1/M2 of the operator inventory.

Reference semantics (pkg/walks/generate.go:143-204), per walk from a
start node s:
    walk = [s]
    loop: stop with prob (1-alpha); pick a uniform-random follow of the
    current node (stop if dangling); stop if the pick is already in the
    walk (cycle break, generate.go:129-134); else append.

Spark-first execution, two interchangeable physical strategies that
produce IDENTICAL walks (randomness is counter-based, rng.py, keyed by
(seed, walk_id, step) — partition- and strategy-invariant):

 - 'broadcast': the adjacency fits comfortably in an executor (CSR of
   two numpy arrays, ~12B/edge); broadcast it and run every walk to
   completion inside one mapInPandas pass — zero shuffles after the
   adjacency build, perfectly parallel over walk ranges. This is the
   single-node-beating fast path up to BROADCAST_EDGE_LIMIT edges.
 - 'bucketed': the at-scale path. Adjacency shards and live walk heads
   cogroup on a host-locality bucket of the head's node id, and the
   Arrow kernel advances each walk inside its shard until it halts or
   follows a link into another bucket — many walk steps per shuffle
   on web-shaped graphs, and the edge table is never collected.
   Walk repair (walks_update) regrows its segments with the same
   kernel, so generation and repair share one at-scale path.

'auto' picks broadcast up to BROADCAST_EDGE_LIMIT edges and bucketed
beyond it; any other strategy name is a ValueError.

Walk ids are minted deterministically: offset + node_id*wpn + k
(the reference's mutable HIncrBy counter, store.go:331-340, replaced by
reproducible arithmetic).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import rng
from .schemas import DEFAULT_ALPHA, DEFAULT_WALKS_PER_NODE, WALKS

# above this many edges, don't broadcast the adjacency
BROADCAST_EDGE_LIMIT = 30_000_000

STRATEGIES = ("broadcast", "bucketed", "auto")


def _pick_strategy(strategy: str, n_edges) -> str:
    """Validate `strategy`; resolve 'auto' by the edge count (`n_edges`
    is a callable, invoked only for 'auto')."""
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown walk strategy {strategy!r}; expected {STRATEGIES}")
    if strategy != "auto":
        return strategy
    return "broadcast" if n_edges() <= BROADCAST_EDGE_LIMIT else "bucketed"


@dataclass
class CSR:
    """Compressed sparse adjacency with SORTED neighbor lists."""

    srcs: np.ndarray  # sorted unique source ids
    indptr: np.ndarray  # len(srcs)+1
    targets: np.ndarray  # concatenated sorted neighbor lists

    @classmethod
    def from_pairs(cls, src: np.ndarray, dst: np.ndarray) -> "CSR":
        order = np.lexsort((dst, src))
        src, dst = src[order], dst[order]
        srcs, starts = np.unique(src, return_index=True)
        indptr = np.append(starts, len(src)).astype(np.int64)
        return cls(srcs, indptr, dst.astype(np.int64))

    def lookup(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(degree, start offset) for each id; degree 0 when absent."""
        if len(self.srcs) == 0:
            z = np.zeros(len(ids), dtype=np.int64)
            return z, z.copy()
        pos = np.searchsorted(self.srcs, ids)
        pos_c = np.clip(pos, 0, len(self.srcs) - 1)
        has = (len(self.srcs) > 0) & (self.srcs[pos_c] == ids) & (pos < len(self.srcs))
        start = np.where(has, self.indptr[pos_c], 0)
        deg = np.where(has, self.indptr[pos_c + 1] - self.indptr[pos_c], 0)
        return deg.astype(np.int64), start.astype(np.int64)

    def follows(self, node_id: int) -> np.ndarray:
        deg, start = self.lookup(np.asarray([node_id]))
        return self.targets[start[0] : start[0] + deg[0]]


def collect_csr(edges: DataFrame) -> CSR:
    pdf = edges.select("src", "dst").toPandas()
    return CSR.from_pairs(
        pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)
    )


class _Paths:
    """Growable (n, width) int64 path matrix padded with -1."""

    def __init__(self, starts: np.ndarray, width: int = 8):
        n = len(starts)
        self.mat = np.full((n, width), -1, dtype=np.int64)
        self.mat[:, 0] = starts
        self.lens = np.ones(n, dtype=np.int64)

    @classmethod
    def from_lists(cls, paths: list) -> "_Paths":
        lens = np.fromiter((len(p) for p in paths), np.int64, len(paths))
        width = max(8, int(lens.max()) + 1) if len(paths) else 8
        p = cls.__new__(cls)
        p.mat = np.full((len(paths), width), -1, dtype=np.int64)
        for i, pa in enumerate(paths):
            p.mat[i, : len(pa)] = pa
        p.lens = lens
        return p

    def append(self, rows: np.ndarray, vals: np.ndarray) -> None:
        need = int(self.lens[rows].max()) + 1
        if need > self.mat.shape[1]:
            extra = np.full(
                (self.mat.shape[0], max(need, 2 * self.mat.shape[1]) - self.mat.shape[1]),
                -1,
                dtype=np.int64,
            )
            self.mat = np.concatenate([self.mat, extra], axis=1)
        self.mat[rows, self.lens[rows]] = vals
        self.lens[rows] += 1

    def to_arrow_series(self) -> pd.Series:
        """Zero-python-loop path column: flat values + offsets ->
        Arrow ListArray wrapped for pandas. ~7x cheaper than
        per-row lists + object-dtype conversion at 375k rows, and the
        Spark Arrow serializer consumes it without re-encoding."""
        import pyarrow as pa

        mask = np.arange(self.mat.shape[1]) < self.lens[:, None]
        values = self.mat[mask]
        offsets = np.zeros(len(self.lens) + 1, dtype=np.int64)
        np.cumsum(self.lens, out=offsets[1:])
        arr = pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int32()), pa.array(values, type=pa.int64())
        )
        return pd.Series(pd.arrays.ArrowExtensionArray(arr))


def advance_walks(
    walk_ids: np.ndarray,
    paths: _Paths,
    csr: CSR,
    alpha: float,
    seed: int,
    alive: np.ndarray | None = None,
    max_steps: int | None = None,
    pause_bucket: tuple | None = None,
    paused_out: np.ndarray | None = None,
) -> np.ndarray:
    """Advance walks in place until stopped (or max_steps). Returns the
    final alive mask. One loop iteration = one walk step, fully
    vectorized over the batch; RNG draws are keyed (seed, walk_id,
    step, stream) with step = len(path)-1 at decision time, so the
    result is independent of batching.

    `pause_bucket = (bucket_fn, bucket_id)`: after a step lands on a
    head whose bucket_fn(head) != bucket_id, the walk PAUSES — it
    leaves the live loop (alive=False in the return) with
    `paused_out` set True; the kernel owning the new bucket draws its
    next coin at the same (seed, walk_id, step) key, so bucketed
    execution stays bit-identical to the unbucketed strategies."""
    alive = np.ones(len(walk_ids), dtype=bool) if alive is None else alive.copy()
    steps = 0
    while alive.any() and (max_steps is None or steps < max_steps):
        rows = np.where(alive)[0]
        step_idx = paths.lens[rows] - 1
        # stop with probability 1-alpha (reference generate.go:156-158)
        coin = rng.u01(seed, walk_ids[rows], step_idx, 0)
        stopped = coin > alpha
        alive[rows[stopped]] = False
        rows = rows[~stopped]
        if rows.size:
            cur = paths.mat[rows, paths.lens[rows] - 1]
            deg, start = csr.lookup(cur)
            dang = deg == 0  # dangling stop (generate.go:189-193)
            alive[rows[dang]] = False
            rows, deg, start = rows[~dang], deg[~dang], start[~dang]
        if rows.size:
            step_idx = paths.lens[rows] - 1
            idx = rng.randint(deg, seed, walk_ids[rows], step_idx, 1)
            nxt = csr.targets[start + idx]
            # cycle stop (generate.go:198-201); -1 padding never matches
            cyc = (paths.mat[rows] == nxt[:, None]).any(axis=1)
            alive[rows[cyc]] = False
            rows, nxt = rows[~cyc], nxt[~cyc]
            if rows.size:
                paths.append(rows, nxt)
                if pause_bucket is not None:
                    bucket_fn, bucket_id = pause_bucket
                    moved = bucket_fn(nxt) != bucket_id
                    if moved.any():
                        mrows = rows[moved]
                        alive[mrows] = False
                        paused_out[mrows] = True
        steps += 1
    return alive


def _walk_seed_df(
    starts: DataFrame, walks_per_node: int, walk_id_offset: int
) -> DataFrame:
    """(walk_id, start_id) seeds: walk_id = offset + node_id*wpn + k.

    Node ids are dense (the engine mints them gap-free, graph.py M12),
    so the id arithmetic needs NO global window/sort — the reference's
    sequential HIncrBy counter (store.go:331-340) becomes a pure
    expression. Partition-count-invariant by construction."""
    return starts.select("node_id").distinct().select(
        F.col("node_id").alias("start_id"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("k"),
    ).select(
        (
            F.lit(walk_id_offset)
            + F.col("start_id") * walks_per_node
            + F.col("k")
        ).alias("walk_id"),
        "start_id",
    )


def generate_walks(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame,
    alpha: float = DEFAULT_ALPHA,
    walks_per_node: int = DEFAULT_WALKS_PER_NODE,
    seed: int = 42,
    walk_id_offset: int = 0,
    strategy: str = "auto",
    partitions: int | None = None,
    csr: CSR | None = None,
) -> DataFrame:
    """M2 generateWalks / GenerateAll (reference generate.go:87-123):
    walks_per_node walks from every node in `starts` (node_id column).
    Returns a WALKS DataFrame. A prebuilt `csr` skips the adjacency
    collect (callers that run many generations per epoch build it
    once)."""
    # a prebuilt csr answers the size question driver-side — the
    # looping-caller pattern must not pay an edge-table scan per call
    # just to pick a strategy
    strategy = _pick_strategy(
        strategy, lambda: len(csr.targets) if csr is not None else edges.count()
    )
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    if strategy == "broadcast":
        return _generate_broadcast(
            spark, edges, starts, alpha, walks_per_node, seed,
            walk_id_offset, partitions, csr,
        )
    seeds = _walk_seed_df(starts, walks_per_node, walk_id_offset)
    return _generate_bucketed(spark, edges, seeds, alpha, seed, partitions)


# inner advance block: keeps every per-step numpy temporary L2-resident
# (measured ~5x single-core over whole-partition batches, and it is
# what lets many cores scale instead of fighting for DRAM bandwidth)
ADVANCE_BLOCK = 16_384


def _generate_broadcast(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame,
    alpha: float,
    walks_per_node: int,
    seed: int,
    walk_id_offset: int,
    partitions: int,
    csr: CSR | None = None,
) -> DataFrame:
    """Seed expansion happens INSIDE the workers: only the (small)
    start-node set shuffles; the wpn-fold blowup never crosses the
    wire. walk_id = offset + node_id*wpn + k, identical to
    _walk_seed_df (the bucketed strategy) — strategies stay
    bit-compatible."""
    bc = spark.sparkContext.broadcast(csr if csr is not None else collect_csr(edges))
    wpn = walks_per_node

    def gen(batches):
        local = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nids = pdf["node_id"].to_numpy(np.int64)
            all_starts = np.repeat(nids, wpn)
            ks = np.tile(np.arange(wpn, dtype=np.int64), len(nids))
            wids = walk_id_offset + all_starts * wpn + ks
            for s in range(0, len(wids), ADVANCE_BLOCK):
                w = wids[s : s + ADVANCE_BLOCK]
                st = all_starts[s : s + ADVANCE_BLOCK]
                paths = _Paths(st)
                advance_walks(w, paths, local, alpha, seed)
                yield pd.DataFrame(
                    {
                        "walk_id": w,
                        "start_id": st,
                        "path": paths.to_arrow_series(),
                    }
                )

    # round-robin repartition ON PURPOSE: a hash repartition on
    # node_id is elided by Catalyst as redundant after distinct()'s
    # own exchange, which AQE then coalesces to ~1 task (the start set
    # is tiny BEFORE the wpn-fold expansion happens in the worker).
    # Round-robin with an explicit count survives both. Determinism is
    # unaffected: walk_id/RNG derive from node_id, not row position.
    uniq = starts.select("node_id").distinct()
    return uniq.repartition(partitions).mapInPandas(gen, schema=WALKS)


def _generate_bucketed(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float,
    seed: int,
    partitions: int,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Host-locality co-partitioned strategy — the 10^10-edge path
    with MANY walk steps per shuffle; walk repair regrows its
    segments through it too (walks_update._grow_segments_bucketed).

    Node ids are minted in url order (graph.mint_node_ids), so
    consecutive id ranges are host-clustered; bucket(id) =
    (id * B) div N keeps a host's nodes (and, on the web, most of its
    links' endpoints) in ONE bucket. Adjacency shards and walk heads
    cogroup on that bucket, and the Arrow kernel advances every walk
    until it halts or FOLLOWS AN INTER-HOST LINK out of the shard —
    so steps-per-shuffle is the mean intra-host run length (~1/(1-
    locality)) instead of one step per join of the live set. RNG keys
    are unchanged (seed, walk_id, step), so the walks are
    bit-identical to broadcast.
    """
    # one action for both maxima: repair calls this once per epoch
    row = edges.agg(F.greatest(F.max("src"), F.max("dst")).alias("e")).crossJoin(
        seeds.agg(F.max("start_id").alias("s"))
    ).first()
    n_nodes = int(max(row["e"] or 0, row["s"] or 0)) + 1
    B = max(partitions * 4, 16)
    n_cap = max(n_nodes, 1)

    def np_bucket(ids: np.ndarray) -> np.ndarray:
        return (ids * B) // n_cap

    def col_bucket(c):
        return F.expr(f"cast(({c} * {B}) div {n_cap} as int)")

    from .graph import adjacency_lists
    from pyspark.sql.types import (
        ArrayType, BooleanType, IntegerType, LongType, StructField, StructType,
    )

    def pack_shard(key, adj_pdf):
        # one row per bucket: its CSR as raw int64 buffers, built once
        # per call — every cogroup round then ships and maps a few
        # buffers instead of re-serializing and re-sorting the shard
        heads = adj_pdf["src"].to_numpy(np.int64)
        lens = np.fromiter(
            (len(f) for f in adj_pdf["follows"]), np.int64, len(heads)
        )
        flat = np.concatenate(
            [np.asarray(f, dtype=np.int64) for f in adj_pdf["follows"]]
            + [np.asarray([], dtype=np.int64)]
        )
        csr = CSR.from_pairs(np.repeat(heads, lens), flat)
        return pd.DataFrame(
            {
                "bucket": [int(key[0])],
                "srcs": [csr.srcs.tobytes()],
                "indptr": [csr.indptr.tobytes()],
                "targets": [csr.targets.tobytes()],
            }
        )

    adj_b = (
        adjacency_lists(edges)
        .withColumn("bucket", col_bucket("src"))
        .groupBy("bucket")
        .applyInPandas(
            pack_shard,
            schema="bucket int, srcs binary, indptr binary, targets binary",
        )
        # a pandas UDF's output carries no partitioning: co-partition
        # the packed shards ONCE here, or every round re-shuffles them
        .repartition(partitions, "bucket")
        .persist()
    )
    state_schema = StructType(
        [
            StructField("walk_id", LongType()),
            StructField("start_id", LongType()),
            StructField("path", ArrayType(LongType())),
            StructField("alive", BooleanType()),
            StructField("bucket", IntegerType()),
        ]
    )

    def one_block(key, state_pdf, adj_pdf):
        bucket = int(key[0])
        wids = state_pdf["walk_id"].to_numpy(np.int64)
        paths = _Paths.from_lists(
            [np.asarray(p, dtype=np.int64) for p in state_pdf["path"]]
        )
        # already-halted rows ride the fused chain untouched
        was_alive = state_pdf["alive"].to_numpy(dtype=bool)
        paused = np.zeros(len(wids), dtype=bool)
        # no shard row = no edges: every live walk here sits on a
        # dangling node, and advancing it would stop it where it is
        if len(adj_pdf) and was_alive.any():
            csr = CSR(
                *(
                    np.frombuffer(adj_pdf[c].iloc[0], dtype=np.int64)
                    for c in ("srcs", "indptr", "targets")
                )
            )
            advance_walks(
                wids, paths, csr, alpha, seed, alive=was_alive,
                pause_bucket=(np_bucket, bucket), paused_out=paused,
            )
        new_heads = paths.mat[np.arange(len(wids)), paths.lens - 1]
        out_bucket = np.where(paused, np_bucket(new_heads), bucket).astype(
            np.int32
        )
        return pd.DataFrame(
            {
                "walk_id": wids,
                "start_id": state_pdf["start_id"].to_numpy(np.int64),
                "path": paths.to_arrow_series(),
                "alive": paused,  # in-bucket walks ran to completion
                "bucket": out_bucket,
            }
        )

    state = seeds.select(
        "walk_id",
        "start_id",
        F.array("start_id").cast("array<long>").alias("path"),
        F.lit(True).alias("alive"),
        col_bucket("start_id").alias("bucket"),
    )
    finished_parts: list[DataFrame] = []
    while True:
        # `checkpoint_every` cogroup rounds fuse into ONE job; halted
        # walks ride along and drop out at the block boundary
        for _ in range(checkpoint_every):
            state = (
                state.groupBy("bucket")
                .cogroup(adj_b.groupBy("bucket"))
                .applyInPandas(one_block, schema=state_schema)
            )
        # lazy ckpt + count = one job per block (the count's scan
        # materializes every checkpoint partition)
        state = state.localCheckpoint(eager=False)
        n_alive = state.filter("alive").count()
        finished_parts.append(
            state.filter(~F.col("alive")).select("walk_id", "start_id", "path")
        )
        if n_alive == 0:
            break
        state = state.filter("alive")

    # finished parts hang off localCheckpoints: release the adjacency so
    # per-epoch repair calls don't accumulate cached blocks
    adj_b.unpersist()
    out = finished_parts[0]
    for p in finished_parts[1:]:
        out = out.unionByName(p)
    return out


# ---- walk store maintenance (M4/M9, A1/A2) ----


def visits_of(walks: DataFrame) -> DataFrame:
    """Inverted walk index (reference walksVisiting:<id> sets,
    docs/store_design.md:53-59) — always derivable as explode(path)."""
    return walks.select(
        F.explode("path").alias("node_id"), F.col("walk_id")
    )


def visit_counts(walks: DataFrame) -> DataFrame:
    """A1 VisitCounts (reference store.go:169-194): per-node number of
    walks visiting it. Partial aggregation is automatic (map-side
    combine); one shuffle on node_id."""
    return visits_of(walks).groupBy("node_id").agg(F.count("*").alias("visits"))


def total_visits(walks: DataFrame) -> int:
    """A2 TotalVisits (reference store.go:129-145) — recomputed, not a
    mutable counter: sum of path lengths."""
    row = walks.agg(F.sum(F.size("path"))).first()
    return int(row[0] or 0)


def remove_walks(walks: DataFrame, walk_ids: DataFrame) -> DataFrame:
    """M4 RemoveWalks (reference store.go:362-411) — anti-join on id.

    No forced broadcast: a mass removal (arbiter demotion sweep) can
    make `walk_ids` unbounded; AQE broadcasts the typical small case."""
    return walks.join(walk_ids.select("walk_id"), "walk_id", "left_anti")


def remove_walks_starting_at(walks: DataFrame, node_ids: DataFrame) -> DataFrame:
    """M9 walks.Remove (reference generate.go:207-234): drop walks that
    ORIGINATE at the given nodes.

    Joins on the start_id COLUMN (== path[0] by the generation
    invariant): frontier.apply_arbiter derives its removed_walks
    delta by the same start_id join, so the removed set and the delta
    are consistent by construction. A plain column equi-key anti-join
    — no broadcast hint, a mass demotion must not funnel through the
    driver."""
    # expression join, not USING: a USING join moves the key column
    # to the front, silently reordering the walks schema for callers
    return walks.join(
        node_ids.select(F.col("node_id").alias("_rm")),
        F.col("start_id") == F.col("_rm"),
        "left_anti",
    )


def next_walk_id(walks: DataFrame) -> int:
    """Deterministic replacement for the reference's lastWalkID counter."""
    row = walks.agg(F.max("walk_id")).first()
    return int(row[0] if row[0] is not None else -1) + 1
